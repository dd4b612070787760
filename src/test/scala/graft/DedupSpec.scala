package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def exactPairs =
    Dedup.ngramJaccard.run(spark, TestSpark.tiny)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet

  test("minhash-LSH + exact verify returns exactly the true pair set") {
    val lsh = Dedup.minhashLsh.run(spark, TestSpark.tiny)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(lsh === exactPairs)
  }

  test("prefix-filtered jaccardPairs ≡ driver-side brute force over all " +
    "pairs (prefix pruning is exact, not approximate)") {
    val sets = graft.Tables.documents(spark, TestSpark.tiny)
      .select(col("doc_id"), Dedup.shingles(col("text")).as("s"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, s) => id -> s.toSet }.filter(_._2.nonEmpty)
    val brute = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size
      if inter.toDouble / (sa.size + sb.size - inter) >= Dedup.JaccardThreshold
    } yield (a, b)).toSet
    assert(exactPairs === brute)
  }

  test("row-local SimHash60 signatures are bit-identical to the " +
    "relational explode-and-vote formulation") {
    val docs = graft.Tables.documents(spark, TestSpark.tiny)
    val fast = Dedup.simhashDf(docs)
      .as[(Long, Long)].collect().toMap
    val ref = Dedup.simhashDfRelational(docs)
      .as[(Long, Long)].collect().toMap
    assert(fast === ref)
    assert(fast.nonEmpty)
  }

  test("simhash bucketing recovers the planted near-dup pairs") {
    val sim = Dedup.simhashPairs.run(spark, TestSpark.tiny)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val planted = exactPairs
    val recall = planted.intersect(sim).size.toDouble / planted.size
    assert(recall >= 0.8, s"simhash recall $recall over ${planted.size} pairs")
  }

  test("shingle DF cap: default cap output ≡ uncapped output; a tiny " +
    "cap actually prunes hot shingles from candidate generation") {
    val docs = graft.Tables.documents(spark, TestSpark.tiny)
    val capped = Dedup.jaccardPairs(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val uncapped = Dedup.jaccardPairs(docs, cap = Int.MaxValue)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // ShingleDfCap exceeds the doc count at every test SF, so nothing
    // is dropped and the output is provably unchanged
    assert(capped === uncapped)
    // with cap=0 every shingle is dropped → no candidates survive,
    // proving the cap path actually gates the self-join
    assert(Dedup.jaccardPairs(docs, cap = 0).count() === 0L)
  }

  test("tiny DF cap BINDS at the test SF: pair sims differ from the " +
    "uncapped computation (so dedup_dfcap_binding's cross-engine check " +
    "exercises the capped semantics, not an inert filter)") {
    val docs = graft.Tables.documents(spark, TestSpark.tiny)
    val capped = Dedup.jaccardPairs(docs, cap = Dedup.TinyDfCap)
      .select("a_id", "b_id", "sim").as[(Long, Long, Double)].collect().toSet
    val uncapped = Dedup.jaccardPairs(docs, cap = Int.MaxValue)
      .select("a_id", "b_id", "sim").as[(Long, Long, Double)].collect().toSet
    assert(capped.nonEmpty)
    assert(capped !== uncapped,
      s"cap=${Dedup.TinyDfCap} did not bind — raise corpus DF or lower the cap")
  }

  test("near-dup/curation plans: no cartesian or BNL; DF-cap window " +
    "gates the inverted index") {
    val qs = Seq(Dedup.ngramJaccard, Dedup.minhashLsh, Dedup.editDistance,
      Dedup.simhashPairs, Dedup.sourceOverlap, Dedup.splitAssign,
      Dedup.incremental, graft.operators.Multimodal.featureExtract)
    for (q <- qs) {
      val plan = q.run(spark, TestSpark.tiny)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name} plans a cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"${q.name} plans a BNL:\n$plan")
    }
    // jaccardPairs' own final plan is joins over the two checkpointed
    // relations (candidates + signatures) — plan-shape regressions in
    // candidate generation would be invisible there. Assert on the LAZY
    // candidate plan instead: it must contain the DF-cap/rank windows
    // (rankedShingleRows — the relation the Jaccard/edit paths actually
    // consume) and no cartesian/BNL in the prefix self-join.
    for (cand <- Seq(
        Dedup.jaccardCandidatePlan(graft.Tables.documents(spark, TestSpark.tiny)),
        Dedup.editCandidatePlan(graft.Tables.documents(spark, TestSpark.tiny)))) {
      val cp = cand.queryExecution.executedPlan.toString
      assert(cp.contains("Window"), s"DF-cap window missing from plan:\n$cp")
      assert(!cp.contains("CartesianProduct"), s"candidate plan cartesian:\n$cp")
      assert(!cp.contains("BroadcastNestedLoopJoin"), s"candidate plan BNL:\n$cp")
    }
    // the LSH/simhash bucket paths consume filteredShingleRows — its
    // cap window is a separate implementation, asserted separately
    val fs = Dedup.filteredShingleRows(graft.Tables.documents(spark, TestSpark.tiny))
      .queryExecution.executedPlan.toString
    assert(fs.contains("Window"), s"DF-cap window missing from plan:\n$fs")
  }

  test("MyersLevenshtein ≡ builtin levenshtein on random strings " +
    "(including multi-block patterns > 64 chars and non-ASCII)") {
    val rnd = new scala.util.Random(42)
    val alphabets = Seq("ab", "abcde ", "abcdefghij xyzµλ☃")
    val cases = Seq.newBuilder[(String, String)]
    cases += (("", "")); cases += (("", "abc")); cases += (("abc", ""))
    for (alpha <- alphabets; _ <- 1 to 40) {
      def mk(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val n1 = rnd.nextInt(150)
      // mix independent strings and near-edits of each other
      val s1 = mk(n1)
      val s2 = if (rnd.nextBoolean()) mk(rnd.nextInt(150))
        else {
          val at = rnd.nextInt(n1 + 1)
          s1.patch(at, mk(rnd.nextInt(5)), math.min(rnd.nextInt(4), n1 - at))
        }
      cases += ((s1, s2))
    }
    val df = cases.result().toDF("a", "b")
    val bad = df.select(
        levenshtein(col("a"), col("b")).as("ref"),
        graft.functions.MyersLevenshtein(col("a"), col("b")).as("got"),
        col("a"), col("b"))
      .filter(col("ref") =!= col("got"))
      .collect()
    assert(bad.isEmpty, s"Myers diverges on: ${bad.take(5).mkString("; ")}")
  }

  test("connectedComponents: min-label propagation over a known graph") {
    // components: {1,2,3,9} (chain 1-2-3 + 3-9), {5,6}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L))
      .toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L))
  }

  test("shingles: distinct 3-gram word windows; short docs yield none") {
    val got = Seq("a b c d", "x y").toDF("text")
      .select(Dedup.shingles(col("text")).as("s"))
      .as[Seq[String]].collect()
    assert(got(0) === Seq("a b c", "b c d"))
    assert(got(1) === Seq.empty)
  }

  test("cellCosinePairs equals brute force and plans no cartesian") {
    val emb = Tables.embeddings(spark, TestSpark.tiny)
    val cell = Dedup.cellCosinePairs(emb, Dedup.CosineThreshold)
    val brute = Dedup.bruteForceCosinePairs(emb, Dedup.CosineThreshold)
      .as[(Long, Long, Double)].collect().toSet
    assert(cell.as[(Long, Long, Double)].collect().toSet === brute)
    val physical = cell.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"),
      s"cartesian in plan:\n$physical")
    assert(!physical.contains("BroadcastNestedLoopJoin"),
      s"BNL in plan:\n$physical")
  }

  test("cellCosinePairs is exact at every bits value — identical pairs " +
    "straddling the default 12-bit driver-cost ceiling") {
    val emb = Tables.embeddings(spark, TestSpark.tiny)
    def pairs(bits: Int) =
      Dedup.cellCosinePairs(emb, Dedup.CosineThreshold, bits)
        .as[(Long, Long, Double)].collect().toSet
    // bits only partitions the verify work; the triangle-inequality
    // prune is sound at any granularity, so raising maxBits past the
    // default ceiling (an explicit autoCellBits(n, maxBits) opt-in,
    // O(4^bits) driver bound-matrix cost) cannot change the output
    assert(pairs(12) === pairs(13))
    assert(Dedup.autoCellBits(100L) === 4)
    assert(Dedup.autoCellBits(Long.MaxValue) === 12)
    assert(Dedup.autoCellBits(2000L * (1L << 14), maxBits = 14) === 14)
  }

  test("cosinePairs routes by corpus size: cell and banded routes are " +
    "pair-identical across a forced straddle of the ceiling") {
    // planted corpus: 150 base vectors (deterministic LCG), each with a
    // tiny-perturbation near-dup (cos ≥ ~0.999); distinct bases are
    // mutually near-orthogonal in expectation at dim 64, far below the
    // 0.9 threshold. n = 300 > 100·2^1, so maxBits = 1 forces the
    // banded route while the default ceiling keeps the cell route —
    // the signature planes are seeded, so recall here is a
    // deterministic fact of this corpus, not a probabilistic hope.
    val dim = 64
    def lcg(s0: Long): Iterator[Long] =
      Iterator.iterate(s0)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)
    val rows = (0 until 150).flatMap { b =>
      val base = lcg(b + 7L).take(dim)
        .map(h => ((h >>> 11).toDouble / (1L << 53).toDouble - 0.5).toFloat)
        .toArray
      val dup = base.zipWithIndex
        .map { case (x, i) => if (i % 16 == 0) x + 0.001f else x }
      Seq((b.toLong * 2, base.toSeq), (b.toLong * 2 + 1, dup.toSeq))
    }
    val emb = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val viaCell = ids(Dedup.cosinePairs(emb, 0.9)) // n=300 ≤ 100·2^12
    val viaBanded = ids(Dedup.cosinePairs(emb, 0.9, maxBits = 1))
    val brute = ids(Dedup.bruteForceCosinePairs(emb, 0.9))
    assert(viaCell === brute)
    assert(viaBanded === brute,
      "banded route must recover every planted pair on this corpus")
    assert(brute.size >= 150, "every planted near-dup pair must be found")
  }

  test("bandedCosinePairs recovers a near-identical cluster LARGER than " +
    "the bucket cap (hot buckets sub-split, not dropped — r09 ADVICE)") {
    // planted corpus: one 30-vector near-identical cluster (same sign
    // signature in EVERY band, so with cap=10 every band's bucket is
    // hot) + 50 mutually near-orthogonal background vectors. A drop-cap
    // (capGroups) excludes the whole cluster from candidates in every
    // band — systematic zero recall on exactly the duplicate-heavy case
    // a near-dup tool targets. The salt sub-split keeps each pair in a
    // band w.p. 1/⌈30/10⌉; across 32 independent bands the per-pair
    // miss probability is (2/3)³² ≈ 2e-6. Planes and salts are seeded,
    // so the outcome on this fixed corpus is deterministic.
    val dim = 64
    def lcg(s0: Long): Iterator[Long] =
      Iterator.iterate(s0)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)
    def vec(seed: Long): Array[Float] = lcg(seed).take(dim)
      .map(h => ((h >>> 11).toDouble / (1L << 53).toDouble - 0.5).toFloat)
      .toArray
    val base = vec(99L)
    val cluster = (0 until 30).map { i =>
      // tiny per-member wiggle on one coordinate: near-identical
      // (cos ≥ ~0.999), not bit-identical
      val v = base.clone(); v(i % dim) += 0.0005f * ((i % 3) + 1)
      (1000L + i, v.toSeq)
    }
    val background = (0 until 50).map(b => (b.toLong, vec(b + 7L).toSeq))
    val emb = (cluster ++ background).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val banded = ids(Dedup.bandedCosinePairs(emb, 0.9, cap = 10))
    val brute = ids(Dedup.bruteForceCosinePairs(emb, 0.9))
    assert(brute.size >= 435, "the planted cluster must be all-pairs similar")
    assert(banded === brute,
      "sub-split banding must recover every pair of the over-cap cluster")
  }

  test("saltSplitGroups: never drops a row; sub-cap groups keep salt 0 " +
    "(≡ uncapped); hot groups spread across ceil(g/cap) salts") {
    val rows = (0 until 250).map(i =>
      (i.toLong, if (i < 200) "hot" else s"cold${i % 10}"))
      .toDF("id", "key")
    val salted = Dedup.saltSplitGroups(rows, 30, "id", "salt", "key")
      .select(col("id"), col("key"), col("salt"))
      .as[(Long, String, Long)].collect()
    assert(salted.length === 250, "no row may be dropped")
    val bySalt = salted.filter(_._2 == "hot").groupBy(_._3)
    val nSub = (200 + 29) / 30 // ceil(g/cap) = 7
    assert(bySalt.keySet.subsetOf((0L until nSub).toSet),
      "hot salts must lie in [0, ceil(g/cap))")
    assert(bySalt.size > 1, "a hot group must actually split")
    assert(bySalt.values.map(_.size).max <= 200,
      "sub-buckets are a partition of the hot group")
    assert(salted.filter(_._2 != "hot").forall(_._3 == 0L),
      "groups at or under the cap keep salt 0 — behavior unchanged")
  }

  test("exact dedup collapses identical normalized text") {
    val docs = Seq((10L, "Same Text "), (11L, "same text"), (12L, "other"))
      .toDF("doc_id", "text")
    val got = docs.groupBy(lower(trim(col("text"))))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
      .select("keep_id", "n").as[(Long, Long)].collect().toSet
    // note: the registered query lower+trims, exactly this
    assert(got === Set((10L, 2L), (12L, 1L)))
  }
}
