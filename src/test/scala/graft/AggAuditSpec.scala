package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide audit for the defect class the r15 sf5 (500×) tier
  * caught in `text_rouge_pairs` (AGGREGATE_OUT_OF_MEMORY inside a
  * whole-stage-codegen'd PARTIAL hash agg keyed by a PAIR of document
  * ids): plans whose per-task aggregation state scales with OUTPUT
  * size - the number of (a,b) pairs × their upstream fan-out flowing
  * through a task - rather than with a corpus-bounded group
  * cardinality. SURVEY §6.6 claimed the other pair consumers avoid
  * this "by construction"; this spec holds the claim.
  *
  * Two sweeps, because `localCheckpoint` hides subtrees:
  *
  *  1. PLAN sweep - over the optimized logical plan of every registered
  *     query ([[RegistrySweep]]), every aggregate whose grouping key
  *     contains a PAIR-SHAPED column combination - two id-shaped
  *     attributes naming the two sides of a self-relation: ("a","b"),
  *     X_a/X_b, a_X/b_X, ("q_id","n_id"), ("u","v"), ("src","dst"),
  *     ("left","right") - MUST carry an adjudication in [[bounds]]
  *     naming why its group cardinality AND its per-group fan-in are
  *     bounded. (The pre-fix `text_rouge_pairs` would have been flagged
  *     here with no bound to cite: its fan-in was the token-exploded
  *     join, unbounded per pair.)
  *
  *  2. SOURCE sweep - the shared pair operators materialize candidate
  *     relations behind eager `localCheckpoint`, which REPLACES the
  *     subtree in every downstream query plan, so their internal
  *     aggregates never appear in sweep 1. Every `.distinct()` site in
  *     the non-tool main source whose context carries both pair sides
  *     must be declared in [[sites]], keyed by file and enclosing
  *     definition.
  *
  * The same source walk holds the set of `main` entry points to
  * `Bench`, `Verify` and the kept tools, so one-off dev mains do not
  * pile up.
  */
class AggAuditSpec extends AnyFunSuite {

  /** does this grouping-key name set contain a pair-shaped combination? */
  private def pairShaped(names: Seq[String]): Option[(String, String)] = {
    val n = names.map(_.toLowerCase).distinct
    val fixed = Seq(("a", "b"), ("q_id", "n_id"), ("u", "v"),
      ("src", "dst"), ("left", "right"))
    val hit = fixed.collectFirst {
      case (x, y) if n.contains(x) && n.contains(y) => (x, y)
    }
    hit.orElse {
      // X_a/X_b (src_a/src_b, source_a/source_b) and a_X/b_X (a_id/b_id)
      val pairs = for {
        x <- n; y <- n; if x != y
        if (x.endsWith("_a") && y.endsWith("_b") &&
              x.dropRight(2) == y.dropRight(2)) ||
           (x.startsWith("a_") && y.startsWith("b_") && x.drop(2) == y.drop(2))
      } yield (x, y)
      pairs.headOption
    }
  }

  /** Adjudicated bound per (query, pair-key signature): why group
    * cardinality and per-group fan-in are corpus-linear or better.
    * The text is the scale argument to check against the code. */
  private val bounds: Map[(String, String), String] = Map(
    ("dedup_lsh_tuning", "a_id|b_id") ->
      ("MAX-over-bands per VERIFIED pair: input is sharedPairs (banded, " +
        "df-capped, linear in corpus) x 3 fixed geometries; groups = " +
        "3*|true pairs|, fan-in <= 32 bands per pair"),
    ("dedup_simhash", "a_id|b_id") ->
      ("distinct AFTER the hamming<=threshold filter: groups = qualifying " +
        "near-dup pairs (linear: pigeonhole chunk buckets, 1024-value " +
        "chunks), fan-in <= 10 chunk co-matches per pair; sf5-held"),
    ("dedup_source_overlap", "source_a|source_b") ->
      "groups = |sources|^2, a corpus-independent enum product",
    ("mm_audio_fingerprint", "a_id|b_id") ->
      ("bandedHammingPairs candidate distinct: co-bucket pairs under " +
        "BandBucketCap with duration-class blocking - candidates linear " +
        "in corpus, fan-in <= 4 bands per pair; sf2-held 95k pairs"),
    ("mm_framehash_dedup", "a_id|b_id") ->
      ("same shared bandedHammingPairs machinery (frame-COUNT blocking): " +
        "candidates linear under BandBucketCap, fan-in <= 4 bands; " +
        "sf2-held 50k pairs"),
    ("mm_ebml_framehash", "a_id|b_id") ->
      ("same shared bandedHammingPairs machinery (cluster-COUNT " +
        "blocking, the EBML twin of mm_framehash_dedup): candidates " +
        "linear under BandBucketCap, fan-in <= 4 bands; sf2-held 50k " +
        "pairs"),
    ("q133_cramers_v", "a|b") ->
      ("contingency cells: groups = |priorities| x |segments| (~25), " +
        "corpus-independent; everything after the agg is a <=25-row plan"),
    ("sim_ann_lsh", "q_id|n_id") ->
      ("multiprobe candidate distinct: groups <= |Q| x probes x bucket " +
        "cap with |Q| a fixed query-set constant; fan-in <= probe count"),
    ("sim_ann_pq", "q_id|n_id") ->
      ("ADC partial sum grouped by (query, vector): groups = |Q| x N " +
        "(linear in corpus, |Q| fixed), fan-in = M=8 subquantizer terms " +
        "per group - constant"),
    ("sim_ann_recall", "q_id|n_id") ->
      ("same LSH shortlist as sim_ann_lsh: groups <= |Q| x " +
        "probes x bucket cap, |Q| fixed"),
    ("sim_ivfpq_adc", "q_id|n_id") ->
      ("ADC over IVF-probed lists only: groups <= |Q| x probed-list " +
        "sizes (nprobe/nlist fraction of corpus, |Q| fixed), fan-in = " +
        "M subquantizer terms"),
    ("sim_recall_matrix", "q_id|n_id") ->
      ("two aggs, both covered: the LSH candidate distinct " +
        "(<= |Q| x probes x cap) and the ADC sum (|Q| x probed lists, " +
        "fan-in M) - the sim_ann_lsh and sim_ivfpq_adc arguments"),
    ("sim_rrf_fusion", "q_id|n_id") ->
      ("rank-fusion inputs are the per-tier shortlists: groups <= |Q| x " +
        "(sum of tier shortlist depths), |Q| fixed"),
    ("text_js_divergence", "src_a|src_b") ->
      ("groups = C(|sources|,2), a corpus-independent enum product; " +
        "fan-in = shared vocabulary per source pair (vocabulary-bounded, " +
        "not corpus-bounded - the reason the stat sums are BIGINT-exact)")
  )

  private val SingleId = "single-id projection of the pair relation " +
    "(candDocs union) - groups <= corpus"
  private val CoBucket = "candidate-pair distinct over band/chunk co-bucket " +
    "matches under BandBucketCap/df-caps - groups = candidate pairs " +
    "(linear in corpus under the caps), fan-in <= constant bands/chunks " +
    "per pair; the shared pattern sf5-held at 16.7M pairs"

  /** Declared pair-side `.distinct()` sites per (file under
    * `src/main/scala/graft`, enclosing top-level definition): how many
    * there are, and why each is bounded. */
  private val sites: Map[(String, String), (Int, String)] = Map(
    ("operators/Dedup.scala", "candidateOverlaps") -> (1, SingleId),
    ("operators/Dedup.scala", "jaccardCandidatesFrom") -> (1, CoBucket),
    ("operators/Dedup.scala", "minhashLsh") -> (1, CoBucket),
    ("operators/Dedup.scala", "simhashPairs") -> (1, CoBucket),
    ("operators/Dedup.scala", "bandedCosinePairs") -> (1, CoBucket),
    ("operators/Dedup.scala", "incremental") -> (1, CoBucket),
    ("operators/Multimodal2.scala", "bandedHammingPairs") -> (1, CoBucket),
    ("operators/TextAnalysis6.scala", "rougePairs") -> (1, SingleId),
    ("streaming/Streams.scala", "nearDupBatchRelations") -> (1, CoBucket),
    ("streaming/Streams.scala", "mediaDedupIncrementalBatch") -> (3, CoBucket))

  /** Entry points: `Bench`, `Verify` and the tools that specs,
    * benchmarks or open roadmap items run. */
  private val mains = Set(
    "graft.Bench", "graft.Verify",
    "graft.tools.ScaleUp", "graft.tools.SkewUp", "graft.tools.StreamBench",
    "graft.tools.TwsBench", "graft.tools.MediaDedupBench",
    "graft.tools.PackDeltaBench", "graft.tools.PlanDump")

  private val root = graft.tools.Records.repoRoot()

  private def scalaFiles(dir: String): Seq[Path] = {
    val walk = Files.walk(root.resolve(dir))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    finally walk.close()
  }

  private val member =
    """^  (?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|lazy\s+|implicit\s+)*(?:def|val)\s+(\w+)\b.*""".r

  private val objectDecl = """\s*object\s+(\w+)\b.*""".r

  test("every pair-keyed aggregate in the registry's plans has a declared bound") {
    val flagged = RegistrySweep.built.flatMap { q =>
      q.aggKeys.flatMap(keys => pairShaped(keys).map { case (x, y) =>
        (q.name, s"$x|$y") -> keys
      })
    }
    val missing = flagged.filterNot { case (k, _) => bounds.contains(k) }
    assert(missing.isEmpty, "pair-keyed aggregates with no declared bound:\n  " +
      missing.map { case ((q, sig), keys) => s"$q pair=$sig keys=${keys.mkString(",")}" }
        .mkString("\n  "))
    val stale = bounds.keySet -- flagged.map(_._1)
    assert(stale.isEmpty, s"bounds for aggregates no plan has any more: $stale")
  }

  test("checkpoint-hidden pair-distinct source sites are exactly the declared ones") {
    val src = root.resolve("src/main/scala/graft")
    val found = scalaFiles("src/main/scala/graft")
      .filterNot(_.toString.contains("/tools/"))
      .flatMap { p =>
        val lines = Files.readString(p).split("\n", -1)
        lines.indices.filter { i =>
          val ctx = lines.slice(math.max(0, i - 8), i + 1).mkString("\n")
          // non-SQL context naming both pair sides
          lines(i).contains(".distinct()") &&
            ctx.contains("a_id") && ctx.contains("b_id") && !ctx.contains("SELECT")
        }.map { i =>
          val owner = (i to 0 by -1).iterator.map(lines(_))
            .collectFirst { case member(name) => name }.getOrElse("<top>")
          (src.relativize(p).toString, owner)
        }
      }
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val declared = sites.map { case (k, (n, _)) => k -> n }
    assert(found === declared,
      s"undeclared or recounted sites ${found.toSet -- declared.toSet} need a bound in " +
        s"`sites`; declared but not found: ${declared.toSet -- found.toSet}")
  }

  test("the only main entry points are Bench, Verify and the kept tools") {
    val found = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")).flatMap { p =>
      val lines = Files.readString(p).split("\n", -1)
      val pkg = lines.collectFirst { case l if l.startsWith("package ") => l.drop(8).trim }
      lines.indices.filter(i => lines(i).matches("""\s*def\s+main\s*\(.*""")).map { i =>
        val obj = (i to 0 by -1).iterator.map(lines(_))
          .collectFirst { case objectDecl(name) => name }.getOrElse("<none>")
        pkg.fold(obj)(_ + "." + obj)
      }
    }
    assert(found.toSet === mains, "a new main needs a spec, benchmark or roadmap item that runs it")
    assert(found.size === mains.size)
  }
}
