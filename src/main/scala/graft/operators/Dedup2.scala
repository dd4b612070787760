package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.Tables._

/** Asymmetric near-dup: Jaccard CONTAINMENT C(A,B) = |A∩B| / min(|A|,|B|).
  * Containment catches what Jaccard structurally cannot — a short document
  * quoted wholesale inside a long one has J ≈ |A|/|B| (tiny) but C = 1 —
  * which is the dominant real-world shape of training-set contamination
  * and boilerplate inclusion. Same shingle vocabulary, DF cap, and exact
  * sorted-signature verification as [[Dedup.jaccardPairs]]; only the
  * prefix-filter geometry changes (the overlap bound anchors on the
  * SMALLER set alone). */
object Dedup2 {

  /** C ≥ 4/5: a qualifying pair shares ≥ ⌈0.8·|A|⌉ shingles of the
    * smaller set A. */
  private val ContainmentThreshold = 0.8

  /** ⌈4n/5⌉ = ⌊(4n+4)/5⌋ — exact in IEEE doubles for realistic n (the
    * [[Dedup.jaccardAlpha]] argument: a correctly-rounded /5 of an exact
    * long can't cross an integer boundary). */
  private def containOMin(n: Column): Column =
    floor((n * 4 + lit(4)) / lit(5)).cast("long")

  /** Candidate generation: 3-WITNESS prefix filtering on the SMALLER
    * side. If C(A,B) ≥ t with |A| ≤ |B| then |A∩B| ≥ o = ⌈t·|A|⌉, and
    * the i-th smallest common shingle (global rarity order) sits within
    * rank |X| − o + i on each side X — so extending A's prefix and the
    * positional reach by w − 1 = 2 guarantees every qualifying pair
    * co-occurs on ≥ w prefix shingles (w = min(3, o) keeps docs with
    * o < 3 deterministic: their prefix degenerates to the full set).
    * Candidates then require w witnesses instead of one.
    *
    * Measured (sf1, 50k docs / 3.4M postings): single-witness prefix ×
    * full postings = 9.30M distinct candidates; the r07-hypothesized
    * singleton-band MinHash buckets = 22.5M (a hot shingle that is the
    * band argmin for DF docs contributes DF²/2 pairs — banding is
    * QUADRATIC in hot-shingle DF, while prefix × postings is linear:
    * rarity-first prefixes practically never contain hot shingles);
    * 3-witness = 222k candidates, verify 3.85 s → 1.40 s. At sf2 the
    * gap widens: 37.8M / 1.11M candidates, verify 33.1 s → 2.0 s. The
    * witness extension — not signature banding — is the containment
    * scale route (SURVEY.md §2.6 records the round-8 numbers).
    * B still contributes FULL postings (no prefix bound on B exists:
    * B may be arbitrarily larger). Verification runs on full sets, so
    * the pruning is exact — output ≡ the unfiltered index join the
    * oracle states. */
  private[graft] def containmentCandidatePlan(
      docs: DataFrame, cap: Int = Dedup.ShingleDfCap): DataFrame =
    containmentCandidatesFrom(Dedup.rankedShingleRows(docs, cap))

  private def containWitness(n: Column): Column =
    least(lit(3L), containOMin(n))

  private[graft] def containmentCandidatesFrom(ranked: DataFrame): DataFrame = {
    val prefix = ranked.filter(col("rn") <=
      col("n") - containOMin(col("n")) + containWitness(col("n")))
    prefix.as("a").join(ranked.as("b"),
        col("a.shingle") === col("b.shingle") &&
          (col("a.n") < col("b.n") ||
            (col("a.n") === col("b.n") && col("a.doc_id") < col("b.doc_id"))) &&
          (containWitness(col("a.n")) +
            least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn")) >=
            containOMin(col("a.n"))))
      .groupBy(col("a.doc_id").as("x_id"), col("b.doc_id").as("y_id"))
      .agg(count(lit(1)).as("wc"), min(containWitness(col("a.n"))).as("wr"))
      .filter(col("wc") >= col("wr"))
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"))
  }

  /** Containment pairs at t = 0.8 over the capped shingle vocabulary.
    * The oracle is the UNFILTERED inverted-index join (the 3-witness
    * prefix + positional pruning is Spark-side-only and exact), with
    * the DF cap mirrored in its QUALIFY exactly as
    * [[Dedup.duckJaccardPairsCap]] mirrors it.
    *
    * SCALE HISTORY: r07's single-witness tier grew 2.85× for 2× data
    * (8.6 s sf1 → 24.4 s sf2) because its candidate volume tracked the
    * DF-cap-saturating shingle population; the r07-hypothesized MinHash
    * banding fix measured WORSE (see [[containmentAsym]]'s note). The
    * 3-witness filter ([[containmentCandidatesFrom]]) is the measured
    * scale route: 42× fewer candidates at sf1, verify 33 s → 2 s at
    * sf2. */
  /** The exact containment relation at t = 0.8, restated as the
    * unfiltered inverted-index join — the shared oracle for every
    * containment consumer (candidate generation is Spark-side pruning
    * only; the verified output is the full relation). */
  private val duckContainment: String =
    s"""WITH sh AS (SELECT doc_id, ${Dedup.duckShingles} AS s FROM documents),
       |exr AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
       |ex AS (SELECT doc_id, shingle FROM exr
       |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= ${Dedup.ShingleDfCap}),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |cs AS (
       |  SELECT a_id, b_id,
       |    CAST(inter AS DOUBLE) / LEAST(sa.n, sb.n) AS containment
       |  FROM pairs
       |  JOIN sz sa ON sa.doc_id = a_id
       |  JOIN sz sb ON sb.doc_id = b_id)
       |SELECT a_id, b_id, containment FROM cs
       |WHERE containment >= $ContainmentThreshold
       |ORDER BY a_id, b_id""".stripMargin

  /** Verified containment pair relation, materialized once per
    * (session, corpus) — the `containment_pairs` lake table, same
    * pattern (and same store) as [[Dedup.sharedPairs]]: both registry
    * consumers ([[containment]], [[containmentAsym]]) scan the snapshot
    * instead of re-running candidates + verify. */
  private[graft] def sharedContainment(s: SparkSession, d: String): DataFrame =
    Dedup.sharedMat(s, d, "containment") {
      val ranked = Dedup.sharedRanked(s, d)
      // exact containment on FULL sets: the shared overlap tail
      Dedup.candidateOverlaps(ranked.select("doc_id", "shingle"),
          containmentCandidatesFrom(ranked))
        .withColumn("containment", col("inter").cast("double") /
          least(col("na"), col("nb")))
        .filter(col("containment") >= ContainmentThreshold)
        .select("a_id", "b_id", "containment")
    }

  val containment: Q = Q(
    "dedup_containment", duckContainment) { (s, d) =>
    sharedContainment(s, d).orderBy("a_id", "b_id")
  }

  /** Asymmetric-containment report: the verified containment pairs
    * with strictly unequal set sizes (ρ = max(n)/min(n) > 1) — the
    * contained-quote / boilerplate-inclusion population that the
    * symmetric Jaccard tier structurally under-scores (J ≤ 1/ρ for a
    * full inclusion), annotated with both set sizes and ρ. This is the
    * operator a curation pipeline runs to find shorter documents
    * (near-)contained inside longer ones. (This corpus family's
    * containment pairs are mildly asymmetric — max ρ = 1.25 at sf0.1 —
    * so the slice is ρ > 1 rather than a higher floor, which would be
    * empty at every test SF.)
    *
    * A NOTE ON THE RETIRED `dedup_containment_lsh` (r07→r08): the
    * hypothesized scale route — singleton-band (r = 1, b = 32) MinHash
    * candidate generation — was built, measured, and REFUTED: at sf1 it
    * produced 22.5M candidates vs the exact prefix tier's 9.30M for the
    * same 2 560 verified pairs, because a hot shingle that is the band
    * argmin for DF docs contributes DF²/2 bucket pairs (banding is
    * quadratic in hot-shingle DF; rarity-first prefixes are linear —
    * they almost never contain hot shingles). The measured scale route
    * is the 3-witness prefix filter ([[containmentCandidatesFrom]]):
    * 222k candidates at sf1 / 1.11M at sf2, verify 1.4 s / 2.0 s.
    *
    * Scans the shared [[sharedContainment]] snapshot + per-doc sizes
    * from the shared postings table — pair-bounded residual, no
    * recompute. ρ is an IEEE double quotient of exact integers, so the
    * DOUBLE column compares bit-exactly across engines. */
  val containmentAsym: Q = Q(
    "dedup_containment_asym",
    s"""WITH sh AS (SELECT doc_id, ${Dedup.duckShingles} AS s FROM documents),
       |exr AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
       |ex AS (SELECT doc_id, shingle FROM exr
       |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= ${Dedup.ShingleDfCap}),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |cs AS (
       |  SELECT a_id, b_id,
       |    CAST(inter AS DOUBLE) / LEAST(sa.n, sb.n) AS containment,
       |    LEAST(sa.n, sb.n) AS n_min, GREATEST(sa.n, sb.n) AS n_max
       |  FROM pairs
       |  JOIN sz sa ON sa.doc_id = a_id
       |  JOIN sz sb ON sb.doc_id = b_id)
       |SELECT a_id, b_id, containment, n_min, n_max,
       |  CAST(n_max AS DOUBLE) / n_min AS rho
       |FROM cs
       |WHERE containment >= $ContainmentThreshold AND n_max > n_min
       |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    val sizes = Dedup.sharedRanked(s, d)
      .select(col("doc_id"), col("n")).distinct()
    sharedContainment(s, d)
      .join(sizes.as("za"), col("a_id") === col("za.doc_id"))
      .join(sizes.as("zb"), col("b_id") === col("zb.doc_id"))
      .select(col("a_id"), col("b_id"), col("containment"),
        least(col("za.n"), col("zb.n")).as("n_min"),
        greatest(col("za.n"), col("zb.n")).as("n_max"))
      .filter(col("n_max") > col("n_min"))
      .withColumn("rho", col("n_max").cast("double") / col("n_min"))
      .orderBy("a_id", "b_id")
  }

  /** Estimator-quality report parameters: K affine min-hash components
    * over the base-31 poly hash (a_j = 2j+3 is nonzero mod the prime, so
    * each h ↦ a_j·h + b_j mod P is a permutation — the standard
    * universal-hash MinHash family). */
  private val EstHashes = 16
  private val EstMod = 1000000007L

  /** MinHash estimator audit: for every verified exact-Jaccard pair,
    * the 16-component MinHash similarity estimate next to the true
    * Jaccard — the operator a pipeline owner runs to decide whether the
    * sketch tier's component count is adequate before trusting it at a
    * threshold. Unlike the production [[Dedup.withMinhash]] signatures
    * (xxhash64 — not restatable in DuckDB), these components are affine
    * transforms of the portable base-31 poly hash, so the WHOLE
    * estimator — not just the verified output — is oracle-checked
    * bit-for-bit.
    *
    * 100 TB shape: one codegen'd poly-hash pass over the capped shingle
    * relation, ONE hash agg building all 16 min-components map-side, and
    * a pair-bounded join against the verified pair set. The estimate is
    * a single division of exact BIGINTs. */
  val minhashEstimate: Q = Q(
    "dedup_minhash_estimate",
    s"""WITH sh AS (SELECT doc_id, ${Dedup.duckShingles} AS s FROM documents),
       |exr AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
       |ex AS (SELECT doc_id, shingle FROM exr
       |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= ${Dedup.ShingleDfCap}),
       |ph AS (SELECT doc_id,
       |  LIST_REDUCE(LIST_PREPEND(0::BIGINT,
       |    LIST_TRANSFORM(RANGE(1, LENGTH(shingle) + 1), i -> ASCII(shingle[i])::BIGINT)),
       |    (acc, c) -> (acc * 31 + c) % $EstMod) AS h FROM ex),
       |m AS (SELECT doc_id, j,
       |  MIN(((2 * j + 3) * h + (5 * j + 7)) % $EstMod) AS mh
       |  FROM ph CROSS JOIN (SELECT UNNEST(RANGE(0, $EstHashes)) AS j) r
       |  GROUP BY doc_id, j),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |js AS (
       |  SELECT a_id, b_id, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS sim
       |  FROM pairs
       |  JOIN sz sa ON sa.doc_id = a_id
       |  JOIN sz sb ON sb.doc_id = b_id),
       |keep AS (SELECT a_id, b_id, sim FROM js WHERE sim >= 0.5),
       |nm AS (
       |  SELECT k.a_id, k.b_id, k.sim,
       |    CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_match
       |  FROM keep k
       |  JOIN m ma ON ma.doc_id = k.a_id
       |  JOIN m mb ON mb.doc_id = k.b_id AND mb.j = ma.j
       |  GROUP BY 1, 2, 3)
       |SELECT a_id, b_id, sim, n_match,
       |  CAST(n_match AS DOUBLE) / ${EstHashes}.0::DOUBLE AS est
       |FROM nm
       |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    // the capped shingle relation feeds the signature build; the
    // verified pair set itself comes from the per-(session, corpus)
    // materialized snapshot (Dedup.sharedPairs) rather than an embedded
    // re-run of the whole pair tier (the r07 weak row: 15.3 s at sf2,
    // ~half of it recomputing an already-materialized relation)
    val ranked = Dedup.sharedRanked(s, d)
    val ex = ranked.select("doc_id", "shingle")
    val ph = ex.select(col("doc_id"),
      graft.functions.PolyHash.full(col("shingle")).as("h"))
    val sig = ph.groupBy("doc_id")
      .agg(
        min((col("h") * lit(3L) + lit(7L)) % EstMod).as("m0"),
        (1 until EstHashes).map(j =>
          min((col("h") * lit(2L * j + 3) + lit(5L * j + 7)) % EstMod)
            .as(s"m$j")): _*)
    val pairs = Dedup.sharedPairs(s, d) // (a_id, b_id, sim) — verified, shared
    val joined = pairs
      .join(sig.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(sig.as("sb"), col("b_id") === col("sb.doc_id"))
    val nMatch = (0 until EstHashes)
      .map(j => when(col(s"sa.m$j") === col(s"sb.m$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    joined
      .withColumn("n_match", nMatch)
      .withColumn("est", col("n_match").cast("double") / EstHashes.toDouble)
      .select("a_id", "b_id", "sim", "n_match", "est")
      .orderBy("a_id", "b_id")
  }

  /** band geometries under audit: (rows-per-band r, bands b), r·b = 32 */
  private val TuneGeometries = Seq((1, 32), (2, 16), (4, 8))
  private val TuneHashes = 32

  /** LSH band-geometry TUNING report — the decision table a pipeline
    * owner reads before picking (r, b) for a corpus: for each geometry
    * over the same 32-component portable MinHash signature,
    *   - the candidate-pair volume the banded self-join would generate
    *     (Σ c·(c−1)/2 over bucket sizes — computed from AGGREGATES
    *     ONLY, no pair relation is ever materialized), and
    *   - the recall against the VERIFIED exact-Jaccard pair set
    *     ([[Dedup.sharedPairs]] — pair-bounded join): the fraction of
    *     true pairs agreeing on at least one full band.
    * Finer bands (r = 1) buy recall with quadratically more hot-bucket
    * candidates; coarser (r = 4) invert the trade — this report puts
    * exact numbers on the r08 containment-tier finding that geometry,
    * not banding per se, decides whether LSH beats prefix filtering.
    *
    * Signatures are the same affine-over-poly-hash portable family as
    * [[minhashEstimate]] (j = 0..31), so the WHOLE report is
    * oracle-checked bit-for-bit. 100 TB shape: one codegen'd hash pass
    * + one 32-min agg, one (geometry × band)-keyed agg for buckets,
    * one pair-bounded join for recall. */
  val lshTuning: Q = Q(
    "dedup_lsh_tuning",
    s"""WITH sh AS (SELECT doc_id, ${Dedup.duckShingles} AS s FROM documents),
       |exr AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
       |ex AS (SELECT doc_id, shingle FROM exr
       |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= ${Dedup.ShingleDfCap}),
       |ph AS (SELECT doc_id,
       |  LIST_REDUCE(LIST_PREPEND(0::BIGINT,
       |    LIST_TRANSFORM(RANGE(1, LENGTH(shingle) + 1), i -> ASCII(shingle[i])::BIGINT)),
       |    (acc, c) -> (acc * 31 + c) % $EstMod) AS h FROM ex),
       |m AS MATERIALIZED (SELECT doc_id, j,
       |  MIN(((2 * j + 3) * h + (5 * j + 7)) % $EstMod) AS mh
       |  FROM ph CROSS JOIN (SELECT UNNEST(RANGE(0, $TuneHashes)) AS j) r
       |  GROUP BY doc_id, j),
       |geo AS (SELECT * FROM (VALUES ${TuneGeometries
             .map { case (r, b) => s"($r, $b)" }.mkString(", ")}) g(r, b)),
       |sigs AS MATERIALIZED (
       |  SELECT g.r, g.b, m.doc_id, m.j // g.r AS band,
       |    STRING_AGG(m.mh::VARCHAR, ',' ORDER BY m.j) AS sig
       |  FROM m CROSS JOIN geo g
       |  GROUP BY 1, 2, 3, 4),
       |buckets AS (SELECT r, b, band, sig, COUNT(*)::BIGINT AS c
       |            FROM sigs GROUP BY 1, 2, 3, 4),
       |cand AS (SELECT r, b,
       |           CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n_candidates
       |         FROM buckets GROUP BY 1, 2),
       |jp AS MATERIALIZED (${Dedup.duckJaccardPairs}),
       |hits AS (
       |  SELECT s1.r, s1.b, j.a_id, j.b_id,
       |    MAX(CASE WHEN s1.sig = s2.sig THEN 1 ELSE 0 END) AS caught
       |  FROM jp j
       |  JOIN sigs s1 ON s1.doc_id = j.a_id
       |  JOIN sigs s2 ON s2.doc_id = j.b_id
       |    AND s2.r = s1.r AND s2.b = s1.b AND s2.band = s1.band
       |  GROUP BY 1, 2, 3, 4),
       |rec AS (SELECT r, b, COUNT(*)::BIGINT AS n_true,
       |          SUM(caught)::BIGINT AS n_caught
       |        FROM hits GROUP BY 1, 2)
       |SELECT CAST(cand.r AS BIGINT) AS r, CAST(cand.b AS BIGINT) AS b,
       |  n_candidates, n_true, n_caught,
       |  CAST(n_caught AS DOUBLE) / n_true AS recall
       |FROM cand JOIN rec ON rec.r = cand.r AND rec.b = cand.b
       |ORDER BY r""".stripMargin) { (s, d) =>
    val ranked = Dedup.sharedRanked(s, d)
    val ph = ranked.select(col("doc_id"),
      graft.functions.PolyHash.full(col("shingle")).as("h"))
    val sig32 = ph.groupBy("doc_id")
      .agg(
        min((col("h") * lit(3L) + lit(7L)) % EstMod).as("m0"),
        (1 until TuneHashes).map(j =>
          min((col("h") * lit(2L * j + 3) + lit(5L * j + 7)) % EstMod)
            .as(s"m$j")): _*)
    // r16: each band signature is the comma-join of a FIXED slice of the
    // 32 signature columns (members ordered by j ≡ the column order), so
    // the (geometry × band) signatures are a pure per-row projection —
    // one explode of 56 prebuilt structs per doc. The previous shape
    // exploded 32 rows/doc, cross-joined ×3 geometries, and rebuilt the
    // strings via a 96-rows/doc shuffle into sort_array(collect_list(…))
    // — a corpus-sized exchange for what is map-side string concat
    // (guide §2.3/§2.4). Identical strings, identical types.
    val bandStructs: Seq[Column] = TuneGeometries.flatMap { case (r, b) =>
      (0 until b).map { k =>
        struct(lit(r).as("r"), lit(b).as("b"), lit(k).as("band"),
          concat_ws(",",
            (k * r until (k + 1) * r).map(j => col(s"m$j").cast("string")): _*)
            .as("sig"))
      }
    }
    val sigs = sig32
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("g"))
      .select(col("g.r").as("r"), col("g.b").as("b"), col("doc_id"),
        col("g.band").as("band"), col("g.sig").as("sig"))
      .localCheckpoint(true) // feeds buckets AND both recall probes
    val cand = sigs.groupBy("r", "b", "band", "sig")
      .agg(count(lit(1)).as("c"))
      .groupBy("r", "b")
      .agg(sum(expr("c * (c - 1) div 2")).cast("long").as("n_candidates"))
    val jp = Dedup.sharedPairs(s, d).select("a_id", "b_id")
    val hits = jp
      .join(sigs.as("s1"), col("a_id") === col("s1.doc_id"))
      .join(sigs.as("s2"),
        col("b_id") === col("s2.doc_id") &&
          col("s2.r") === col("s1.r") && col("s2.b") === col("s1.b") &&
          col("s2.band") === col("s1.band"))
      .groupBy(col("s1.r").as("r"), col("s1.b").as("b"),
        col("a_id"), col("b_id"))
      .agg(max(when(col("s1.sig") === col("s2.sig"), 1).otherwise(0))
        .as("caught"))
    val rec = hits.groupBy("r", "b")
      .agg(count(lit(1)).as("n_true"),
        sum("caught").cast("long").as("n_caught"))
    cand.join(rec, Seq("r", "b"))
      .select(col("r").cast("long").as("r"), col("b").cast("long").as("b"),
        col("n_candidates"), col("n_true"), col("n_caught"),
        (col("n_caught").cast("double") / col("n_true").cast("double"))
          .as("recall"))
      .orderBy("r")
  }

  private val CurvePcts = (50 to 90 by 5).map(_.toLong)

  /** Jaccard THRESHOLD decision table — the knob sweep for the
    * near-dup threshold itself, completing the tuning-report family
    * (band geometry → `dedup_lsh_tuning`, probe depth →
    * `sim_ivf_tuning`, threshold → here): for each t ∈ {0.50 … 0.90}
    * the count of qualifying pairs, the count of affected documents,
    * and the mean similarity of what qualifies — what a curation owner
    * reads to pick the dedup threshold, i.e. how much of the corpus
    * each setting would touch. One scan of the ALREADY-MATERIALIZED
    * verified pair relation ([[Dedup.sharedPairs]], which stores pairs
    * at the J ≥ 0.5 floor) — no shingle work, no joins against the
    * corpus. The mean rides a ×2⁴⁰ fixed-point BIGINT sum (a raw
    * double sum would be accumulation-order-dependent); thresholds
    * compare as CAST(pct)/100.0 — the identical division on both
    * engines of the identical oracle-verified sim doubles. */
  val thresholdCurve: Q = Q(
    "dedup_threshold_curve",
    s"""WITH RECURSIVE jp AS (${Dedup.duckJaccardPairs}),
       |ts AS (SELECT UNNEST(ARRAY[${CurvePcts.mkString(", ")}]) AS pct),
       |pt AS (
       |  SELECT ts.pct, jp.a_id, jp.b_id, jp.sim
       |  FROM jp JOIN ts ON jp.sim >= CAST(ts.pct AS DOUBLE) / 100.0::DOUBLE),
       |st AS (
       |  SELECT pct, COUNT(*)::BIGINT AS n_pairs,
       |    CAST(SUM(CAST(FLOOR(sim * ${TextAnalysis3.FixScale}::DOUBLE
       |      + 0.5::DOUBLE) AS HUGEINT)) AS HUGEINT) AS qs
       |  FROM pt GROUP BY 1),
       |dc AS (
       |  SELECT pct, COUNT(DISTINCT doc)::BIGINT AS n_docs
       |  FROM (SELECT pct, a_id AS doc FROM pt
       |        UNION ALL SELECT pct, b_id FROM pt)
       |  GROUP BY 1)
       |SELECT CAST(st.pct AS BIGINT) AS pct, st.n_pairs, dc.n_docs,
       |  (CAST(st.qs AS DOUBLE) / ${TextAnalysis3.FixScale}::DOUBLE)
       |    / CAST(st.n_pairs AS DOUBLE) AS mean_sim
       |FROM st JOIN dc ON dc.pct = st.pct
       |ORDER BY pct""".stripMargin) { (s, d) =>
    val pt = Dedup.sharedPairs(s, d)
      .select(col("a_id"), col("b_id"), col("sim"),
        explode(array(CurvePcts.map(p => lit(p)): _*)).as("pct"))
      .filter(col("sim") >= col("pct").cast("double") / 100.0)
      .localCheckpoint(true) // pair-bounded; feeds two aggs
    // qs accumulates in DECIMAL(38,0) ≡ HUGEINT: ×2⁴⁰ per pair wraps a
    // silent BIGINT sum past ~8.4 M qualifying pairs (the q101 r2
    // rank-sum lesson) while DuckDB's SUM promotes to HUGEINT
    val st = pt.groupBy("pct")
      .agg(count(lit(1)).as("n_pairs"),
        sum(floor(col("sim") * TextAnalysis3.FixScale + 0.5)
          .cast("decimal(38,0)")).cast("decimal(38,0)").as("qs"))
    val dc = pt.select(col("pct"), explode(array(col("a_id"), col("b_id")))
        .as("doc"))
      .groupBy("pct").agg(countDistinct("doc").as("n_docs"))
    st.join(dc, "pct")
      .select(col("pct").cast("long").as("pct"), col("n_pairs"),
        col("n_docs"),
        ((col("qs").cast("double") / TextAnalysis3.FixScale) /
          col("n_pairs").cast("double")).as("mean_sim"))
      .orderBy("pct")
  }

  /** Prefix-truncation duplicates: document pairs whose first 8 tokens
    * are IDENTICAL — the truncated/cut-off copy family common in web
    * crawls (same page captured to different depths), which
    * whole-document exact dedup misses whenever the tails differ and
    * the Jaccard tier under-scores when the truncation is deep. Pairs
    * are annotated with both token counts and whether the shorter doc
    * is a VERBATIM TOKEN-ALIGNED prefix of the longer: the longer text
    * equals the shorter, or starts with the shorter followed by a
    * space — so "… foo ba" vs "… foo bar" is NOT verbatim (a mid-token
    * character prefix is a different token sequence, r09-ADVICE), and
    * pairs with equal token counts are verbatim iff the texts are
    * identical.
    *
    * 100 TB shape: one map-side prefix projection, a hash self-join on
    * the 8-token prefix with the same hot-group cap as every banded
    * index here ([[Dedup.capGroups]] — a boilerplate header prefix
    * can't go quadratic), and the verbatim check is a STARTSWITH on
    * the two texts of an already-candidate pair. The cap is mirrored
    * in the oracle's QUALIFY, the DF-cap idiom. */
  val prefixTrunc: Q = Q(
    "dedup_prefix_trunc",
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    LEN(STRING_SPLIT(TRIM(text), ' '))::BIGINT AS n_tok,
       |    ARRAY_TO_STRING(STRING_SPLIT(TRIM(text), ' ')[1:8], ' ')
       |      AS pfx
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, text, n_tok, pfx FROM t
       |  WHERE n_tok >= 8
       |  QUALIFY COUNT(*) OVER (PARTITION BY pfx)
       |    <= ${Dedup.BandBucketCap})
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  a.n_tok AS a_tok, b.n_tok AS b_tok,
       |  (CASE WHEN a.n_tok <= b.n_tok
       |        THEN (TRIM(b.text) = TRIM(a.text)
       |              OR STARTS_WITH(TRIM(b.text), TRIM(a.text) || ' '))
       |        ELSE (TRIM(a.text) = TRIM(b.text)
       |              OR STARTS_WITH(TRIM(a.text), TRIM(b.text) || ' ')) END)
       |    AS verbatim
       |FROM p a JOIN p b ON b.pfx = a.pfx AND a.doc_id < b.doc_id
       |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    val ws = split(trim(col("text")), " ")
    val t = documents(s, d).select(col("doc_id"), trim(col("text")).as("tx"),
        size(ws).cast("long").as("n_tok"),
        array_join(slice(ws, 1, 8), " ").as("pfx"))
      .filter(col("n_tok") >= 8)
    val p = Dedup.capGroups(t, Dedup.BandBucketCap, "pfx")
    p.as("a").join(p.as("b"),
        col("b.pfx") === col("a.pfx") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.n_tok").as("a_tok"), col("b.n_tok").as("b_tok"),
        when(col("a.n_tok") <= col("b.n_tok"),
          col("b.tx") === col("a.tx") ||
            col("b.tx").startsWith(concat(col("a.tx"), lit(" "))))
          .otherwise(col("a.tx") === col("b.tx") ||
            col("a.tx").startsWith(concat(col("b.tx"), lit(" "))))
          .as("verbatim"))
      .orderBy("a_id", "b_id")
  }

  /** Cluster-size histogram of the near-dup component graph: how many
    * duplicate clusters exist at each size, and how many documents they
    * absorb — the dedup-impact summary an operator reads BEFORE pruning
    * (a corpus dominated by a few giant clusters dedups very
    * differently from one with many pairs). Rides the SAME shared
    * component labels as `dedup_components` (one more consumer of the
    * [[Dedup.sharedLabels]] materialization — two vocabulary-bounded
    * hash aggs on top, no new corpus pass). Singleton documents never
    * enter the pair graph, so sizes start at 2. */
  val clusterSizeHist: Q = Q(
    "dedup_cluster_size_hist",
    s"""WITH RECURSIVE jp AS (${Dedup.duckJaccardPairs}),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM jp
       |  UNION SELECT b_id, a_id FROM jp),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |comp AS (
       |  SELECT src AS id, LEAST(src, MIN(dst)) AS rep_id
       |  FROM reach GROUP BY src),
       |sz AS (SELECT rep_id, COUNT(*)::BIGINT AS cluster_size
       |       FROM comp GROUP BY 1)
       |SELECT cluster_size, COUNT(*)::BIGINT AS n_clusters,
       |  (cluster_size * COUNT(*))::BIGINT AS n_docs
       |FROM sz GROUP BY 1
       |ORDER BY cluster_size""".stripMargin) { (s, d) =>
    Dedup.sharedLabels(s, d)
      .groupBy("rep_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy("cluster_size")
  }

  /** DF-cap COST readout (r15 VERDICT task 7) — what the
    * [[Dedup.ShingleDfCap]] document-frequency cap silently costs on
    * THIS corpus, as a registered oracle-green report instead of a
    * study tool: shingle document frequencies bucketed by power of
    * two, split at the cap, with the co-occurrence pair volume
    * Σ df·(df−1)/2 each class would feed into candidate generation.
    * The `dropped=true` rows ARE the candidate pairs the cap throws
    * away (the `records/skewdoc.jsonl` hot-template finding — 76.55M
    * cross-variant pairs at sf1 — made production-visible): a pipeline
    * owner reads this before deciding whether the drop is stopword
    * noise (fine) or template mass worth the salt-split tier.
    *
    * Exactness: df, bucket bounds (a 40-row broadcast literal of
    * 2^k bounds — no float log2), and pair sums are pure integers.
    * 100 TB shape: one shingle explode + one vocabulary-sized hash
    * agg + a 40-row broadcast range join; no pair relation is ever
    * materialized — the report COUNTS pairs from aggregates only,
    * like [[lshTuning]]'s candidate column. */
  val dfCapReport: Q = Q(
    "dedup_dfcap_report",
    s"""WITH sh AS (SELECT doc_id, ${Dedup.duckShingles} AS s FROM documents),
       |ex AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
       |dfs AS (SELECT shingle, COUNT(*)::BIGINT AS df FROM ex GROUP BY 1),
       |cls AS (SELECT (1::BIGINT << k) AS lo, (2::BIGINT << k) AS hi
       |        FROM (SELECT UNNEST(RANGE(0, 40)) AS k)),
       |r AS (SELECT lo AS df_bucket, df > ${Dedup.ShingleDfCap} AS dropped,
       |        COUNT(*)::BIGINT AS n_shingles,
       |        CAST(SUM(df * (df - 1) // 2) AS BIGINT) AS co_pairs,
       |        MAX(df) AS max_df
       |      FROM dfs JOIN cls ON df >= lo AND df < hi
       |      GROUP BY 1, 2)
       |SELECT df_bucket, dropped, n_shingles, co_pairs, max_df
       |FROM r ORDER BY df_bucket""".stripMargin) { (s, d) =>
    val dfs = Dedup.shingleRows(documents(s, d))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
    val cls = {
      import s.implicits._
      Seq.tabulate(40)(k => (1L << k, 2L << k)).toDF("lo", "hi")
    }
    dfs.join(broadcast(cls), col("df") >= col("lo") && col("df") < col("hi"))
      .withColumn("df_bucket", col("lo"))
      .withColumn("dropped", col("df") > Dedup.ShingleDfCap)
      .groupBy("df_bucket", "dropped")
      .agg(count(lit(1)).as("n_shingles"),
        sum(expr("df * (df - 1) div 2")).cast("long").as("co_pairs"),
        max("df").as("max_df"))
      .orderBy("df_bucket")
  }

  val all: Seq[Q] = Seq(containment, containmentAsym, minhashEstimate,
    lshTuning, thresholdCurve, prefixTrunc, clusterSizeHist, dfCapReport)
}
