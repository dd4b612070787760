package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.Tables._
import graft.functions.VectorFunctions

/** Deduplication operators for LLM training-data pipelines (SURVEY.md
  * §2.5): exact, n-gram-Jaccard, MinHash-LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison —
  * exact dedup is one hash aggregation; Jaccard pairs come from an
  * inverted-index self-join on shingles (only docs sharing a shingle
  * meet); MinHash-LSH and SimHash bucket by signature bands so candidate
  * generation is a hash join; embedding near-dup's scale path is the
  * LSH-bucketed variant in [[Similarity]]. All hashing is computed
  * per-row with codegen'd expressions — no UDFs, no driver loops.
  *
  * EXACT-vs-LSH CROSSOVER, three measured decades (r08 records,
  * full-registry bench at sf0.1 / sf1=10× / sf2=20×, seconds; the
  * "route to LSH at scale" contract cites these numbers, not vibes):
  * {{{
  *   tier                         sf0.1   sf1    sf2   sf2/sf1
  *   exact hash (dedup_exact)      0.22   0.23   0.34   1.5
  *   ngram Jaccard (pair scan)     0.06   0.09   0.09   1.1
  *   edit distance (PPJoin+Myers)  1.57   8.16  18.63   2.28
  *   MinHash-LSH                   1.03   2.29   3.11   1.36
  *   SimHash                       1.28   2.16   3.02   1.40
  *   embedding cosine (cells)      1.38   6.47  12.50   1.93
  * }}}
  * The exact pair tier itself (the one-time [[sharedRanked]] +
  * [[sharedPairs]] builds that `ngram Jaccard` above merely scans;
  * excluded from per-query times by the Bench one-time-corpus-work
  * policy) grows super-linearly by corpus design — pair counts scale
  * ~×100 per data decade — while the banded tiers hold ≤ 1.4× per
  * doubling. The recorded contract: below ~sf1 the exact tier is
  * cheaper end-to-end; past it, route candidate generation through
  * MinHash-LSH/SimHash banding and keep the exact verify only on
  * band-bucketed candidates (what [[minhashLsh]]/[[simhashPairs]]
  * already do); `dedup_edit_distance` stays the honest exact-tier cost
  * bound and [[Dedup2.thresholdCurve]]'s knob table prices the
  * threshold choice against it.
  */
object Dedup {

  val JaccardThreshold = 0.5

  /** Document-frequency cap defining the FILTERED SHINGLE VOCABULARY
    * every near-dup variant computes over, plus the bucket cap for LSH
    * band buckets. The inverted-index self-join is quadratic PER KEY
    * VALUE: one boilerplate shingle ("all rights reserved …") shared by
    * 10⁷ docs is a 10¹⁴-pair hot key at 100 TB. Shingles with document
    * frequency above the cap are dropped ONCE, up front — exactly the
    * stop-gram filter public MinHash pipelines apply — and Jaccard /
    * MinHash / edit-distance candidates are then EXACT over the filtered
    * vocabulary (similarity on ultra-common boilerplate carries no
    * near-dup signal anyway). The cap is mirrored in every oracle's `ex`
    * CTE ([[duckJaccardPairsCap]]), so Spark and DuckDB define the same
    * computation at EVERY scale — including SFs where the cap binds,
    * which [[dfCapBinding]] exercises cross-engine at cap=5. At the
    * default cap (10 000 > total docs at every test SF) the filter drops
    * nothing; DedupSpec asserts cap-on ≡ cap-off there. */
  val ShingleDfCap = 10000
  val BandBucketCap = 10000

  /** distinct 3-gram word shingles of a document — deduped inside the
    * codegen'd expression (first-occurrence order, `array_distinct`
    * semantics) rather than by the interpreted O(len²) array_distinct */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.WordShingles(split(trim(text), " "), n, distinct = true)

  /** 3-gram shingles from a words array — a native codegen'd expression
    * ([[graft.functions.WordShingles]]); the HOF formulation ran
    * interpreted and was the CPU hot spot of every near-dup query.
    * Short docs (< n words) yield an empty array. */
  def shinglesFromWords(ws: Column, n: Int = 3): Column =
    graft.functions.WordShingles(ws, n)

  /** all 3-gram shingles (with duplicates) — for consumers that count
    * occurrences (duplicate-3-gram fraction, fingerprints); the set
    * consumers use [[shingles]], whose dedup runs inside the
    * expression. */
  def rawShingles(text: Column, n: Int = 3): Column =
    shinglesFromWords(split(trim(text), " "), n)

  /** (doc_id, shingle) distinct rows — the corpus-wide shingle relation
    * every near-dup variant builds on. Distinctness comes ENTIRELY from
    * per-row codegen (the expression dedups within a doc; doc_id keeps
    * docs apart), so the relation is produced with ZERO shuffles — the
    * explode + relational `.distinct()` formulation paid a full
    * hash-aggregate exchange over the raw postings in every near-dup
    * query (~28% of the sf0.1 jaccardPairs pipeline).
    *
    * CONTRACT: `docs` must have one row per doc_id (the documents
    * table's primary key; the corpus loader and every oracle assume the
    * same). A caller holding possibly-redelivered rows must
    * `dropDuplicates("doc_id")` first — as the streaming batch path
    * does — or duplicate postings would inflate df and set sizes. */
  def shingleRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(shingles(col("text"))).as("shingle"))

  private[operators] val duckShingles =
    """CASE WHEN LEN(STRING_SPLIT(TRIM(text), ' ')) < 3 THEN []::VARCHAR[]
      |  ELSE LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(STRING_SPLIT(TRIM(text), ' ')) - 1),
      |    i -> STRING_SPLIT(TRIM(text), ' ')[i] || ' ' || STRING_SPLIT(TRIM(text), ' ')[i+1] || ' ' || STRING_SPLIT(TRIM(text), ' ')[i+2])) END""".stripMargin

  /** Shared oracle: exact 3-gram-shingle Jaccard pairs ≥ threshold via an
    * inverted-index join — used for both the exact-Jaccard query and the
    * MinHash-LSH query (whose banding at b=16,r=2 has ≈1 recall at 0.5 on
    * any corpus, so its verified output equals the exact pair set).
    *
    * The DF cap is MIRRORED oracle-side (the `ex` CTE drops shingles
    * whose document frequency exceeds it, and per-doc set sizes are
    * counted over the FILTERED relation, exactly as Spark's
    * [[filteredShingleRows]] + sizes agg do) — so both engines define
    * the same computation at every scale, including SFs where the cap
    * binds. [[dfCapBinding]] registers the tiny-cap variant where the
    * cap provably bites, closing the r04 parity gap. */
  private[operators] def duckJaccardPairsCap(cap: Int): String =
    s"""WITH sh AS (SELECT doc_id, $duckShingles AS s FROM documents),
       |exr AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
       |ex AS (SELECT doc_id, shingle FROM exr
       |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= $cap),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |js AS (
       |  SELECT a_id, b_id, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS sim
       |  FROM pairs
       |  JOIN sz sa ON sa.doc_id = a_id
       |  JOIN sz sb ON sb.doc_id = b_id)
       |SELECT a_id, b_id, sim FROM js WHERE sim >= 0.5
       |ORDER BY a_id, b_id""".stripMargin

  private[operators] val duckJaccardPairs: String = duckJaccardPairsCap(ShingleDfCap)

  /** Exact dedup: one representative (min doc_id) per identical
    * normalized text + copy count. Single hash aggregation — the 100 TB
    * plan is a shuffle on a 64-bit text hash, nothing else. */
  val exact: Q = Q(
    "dedup_exact",
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY LOWER(TRIM(text))
      |ORDER BY keep_id""".stripMargin) { (s, d) =>
    // group on the 32-byte content hash, not the raw normalized text:
    // the shuffle key shrinks ~10× (documents never cross the wire),
    // which is the difference at 100 TB. SHA-256 collisions are
    // cryptographically negligible, so the grouping is identical.
    documents(s, d)
      .groupBy(sha2(encode(lower(trim(col("text"))), "UTF-8"), 256).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")
  }

  /** Exact n-gram Jaccard near-dup: inverted-index self-join on distinct
    * shingles (docs only meet if they share one), count intersections,
    * single-division Jaccard. */
  val ngramJaccard: Q = Q("dedup_ngram_jaccard", duckJaccardPairs) { (s, d) =>
    // THE exact-Jaccard pair relation — i.e. exactly what
    // [[sharedPairs]] materializes once per (session, corpus); scan the
    // snapshot like every other consumer of the pair graph
    sharedPairs(s, d).orderBy("a_id", "b_id")
  }

  /** Rows of `rel` whose key columns' group size is ≤ cap. One window
    * over the key — a single linear shuffle that also leaves the data
    * hash-partitioned AND sorted by the key, which the self-join that
    * follows consumes without re-exchanging.
    *
    * Measured alternative (r05): a hash-agg DF filter + shuffle_hash
    * left-semi join — the r04 verdict's hypothesis for the
    * dedup_components regression — benched SLOWER on the three
    * shingle-join queries at sf0.1 (11.5 s vs 9.5 s for
    * edit/minhash/ngram): the agg + semi-join pay an extra join pass
    * while SMJ self-join re-sorts anyway, whereas the window's one sort
    * is exactly the SMJ's input order. The actual regression cause was
    * the four CC consumers re-deriving the pair graph per query, fixed
    * by [[sharedMat]]; the window stays. */
  private[graft] def capGroups(rel: DataFrame, cap: Int, keys: String*): DataFrame =
    rel.withColumn("__gn",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__gn") <= cap)
      .drop("__gn")

  /** Sub-split hot (keys) groups instead of dropping them: every row of
    * a group of size g gets a deterministic salt in [0, ⌈g/cap⌉) from
    * xxhash64(idCol, keys...), emitted as `saltName` for the caller's
    * join condition to include. Groups ≤ cap keep salt 0 (identical to
    * no cap). Unlike [[capGroups]] — which EXCLUDES every row of an
    * over-cap group — no row is dropped, so a near-identical cluster
    * larger than the cap (the duplicate-heavy case a near-dup tool
    * exists for, where the SAME signature goes hot in every band) still
    * generates intra-cluster candidates, at 1/⌈g/cap⌉ per-band
    * completeness instead of zero. Including the key columns in the
    * hash makes sub-bucket assignment independent across bands, so a
    * multi-band index recovers the cluster w.p. 1−(1−1/⌈g/cap⌉)^bands
    * per pair. Per-band candidate volume from a hot group is bounded by
    * ~g·cap/2 — output-proportional for a real duplicate cluster (whose
    * exact pair relation is g²/2), never all-pairs for a coincidental
    * signature collision. */
  private[graft] def saltSplitGroups(rel: DataFrame, cap: Int, idCol: String,
      saltName: String, keys: String*): DataFrame =
    rel.withColumn("__gn",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .withColumn(saltName,
        when(col("__gn") <= cap, lit(0L))
          .otherwise(pmod(xxhash64((col(idCol) +: keys.map(col)): _*),
            floor((col("__gn") + lit(cap - 1)) / lit(cap)).cast("long"))))
      .drop("__gn")

  /** [[shingleRows]] restricted to the sub-cap vocabulary — what every
    * near-dup join consumes. The window's shuffle leaves the relation
    * hash-partitioned by shingle, which the self-join then reuses. */
  def filteredShingleRows(docs: DataFrame, cap: Int = ShingleDfCap): DataFrame =
    capGroups(shingleRows(docs), cap, "shingle")

  /** Operator-level adaptive broadcast for the (doc_id, signature)
    * tables of the candidate-verify joins: materialize once (eager
    * localCheckpoint), measure the TRUE payload size with one cheap agg
    * over the checkpointed blocks, and broadcast only when it fits the
    * budget. Estimate-driven planning can't make this call — the
    * relation sits behind generators and windows, whose size estimates
    * are unreliable, and the fused candidate stage leaves AQE no
    * materialized boundary to re-plan (the r05 sf1 finding: the
    * signature joins stayed sort-merge at ~30 MB of signatures, 12 s
    * vs 2 s broadcast). Above the budget the partitioned hash/merge
    * join stands — the 100 TB default.
    *
    * The payload estimate (8 B/element + 64 B/row on the long-array
    * column `sigCol`) is the raw data size; the broadcast hash relation
    * roughly doubles it in memory, so the 64 MB payload budget admits a
    * ~128 MB relation — a routine broadcast on real executors (Spark's
    * own hard cap is 8 GB), and measured necessary: a 32 MB budget
    * rejects the sf1 edit-distance signature table (~25-30 MB payload)
    * and costs the query +5 s in sort-merge joins. */
  private[graft] def sizeGatedBroadcast(sets: DataFrame, sigCol: String = "s"): DataFrame = {
    val m = sets.localCheckpoint(true)
    val bytes = m.agg(
        coalesce(sum(size(col(sigCol)) * 8L + 64L), lit(0L)).cast("long"))
      .head().getLong(0)
    if (bytes <= 64L * 1024 * 1024) broadcast(m) else m
  }

  /** Per-doc SORTED 64-BIT HASH SIGNATURES `(doc_id, s)` of
    * `(doc_id, shingle)` rows — what every overlap count reads instead of
    * string arrays: the bytes that cross the wire per candidate pair are
    * 8·|set| instead of the raw shingle text (~2.5× smaller), and the
    * intersection is a codegen'd two-pointer merge over primitives
    * ([[graft.functions.SortedIntersectCount]]) instead of a per-row
    * hash-set build. xxhash64 collisions within the shingle vocabulary
    * (~52k distinct at sf1) have probability ~|V|²/2⁶⁴ ≈ 1e-10 —
    * negligible like the SHA-256 grouping in [[exact]]. */
  private[graft] def signatures(rows: DataFrame): DataFrame =
    rows.groupBy("doc_id")
      .agg(sort_array(collect_set(xxhash64(col("shingle")))).as("s"))

  /** THE overlap tail of every shingle-pair path (batch Jaccard, edit
    * distance, containment, the streaming near-dup twin): candidate
    * pairs `(a_id, b_id)` joined to `(doc_id, s)` signature tables —
    * `aSigs` for `a_id`, `bSigs` for `b_id` (the batch callers pass one
    * table twice; the twin resolves `b_id`, always an arriving doc,
    * against the batch's signatures alone) — yielding `inter` =
    * |sa ∩ sb| with `na` = |sa| and `nb` = |sb|. Callers apply only
    * their own predicate. */
  private[graft] def overlaps(cand: DataFrame, aSigs: DataFrame,
      bSigs: DataFrame): DataFrame =
    cand
      .join(aSigs.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(bSigs.as("sb"), col("b_id") === col("sb.doc_id"))
      .withColumn("inter",
        graft.functions.SortedIntersectCount(col("sa.s"), col("sb.s")))
      .select(col("a_id"), col("b_id"), col("inter"),
        size(col("sa.s")).as("na"), size(col("sb.s")).as("nb"))

  /** [[overlaps]] for the batch callers: signatures are collected ONLY
    * for docs appearing in a candidate pair, from `postings`
    * `(doc_id, shingle, …)`, and broadcast when they fit
    * ([[sizeGatedBroadcast]]). */
  private[graft] def candidateOverlaps(postings: DataFrame, cand: DataFrame): DataFrame = {
    // Materialize the candidate pairs ONCE. The pair relation feeds
    // three consumers (candDocs + both signature joins); left as a plan
    // it is recomputed per consumer — worse, the whole query then fuses
    // into a few mega-stages in which AQE has no materialized boundary
    // left to re-plan, so the signature joins stay sort-merge even when
    // the signature table's TRUE size is broadcastable (the r05 finding
    // on the sf1 corpus: 12 s → 2 s for the verify once a boundary
    // exists and adaptive broadcast kicks in; see
    // Sessions' adaptive.autoBroadcastJoinThreshold note). Eager
    // localCheckpoint = one job, executor-local blocks — same pattern
    // as the CC loop.
    val candM = cand.localCheckpoint(true)
    val candDocs = candM.select(col("a_id").as("doc_id"))
      .union(candM.select(col("b_id").as("doc_id"))).distinct()
    val sigs = sizeGatedBroadcast(
      signatures(postings.join(broadcast(candDocs), "doc_id")))
    overlaps(candM, sigs, sigs)
  }

  /** The Jaccard ≥ [[JaccardThreshold]] predicate over [[overlaps]]
    * output — shared by the batch pairs and the streaming twin. */
  private[graft] def jaccardSims(ov: DataFrame): DataFrame =
    ov.withColumn("sim", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("sim") >= JaccardThreshold)
      .select("a_id", "b_id", "sim")

  /** PPJoin positional filter, as a JOIN predicate on prefix-postings
    * co-occurrences: a match at in-document rarity ranks (rn_a, rn_b)
    * can witness an overlap of at most 1 + min(n_a−rn_a, n_b−rn_b)
    * (everything shared must sit at or after the matched rank on both
    * sides for the FIRST common shingle, which is the co-occurrence
    * completeness relies on). Pairs whose required overlap exceeds that
    * reach are dropped before the candidate distinct — at sf1 this cuts
    * co-occurrences 48M → 13M. `alpha` must be the exact integer
    * overlap bound for the pair (a function of n_a, n_b). */
  private[graft] def positionalFilter(alpha: (Column, Column) => Column): Column =
    lit(1) + least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn")) >=
      alpha(col("a.n"), col("b.n"))

  /** α for Jaccard ≥ 1/2: ⌈(n_a+n_b)/3⌉ = ⌊(n_a+n_b+2)/3⌋, exact in
    * IEEE double for any realistic set sizes (/3 of an exact long is
    * correctly rounded and lands on an integer only when exact). */
  private[graft] def jaccardAlpha(na: Column, nb: Column): Column = {
    requireHalf()
    floor((na + nb + lit(2)) / lit(3)).cast("long")
  }

  /** Every Jaccard prefix bound here ([[jaccardAlpha]], [[jaccardOMin]],
    * [[jaccardProbeOMin]]) is derived for t = 1/2; each runs this check,
    * so no path can pair under another threshold with a stale bound. */
  private def requireHalf(): Unit =
    require(JaccardThreshold == 0.5, "the Jaccard prefix bounds hardcode t = 1/2")

  /** Capped postings annotated for prefix filtering: the rows of
    * `(doc_id, shingle)` postings whose shingle's `df` (a table covering
    * every shingle of `rows`) is ≤ cap, with `df`, the per-doc capped set
    * size `n`, and `rn` — the shingle's rank within its document under
    * the GLOBAL rarity order (df asc, shingle asc). The global order is
    * what makes prefix filtering sound; rarity-first is what makes it
    * effective (prefix postings concentrate on low-DF shingles, so the
    * candidate self-join's Σ df² collapses). The batch build ranks under
    * the corpus df ([[rankedShingleRows]]); the streaming twin under its
    * index's df as of the arriving batch. */
  private[graft] def rankPostings(rows: DataFrame, df: DataFrame, cap: Int): DataFrame =
    // r17: DF annotation as aggregate + shuffled-hash join instead of a
    // count-over-shingle window — the window sorted the ENTIRE posting
    // relation by shingle (hot shingles included) just to attach a per-
    // group count; the join streams postings against a hash table of
    // the ≤cap-df shingle counts (every shingle under the cap, so the
    // build side is vocabulary-sized, not cap-bounded) and drops
    // capped-out shingles in the same pass (guide §2.3).
    rows.join(df.filter(col("df") <= cap).hint("shuffle_hash"), "shingle")
      .select(col("doc_id"), col("shingle"), col("df"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))))

  /** [[rankPostings]] of the docs' shingles under their own df. The
    * postings explode runs twice (both join inputs), which is map-side
    * CPU — cheaper than materializing the corpus-sized posting list. */
  private[graft] def rankedShingleRows(docs: DataFrame, cap: Int): DataFrame = {
    val rows = shingleRows(docs)
    rankPostings(rows, rows.groupBy("shingle").agg(count(lit(1)).as("df")), cap)
  }

  /** PPJoin-style prefix postings for a RELATIVE overlap requirement:
    * keep each doc's `n − oMin(n) + 1` rarest shingles, where `oMin(n)`
    * is the smallest intersection a qualifying partner can share with a
    * size-`n` doc. Completeness (the classic prefix-filter argument):
    * for any qualifying pair, the FIRST common shingle x* in the global
    * order is preceded within doc X only by non-shared shingles — at
    * most |X| − o of them — so x* sits within both docs' prefixes and
    * the prefix self-join emits the pair. Everything after candidate
    * generation verifies on FULL sets, so the pruning is exact. */
  private[graft] def prefixRows(ranked: DataFrame, oMin: Column => Column): DataFrame =
    ranked.filter(col("rn") <= col("n") - oMin(col("n")) + 1)

  /** ⌈n·t⌉ for the Jaccard threshold, in exact arithmetic: J ≥ t forces
    * |A∩B| ≥ t·|A| (and ≥ t·|B|), and with t = 1/2, ⌈n/2⌉ = ⌊(n+1)/2⌋.
    * IEEE division of exact longs by 2 is exact, so floor() is safe. */
  private[graft] def jaccardOMin(n: Column): Column = {
    requireHalf()
    floor((n + lit(1)) / lit(2)).cast("long")
  }

  /** ⌈n/3⌉ = ⌊(n+2)/3⌋: the overlap floor the streaming twin probes
    * stored postings with. J ≥ t forces |A∩B| ≥ t·|A|/(1+t) whatever
    * the stored side's size, which is ⌈n/3⌉ at t = 1/2 (exact in IEEE
    * double, as in [[jaccardAlpha]]). */
  private[graft] def jaccardProbeOMin(n: Column): Column = {
    requireHalf()
    floor((n + lit(2)) / lit(3)).cast("long")
  }

  /** candidate generation from annotated postings — joins ONLY prefix
    * postings: the full-postings self-join's Σ df² grows quadratically
    * with corpus size (measured ×90 from sf0.01→sf0.1 and ×107 from
    * sf0.1→sf1 on this corpus family), while prefix postings are the
    * rarest ~(1−t) of each doc */
  private[graft] def jaccardCandidatesFrom(ranked: DataFrame): DataFrame = {
    val prefix = prefixRows(ranked, jaccardOMin)
    prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          positionalFilter(jaccardAlpha))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** The LAZY candidate plan, pre-materialization — the executing path
    * hides candidate generation behind localCheckpoint, so plan-shape
    * regressions (cartesian/BNL, a dropped DF-cap window) would be
    * invisible in the query's own executedPlan; DedupSpec targets THIS
    * relation instead. */
  private[graft] def jaccardCandidatePlan(
      docs: DataFrame, cap: Int = ShingleDfCap): DataFrame =
    jaccardCandidatesFrom(rankedShingleRows(docs, cap))

  /** edit-distance witness candidates from annotated postings.
    * 3-WITNESS prefix filtering: the i-th smallest common shingle (in
    * the global rarity order) sits within position n − o + i on both
    * sides, so extending the prefix by 2 guarantees every qualifying
    * pair (overlap ≥ 3 always, by the rule) co-occurs on ≥3 prefix
    * shingles — candidates then require THREE witnesses instead of
    * one, which kills chance single-rare-shingle matches before the
    * signature verify (sf1: 21M → 4.6M verify pairs). The positional
    * reach of the 3rd witness is 3 + min(suffixes), hence the +3.
    * oMin(n) = max(3, ⌈n/5⌉) — ⌈n/5⌉ via exact ⌊(n+4)/5⌋ (IEEE division
    * of exact longs is correctly rounded; /5 results never land on an
    * integer boundary unless exact, so floor is safe). */
  private def editCandidatesFrom(ranked: DataFrame, docs: DataFrame): DataFrame = {
    val edOMin: Column => Column =
      n => greatest(lit(3L), floor((n + lit(4)) / lit(5)).cast("long"))
    val edAlpha: (Column, Column) => Column =
      (na, nb) => greatest(lit(3L),
        floor((greatest(na, nb) + lit(4)) / lit(5)).cast("long"))
    // r09: join on xxhash64(shingle), not the ~30-byte shingle STRING —
    // the self-join's inner loop compares/carries only 8-byte longs
    // (sf2: 489M enumerated prefix pairs; SURVEY.md §6.2 records the
    // round-9 measurement).
    // EXACTNESS (w.h.p.): equal shingles ⇒ equal hashes, so the hash
    // join emits a SUPERSET of the string join's pairs — a collision
    // can only ADD phantom candidates at this stage. The downstream
    // verify also operates on hashed sets (collect_set of xxhash64 +
    // SortedIntersectCount), so a 64-bit collision COULD inflate a
    // shared count there; at ~n distinct shingles the chance of any
    // collision in the corpus is ~n²/2⁶⁵ (< 1e-7 even at billions of
    // shingles) — negligible, the same caveat class as the repo's
    // other hash-keyed claims, but w.h.p. rather than exact: a
    // colliding pair would still need a genuine Myers edit-distance
    // hit (checked on real text) to reach the output, yet its overlap
    // gate would have passed on inflated counts where a string-keyed
    // engine's would not.
    val prefix = ranked.filter(col("rn") <= col("n") - edOMin(col("n")) + 3)
      // char length rides along for the length-compatibility prune
      .join(broadcast(docs.select(col("doc_id"),
        length(col("text")).as("len"))), "doc_id")
      .select(col("doc_id"), xxhash64(col("shingle")).as("k"),
        col("n"), col("rn"), col("len"))
    prefix.as("a").join(prefix.as("b"),
        col("a.k") === col("b.k") &&
          col("a.doc_id") < col("b.doc_id") &&
          (lit(3) + least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn")) >=
            edAlpha(col("a.n"), col("b.n"))) &&
          // implied by the FINAL keep rule (rel-ed ≤ 0.3) and the
          // shared-floor (shared ≤ min(n)), so pruning here is exact
          (lit(10) * abs(col("a.len") - col("b.len")) <=
            lit(3) * greatest(col("a.len"), col("b.len"))) &&
          (lit(5) * least(col("a.n"), col("b.n")) >=
            greatest(col("a.n"), col("b.n"))))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 3)
      .select("a_id", "b_id")
  }

  /** lazy edit-distance candidate plan for DedupSpec's plan assertions
    * (same rationale as [[jaccardCandidatePlan]]) */
  private[graft] def editCandidatePlan(docs: DataFrame): DataFrame =
    editCandidatesFrom(rankedShingleRows(docs, ShingleDfCap), docs)

  private[graft] def jaccardPairs(
      docs: DataFrame, cap: Int = ShingleDfCap): DataFrame = {
    // materialized once: candidate generation AND the signature build
    // both consume the window-annotated postings; left lazy, the verify
    // job recomputes the two window passes (~3.5 s at sf1)
    jaccardPairsFrom(rankedShingleRows(docs, cap).localCheckpoint(true))
  }

  /** [[jaccardPairs]] from an already-materialized ranked-postings
    * relation — consumers that ALSO need the shingle relation (the
    * MinHash estimator audit) share one materialization instead of
    * rebuilding the two window passes. */
  private[graft] def jaccardPairsFrom(ranked: DataFrame): DataFrame =
    // exact verification on FULL sets — output identical to the
    // unfiltered self-join, so the shared oracle is unchanged
    jaccardSims(candidateOverlaps(ranked.select("doc_id", "shingle"),
      jaccardCandidatesFrom(ranked)))

  private[graft] val NumHashes = 32
  private val NumBands = 16 // × 2 rows/band: P(miss | j=0.5) = (1-0.25)^16 ≈ 1%

  /** MinHash signatures: mh_i = min over shingles of a per-i 64-bit hash.
    * Computed as ONE codegen'd hash aggregation over the exploded shingle
    * relation (NumHashes min-columns at once) — at corpus scale this is a
    * single shuffle keyed by doc_id with map-side partial mins; the
    * per-row HOF formulation re-evaluated the shingle array per hash
    * function and ran interpreted. */
  def withMinhash(docs: DataFrame): DataFrame =
    withMinhashFrom(shingleRows(docs))

  /** signatures from a pre-built (possibly cached) shingle relation */
  def withMinhashFrom(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id")
      .agg(
        min(xxhash64(lit(0), col("shingle"))).as("mh_0"),
        (1 until NumHashes).map(i =>
          min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i")): _*)

  /** MinHash-LSH near-dup: signature → band buckets → hash-join candidate
    * pairs → exact-Jaccard verification. The verified output equals the
    * exact pair set whenever banding recall holds (b=16, r=2 → miss
    * probability ≤(1-j²)^16, ≈1% at j=0.5, ~1e-7 at j=0.8), which the
    * DedupSpec asserts against the exact query; hence the same oracle. */
  val minhashLsh: Q = Q("dedup_minhash_lsh", duckJaccardPairs) { (s, d) =>
    // signatures, buckets, AND verification all read the same filtered
    // vocabulary, so the verified output equals jaccardPairs exactly;
    // the shared postings snapshot supplies it as a parquet scan
    val sh = sharedRanked(s, d).select("doc_id", "shingle")
    val signed = withMinhashFrom(sh)
    val bands = signed.select(
      col("doc_id"),
      posexplode(array((0 until NumBands).map(j =>
        xxhash64(lit(j), col(s"mh_${2 * j}"), col(s"mh_${2 * j + 1}"))): _*))
        .as(Seq("band", "sig")))
    // [[BandBucketCap]] guards the degenerate-bucket hot key (e.g. a
    // band value shared by a huge boilerplate cluster): buckets above
    // the cap are dropped from candidate generation, exactly as the
    // shingle index is capped. No test-SF bucket comes near the cap.
    val capped = capGroups(bands, BandBucketCap, "band", "sig")
    val cand = capped.as("a")
      .join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    // exact-Jaccard verification, materialized only for candidate docs
    // (sparse at any scale — shingle sets are collected per candidate,
    // never for the whole corpus)
    jaccardSims(candidateOverlaps(sh, cand)).orderBy("a_id", "b_id")
  }

  /** SimHash signature width and chunking. 60 bits (not 64) because the
    * per-shingle hash is the PORTABLE one both engines compute
    * identically — the top 15 hex chars of md5 — which is what makes the
    * whole query DuckDB-oracle-checkable; 10 chunks of 6 bits give the
    * pigeonhole guarantee hamming ≤ 9 ⇒ some chunk shared (threshold-14
    * pairs beyond that found w.h.p.). */
  private val SimHashBits = 60
  private val SimHashChunks = 6
  private val SimHashChunkBits = 10
  private val SimHashThreshold = SimHashChunks - 1

  /** 60-bit SimHash per document: per-bit ±1 vote over shingle hashes,
    * packed into one long. One codegen'd hash aggregation with 60 sum
    * columns over the exploded shingle relation (map-side partials →
    * single doc_id shuffle); the per-row formulation ran 60 interpreted
    * folds per document. The shingle hash is md5-derived (see
    * [[SimHashBits]]) so the DuckDB oracle reproduces it bit-for-bit. */
  /** per-doc 60-bit SimHash signatures, computed ROW-LOCALLY by the
    * codegen'd [[graft.functions.SimHash60]] over the distinct-shingle
    * array — zero exchanges (the r04 form exploded postings and paid a
    * corpus-wide 60-column hash aggregate for what is per-row work).
    * The empty-shingle filter preserves the explode semantics: short
    * docs produced no aggregation group, and must not surface as
    * signature 0. */
  def simhashDf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingles(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), graft.functions.SimHash60(col("ws")).as("sh"))

  /** the r04 relational formulation (explode → 60 conditional sums →
    * repack) — kept as the independent reference [[DedupSpec]] asserts
    * [[simhashDf]] against bit-for-bit */
  private[graft] def simhashDfRelational(docs: DataFrame): DataFrame = {
    // portable 60-bit hash: both engines md5 the UTF-8 shingle, take the
    // leading 15 hex chars, and parse them as an unsigned hex integer
    val h = conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("bigint")
    val voted = shingleRows(docs)
      .select(col("doc_id"), h.as("h"))
      .groupBy("doc_id")
      .agg(
        sum(shiftright(col("h"), 0).bitwiseAND(lit(1L)) * 2 - 1).as("b_0"),
        (1 until SimHashBits).map(i =>
          sum(shiftright(col("h"), i).bitwiseAND(lit(1L)) * 2 - 1).as(s"b_$i")): _*)
    val packed = (0 until SimHashBits).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(when(col(s"b_$i") > 0, lit(1L << i)).otherwise(lit(0L)))
    }
    voted.select(col("doc_id"), packed.as("sh"))
  }

  /** The same signature, bit votes, chunk bucketing, and hamming verify
    * restated over DuckDB primitives: hex-cast md5 prefix, RANGE-unnest
    * bit/chunk indexes, bit_count(xor). Structurally independent of the
    * Catalyst formulation (60 aggregate columns vs an unnested bit
    * relation), so it cross-checks the logic, not the plan. */
  private val duckSimhash: String =
    s"""WITH sh AS (SELECT doc_id, $duckShingles AS s FROM documents),
       |ex AS (SELECT DISTINCT doc_id, UNNEST(s) AS shingle FROM sh),
       |hs AS (SELECT doc_id,
       |         CAST('0x' || SUBSTRING(MD5(shingle), 1, 15) AS BIGINT) AS h
       |       FROM ex),
       |bits AS (
       |  SELECT doc_id, i,
       |    CASE WHEN SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) > 0
       |      THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END AS bitval
       |  FROM hs CROSS JOIN (SELECT UNNEST(RANGE(0, ${SimHashBits})) AS i) r
       |  GROUP BY doc_id, i),
       |sig AS (SELECT doc_id, SUM(bitval) AS sh FROM bits GROUP BY doc_id),
       |cand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
       |SELECT a_id, b_id, hamming FROM cand
       |WHERE hamming <= ${SimHashThreshold}
       |ORDER BY a_id, b_id""".stripMargin

  /** SimHash near-dup at hamming ≤ [[SimHashThreshold]], EXACT (the
    * oracle is the plan-independent BRUTE-FORCE pair join): bucket by
    * [[SimHashChunkBits]]-bit chunks and verify true hamming. The
    * threshold EQUALS the pigeonhole guarantee ([[SimHashChunks]] − 1:
    * fewer flipped bits than chunks leaves some chunk untouched), so
    * bucketing misses nothing at ANY corpus size.
    *
    * r08 REDESIGN, measured at sf2 (100k docs): the previous geometry
    * (10 chunks × 6 bits, threshold 14 — five flips beyond its ≤ 9
    * guarantee, "found w.h.p.") missed 122 of 2 594 brute-force
    * h ≤ 14 pairs in a 2%-sample probe (94.7% recall at h = 14) and
    * its 64-value buckets held corpus/64 docs each — 805M co-bucket
    * pairs, quadratic in corpus. 1024-value chunks cut co-bucket
    * volume 27× and the guarantee-aligned threshold makes the sketch
    * semantics scale-invariant: what the operator returns is the same
    * relation brute force would, provably, at 100 TB as at sf0.01.
    * The registry oracle `duckSimhash` is that brute force (all pairs,
    * hamming ≤ threshold), so the query's recall is hash-checked. */
  val simhashPairs: Q = Q("dedup_simhash", duckSimhash) { (s, d) =>
    val docs = simhashDf(documents(s, d))
    val chunks = docs.select(col("doc_id"), col("sh"),
      posexplode(array((0 until SimHashChunks).map(k =>
        shiftrightunsigned(col("sh"), SimHashChunkBits * k)
          .bitwiseAND(lit((1L << SimHashChunkBits) - 1))): _*))
        .as(Seq("chunk_idx", "chunk")))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("bigint").as("hamming"))
      // filter BEFORE distinct: hamming is a codegen'd per-row map, so
      // the dedup shuffle carries only qualifying pairs (~output-sized)
      // instead of every co-bucket collision (quadratic in hot chunks)
      .filter(col("hamming") <= SimHashThreshold)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  private val EmbDim = 64
  val CosineThreshold = 0.4

  /** Embedding-cosine near-dup pairs ≥ [[CosineThreshold]], EXACT (same
    * oracle as brute force) but with no cartesian product in the plan:
    * candidates come from [[cellCosinePairs]] — triangle-inequality-pruned
    * cell pairs verified by partitioned hash joins. Cell bits AUTO-SCALE
    * with the corpus (≈ log₂(n / 100), clamped to [4, 12]) so cells hold
    * ~100 vectors at any size — the corpus count is a parquet
    * metadata-only job, and the result is exact at every bits value, so
    * the knob tunes verify-join volume without touching semantics. */
  /** Cell bits for a corpus of n vectors: ≈ log₂(n/100) keeps cells at
    * ~100 vectors — MEASURED optimum, not a guess: the r08 cell-bits
    * sweep (SURVEY.md §6.1; output identity across bits is DedupSpec's
    * "cellCosinePairs is exact at every bits value" test) at sf1
    * (20 k vecs) reads 11.5/8.6/8.5/12.9 s
    * for bits 4/6/8/10 and at sf2 (40 k) 29.1/18.7/15.4/12.8/8.6/29.3 s
    * for bits 5/6/7/8/9/10 — wall time is U-shaped in cell size with the
    * floor at ~60–300 rows/cell (verify volume Σ|Ci||Cj| shrinks with
    * finer cells until per-row join fan-out and the extra centroid/radius
    * agg groups dominate). The old n/2000 target sat far up the coarse
    * side of the U: at sf2 it chose bits 5 and the recorded sf2/sf1
    * bench ratio read 3.0× (15.5 s); at n/100 the recorded sf2 time is
    * 12.5 s at ratio ~1.9× (isolated min-of-2 runs — warm-JVM debug
    * reads lower still). The DEFAULT ceiling of 12 bounds the
    * driver-side work, which is O(2^bits) collected cell stats and an
    * O(4^bits) angle bound matrix: 12 bits = 4096 cells ≈ 16.8 M bounds
    * (sub-second); every further bit QUADRUPLES it. Raising `maxBits`
    * is an explicit opt-in — the result is exact at any value, so the
    * knob is purely cost: ~14 (≈268 M bounds, minutes of driver time)
    * is the practical ceiling. Past corpus ≈ 100·2^maxBits vectors the
    * router ([[cosinePairs]]) switches to the banded sign-LSH route
    * ([[bandedCosinePairs]]) instead of growing the bound matrix —
    * since r09 that crossover is CODE, not prose (`DedupSpec` proves
    * pair identity across a forced route straddle, and across bits
    * values straddling this ceiling). */
  private[graft] def autoCellBits(n: Long, maxBits: Int = 12): Int =
    math.min(maxBits, math.max(4,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n / 100))))

  /** The embedding near-dup pair relation, MATERIALIZED once per
    * (session, corpus) — r13 VERDICT task 8: dedup_embedding_cosine was
    * the registry-max query (19.55 s sf2) because the quadratic-output
    * pair DUMP re-ran the cell/verify pipeline per query. Like
    * [[sharedEditPairs]], the relation is a once-per-corpus-snapshot
    * lake table (`embedding_neardup_pairs`); the registered query is
    * the linear read and the build cost is disclosed in the bench's
    * shared_builds map. */
  private[graft] def sharedCosinePairs(s: SparkSession, d: String): DataFrame =
    sharedMat(s, d, "cosine_pairs")(
      cosinePairs(embeddings(s, d), CosineThreshold))

  val embeddingCosine: Q = Q(
    "dedup_embedding_cosine",
    s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  ${VectorFunctions.duckCosine("a.embedding", "b.embedding", EmbDim)} AS sim
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE ${VectorFunctions.duckCosine("a.embedding", "b.embedding", EmbDim)} >= $CosineThreshold
       |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    // routed: exact cell pruning below the bound-matrix ceiling (all
    // test SFs), banded sign-LSH above it (see [[cosinePairs]]);
    // materialized once per corpus, scanned per query
    sharedCosinePairs(s, d).orderBy("a_id", "b_id")
  }

  /** Exact all-pairs cosine ≥ threshold WITHOUT an all-pairs join.
    *
    * Shape (the 100 TB design — exact, unlike probabilistic LSH banding):
    *   1. bucket vectors into 2^bits cells by hyperplane sign signature;
    *   2. one aggregation pass computes each cell's centroid and exact
    *      angular radius r = max angle(member, centroid);
    *   3. angular triangle inequality bounds the best achievable pair:
    *      θ(a,b) ≥ θ(ci,cj) − ri − rj, so a cell pair whose bound exceeds
    *      arccos(threshold) (+ slack for FP noise — slack only ever ADDS
    *      candidates, never drops true pairs) is pruned without touching
    *      its members;
    *   4. surviving ordered cell pairs (a tiny broadcast relation) drive
    *      partitioned HASH joins for the exact per-pair cosine verify.
    *
    * On a clustered corpus most cell pairs prune and this is near-linear;
    * on an isotropic corpus at a low threshold (arccos 0.4 ≈ 66°) nothing
    * CAN prune — every exact method must evaluate ~n² pairs — and this
    * degrades gracefully into a block-partitioned exact join: balanced
    * |Ci|·|Cj| tasks, no broadcast of the corpus, no cartesian, memory
    * bounded by cell size (pick bits ≈ log2(n / targetCellRows) at scale).
    * Driver-side work is the 2^bits × 2^bits bound matrix — O(K²·dim),
    * corpus-independent. The probabilistic alternative is counterproductive
    * here: at sim 0.4 a hyperplane agrees with p ≈ 0.63, so banding with
    * full recall generates MORE candidate slots than brute force.
    */
  def cellCosinePairs(emb: DataFrame, threshold: Double,
      bits: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // one materialization of the annotated corpus: norm + cell are
    // consumed by FOUR subplans (centroids, radii, both verify sides)
    // and would be recomputed per consumer as a lazy plan
    val e = emb.select(col("vec_id"), col("embedding"),
      VectorFunctions.norm(col("embedding")).as("nrm"),
      Similarity.lshSignature(col("embedding"), bits).as("cell"))
      .localCheckpoint(true)
    // centroid per cell: per-dimension mean via explode + hash agg
    // (map-side partials; one corpus pass), re-assembled in pos order
    val cent = e.select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("cell", "pos").agg(sum(col("x").cast("double")).as("sx"))
      .groupBy("cell")
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("sx")))),
        s => s.getField("sx")).as("cvec"))
    // exact angular radius per cell (second corpus pass; max is a
    // map-side-combining agg). Interpreted HOF dot is fine here: one
    // evaluation per row, not per pair.
    val cellStats = e.join(cent, "cell")
      .select(col("cell"), col("cvec"),
        (aggregate(zip_with(col("embedding"), col("cvec"),
          (a, c) => a.cast("double") * c), lit(0.0), (acc, x) => acc + x) /
          (col("nrm") * sqrt(aggregate(zip_with(col("cvec"), col("cvec"),
            (a, b) => a * b), lit(0.0), (acc, x) => acc + x)))).as("cosang"))
      .groupBy("cell")
      .agg(first(col("cvec")).as("cvec"),
        max(acos(greatest(lit(-1.0), least(lit(1.0), col("cosang")))))
          .as("radius"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    // driver-side K×K bound matrix (K = 2^bits, corpus-independent)
    val thrAngle = math.acos(threshold)
    val slack = 1e-6
    def ang(u: Array[Double], v: Array[Double]): Double = {
      var d = 0.0; var nu = 0.0; var nv = 0.0; var i = 0
      while (i < u.length) { d += u(i) * v(i); nu += u(i) * u(i); nv += v(i) * v(i); i += 1 }
      val denom = math.sqrt(nu) * math.sqrt(nv)
      if (denom < 1e-300) 0.0 // degenerate centroid: assume closest
      else math.acos(math.max(-1.0, math.min(1.0, d / denom)))
    }
    val surviving = for {
      (ci, vi, ri) <- cellStats
      (cj, vj, rj) <- cellStats
      if ang(vi, vj) - ri - rj <= thrAngle + slack
    } yield (ci, cj)
    val pairCells = broadcast(surviving.toSeq.toDF("ci", "cj"))
    // exact verify: two hash joins routed by the surviving cell pairs;
    // a_id < b_id dedupes (each unordered pair appears in exactly one
    // ordered cell pair with that orientation)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("nrm").as("a_nrm"), col("cell").as("ci"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      col("nrm").as("b_nrm"), col("cell").as("cj"))
    a.join(pairCells, "ci")
      .join(b, "cj")
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim", VectorFunctions.dot(col("a_emb"), col("b_emb")) /
        (col("a_nrm") * col("b_nrm")))
      .filter(col("sim") >= threshold)
      .select("a_id", "b_id", "sim")
  }

  /** Banded sign-LSH near-dup over embeddings — the LARGE-corpus route
    * of [[cosinePairs]]: 32 bands × 8 hyperplane sign bits (the same
    * seeded [[graft.functions.SignMatrix]] planes as the ANN tier) →
    * co-bucket candidate join (hot buckets SUB-SPLIT by a salted
    * secondary hash, [[saltSplitGroups]] — never dropped) → exact
    * cosine verify. Candidate volume is output-sensitive (Σ bucket²,
    * hot buckets bounded to ~g·cap per band), never all-pairs, and
    * nothing is collected on the driver — the property the cell route
    * loses past its bound-matrix ceiling.
    *
    * Recall contract (w.h.p., NOT exact — why this is the >ceiling
    * route, not the registered default): a pair at cosine s co-buckets
    * in one band with p_band = (1 − θ/π)^8, θ = arccos s; miss
    * probability (1 − p_band)^32 ≈ 1.7e-5 at s = 0.9 and ≈ 1e-30 at
    * s = 0.999, but ≈ 0.44 at s = 0.4 — sign-LSH is a HIGH-threshold
    * tool, which is exactly the near-dup regime. A near-identical
    * cluster LARGER than `cap` keeps the same signature in every band
    * (every band's bucket hot); dropping hot buckets would exclude the
    * entire cluster deterministically, so instead each hot bucket is
    * salt-split into ⌈g/cap⌉ sub-buckets with per-band-independent
    * assignment — an intra-cluster pair then survives w.p.
    * 1 − (1 − 1/⌈g/cap⌉)^bands (≈ 1 − 2⁻³² at g ≤ 2·cap), on top of
    * the p_band geometry above. The signature AND the salt are seeded
    * and deterministic, so on any FIXED corpus the output is stable
    * (the straddle + hot-cluster specs in DedupSpec are
    * deterministic). */
  def bandedCosinePairs(emb: DataFrame, threshold: Double,
      bands: Int = 32, rowsPerBand: Int = 8,
      cap: Int = BandBucketCap): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"),
      VectorFunctions.norm(col("embedding")).as("nrm"))
    val withBands = e.select(col("vec_id"),
      posexplode(array((0 until bands).map(j =>
        graft.functions.SignMatrix.bitsCol(col("embedding"),
          graft.functions.SignMatrix.CosineBandBase + j * rowsPerBand,
          rowsPerBand)): _*))
        .as(Seq("band", "bsig")))
    val capped = saltSplitGroups(withBands, cap, "vec_id", "salt",
      "band", "bsig")
    val cand = capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.salt") === col("b.salt") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("nrm").as("a_nrm")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("nrm").as("b_nrm")), "b_id")
      .withColumn("sim", VectorFunctions.dot(col("a_emb"), col("b_emb")) /
        (col("a_nrm") * col("b_nrm")))
      .filter(col("sim") >= threshold)
      .select("a_id", "b_id", "sim")
  }

  /** The embedding near-dup ROUTER (r09 — the crossover
    * [[autoCellBits]]'s doc used to state in prose is now behavior):
    * below `100 · 2^maxBits` vectors (cells still hold ~100 members at
    * the bound-matrix ceiling) the EXACT triangle-inequality cell route
    * runs; above it, the banded sign-LSH route — past that point a
    * bigger bound matrix costs O(4^bits) driver work while banding
    * stays output-sensitive with zero driver state. The corpus count is
    * a parquet metadata-only job. Both routes emit (a_id, b_id, sim);
    * `DedupSpec` proves pair identity across a forced route straddle on
    * a planted near-dup corpus. */
  def cosinePairs(emb: DataFrame, threshold: Double,
      maxBits: Int = 12): DataFrame = {
    val n = emb.count()
    if (n <= (100L << maxBits))
      cellCosinePairs(emb, threshold, autoCellBits(n, maxBits))
    else bandedCosinePairs(emb, threshold)
  }

  /** All-pairs brute force — spec-only correctness baseline for
    * [[cellCosinePairs]] (deliberately NOT the registered query: the
    * `<`-only join is a cartesian). */
  def bruteForceCosinePairs(emb: DataFrame, threshold: Double): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"),
      VectorFunctions.norm(col("embedding")).as("nrm"))
    val a = e.as("a"); val b = e.as("b")
    a.join(b, col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim",
        VectorFunctions.dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")))
      .filter(col("sim") >= threshold)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"), col("sim"))
  }

  /** Connected components over a near-dup pair list by iterative
    * min-label propagation: each node adopts the smallest label among
    * itself and its neighbors until fixpoint. Iterations are driver-side
    * loop steps over DataFrames (the standard large-scale CC shape —
    * hash-partitioned joins, O(diameter) rounds, each a single shuffle);
    * near-dup clusters have tiny diameters so this converges in a few
    * rounds even on huge corpora. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // iterative-DataFrame hygiene: persist the loop-invariant edge set
    // (otherwise every iteration's action re-derives the pair pipeline)
    // and localCheckpoint each label generation to truncate lineage —
    // without it, iteration i re-executes all i-1 predecessors.
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // fused round 0: seed every node with min(self, neighbors) — one
    // aggregation instead of an identity init plus a full propagate
    // round (diameter-≤2 clusters, the common near-dup case, then
    // converge after a single verifying iteration)
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("id"), least(col("id"), col("nmin")).as("rep_id"))
      .localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      // smallest label among self + neighbors
      val viaNeighbors = edges
        .join(labels, edges("dst") === labels("id"))
        .select(col("src").as("id"), col("rep_id"))
      val merged = labels.select(col("id"), col("rep_id"))
        .union(viaNeighbors)
        .groupBy("id").agg(min("rep_id").as("rep_id"))
      // pointer compression (rep := rep's rep) halves the rounds a long
      // chain needs — O(log diameter) instead of O(diameter). Renamed
      // projection avoids self-join attribute ambiguity.
      val reps = merged.select(col("id").as("rep_key"), col("rep_id").as("rep_rep"))
      // lazy checkpoint: the convergence count below is the action that
      // materializes it — one job per round instead of two
      val next = merged
        .join(reps, col("rep_id") === col("rep_key"), "left")
        .select(col("id"),
          coalesce(col("rep_rep"), col("rep_id")).as("rep_id"))
        .localCheckpoint(eager = false)
      changed = next.as("n").join(labels.as("o"), Seq("id"))
        .filter(col("n.rep_id") =!= col("o.rep_id")).count()
      labels.unpersist() // drop the superseded generation's blocks
      labels = next
      i += 1
    }
    edges.unpersist()
    labels
  }

  /** Session-scoped materialized near-dup intermediates. Four registry
    * queries (components, keep_canonical, split_assign, source_overlap)
    * consume the same exact-Jaccard pair graph and its connected-component
    * labels; without sharing, each re-runs the full pair pipeline + CC
    * loop (~14 s of the r04 bench across the four). The first consumer
    * materializes the relation once per (session, dir) as a parquet
    * snapshot and the rest scan the snapshot. Parquet, not
    * localCheckpoint: checkpoint blocks are non-recomputable once
    * lineage is truncated, so any cache eviction between queries (e.g.
    * Bench's per-query settle) would strand later consumers, and a
    * written table is the honest 100 TB pattern anyway — a
    * `dedup_labels` lake table materialized once per corpus snapshot
    * that every curation query joins against, instead of re-deriving
    * the graph per query. Keyed by session so Verify/Bench/tests never
    * share state across sessions or scale factors. */
  private val sharedRel =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  private lazy val sharedDir =
    java.nio.file.Files.createTempDirectory("graft-shared-")

  private[operators] def sharedMat(s: SparkSession, d: String, key: String)(
      build: => DataFrame): DataFrame =
    sharedRel.getOrElseUpdate((s, d, key), {
      val path = sharedDir.resolve(
        s"${s.hashCode.toHexString}_${d.replaceAll("[^A-Za-z0-9.]", "_")}_$key")
        .toString
      val built = build
      built.write.mode("overwrite").parquet(path)
      // read back under the schema just written: inferring it would
      // launch one more job to read the footer
      s.read.schema(built.schema).parquet(path)
    })

  /** Materialized capped+ranked shingle postings — the
    * `shingle_postings` lake table every shingle-domain dedup query
    * scans. Six registry queries (ngram_jaccard, edit_distance,
    * incremental, containment ×2, minhash_estimate) consume the same
    * two-window annotation (global DF + per-doc rarity rank); without
    * sharing, each re-runs both corpus-wide window passes (~8 s at sf1,
    * ~17 s at sf2). At 100 TB this is the postings table a curation
    * pipeline materializes once per corpus snapshot, not per query. */
  private[graft] def sharedRanked(s: SparkSession, d: String): DataFrame =
    sharedMat(s, d, "ranked")(rankedShingleRows(documents(s, d), ShingleDfCap))

  /** materialized exact-Jaccard pair graph, shared per (session, dir) */
  private[graft] def sharedPairs(s: SparkSession, d: String): DataFrame =
    sharedMat(s, d, "pairs")(jaccardPairsFrom(sharedRanked(s, d)))

  /** materialized (id, rep_id) component labels, shared per (session, dir) */
  private[graft] def sharedLabels(s: SparkSession, d: String): DataFrame =
    sharedMat(s, d, "labels")(connectedComponents(sharedPairs(s, d)))

  /** The DF cap with the cap BINDING: same computation as
    * [[ngramJaccard]] but at a tiny cap that provably drops shingles at
    * every test SF (DedupSpec asserts the output differs from the
    * uncapped pair set), with the cap mirrored in the oracle SQL — the
    * cross-engine proof that Spark and DuckDB agree on the capped
    * semantics itself, not merely on corpora where the cap is inert. */
  val TinyDfCap = 5
  val dfCapBinding: Q = Q(
    "dedup_dfcap_binding", duckJaccardPairsCap(TinyDfCap)) { (s, d) =>
    jaccardPairs(documents(s, d), TinyDfCap).orderBy("a_id", "b_id")
  }

  /** Dedup clusters: representative (min doc_id) per near-dup component
    * of the exact-Jaccard pair graph. */
  val components: Q = Q(
    "dedup_components",
    s"""WITH RECURSIVE jp AS ($duckJaccardPairs),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM jp
       |  UNION SELECT b_id, a_id FROM jp),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
       |SELECT id, rep_id FROM (
       |  SELECT src AS id, LEAST(src, MIN(dst)) AS rep_id
       |  FROM reach GROUP BY src)
       |ORDER BY id""".stripMargin) { (s, d) =>
    sharedLabels(s, d)
      .select(col("id"), col("rep_id"))
      .orderBy("id")
  }

  /** Shared oracle for the edit-distance family: the verified pair
    * relation (a_id, b_id, ed) — AS MATERIALIZED because
    * [[editTopk]]'s symmetrization reads it twice and DuckDB inlines
    * plain CTEs per reference. */
  private val duckEditPairs: String =
    s"""WITH sh AS (SELECT doc_id, $duckShingles AS s FROM documents),
       |exr AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
       |ex AS (SELECT doc_id, shingle FROM exr
       |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= $ShingleDfCap),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT c.a_id, c.b_id FROM shared c
       |  JOIN sz sa ON sa.doc_id = c.a_id
       |  JOIN sz sb ON sb.doc_id = c.b_id
       |  WHERE c.shared >= 3 AND 5 * c.shared >= GREATEST(sa.n, sb.n)),
       |edp AS MATERIALIZED (
       |  SELECT c.a_id, c.b_id,
       |    CAST(LEVENSHTEIN(da.text, db.text) AS BIGINT) AS ed
       |  FROM cand c
       |  JOIN documents da ON da.doc_id = c.a_id
       |  JOIN documents db ON db.doc_id = c.b_id
       |  WHERE 10 * LEVENSHTEIN(da.text, db.text)
       |        <= 3 * GREATEST(LENGTH(da.text), LENGTH(db.text)))""".stripMargin

  /** Fuzzy dedup by edit distance — candidate-then-verify with
    * Levenshtein as the verifier: candidates are pairs whose capped
    * shingle sets share ≥3 shingles AND ≥1/5 of the larger set
    * (5·shared ≥ max(n_a, n_b), pure integers so both engines agree
    * exactly); only those pairs pay the O(len²) edit-distance
    * computation. The relative floor enables exact prefix filtering —
    * candidate generation joins each doc's n − max(3, ⌈n/5⌉) + 3
    * rarest shingles only. The keep rule is pure integer arithmetic
    * (10·ed ≤ 3·max(len) — i.e. relative distance ≤ 0.3). Both engines
    * implement classic unit-cost Levenshtein.
    *
    * SCALE NOTE (r09, recorded in SURVEY.md §6.2): this relation
    * is intrinsically SUPER-LINEAR on replicated corpora — the output
    * itself grows 4.14× for 2× data at sf1→sf2 (238k → 987k pairs),
    * because the 20%-overlap floor plus the 0.3 relative-ed keep rule
    * genuinely admit the cross-replica mutation family (min surviving
    * overlap measured at 21.4% of max(n) at sf1/sf2 — CORRECTING the
    * r08 note, which claimed ≥80% from the small SFs where the
    * cross-replica family doesn't exist; scale-latent, like the
    * retired simhash threshold). Both r08-verdict-hypothesized scale
    * tiers were built and REFUTED as same-relation routes: a 16×2
    * MinHash-band shortlist misses 70% of the relation at sf2
    * (low-Jaccard pairs are invisible to banding), and a raised 3/5
    * floor drops 99% of it. What remains and shipped: the candidate
    * self-join runs on 8-byte xxhash64 keys instead of ~30-byte
    * shingle strings (exact — see [[editCandidatesFrom]]), and the
    * verified relation is materialized once per corpus as the
    * `edit_pairs` lake table ([[sharedEditPairs]]) feeding BOTH
    * registry consumers, exactly as `dedup_pairs`/`containment_pairs`
    * already do — the build cost is disclosed per run in Bench's
    * `shared_build_sec`. */
  private[graft] def sharedEditPairs(s: SparkSession, d: String): DataFrame =
    sharedMat(s, d, "edit_pairs")(buildEditPairs(s, d))

  private def buildEditPairs(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // same filtered vocabulary as the Jaccard index (the Levenshtein
    // verify reads full texts, so only candidate generation sees it);
    // oMin(n) = max(3, ⌈n/5⌉) — ⌈n/5⌉ via exact ⌊(n+4)/5⌋ (IEEE division
    // of exact longs is correctly rounded; /5 results never land on an
    // integer boundary unless exact, so floor is safe)
    val ranked = sharedRanked(s, d)
    // exact shared-shingle counts on FULL sets, only for candidates,
    // gated by the overlap floor the candidates were generated under
    val cand = candidateOverlaps(ranked, editCandidatesFrom(ranked, docs))
      .filter(col("inter") >= 3 &&
        col("inter") * 5 >= greatest(col("na"), col("nb")))
      .select("a_id", "b_id")
    cand
      .join(docs.as("da"), col("a_id") === col("da.doc_id"))
      .join(docs.as("db"), col("b_id") === col("db.doc_id"))
      // length prefilter: levenshtein ≥ |len a − len b|, so any pair
      // whose length gap alone breaks the 0.3 relative threshold can
      // skip the O(len²) distance — provably no output change
      .filter(lit(10) * abs(length(col("da.text")) - length(col("db.text"))) <=
        lit(3) * greatest(length(col("da.text")), length(col("db.text"))))
      // bit-parallel Myers distance — the same unit-cost metric as the
      // builtin (property-tested equal), at O(⌈m/64⌉·n) instead of
      // O(m·n). Spark's thresholded `levenshtein(l, r, k)` was
      // measured SLOWER at sf1 (73 s vs 36 s): its band is per-cell
      // branches, not loop bounds, and near-threshold candidates
      // defeat its early exit. Materialized
      // once: referencing the expression in both filter and projection
      // would run it twice
      .withColumn("__ed", graft.functions.MyersLevenshtein(
        col("da.text"), col("db.text")))
      .filter(lit(10) * col("__ed") <= lit(3) *
        greatest(length(col("da.text")), length(col("db.text"))))
      .select(col("a_id"), col("b_id"), col("__ed").cast("bigint").as("ed"))
  }

  val editDistance: Q = Q(
    "dedup_edit_distance",
    s"""$duckEditPairs
       |SELECT a_id, b_id, ed FROM edp
       |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    sharedEditPairs(s, d).orderBy("a_id", "b_id")
  }

  /** Per-document K nearest edit-neighbors (K = 8) — the LINEAR-output
    * curation deliverable over the quadratic [[editDistance]] pair
    * relation: symmetrize the verified pairs, rank each document's
    * neighbors by (ed, neighbor id), keep the top 8. This is the view a
    * pipeline actually consumes per document ("what would this doc
    * merge with, closest first"), and its output is ≤ 8·|docs| rows at
    * any scale — the pair dump's 4.14×-per-2× growth stays inside the
    * once-per-corpus `edit_pairs` build.
    *
    * 100 TB shape: a parquet scan of the shared relation + one
    * rank-limited window (WindowGroupLimit prunes per-partition before
    * any sort spills). */
  val editTopk: Q = Q(
    "dedup_edit_topk",
    s"""$duckEditPairs,
       |sym AS (
       |  SELECT a_id AS doc_id, b_id AS nbr_id, ed FROM edp
       |  UNION ALL
       |  SELECT b_id, a_id, ed FROM edp)
       |SELECT doc_id, nbr_id, ed, rnk FROM (
       |  SELECT doc_id, nbr_id, ed,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ed, nbr_id)
       |      AS rnk
       |  FROM sym)
       |WHERE rnk <= 8
       |ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
    val edp = sharedEditPairs(s, d)
    val sym = edp.select(col("a_id").as("doc_id"), col("b_id").as("nbr_id"),
        col("ed"))
      .unionByName(edp.select(col("b_id").as("doc_id"),
        col("a_id").as("nbr_id"), col("ed")))
    sym
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("ed"), col("nbr_id")))
          .cast("bigint"))
      .filter(col("rnk") <= 8)
      .select("doc_id", "nbr_id", "ed", "rnk")
      .orderBy("doc_id", "rnk")
  }

  /** The dedup DELIVERABLE: a per-document keep/drop decision. Every
    * document gets a cluster id (its near-dup component's representative,
    * or itself when it has no near-dups); within each cluster the longest
    * document wins (ties → smallest doc_id) — the usual "keep the most
    * complete copy" curation rule. Downstream training jobs filter on
    * `keep`. Costs one extra window over the per-document cluster
    * assignment on top of the component computation. */
  val keepCanonical: Q = Q(
    "dedup_keep_canonical",
    s"""WITH RECURSIVE jp AS ($duckJaccardPairs),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM jp
       |  UNION SELECT b_id, a_id FROM jp),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |labels AS (
       |  SELECT src AS id, LEAST(src, MIN(dst)) AS rep_id
       |  FROM reach GROUP BY src)
       |SELECT d.doc_id, COALESCE(l.rep_id, d.doc_id) AS cluster,
       |  ROW_NUMBER() OVER (PARTITION BY COALESCE(l.rep_id, d.doc_id)
       |    ORDER BY d.n_chars DESC, d.doc_id) = 1 AS keep
       |FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docs = documents(s, d)
    val labels = sharedLabels(s, d)
    val clustered = docs
      .join(labels, docs("doc_id") === labels("id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep_id"), col("doc_id")).as("cluster"),
        col("n_chars"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("n_chars").desc, col("doc_id"))
    clustered
      .withColumn("keep", row_number().over(w) === 1)
      .select("doc_id", "cluster", "keep")
      .orderBy("doc_id")
  }

  /** Cross-source duplication matrix: near-dup pair counts by unordered
    * source pair — the curation view that answers "which sources copy
    * each other" (mirror detection, crawl-overlap budgeting). Rides the
    * skew-capped pair machinery; the extra cost is two corpus-keyed
    * joins to attach sources and a tiny group-by (≤ |sources|² rows),
    * so the 100 TB profile is identical to [[ngramJaccard]]. */
  val sourceOverlap: Q = Q(
    "dedup_source_overlap",
    s"""WITH jp AS ($duckJaccardPairs)
       |SELECT LEAST(da.source, db.source) AS source_a,
       |  GREATEST(da.source, db.source) AS source_b,
       |  COUNT(*) AS n_pairs
       |FROM jp
       |JOIN documents da ON da.doc_id = jp.a_id
       |JOIN documents db ON db.doc_id = jp.b_id
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val docs = documents(s, d)
    val da = docs.select(col("doc_id").as("a_id"), col("source").as("sa"))
    val db = docs.select(col("doc_id").as("b_id"), col("source").as("sb"))
    sharedPairs(s, d)
      .join(da, "a_id").join(db, "b_id")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** Leakage-safe train/val/test split: documents are bucketed by a
    * PORTABLE hash (md5 prefix, the [[simhashDf]] trick) of their
    * near-dup CLUSTER representative, not of the document itself — so a
    * pair of near-duplicates can never straddle train and test, the
    * contamination mode a doc-level random split cannot prevent. 90/5/5
    * by bucket. Deterministic end to end: re-running on a grown corpus
    * keeps every old cluster's assignment stable (hash, not RNG state),
    * which is what makes incremental corpus refreshes reproducible. */
  val splitAssign: Q = Q(
    "dedup_split_assign",
    s"""WITH RECURSIVE jp AS ($duckJaccardPairs),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM jp
       |  UNION SELECT b_id, a_id FROM jp),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |labels AS (
       |  SELECT src AS id, LEAST(src, MIN(dst)) AS rep_id
       |  FROM reach GROUP BY src),
       |assigned AS (
       |  SELECT d.doc_id, COALESCE(l.rep_id, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
       |b AS (
       |  SELECT doc_id, cluster,
       |    CAST('0x' || SUBSTRING(MD5(CAST(cluster AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bucket
       |  FROM assigned)
       |SELECT doc_id, cluster, bucket,
       |  CASE WHEN bucket < 90 THEN 'train'
       |       WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
       |FROM b
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = documents(s, d)
    val labels = sharedLabels(s, d)
    val bucket = conv(substring(md5(col("cluster").cast("string")), 1, 15),
      16, 10).cast("bigint") % 100
    docs.join(labels, docs("doc_id") === labels("id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep_id"), col("doc_id")).as("cluster"))
      .withColumn("bucket", bucket)
      .withColumn("split", when(col("bucket") < 90, lit("train"))
        .when(col("bucket") < 95, lit("val")).otherwise(lit("test")))
      .orderBy("doc_id")
  }

  /** Incremental near-dup: pairs involving at least one NEW document
    * (here: doc_id ≡ 0 mod 10 stands in for "the arriving batch"),
    * computed as a prefix(all)⋈prefix(batch) candidate join — old⋈old is
    * NEVER re-paired, and the prefix filter bounds the join to each
    * side's rarest shingles. This is the shape that keeps dedup
    * affordable on a growing lake: ingest cost scales with batch prefix
    * postings × their (rare-shingle) DFs, not corpus², while sizes
    * (and therefore sim values) still come from the full filtered
    * vocabulary so the pair scores equal the batch-free computation
    * exactly. The oracle is the full pair set filtered to new-touching
    * pairs — independently derived, so a missed old⋈new pairing fails
    * the hash. */
  val incremental: Q = Q(
    "dedup_incremental",
    s"""WITH jp AS ($duckJaccardPairs)
       |SELECT a_id, b_id, sim FROM jp
       |WHERE a_id % 10 = 0 OR b_id % 10 = 0
       |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    val ranked = sharedRanked(s, d)
    val prefix = prefixRows(ranked, jaccardOMin)
    val isNew = col("doc_id") % 10 === 0
    // candidate generation joins prefix(all) ⋈ prefix(new): every
    // qualifying new-touching pair shares its first-common-order shingle
    // in both prefixes, and old⋈old never pairs because one side is
    // always new. Canonicalize (new⋈new pairs arrive in both roles;
    // distinct collapses them).
    val cand = prefix.as("a")
      .join(prefix.filter(isNew).as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          positionalFilter(jaccardAlpha))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"))
      .distinct()
    // sims verified on FULL sets from the corpus-wide filtered
    // vocabulary, so pair scores equal the batch-free computation
    jaccardSims(candidateOverlaps(ranked.select("doc_id", "shingle"), cand))
      .orderBy("a_id", "b_id")
  }

  val all: Seq[Q] = Seq(exact, ngramJaccard, minhashLsh, simhashPairs, editDistance,
    editTopk, embeddingCosine, components, keepCanonical, sourceOverlap,
    splitAssign, incremental, dfCapBinding)
}
