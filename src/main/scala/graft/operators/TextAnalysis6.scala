package graft.operators

import org.apache.spark.sql.functions._

import graft.Q
import graft.Tables._
import graft.operators.TextAnalysis3.FixScale

/** Sixth text-curation batch: corpus-health reports a pretraining-data
  * pipeline runs continuously over its sources —
  *
  *   - [[klDrift]]: per-source unigram KL divergence against the whole
  *     corpus over the head vocabulary — the standing "did source X
  *     drift away from the mixture" monitor.
  *   - [[qualityLogit]]: a fixed-weight logistic-regression quality
  *     filter (fasttext-style linear model over the heuristic feature
  *     battery) — the model-based complement of `text_quality`'s
  *     hand-threshold rule. Weights are model artifacts (constants
  *     here); training is out of engine scope.
  *   - [[ngramNovelty]]: per-document novelty attribution — the
  *     fraction of a doc's 8-gram shingles whose corpus-wide FIRST
  *     occurrence is that doc, i.e. how much genuinely new text each
  *     document contributes in doc_id order.
  *
  * All three reuse the established parity machinery:
  * [[graft.functions.PortableLn]] for bit-identical ln, fixed-point
  * 2^40 BIGINT sums for cross-row accumulation, and exact-integer
  * count arithmetic everywhere else.
  */
object TextAnalysis6 {

  /** head-vocabulary size for the drift model */
  private val HeadV = 256

  /** Per-source KL(P_source ‖ P_corpus) over the top-[[HeadV]] corpus
    * words (count desc, word asc — deterministic head selection), with
    * add-one smoothing so zero counts are defined:
    * p_s(w) = (c_s(w)+1)/(n_s+V), q(w) = (c(w)+1)/(n+V),
    * KL = Σ_w p_s(w)·ln(p_s(w)/q(w)).
    *
    * 100 TB shape: ONE map-combined hash agg over the token stream
    * builds (source, word) counts; everything after is bounded by
    * sources × [[HeadV]] — the head is a TakeOrdered 256-row relation
    * that broadcasts into every join, the zero-filled grid is a
    * broadcast cross join, and the interpreted [[graft.functions.PortableLn]] ladder runs
    * on grid-bounded rows only, never the corpus stream. Per-term
    * contributions round to fixed-point 2^40 BIGINTs before the
    * per-source sum, so accumulation order cannot shift a bit.
    */
  /** KL drift from a (source, w, c) count relation — shared by the
    * registered one-shot query and the incremental streaming monitor
    * ([[graft.streaming.KlState]]), so the
    * monitor's output after batch N is definitionally the one-shot
    * answer over the union of batches 1..N. */
  private[graft] def klFromCounts(
      wc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val corpus = wc.groupBy("w").agg(sum("c").cast("bigint").as("cw"))
    val head = corpus.orderBy(col("cw").desc, col("w")).limit(HeadV)
    val srctot = wc.join(broadcast(head.select("w")), "w")
      .groupBy("source").agg(sum("c").cast("bigint").as("ns"))
    val ntot = head.agg(sum("cw").cast("bigint").as("n"))
    val grid = srctot.crossJoin(broadcast(head))
    val cell = grid.join(
        wc.select(col("source"), col("w"), col("c")), Seq("source", "w"), "left")
      .na.fill(0L, Seq("c"))
    val p = (col("c") + 1).cast("double") / (col("ns") + HeadV).cast("double")
    val q = (col("cw") + 1).cast("double") / (col("n") + HeadV).cast("double")
    val pq = cell.crossJoin(broadcast(ntot))
      .select(col("source"), col("ns"), p.as("p"), (p / q).as("x"))
    val lnr = graft.functions.PortableLn.withLn(pq, "x", "lnx")
    lnr
      .select(col("source"), col("ns"),
        floor(col("p") * col("lnx") * lit(FixScale) + lit(0.5))
          .cast("long").as("t"))
      .groupBy("source", "ns").agg(sum("t").as("st"))
      .select(col("source"), col("ns").as("n_tokens"),
        (col("st").cast("double") / lit(FixScale)).as("kl"))
      .orderBy("source")
  }

  val klDrift: Q = Q(
    "text_kl_drift",
    s"""WITH tok AS (
       |  SELECT source, UNNEST(STRING_SPLIT(TRIM(text), ' ')) AS w FROM documents),
       |wc AS (SELECT source, w, COUNT(*)::BIGINT AS c FROM tok GROUP BY source, w),
       |corpus AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM wc GROUP BY w),
       |head AS (SELECT w, cw FROM corpus ORDER BY cw DESC, w LIMIT $HeadV),
       |srctot AS (
       |  SELECT source, CAST(SUM(c) AS BIGINT) AS ns
       |  FROM wc JOIN head USING (w) GROUP BY source),
       |ntot AS (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM head),
       |grid AS (SELECT s.source, s.ns, h.w, h.cw FROM srctot s CROSS JOIN head h),
       |cell AS (
       |  SELECT g.source, g.ns, g.w, g.cw, COALESCE(wc.c, 0)::BIGINT AS c
       |  FROM grid g LEFT JOIN wc ON wc.source = g.source AND wc.w = g.w),
       |pq AS (
       |  SELECT source, ns,
       |    (CAST(c + 1 AS DOUBLE) / CAST(ns + $HeadV AS DOUBLE)) AS p,
       |    ((CAST(c + 1 AS DOUBLE) / CAST(ns + $HeadV AS DOUBLE))
       |      / (CAST(cw + 1 AS DOUBLE) / CAST(n + $HeadV AS DOUBLE))) AS x
       |  FROM cell CROSS JOIN ntot),
       |lnr AS (${graft.functions.PortableLn.sqlStages("pq", Seq("source", "ns", "p"), "x", "lnx")}),
       |terms AS (
       |  SELECT source, ns,
       |    CAST(FLOOR(p * lnx * $FixScale::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS t
       |  FROM lnr)
       |SELECT source, ns AS n_tokens,
       |  CAST(SUM(t) AS DOUBLE) / $FixScale::DOUBLE AS kl
       |FROM terms GROUP BY source, ns
       |ORDER BY source""".stripMargin) { (s, d) =>
    val tok = documents(s, d).select(col("source"),
      explode(TextAnalysis.words(col("text"))).as("w"))
    // the ONE corpus-sized agg; everything downstream is sources × HeadV
    klFromCounts(tok.groupBy("source", "w").agg(count(lit(1)).as("c")))
  }

  /** Fixed logistic-regression weights: (bias, n_words, ttr,
    * avg_word_len, stop_ratio). Stand-ins for trained model weights —
    * the engine's job is the distributed feature extraction + scoring
    * pass, not training. */
  private val W0 = -1.5
  private val Wn = 0.012
  private val Wt = 2.0
  private val Wa = -0.15
  private val Ws = 0.8

  /** Model-based quality filter: a linear logit over the heuristic
    * feature battery (word count, type-token ratio, mean word length,
    * stopword ratio), keep = logit > 0 — the fasttext-classifier
    * pipeline stage as one codegen'd projection.
    *
    * 100 TB shape: map-only — every feature is a per-row array fold
    * over the split token array, no shuffle anywhere except the
    * presentation sort (which the oracle comparison needs; at scale
    * the consumer drops it). Determinism: features are exact-integer
    * ratios evaluated as single double divisions; the logit is one
    * fixed-association chain of double mul/add mirrored token-for-token
    * in the oracle SQL (constants spelled ::DOUBLE so DuckDB does not
    * parse them as DECIMAL).
    */
  val qualityLogit: Q = Q(
    "text_quality_logreg",
    s"""WITH f AS (
       |  SELECT doc_id,
       |    LEN(STRING_SPLIT(TRIM(text), ' '))::BIGINT AS nw,
       |    CAST(LEN(LIST_DISTINCT(STRING_SPLIT(TRIM(text), ' '))) AS DOUBLE)
       |      / LEN(STRING_SPLIT(TRIM(text), ' ')) AS ttr,
       |    CAST(LIST_REDUCE(LIST_PREPEND(0::BIGINT,
       |        LIST_TRANSFORM(STRING_SPLIT(TRIM(text), ' '), w -> LENGTH(w)::BIGINT)),
       |      (a, b) -> a + b) AS DOUBLE)
       |      / LEN(STRING_SPLIT(TRIM(text), ' ')) AS awl,
       |    CAST(LEN(LIST_FILTER(STRING_SPLIT(TRIM(text), ' '),
       |        w -> w IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
       |      / LEN(STRING_SPLIT(TRIM(text), ' ')) AS stop
       |  FROM documents)
       |SELECT doc_id,
       |  $W0::DOUBLE + $Wn::DOUBLE * CAST(nw AS DOUBLE) + $Wt::DOUBLE * ttr
       |    + $Wa::DOUBLE * awl + $Ws::DOUBLE * stop AS score,
       |  ($W0::DOUBLE + $Wn::DOUBLE * CAST(nw AS DOUBLE) + $Wt::DOUBLE * ttr
       |    + $Wa::DOUBLE * awl + $Ws::DOUBLE * stop) > 0.0::DOUBLE AS keep
       |FROM f
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val ws = TextAnalysis.words(col("text"))
    val nw = size(ws).cast("bigint")
    val ttr = size(array_distinct(ws)).cast("double") / size(ws)
    val awl = aggregate(transform(ws, w => length(w).cast("bigint")), lit(0L),
      (a, b) => a + b).cast("double") / size(ws)
    val stop = TextAnalysis.profileHits(ws, Seq("the", "a", "of", "and"))
      .cast("double") / size(ws)
    val logit = lit(W0) + lit(Wn) * nw.cast("double") + lit(Wt) * ttr +
      lit(Wa) * awl + lit(Ws) * stop
    documents(s, d)
      .select(col("doc_id"), logit.as("score"), (logit > 0.0).as("keep"))
      .orderBy("doc_id")
  }

  /** shingle width for novelty attribution */
  private val NovK = 8

  /** Per-document novelty: of the doc's positional 8-gram shingles, how
    * many have their corpus-wide first occurrence (min doc_id) in THIS
    * doc — the "new text contributed" curve a crawl-snapshot pipeline
    * tracks across dumps. Documents shorter than 8 words have no
    * shingles and are absent (same convention as the near-dup family).
    *
    * 100 TB shape (r08 restructure — the oracle SQL states the naive
    * occurrence-stream join, the Spark plan does NOT run it): every
    * shuffle is a MAP-COMBINABLE hash agg, and no corpus-sized relation
    * is ever joined. The exploded shingle stream collapses once into
    * distinct (doc, gram, cnt) rows (map-side combine absorbs within-doc
    * duplicates); `min_by(cnt, doc_id)` next to `min(doc_id)` then turns
    * the per-gram first-occurrence question into ONE combinable agg
    * emitting a single (gram, first_doc, cnt_first) row — so the novel
    * count per doc is just `sum(cnt_first) GROUP BY first_doc`, and the
    * attribution JOIN of the full occurrence stream against the
    * first-occurrence table disappears. The two remaining relations are
    * both |docs|-sized and join on doc_id. Hot boilerplate grams (the
    * skew hazard of a gram-partitioned join or window at crawl scale)
    * collapse map-side like any other agg key. The collapsed (doc, gram)
    * relation feeds two consumers, so it is materialized once
    * (localCheckpoint — the `cellCosinePairs` precedent) instead of
    * re-exploding the corpus per consumer. Measured: 7.2 → 2.2 s at
    * sf2, sf2/sf1 ratio 1.85× → 1.39×. All-integer arithmetic; the only double
    * is the final per-row ratio.
    */
  val ngramNovelty: Q = Q(
    "text_ngram_novelty",
    s"""WITH ws AS (SELECT doc_id, STRING_SPLIT(TRIM(text), ' ') AS w FROM documents),
       |sh AS (SELECT doc_id, UNNEST(${TextAnalysis3.duckRawShingles(NovK)}) AS g FROM ws),
       |first AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY g),
       |hits AS (
       |  SELECT sh.doc_id,
       |    COUNT(*)::BIGINT AS n_grams,
       |    CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       |  FROM sh JOIN first f USING (g) GROUP BY sh.doc_id)
       |SELECT doc_id, n_grams, n_novel,
       |  CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE) AS novelty
       |FROM hits
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val dg = documents(s, d)
      .select(col("doc_id"),
        explode(Dedup.shinglesFromWords(
          TextAnalysis.words(col("text")), NovK)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val novel = dg.groupBy("g")
      .agg(min("doc_id").as("first_doc"),
        min_by(col("cnt"), col("doc_id")).as("cnt_first"))
      .groupBy("first_doc").agg(sum("cnt_first").as("n_novel"))
    dg.groupBy("doc_id").agg(sum("cnt").as("n_grams"))
      .join(novel, col("doc_id") === col("first_doc"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("novelty"))
      .orderBy("doc_id")
  }

  /** Zipf-law fit over the head vocabulary: OLS of ln(count) on
    * ln(rank) for the top-[[HeadV]] corpus words — the standing
    * "does this corpus look like natural language" diagnostic (natural
    * text slopes ≈ −1; templated/spammy corpora flatten or steepen).
    * Output is one row: head size, fitted slope and intercept.
    *
    * 100 TB shape: ONE map-combined hash agg over the token stream,
    * then everything is bounded by [[HeadV]] — the rank window runs
    * over the 256-row head (whitelisted bounded global window, the
    * `text_frequent_tokens` precedent), the [[graft.functions.PortableLn]] ladder runs 2·256
    * rows, and the OLS moments are fixed-point 2^40 BIGINT sums of
    * per-row quantized terms, so accumulation order cannot shift a
    * bit; the final slope/intercept are a fixed chain of double ops
    * over those exact sums, mirrored token-for-token in the oracle.
    */
  val zipfFit: Q = Q(
    "text_zipf_fit",
    s"""WITH tok AS (
       |  SELECT UNNEST(STRING_SPLIT(TRIM(text), ' ')) AS w FROM documents),
       |wc AS (SELECT w, COUNT(*)::BIGINT AS c FROM tok GROUP BY w),
       |head AS (SELECT w, c FROM wc ORDER BY c DESC, w LIMIT $HeadV),
       |ranked AS (
       |  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r FROM head),
       |lnr AS (${graft.functions.PortableLn.sqlStages(
             "(SELECT c, CAST(r AS DOUBLE) AS x FROM ranked)",
             Seq("c"), "x", "lnrank")}),
       |lnc AS (${graft.functions.PortableLn.sqlStages(
             "(SELECT lnrank, CAST(c AS DOUBLE) AS x FROM lnr)",
             Seq("lnrank"), "x", "lncount")}),
       |q AS (
       |  SELECT
       |    CAST(FLOOR(lnrank * $FixScale::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS qx,
       |    CAST(FLOOR(lncount * $FixScale::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS qy,
       |    CAST(FLOOR(lnrank * lncount * $FixScale::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS qxy,
       |    CAST(FLOOR(lnrank * lnrank * $FixScale::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS qxx
       |  FROM lnc),
       |s AS (
       |  SELECT COUNT(*)::BIGINT AS n,
       |    CAST(SUM(qx) AS BIGINT) AS sx, CAST(SUM(qy) AS BIGINT) AS sy,
       |    CAST(SUM(qxy) AS BIGINT) AS sxy, CAST(SUM(qxx) AS BIGINT) AS sxx
       |  FROM q)
       |SELECT n AS n_head,
       |  (CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) / $FixScale::DOUBLE)
       |    - (CAST(sx AS DOUBLE) / $FixScale::DOUBLE) * (CAST(sy AS DOUBLE) / $FixScale::DOUBLE))
       |  / (CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE) / $FixScale::DOUBLE)
       |    - (CAST(sx AS DOUBLE) / $FixScale::DOUBLE) * (CAST(sx AS DOUBLE) / $FixScale::DOUBLE)) AS slope,
       |  (CAST(sy AS DOUBLE) / $FixScale::DOUBLE) / CAST(n AS DOUBLE)
       |  - ((CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) / $FixScale::DOUBLE)
       |    - (CAST(sx AS DOUBLE) / $FixScale::DOUBLE) * (CAST(sy AS DOUBLE) / $FixScale::DOUBLE))
       |  / (CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE) / $FixScale::DOUBLE)
       |    - (CAST(sx AS DOUBLE) / $FixScale::DOUBLE) * (CAST(sx AS DOUBLE) / $FixScale::DOUBLE)))
       |    * ((CAST(sx AS DOUBLE) / $FixScale::DOUBLE) / CAST(n AS DOUBLE)) AS intercept
       |FROM s""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val tok = documents(s, d)
      .select(explode(TextAnalysis.words(col("text"))).as("w"))
    val wc = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val head = wc.orderBy(col("c").desc, col("w")).limit(HeadV)
    val ranked = head.withColumn("r",
      row_number().over(Window.orderBy(col("c").desc, col("w"))))
      .select(col("c"), col("r").cast("double").as("x"))
    val lnr = graft.functions.PortableLn.withLn(ranked, "x", "lnrank")
      .select(col("lnrank"), col("c").cast("double").as("x"))
    val lnc = graft.functions.PortableLn.withLn(lnr, "x", "lncount")
    val q = lnc.select(
      floor(col("lnrank") * lit(FixScale) + lit(0.5)).cast("long").as("qx"),
      floor(col("lncount") * lit(FixScale) + lit(0.5)).cast("long").as("qy"),
      floor(col("lnrank") * col("lncount") * lit(FixScale) + lit(0.5))
        .cast("long").as("qxy"),
      floor(col("lnrank") * col("lnrank") * lit(FixScale) + lit(0.5))
        .cast("long").as("qxx"))
    val sums = q.agg(count(lit(1)).as("n"), sum("qx").as("sx"),
      sum("qy").as("sy"), sum("qxy").as("sxy"), sum("qxx").as("sxx"))
    val nD = col("n").cast("double")
    val xs = col("sx").cast("double") / lit(FixScale)
    val ys = col("sy").cast("double") / lit(FixScale)
    val xys = col("sxy").cast("double") / lit(FixScale)
    val xxs = col("sxx").cast("double") / lit(FixScale)
    val slope = (nD * xys - xs * ys) / (nD * xxs - xs * xs)
    sums.select(col("n").as("n_head"), slope.as("slope"),
      (ys / nD - slope * (xs / nD)).as("intercept"))
  }

  /** Per-source document-length histogram on power-of-two buckets —
    * the curation dashboard's length-distribution panel (truncation
    * incidents and boilerplate floods both show up as bucket-share
    * shifts long before they move a mean). Bucket = number of binary
    * digits of the word count (exact integer both engines: Spark
    * `length(bin(n))`, DuckDB `LENGTH(PRINTF('%b', n))`), so bucket k
    * holds docs with 2^(k-1) ≤ n_words < 2^k — no float log anywhere.
    *
    * 100 TB shape: map-only feature extraction, ONE map-combined hash
    * agg on (source, bucket) — a few dozen groups — and a broadcast
    * join against the per-source totals. The only double is the final
    * share division.
    */
  val lengthHistogram: Q = Q(
    "text_length_histogram",
    """WITH f AS (
      |  SELECT source,
      |    LENGTH(PRINTF('%b', LEN(STRING_SPLIT(TRIM(text), ' ')))) AS n_bits
      |  FROM documents),
      |g AS (SELECT source, n_bits, COUNT(*)::BIGINT AS n_docs
      |      FROM f GROUP BY source, n_bits),
      |t AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS tot
      |      FROM g GROUP BY source)
      |SELECT g.source, CAST(n_bits AS BIGINT) AS n_bits, n_docs,
      |  CAST(n_docs AS DOUBLE) / tot AS share
      |FROM g JOIN t USING (source)
      |ORDER BY source, n_bits""".stripMargin) { (s, d) =>
    val f = documents(s, d).select(col("source"),
      length(bin(size(TextAnalysis.words(col("text"))))).as("n_bits"))
    val g = f.groupBy("source", "n_bits").agg(count(lit(1)).as("n_docs"))
    val t = g.groupBy("source").agg(sum("n_docs").cast("bigint").as("tot"))
    g.join(broadcast(t), "source")
      .select(col("source"), col("n_bits").cast("bigint").as("n_bits"),
        col("n_docs"),
        (col("n_docs").cast("double") / col("tot")).as("share"))
      .orderBy("source", "n_bits")
  }

  /** ROUGE-1 overlap report for the near-dup candidate pairs: for each
    * pair the exact-Jaccard tier emits (`dedup_ngram_jaccard`), the
    * distinct-unigram intersection size and precision / recall / F1 —
    * the human-readable "how much text do these two actually share"
    * companion to the shingle-level similarity score (review queues
    * and threshold tuning read ROUGE, not Jaccard).
    *
    * 100 TB shape: the pair set is the near-dup output (orders of
    * magnitude below corpus size); the corpus is filtered to pair
    * MEMBERS with one broadcast join, and the intersection is a
    * PER-ROW `array_intersect` over the two (already-distinct) token
    * arrays carried through two pair-bounded key joins — no token
    * explode, no aggregation in the hot path. The previous shape
    * (explode → (b_id, w) shuffle join → groupBy(a_id, b_id) count)
    * died at the sf5 (500×) spot tier with AGGREGATE_OUT_OF_MEMORY:
    * the map-side partial hash agg's key space approached the pair
    * count per task, and 32 concurrent tasks exhausted execution
    * memory before the sort fallback could allocate. The per-row
    * intersect is memory-bounded by two token arrays regardless of
    * corpus size. The oracle reuses the registered pair query's own
    * SQL as a CTE, then recomputes the overlap independently (via the
    * token join — engine-independent formulation).
    */
  val rougePairs: Q = Q(
    "text_rouge_pairs",
    s"""WITH pairs0 AS (${Dedup.duckJaccardPairs}),
       |tok AS (
       |  SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(TRIM(text), ' '))) AS w
       |  FROM documents),
       |n AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM tok GROUP BY doc_id),
       |i AS (
       |  SELECT p.a_id, p.b_id, COUNT(*)::BIGINT AS inter
       |  FROM pairs0 p
       |  JOIN tok ta ON ta.doc_id = p.a_id
       |  JOIN tok tb ON tb.doc_id = p.b_id AND tb.w = ta.w
       |  GROUP BY p.a_id, p.b_id)
       |SELECT i.a_id, i.b_id, i.inter,
       |  CAST(inter AS DOUBLE) / na.n AS p,
       |  CAST(inter AS DOUBLE) / nb.n AS r,
       |  (2.0::DOUBLE * (CAST(inter AS DOUBLE) / na.n) * (CAST(inter AS DOUBLE) / nb.n))
       |    / ((CAST(inter AS DOUBLE) / na.n) + (CAST(inter AS DOUBLE) / nb.n)) AS f1
       |FROM i
       |JOIN n na ON na.doc_id = i.a_id
       |JOIN n nb ON nb.doc_id = i.b_id
       |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    // read the pair graph from the per-(session, corpus) materialized
    // snapshot (Dedup.sharedPairs) instead of re-running the PPJoin
    // pipeline — at sf2 the embedded recompute was ~18.6 s of this
    // query's 25.1 s (r07 VERDICT); then cut the corpus to pair
    // MEMBERS with one broadcast filter join BEFORE any explode —
    // everything downstream of the near-dup tier is pair-bounded
    val pairs = Dedup.sharedPairs(s, d).select("a_id", "b_id")
    val memberIds = pairs.select(col("a_id").as("doc_id"))
      .unionByName(pairs.select(col("b_id").as("doc_id"))).distinct()
    val members = documents(s, d).join(broadcast(memberIds), "doc_id")
      .select(col("doc_id"),
        array_distinct(TextAnalysis.words(col("text"))).as("ws"))
    val pCol = col("inter").cast("double") / col("na")
    val rCol = col("inter").cast("double") / col("nb")
    pairs
      .join(members.select(col("doc_id").as("a_id"), col("ws").as("wa")), "a_id")
      .join(members.select(col("doc_id").as("b_id"), col("ws").as("wb")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("wa"), col("wb"))).cast("bigint").as("inter"),
        size(col("wa")).cast("bigint").as("na"),
        size(col("wb")).cast("bigint").as("nb"))
      // the oracle's intersection CTE is an inner token join: a pair
      // with zero shared tokens has no row there (unreachable for
      // J ≥ 0.5 pairs, mirrored anyway)
      .filter(col("inter") > 0)
      .select(col("a_id"), col("b_id"), col("inter"),
        pCol.as("p"), rCol.as("r"),
        ((lit(2.0) * pCol * rCol) / (pCol + rCol)).as("f1"))
      .orderBy("a_id", "b_id")
  }

  /** CCNet-style perplexity terciles: per language, documents split into
    * head / middle / tail thirds by LM surprisal (reusing
    * [[TextAnalysis3.nllPerDoc]] — the registered `text_perplexity`
    * pipeline), with per-bucket volume and nll profile. This is the
    * data-selection step CCNet runs before sampling: keep head, mix
    * middle, drop tail.
    *
    * The tercile is the explicit rank-fraction rule
    * bucket = ⌊(rn−1)·3 / n_lang⌋ + 1 over the (nll, doc_id) total
    * order — spelled out instead of NTILE so both engines compute the
    * identical boundary (NTILE's remainder placement is engine-defined
    * lore; this formula is integer arithmetic). The per-language rank
    * comes from ONE [[ScalableWindows.globalRowNumber]] pass over
    * (lang, nll, doc_id) minus a broadcast per-language offset — no
    * coarse-partition window anywhere, so a language holding half the
    * corpus still sorts in parallel range partitions. Cross-row nll
    * accumulation is the house ×2⁴⁰ fixed-point BIGINT sum. */
  val pplBuckets: Q = Q(
    "text_ppl_buckets",
    s"""WITH ppl AS (${TextAnalysis3.perplexity.oracle.get}),
       |j AS (
       |  SELECT d.lang, d.n_chars, p.doc_id, p.nll
       |  FROM ppl p JOIN documents d ON d.doc_id = p.doc_id),
       |r AS (
       |  SELECT lang, n_chars, nll,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY nll, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY lang) AS nl
       |  FROM j),
       |b AS (
       |  SELECT lang, n_chars, nll,
       |    ((rn - 1) * 3) // nl + 1 AS bucket
       |  FROM r)
       |SELECT lang, CAST(bucket AS BIGINT) AS bucket,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  MIN(nll) AS min_nll, MAX(nll) AS max_nll,
       |  (CAST(SUM(CAST(FLOOR(nll * $FixScale::DOUBLE + 0.5::DOUBLE) AS BIGINT))
       |     AS DOUBLE) / $FixScale::DOUBLE) / COUNT(*) AS avg_nll
       |FROM b
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val j = TextAnalysis3.nllPerDoc(s, d)
      .join(documents(s, d).select("doc_id", "lang", "n_chars"), "doc_id")
      // r17: the sampling pass otherwise re-runs the doc_id join
      .localCheckpoint(true)
    val ranked = ScalableWindows.globalRowNumber(j,
      Seq(col("lang"), col("nll"), col("doc_id")), "grn")
    val offs = ranked.groupBy("lang")
      .agg(min("grn").as("lang0"), count(lit(1)).as("nl"))
    ranked.join(broadcast(offs), "lang")
      .withColumn("rn", col("grn") - col("lang0") + 1)
      .withColumn("bucket", expr("((rn - 1) * 3) div nl + 1"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("bigint").as("total_chars"),
        min("nll").as("min_nll"), max("nll").as("max_nll"),
        ((sum(floor(col("nll") * lit(FixScale) + lit(0.5)).cast("long"))
          .cast("double") / lit(FixScale)) / count(lit(1))).as("avg_nll"))
      .select(col("lang"), col("bucket").cast("bigint").as("bucket"),
        col("n_docs"), col("total_chars"), col("min_nll"), col("max_nll"),
        col("avg_nll"))
      .orderBy("lang", "bucket")
  }

  val all: Seq[Q] = Seq(klDrift, qualityLogit, ngramNovelty, zipfFit,
    lengthHistogram, rougePairs, pplBuckets)
}
