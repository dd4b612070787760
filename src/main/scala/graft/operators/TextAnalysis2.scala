package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.Tables._

/** Second text-analysis batch: chunking, normalization, TF-IDF —
  * the remaining corpus-preparation stages of a training pipeline.
  */
object TextAnalysis2 {

  private val ChunkLen = 32
  private val Stride = 24

  /** Sliding-window chunking: split each document into ChunkLen-token
    * windows advancing by Stride (overlap = ChunkLen - Stride), the
    * standard context-window preparation step. Pure per-row expressions
    * — no shuffle, scales linearly. */
  val chunking: Q = Q(
    "text_chunking",
    s"""SELECT doc_id, pos AS chunk_idx, ch.t AS chunk_text, ch.n AS n_tokens
       |FROM (
       |  SELECT doc_id,
       |    UNNEST(RANGE(0, LEN(RANGE(1, LEN(STRING_SPLIT(TRIM(text), ' ')) + 1, $Stride)))) AS pos,
       |    UNNEST(LIST_TRANSFORM(RANGE(1, LEN(STRING_SPLIT(TRIM(text), ' ')) + 1, $Stride),
       |      st -> STRUCT_PACK(
       |        t := ARRAY_TO_STRING(STRING_SPLIT(TRIM(text), ' ')[st : st + ${ChunkLen - 1}], ' '),
       |        n := LEAST($ChunkLen, LEN(STRING_SPLIT(TRIM(text), ' ')) - st + 1)))) AS ch
       |  FROM documents
       |  WHERE doc_id < 50)
       |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
    val ws = col("__ws")
    val starts = sequence(lit(1), size(ws), lit(Stride))
    val chunks = transform(starts, st => struct(
      concat_ws(" ", slice(ws, st, lit(ChunkLen))).as("t"),
      least(lit(ChunkLen), size(ws) - st + 1).cast("bigint").as("n")))
    documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), split(trim(col("text")), " ").as("__ws"))
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "ch")))
      .select(col("doc_id"), col("chunk_idx").cast("bigint").as("chunk_idx"),
        col("ch.t").as("chunk_text"), col("ch.n").as("n_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Normalization: lowercase, canonicalize digit runs, collapse
    * whitespace — with a changed flag for audit. */
  val normalize: Q = Q(
    "text_normalize",
    """SELECT doc_id,
      |  TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[0-9]+', '0', 'g'), ' +', ' ', 'g')) AS norm,
      |  LENGTH(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[0-9]+', '0', 'g'), ' +', ' ', 'g'))) AS n_chars_norm,
      |  TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[0-9]+', '0', 'g'), ' +', ' ', 'g')) <> text AS changed
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[0-9]+", "0"), " +", " "))
    documents(s, d).select(
        col("doc_id"), norm.as("norm"),
        length(norm).cast("bigint").as("n_chars_norm"),
        (norm =!= col("text")).as("changed"))
      .orderBy("doc_id")
  }

  /** TF-IDF top terms: corpus document frequency + per-doc term
    * frequency, score = tf · ln((N+1)/(df+1)), top-5 per doc.
    * ln is bit-identical between the JVM and DuckDB on these rational
    * arguments (validated empirically across the df range), so the
    * oracle hash-compare holds; the deterministic tiebreak is the term.
    */
  val tfidf: Q = Q(
    "text_tfidf",
    """WITH toks AS (
      |  SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(text), ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM documents)
      |SELECT doc_id, term, score, rank FROM (
      |  SELECT tf.doc_id, tf.term,
      |    tf.tf * LN((n.n + 1.0) / (df.df + 1.0)) AS score,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf * LN((n.n + 1.0) / (df.df + 1.0)) DESC, tf.term) AS rank
      |  FROM tf JOIN df USING (term) CROSS JOIN n
      |  WHERE tf.doc_id < 20)
      |WHERE rank <= 5
      |ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // r16: df ≡ the number of tf rows per term (tf is distinct on
    // (doc, term) by construction), so the corpus-sized explode feeds ONE
    // hash agg and df reuses tf's exchange instead of re-scanning +
    // running a countDistinct expansion — guide §2.3/2.4; identical counts
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = documents(s, d).agg(count(lit(1)).as("n"))
    // lnLibm, not functions.log: Spark's StrictMath.log differs from
    // glibc/DuckDB in the last ulp (see graft.functions.MathExpressions.ln)
    val score = col("tf") *
      graft.functions.MathExpressions.lnLibm(
        (col("n") + 1.0) / (col("df") + 1.0))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    // df is vocab-sized — leave the join strategy to AQE (broadcast at
    // test SF, shuffle at corpus scale); only the 1-row n is hinted
    tf.filter(col("doc_id") < 20)
      .join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 5)
      .select("doc_id", "term", "score", "rank")
      .orderBy("doc_id", "rank")
  }

  /** Fixed-width histogram of events.value per event type (width 25,
    * clamped at bucket 19) — exact double arithmetic in both engines. */
  val histogram: Q = Q(
    "q37_histogram",
    """SELECT event_type,
      |  LEAST(CAST(FLOOR(value / 25.0) AS BIGINT), 19) AS bucket,
      |  COUNT(*) AS n
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    events(s, d)
      .groupBy(col("event_type"),
        least(floor(col("value") / 25.0).cast("bigint"), lit(19L)).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bucket")
  }

  /** BM25 term scoring (k1=1.2, b=0.75): the canonical relevance
    * weighting — idf·tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)). Every
    * arithmetic step is a single IEEE op mirrored verbatim in the
    * oracle (same parenthesization). The idf's ln goes through
    * [[graft.functions.PortableLn]] — an all-IEEE-specified staged
    * computation over the vocabulary relation that produces bit-identical
    * doubles on both engines, so the raw double score needs no rounding.
    */
  val bm25: Q = Q(
    "text_bm25",
    s"""WITH toks AS (
      |  SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(text), ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
      |dfr AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
      |-- ::DOUBLE on every literal: DuckDB otherwise parses them as
      |-- DECIMAL and computes tf*2.2 exactly, off Spark's double by 1 ulp
      |dfx AS (SELECT term, ((stats.n - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE)) + 1.0::DOUBLE AS x
      |        FROM dfr CROSS JOIN stats),
      |idf AS (${graft.functions.PortableLn.sqlStages("dfx", Seq("term"), "x", "idf")}),
      |scored AS (
      |  SELECT tf.doc_id, tf.term,
      |    idf.idf * ((tf.tf * 2.2::DOUBLE) / (tf.tf + 1.2::DOUBLE * ((1.0::DOUBLE - 0.75::DOUBLE) + 0.75::DOUBLE * (dl.dl / stats.avgdl)))) AS score
      |  FROM tf
      |  JOIN dl ON dl.doc_id = tf.doc_id
      |  JOIN idf ON idf.term = tf.term
      |  CROSS JOIN stats
      |  WHERE tf.doc_id < 20)
      |SELECT doc_id, term, score, rank FROM (
      |  SELECT doc_id, term, score,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      |  FROM scored)
      |WHERE rank <= 5
      |ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // r16: dl ≡ Σ tf per doc and df ≡ tf-row count per term (tf is
    // distinct on (doc, term)), so the corpus explode feeds ONE hash agg
    // and both marginals ride tf's reused exchange instead of two more
    // corpus scans (one with a countDistinct Expand) — guide §2.3/2.4;
    // identical BIGINTs, oracle SQL unchanged
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val dfx = dfr.crossJoin(broadcast(stats))
      .select(col("term"),
        (((col("n") - col("df") + 0.5) / (col("df") + 0.5)) + 1.0).as("x"))
    val idf = graft.functions.PortableLn.withLn(dfx, "x", "idf")
      .select("term", "idf")
    val score = col("idf") * ((col("tf") * 2.2) /
      (col("tf") + lit(1.2) * ((lit(1.0) - 0.75) +
        lit(0.75) * (col("dl") / col("avgdl")))))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    // dl (per-doc) and idf (vocab) are corpus-sized — no broadcast hint;
    // stats is a single row
    tf.filter(col("doc_id") < 20)
      .join(dl, "doc_id")
      .join(idf, "term")
      .crossJoin(broadcast(stats))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 5)
      .select("doc_id", "term", "score", "rank")
      .orderBy("doc_id", "rank")
  }

  /** Bigram PMI (collocation mining): pmi(a,b) = ln(p(ab)/(p(a)·p(b))).
    * The ratio is formed as ONE division of two exact BIGINT products
    * (c_ab·N_u², N_b·c_a·c_b — both < 2^53 at any corpus this engine
    * tests; switch the products to DECIMAL beyond ~10^15 tokens), so both
    * engines see identical doubles, and the ln goes through
    * [[graft.functions.PortableLn]] → bit-exact raw double PMI scores.
    * Candidate bigrams come from the codegen'd
    * [[graft.functions.WordShingles]] at n=2. */
  val bigramPmi: Q = Q(
    "text_bigram_pmi",
    s"""WITH ws AS (SELECT STRING_SPLIT(TRIM(text), ' ') AS w FROM documents),
       |ug AS (SELECT UNNEST(w) AS tok FROM ws),
       |uc AS (SELECT tok, COUNT(*) AS c FROM ug GROUP BY tok),
       |nu AS (SELECT COUNT(*) AS n_u FROM ug),
       |bg AS (SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w)),
       |         i -> w[i] || ' ' || w[i+1])) AS bigram FROM ws),
       |bc AS (SELECT bigram, COUNT(*) AS c_ab FROM bg GROUP BY bigram),
       |nb AS (SELECT COUNT(*) AS n_b FROM bg),
       |ratio AS (
       |  SELECT bc.bigram, bc.c_ab,
       |    CAST(bc.c_ab * nu.n_u * nu.n_u AS DOUBLE) /
       |      CAST(nb.n_b * a.c * b.c AS DOUBLE) AS x
       |  FROM bc
       |  JOIN uc a ON a.tok = SPLIT_PART(bc.bigram, ' ', 1)
       |  JOIN uc b ON b.tok = SPLIT_PART(bc.bigram, ' ', 2)
       |  CROSS JOIN nu CROSS JOIN nb
       |  WHERE bc.c_ab >= 5),
       |scored AS (${graft.functions.PortableLn.sqlStages(
             "ratio", Seq("bigram", "c_ab"), "x", "pmi")})
       |SELECT bigram, c_ab, pmi FROM scored
       |ORDER BY pmi DESC, bigram
       |LIMIT 50""".stripMargin) { (s, d) =>
    val ws = documents(s, d).select(split(trim(col("text")), " ").as("w"))
    val ug = ws.select(explode(col("w")).as("tok"))
    val uc = ug.groupBy("tok").agg(count(lit(1)).as("c"))
    // r16: totals are exact sums of the count aggregates (Σc ≡ |stream|),
    // so each corpus-sized explode feeds ONE hash agg and the total rides
    // the reused exchange — guide §2.3/2.4; identical BIGINTs
    val nu = uc.agg(coalesce(sum(col("c")), lit(0L)).as("n_u"))
    val bg = ws.select(
      explode(graft.functions.WordShingles(col("w"), 2)).as("bigram"))
    val bc = bg.groupBy("bigram").agg(count(lit(1)).as("c_ab"))
    val nb = bc.agg(coalesce(sum(col("c_ab")), lit(0L)).as("n_b"))
    // unigram-count joins are vocab-sized (no hint); nu/nb are one row
    val ratio = bc.filter(col("c_ab") >= 5)
      .join(uc.as("a"), col("a.tok") === split_part(col("bigram"), lit(" "), lit(1)))
      .join(uc.as("b"), col("b.tok") === split_part(col("bigram"), lit(" "), lit(2)))
      .crossJoin(broadcast(nu))
      .crossJoin(broadcast(nb))
      .select(col("bigram"), col("c_ab"),
        ((col("c_ab") * col("n_u") * col("n_u")).cast("double") /
          (col("n_b") * col("a.c") * col("b.c")).cast("double")).as("x"))
    graft.functions.PortableLn.withLn(ratio, "x", "pmi")
      .select(col("bigram"), col("c_ab"), col("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(50)
  }

  /** Bigram LLR (Dunning's G² collocation test) — the
    * robust-to-rare-events companion of [[bigramPmi]] (PMI explodes
    * for low counts; G² weights by evidence and is THE standard
    * collocation score). Per candidate bigram (a, b), the 2×2
    * contingency over the bigram-event stream (N = all bigram slots,
    * rows = "first word is a", cols = "second word is b"):
    * k₁₁ = c_ab, k₁₂ = c_a• − c_ab, k₂₁ = c_•b − c_ab,
    * k₂₂ = N − c_a• − c_•b + c_ab, and
    * G² = 2·Σ k·ln(k·N / (R·C)). Each cell's ratio is ONE double
    * division of exact BIGINT products (< 2^53 here; DECIMAL beyond
    * ~10¹⁵ tokens, the PMI caveat), its ln runs the
    * [[graft.functions.PortableLn]] ladder, and zero cells feed x = 1
    * (ln 1 = 0) BEFORE the multiply — `0 · ln(0/…)` must be 0, and an
    * unguarded 0 · (−∞) is NaN on both engines. The four terms sum in
    * one fixed expression chain — no cross-row accumulation.
    *
    * 100 TB shape: identical to PMI — bigram/marginal counts are
    * map-combined hash aggs; the candidate relation (c_ab ≥ 5) joins
    * vocab-sized marginals; the ladder runs over candidates only. */
  val bigramLlr: Q = {
    val keep0 = Seq("bigram", "c_ab", "k11", "k12", "k21", "k22",
      "x12", "x21", "x22")
    val s1 = graft.functions.PortableLn.sqlStages(
      "cells", keep0, "x11", "l11")
    val s2 = graft.functions.PortableLn.sqlStages(
      "l1", keep0.filterNot(_ == "x12") :+ "l11", "x12", "l12")
    val s3 = graft.functions.PortableLn.sqlStages(
      "l2", Seq("bigram", "c_ab", "k11", "k12", "k21", "k22",
        "x21", "x22", "l11", "l12").filterNot(_ == "x21"), "x21", "l21")
    val s4 = graft.functions.PortableLn.sqlStages(
      "l3", Seq("bigram", "c_ab", "k11", "k12", "k21", "k22",
        "l11", "l12", "l21"), "x22", "l22")
    Q(
      "text_bigram_llr",
      s"""WITH ws AS (SELECT STRING_SPLIT(TRIM(text), ' ') AS w FROM documents),
         |bg AS (SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w)),
         |         i -> w[i] || ' ' || w[i+1])) AS bigram FROM ws),
         |bc AS (SELECT bigram, COUNT(*)::BIGINT AS c_ab FROM bg GROUP BY bigram),
         |w1 AS (SELECT SPLIT_PART(bigram, ' ', 1) AS tok, COUNT(*)::BIGINT AS ca
         |       FROM bg GROUP BY 1),
         |w2 AS (SELECT SPLIT_PART(bigram, ' ', 2) AS tok, COUNT(*)::BIGINT AS cb
         |       FROM bg GROUP BY 1),
         |nb AS (SELECT COUNT(*)::BIGINT AS n FROM bg),
         |cells AS (
         |  SELECT bc.bigram, bc.c_ab,
         |    bc.c_ab AS k11, a.ca - bc.c_ab AS k12, b.cb - bc.c_ab AS k21,
         |    nb.n - a.ca - b.cb + bc.c_ab AS k22,
         |    CASE WHEN bc.c_ab = 0 THEN 1.0::DOUBLE
         |      ELSE CAST(bc.c_ab * nb.n AS DOUBLE) / CAST(a.ca * b.cb AS DOUBLE) END AS x11,
         |    CASE WHEN a.ca - bc.c_ab = 0 THEN 1.0::DOUBLE
         |      ELSE CAST((a.ca - bc.c_ab) * nb.n AS DOUBLE)
         |        / CAST(a.ca * (nb.n - b.cb) AS DOUBLE) END AS x12,
         |    CASE WHEN b.cb - bc.c_ab = 0 THEN 1.0::DOUBLE
         |      ELSE CAST((b.cb - bc.c_ab) * nb.n AS DOUBLE)
         |        / CAST((nb.n - a.ca) * b.cb AS DOUBLE) END AS x21,
         |    CASE WHEN nb.n - a.ca - b.cb + bc.c_ab = 0 THEN 1.0::DOUBLE
         |      ELSE CAST((nb.n - a.ca - b.cb + bc.c_ab) * nb.n AS DOUBLE)
         |        / CAST((nb.n - a.ca) * (nb.n - b.cb) AS DOUBLE) END AS x22
         |  FROM bc
         |  JOIN w1 a ON a.tok = SPLIT_PART(bc.bigram, ' ', 1)
         |  JOIN w2 b ON b.tok = SPLIT_PART(bc.bigram, ' ', 2)
         |  CROSS JOIN nb
         |  WHERE bc.c_ab >= 5),
         |l1 AS ($s1),
         |l2 AS ($s2),
         |l3 AS ($s3),
         |l4 AS ($s4)
         |SELECT bigram, c_ab,
         |  2.0::DOUBLE * (CAST(k11 AS DOUBLE) * l11 + CAST(k12 AS DOUBLE) * l12
         |    + CAST(k21 AS DOUBLE) * l21 + CAST(k22 AS DOUBLE) * l22) AS llr
         |FROM l4
         |ORDER BY llr DESC, bigram
         |LIMIT 50""".stripMargin) { (s, d) =>
      val ws = documents(s, d).select(split(trim(col("text")), " ").as("w"))
      val bg = ws.select(
        explode(graft.functions.WordShingles(col("w"), 2)).as("bigram"))
      val bc = bg.groupBy("bigram").agg(count(lit(1)).as("c_ab"))
      // r16: the marginals and the total are EXACT aggregates of bc
      // (Σ c_ab grouped by first/second token ≡ counting the bigram
      // stream directly), so the corpus-sized explode feeds ONE hash agg
      // instead of four — the other three reads reuse bc's exchange
      // (guide §2.3 "aggregate before you shuffle" / §2.4 shared
      // exchange; identical BIGINTs, oracle SQL unchanged)
      val w1 = bc.groupBy(split_part(col("bigram"), lit(" "), lit(1)).as("tok"))
        .agg(sum(col("c_ab")).as("ca"))
      val w2 = bc.groupBy(split_part(col("bigram"), lit(" "), lit(2)).as("tok"))
        .agg(sum(col("c_ab")).as("cb"))
      val nb = bc.agg(coalesce(sum(col("c_ab")), lit(0L)).as("n"))
      def cellX(k: Column, num: Column, den: Column): Column =
        when(k === 0, lit(1.0)).otherwise(num.cast("double") / den.cast("double"))
      val cells = bc.filter(col("c_ab") >= 5)
        .join(w1.as("a"),
          col("a.tok") === split_part(col("bigram"), lit(" "), lit(1)))
        .join(w2.as("b"),
          col("b.tok") === split_part(col("bigram"), lit(" "), lit(2)))
        .crossJoin(broadcast(nb))
        .select(col("bigram"), col("c_ab"),
          col("c_ab").as("k11"),
          (col("ca") - col("c_ab")).as("k12"),
          (col("cb") - col("c_ab")).as("k21"),
          (col("n") - col("ca") - col("cb") + col("c_ab")).as("k22"),
          cellX(col("c_ab"), col("c_ab") * col("n"),
            col("ca") * col("cb")).as("x11"),
          cellX(col("ca") - col("c_ab"), (col("ca") - col("c_ab")) * col("n"),
            col("ca") * (col("n") - col("cb"))).as("x12"),
          cellX(col("cb") - col("c_ab"), (col("cb") - col("c_ab")) * col("n"),
            (col("n") - col("ca")) * col("cb")).as("x21"),
          cellX(col("n") - col("ca") - col("cb") + col("c_ab"),
            (col("n") - col("ca") - col("cb") + col("c_ab")) * col("n"),
            (col("n") - col("ca")) * (col("n") - col("cb"))).as("x22"))
      // r16: one ladder pass carrying all four (m, e) pairs — identical
      // per-column expressions, ~4× fewer analyzer passes than chaining
      val l4 = graft.functions.PortableLn.withLns(cells, Seq(
        "x11" -> "l11", "x12" -> "l12", "x21" -> "l21", "x22" -> "l22"))
      l4.select(col("bigram"), col("c_ab"),
          (lit(2.0) * (col("k11").cast("double") * col("l11") +
            col("k12").cast("double") * col("l12") +
            col("k21").cast("double") * col("l21") +
            col("k22").cast("double") * col("l22"))).as("llr"))
        .orderBy(col("llr").desc, col("bigram"))
        .limit(50)
    }
  }

  val all: Seq[Q] = Seq(chunking, normalize, tfidf, bm25, histogram,
    bigramPmi, bigramLlr)
}
