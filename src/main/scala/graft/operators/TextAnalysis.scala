package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.Tables._

/** Text-analysis operators for LLM training-data pipelines (SURVEY.md
  * §2.5 / driver north star): token counting, quality scoring, language
  * identification, document fingerprinting. Everything is per-row
  * higher-order-function work — no shuffle at all, embarrassingly
  * parallel at 100 TB, and stays inside whole-stage codegen.
  *
  * Oracle parity: ratios are single double divisions of exact integers;
  * rolling hashes are sequential integer folds — identical in DuckDB.
  */
object TextAnalysis {

  /** whitespace tokens of the (trimmed) document text */
  def words(text: Column): Column = split(trim(text), " ")

  /** Per-language "stopword" profiles over the corpus vocabulary. A real
    * deployment would ship per-language frequency profiles; the scoring
    * machinery (term-frequency match count + deterministic argmax) is the
    * operator under test. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("slow", "merge", "group", "window"),
    "en" -> Seq("the", "a", "table", "row"),
    "es" -> Seq("data", "value", "fast", "line"),
    "fr" -> Seq("query", "filter", "join", "order"),
    "zh" -> Seq("hash", "scan", "batch", "key"))

  /** occurrences of profile words (term frequency, duplicates counted) */
  def profileHits(ws: Column, profile: Seq[String]): Column =
    size(filter(ws, w => profile.map(w === _).reduce(_ || _))).cast("bigint")

  private def duckProfileHits(profile: Seq[String]): String =
    s"LEN(LIST_FILTER(STRING_SPLIT(TRIM(text), ' '), w -> w IN (${profile.map("'" + _ + "'").mkString(", ")})))"

  /** Polynomial rolling hash (base 31, mod 1e9+7) over the character
    * codes of `text` — sequential integer fold, engine-independent.
    * Codegen'd single-pass expression ([[graft.functions.PolyHash]]);
    * bit-identical to the interpreted HOF fold it replaced (the
    * PolyHashSpec keeps an independent copy of the original shape). */
  def polyHash(text: Column): Column =
    graft.functions.PolyHash.full(text)

  /** Winnowing-style fingerprint: minimum polynomial hash over all 8-char
    * windows — robust to edits outside the matching window. Texts under
    * `win` chars return NULL (the oracle's empty RANGE also yields NULL).
    * Codegen'd one-pass walk ([[graft.functions.PolyHash.minWindow]]). */
  def minWindowHash(text: Column, win: Int = 8): Column =
    graft.functions.PolyHash.minWindowCol(text, win)

  /** Token counting: whitespace tokens + BPE-ish regex tokens (letter
    * runs / digit runs / single punctuation). */
  val tokens: Q = Q(
    "text_tokens",
    """SELECT doc_id,
      |  LEN(STRING_SPLIT(TRIM(text), ' ')) AS n_ws_tokens,
      |  LEN(REGEXP_EXTRACT_ALL(text, '([a-z]+|[0-9]+|[^a-z0-9 ])', 1)) AS n_re_tokens,
      |  n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    documents(s, d).select(
        col("doc_id"),
        size(words(col("text"))).cast("bigint").as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '([a-z]+|[0-9]+|[^a-z0-9 ])', 1)"))
          .cast("bigint").as("n_re_tokens"),
        col("n_chars"))
      .orderBy("doc_id")
  }

  /** Quality scoring: length, type-token ratio, mean word length,
    * stopword ratio, and a keep/drop flag — the standard pre-training
    * corpus filters. */
  val quality: Q = Q(
    "text_quality",
    s"""SELECT doc_id,
       |  LEN(STRING_SPLIT(TRIM(text), ' ')) AS n_words,
       |  CAST(LEN(LIST_DISTINCT(STRING_SPLIT(TRIM(text), ' '))) AS DOUBLE) / LEN(STRING_SPLIT(TRIM(text), ' ')) AS ttr,
       |  CAST(LIST_REDUCE(LIST_PREPEND(0::BIGINT, LIST_TRANSFORM(STRING_SPLIT(TRIM(text), ' '), w -> LENGTH(w)::BIGINT)), (a, b) -> a + b) AS DOUBLE) / LEN(STRING_SPLIT(TRIM(text), ' ')) AS avg_word_len,
       |  CAST(${duckProfileHits(Seq("the", "a", "of", "and"))} AS DOUBLE) / LEN(STRING_SPLIT(TRIM(text), ' ')) AS stop_ratio,
       |  (LEN(STRING_SPLIT(TRIM(text), ' ')) BETWEEN 20 AND 80) AND (CAST(LEN(LIST_DISTINCT(STRING_SPLIT(TRIM(text), ' '))) AS DOUBLE) / LEN(STRING_SPLIT(TRIM(text), ' ')) >= 0.3) AS keep
       |FROM documents
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val ws = words(col("text"))
    val nWords = size(ws).cast("bigint")
    val ttr = size(array_distinct(ws)).cast("double") / size(ws)
    documents(s, d).select(
        col("doc_id"),
        nWords.as("n_words"),
        ttr.as("ttr"),
        (aggregate(transform(ws, w => length(w).cast("bigint")), lit(0L),
          (a, b) => a + b).cast("double") / size(ws)).as("avg_word_len"),
        (profileHits(ws, Seq("the", "a", "of", "and")).cast("double") / size(ws))
          .as("stop_ratio"),
        (nWords.between(20, 80) && ttr >= 0.3).as("keep"))
      .orderBy("doc_id")
  }

  /** Language ID: term-frequency score against each language profile,
    * deterministic argmax (ties resolve in fixed profile order). */
  val langId: Q = {
    val duckScores = langProfiles
      .map { case (l, p) => s"  ${duckProfileHits(p)} AS s_$l" }
      .mkString(",\n")
    val duckCase = langProfiles
      .map { case (l, _) => s"WHEN s_$l = m THEN '$l'" }
      .mkString(" ")
    Q(
      "text_langid",
      s"""WITH scored AS (SELECT doc_id,
         |$duckScores
         |FROM documents)
         |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
         |  CASE $duckCase END AS pred_lang
         |FROM (SELECT *, GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS m FROM scored)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val ws = words(col("text"))
      val scored = documents(s, d).select(
        col("doc_id") +: langProfiles.map { case (l, p) =>
          profileHits(ws, p).as(s"s_$l")
        }: _*)
      val m = greatest(langProfiles.map { case (l, _) => col(s"s_$l") }: _*)
      val pred = langProfiles.foldLeft(lit(null).cast("string")) {
        case (acc, (l, _)) =>
          when(acc.isNotNull, acc).otherwise(when(col(s"s_$l") === m, l))
      }
      scored
        .select(col("doc_id"), col("s_de"), col("s_en"), col("s_es"),
          col("s_fr"), col("s_zh"), pred.as("pred_lang"))
        .orderBy("doc_id")
    }
  }

  /** Document fingerprinting: full-document polynomial hash + minimum
    * 8-char window hash (winnowing primitive). */
  val fingerprint: Q = Q(
    "text_fingerprint",
    """SELECT doc_id,
      |  LIST_REDUCE(LIST_PREPEND(0::BIGINT, LIST_TRANSFORM(RANGE(1, LENGTH(text) + 1), i -> ASCII(text[i])::BIGINT)), (acc, c) -> (acc * 31 + c) % 1000000007) AS full_hash,
      |  LIST_MIN(LIST_TRANSFORM(RANGE(1, LENGTH(text) - 6), i ->
      |    LIST_REDUCE(LIST_PREPEND(0::BIGINT, LIST_TRANSFORM(RANGE(0, 8), k -> ASCII(text[i + k])::BIGINT)), (acc, c) -> (acc * 31 + c) % 1000000007))) AS min_win_hash
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    documents(s, d).select(
        col("doc_id"),
        polyHash(col("text")).as("full_hash"),
        minWindowHash(col("text")).as("min_win_hash"))
      .orderBy("doc_id")
  }

  /** Corpus-wide top-10 tokens via the Misra-Gries typed Aggregator
    * ([[graft.functions.FrequentItems]]). With capacity 4096 ≫ the
    * corpus vocabulary no decrement fires, so counts are exact and the
    * SQL oracle applies; at true scale the same operator degrades
    * gracefully to ε-approximate counts in bounded memory. */
  val frequentTokens: Q = Q(
    "text_frequent_tokens",
    """SELECT token, n, rank FROM (
      |  SELECT token, COUNT(*) AS n,
      |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rank
      |  FROM (SELECT UNNEST(STRING_SPLIT(TRIM(text), ' ')) AS token FROM documents)
      |  GROUP BY token)
      |WHERE rank <= 10
      |ORDER BY rank""".stripMargin) { (s, d) =>
    import s.implicits._
    val agg = new graft.functions.FrequentItems(4096)
    val tokens = documents(s, d)
      .select(explode(words(col("text"))).as("token")).as[String]
    tokens.select(agg.toColumn.name("items"))
      .select(explode(col("items")).as("kv"))
      .select(col("kv._1").as("token"), col("kv._2").as("n"))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("token"))).cast("bigint"))
      .filter(col("rank") <= 10)
      .orderBy("rank")
  }

  /** Language-ID evaluation: confusion matrix of predicted vs labeled
    * language — the model-eval surface of the pipeline (precision/recall
    * per class fall straight out of these counts). Reuses the exact
    * scoring/argmax of [[langId]]. */
  val langIdEval: Q = {
    val duckScores = langProfiles
      .map { case (l, p) => s"  ${duckProfileHits(p)} AS s_$l" }
      .mkString(",\n")
    val duckCase = langProfiles
      .map { case (l, _) => s"WHEN s_$l = m THEN '$l'" }
      .mkString(" ")
    Q(
      "text_langid_eval",
      s"""WITH scored AS (SELECT doc_id, lang,
         |$duckScores
         |FROM documents),
         |pred AS (
         |  SELECT doc_id, lang, CASE $duckCase END AS pred_lang
         |  FROM (SELECT *, GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS m
         |        FROM scored))
         |SELECT lang AS actual, pred_lang AS predicted, COUNT(*) AS n
         |FROM pred
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val ws = words(col("text"))
      val scored = documents(s, d).select(
        col("doc_id") +: col("lang") +: langProfiles.map { case (l, p) =>
          profileHits(ws, p).as(s"s_$l")
        }: _*)
      val m = greatest(langProfiles.map { case (l, _) => col(s"s_$l") }: _*)
      val pred = langProfiles.foldLeft(lit(null).cast("string")) {
        case (acc, (l, _)) =>
          when(acc.isNotNull, acc).otherwise(when(col(s"s_$l") === m, l))
      }
      scored.select(col("lang").as("actual"), pred.as("predicted"))
        .groupBy("actual", "predicted")
        .agg(count(lit(1)).as("n"))
        .orderBy("actual", "predicted")
    }
  }

  /** Language-ID confidence calibration: the reliability diagram a
    * model owner reads before setting a routing threshold. Confidence
    * is the integer MARGIN between the best and second-best profile
    * score (exact — no softmax lore to mirror), bucketed at
    * min(margin, 5); per bucket the report is volume and observed
    * accuracy against the labeled `lang` column. A well-calibrated
    * classifier shows accuracy rising monotonically with margin — the
    * margin-0 bucket (ties) is exactly the traffic a production
    * pipeline routes to a fallback model.
    *
    * 100 TB shape: map-only scoring (the same per-row profile folds as
    * [[langId]]), then a ≤ 6-group map-combined agg — no shuffle of
    * document data. Second-best is a sort of a 5-element per-row array,
    * constant work mirrored by LIST_SORT in the oracle. */
  val langIdCalibration: Q = {
    val duckScores = langProfiles
      .map { case (l, p) => s"  ${duckProfileHits(p)} AS s_$l" }
      .mkString(",\n")
    val duckCase = langProfiles
      .map { case (l, _) => s"WHEN s_$l = m THEN '$l'" }
      .mkString(" ")
    Q(
      "text_langid_calibration",
      s"""WITH scored AS (SELECT doc_id, lang,
         |$duckScores
         |FROM documents),
         |p AS (
         |  SELECT lang, CASE $duckCase END AS pred_lang,
         |    m - LIST_SORT([s_de, s_en, s_es, s_fr, s_zh])[4] AS margin
         |  FROM (SELECT *, GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS m
         |        FROM scored))
         |SELECT LEAST(margin, 5)::BIGINT AS margin_bucket,
         |  COUNT(*)::BIGINT AS n_docs,
         |  SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)::BIGINT
         |    AS n_correct,
         |  CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*) AS accuracy
         |FROM p
         |GROUP BY 1
         |ORDER BY 1""".stripMargin) { (s, d) =>
      val ws = words(col("text"))
      val scored = documents(s, d).select(
        col("doc_id") +: col("lang") +: langProfiles.map { case (l, p) =>
          profileHits(ws, p).as(s"s_$l")
        }: _*)
      val scoreCols = langProfiles.map { case (l, _) => col(s"s_$l") }
      val m = greatest(scoreCols: _*)
      val pred = langProfiles.foldLeft(lit(null).cast("string")) {
        case (acc, (l, _)) =>
          when(acc.isNotNull, acc).otherwise(when(col(s"s_$l") === m, l))
      }
      val second = element_at(sort_array(array(scoreCols: _*)), 4)
      scored
        .select(col("lang"), pred.as("pred_lang"),
          (m - second).cast("bigint").as("margin"))
        .select(least(col("margin"), lit(5L)).as("margin_bucket"),
          (col("pred_lang") === col("lang")).cast("long").as("ok"))
        .groupBy("margin_bucket")
        .agg(count(lit(1)).as("n_docs"), sum("ok").as("n_correct"))
        .select(col("margin_bucket"), col("n_docs"), col("n_correct"),
          (col("n_correct").cast("double") / col("n_docs")).as("accuracy"))
        .orderBy("margin_bucket")
    }
  }

  val all: Seq[Q] = Seq(tokens, quality, langId, langIdEval,
    langIdCalibration, fingerprint, frequentTokens)
}
