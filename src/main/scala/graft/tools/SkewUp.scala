package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hot-key corpus generator for the skew-robustness study (r12 VERDICT
  * task 3): [[ScaleUp]] replicates near-uniformly, so the recorded
  * corpora never exercise AQE's skew-join splitting or make the salted
  * route earn its keep. SkewUp rewrites three fact foreign keys onto a
  * geometric hot head while copying everything else verbatim:
  *
  *   - `lineitem.l_orderkey` → the 3 smallest orderkeys (the
  *     q46_salted_join shuffle path)
  *   - `orders.o_custkey`    → the 3 smallest custkeys (the
  *     q84_bucketed_join co-located path — skew lands in ONE bucket)
  *   - `events.user_id`      → the 3 smallest user ids (the cdc_*
  *     per-key family; cdc_key_skew_audit must SEE this head)
  *
  * Tier shares: 25% of rows to hot(0), 12.5% to hot(1), 6.25% to
  * hot(2); the remaining ~56% keep their original key. One key
  * carrying a quarter of a fact table is the zipf-head shape that
  * melts a uniform hash shuffle — a single reducer gets 25% of the
  * bytes regardless of partition count.
  *
  * Determinism + integrity by construction: tiers come from xxhash64
  * of stable row identity columns, hot keys are the ordered smallest
  * keys of the REFERENCED dimension (so every rewritten key still
  * resolves), and key column types are preserved. Spark and the DuckDB
  * oracle read the identical rewritten parquet, so the correctness
  * gate runs unchanged on the skewed corpus.
  *
  * Usage: runMain graft.tools.SkewUp <srcDir> <outDir>
  */
object SkewUp {

  /** 2^20 tier space; thresholds at 1/4, 1/4+1/8, 1/4+1/8+1/16 */
  private val U = 1048576L

  private[tools] def tiered(u: Column, orig: Column, hot: Seq[Long],
      tpe: org.apache.spark.sql.types.DataType): Column =
    when(u < U / 4, lit(hot(0)).cast(tpe))
      .when(u < U / 4 + U / 8, lit(hot(1)).cast(tpe))
      .when(u < U / 4 + U / 8 + U / 16, lit(hot(2)).cast(tpe))
      .otherwise(orig)

  def main(args: Array[String]): Unit = {
    val Array(src, out) = args.take(2)
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    run(spark, src, out)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, out: String): Unit = {
    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    /** the n smallest key values of a dimension — an ordered, tiny,
      * deterministic hot set that provably exists in the dimension */
    def smallest(df: DataFrame, key: String, n: Int = 3): Seq[Long] =
      df.select(col(key).cast("long")).distinct().orderBy(col(key))
        .limit(n).collect().map(_.getLong(0)).toSeq

    def skewKey(name: String, key: String, hot: Seq[Long],
        identity: Seq[String]): Unit = {
      val base = read(name)
      val tpe = base.schema(key).dataType
      val u = pmod(xxhash64(identity.map(col).toIndexedSeq: _*), lit(U))
      write(base.withColumn(key, tiered(u, col(key), hot, tpe)), name)
    }

    // untouched tables: verbatim copies so the corpus stays complete
    Seq("region", "nation", "customer", "supplier", "part",
      "embeddings").foreach(t => write(read(t), t))

    // hot-TEMPLATE document tier (r14 VERDICT task 5): the join-key
    // tiers above stress shuffles; the pair families (dedup/text/mm)
    // never saw adversarial data. The real-world failure is a hot
    // near-dup CLUSTER — one template × thousands of paraphrases (a
    // boilerplate page, a licence header, a mirrored article) — which
    // floods shingle document frequencies and LSH band buckets. 25% of
    // documents are rewritten onto ONE template text, each keeping a
    // per-doc variant tail word (doc_id % 97), so the corpus carries 97
    // exact-dup groups inside one giant near-dup cluster:
    //   - below the caps (sf0.1-scale: 1.25k hot docs) every
    //     cross-variant pair is a candidate — the pair-flood case;
    //   - above ShingleDfCap (sf1-scale: 12.5k hot docs) the template's
    //     common shingles are dropped from the vocabulary on BOTH
    //     engines (the QUALIFY mirror), so cross-variant pairs are
    //     dropped BY DESIGN while within-variant pairs survive via
    //     variant-local shingles — the cap-drop behavior the study
    //     records instead of leaving silent.
    // Template choice is deterministic: the smallest doc_id with ≥ 30
    // words; n_chars re-derives for rewritten rows.
    val docs = read("documents")
    val template = docs
      .filter(col("text").isNotNull &&
        size(split(col("text"), " ")) >= 30)
      .orderBy("doc_id").select("text").limit(1)
      .collect()(0).getString(0)
    val prefix = template.trim.split(" ").dropRight(1).mkString(" ")
    val uDoc = pmod(xxhash64(col("doc_id")), lit(U))
    val hotDoc = uDoc < U / 4
    write(docs
      .withColumn("text",
        when(hotDoc, concat(lit(prefix + " pv"),
          (col("doc_id") % 97).cast("string"))).otherwise(col("text")))
      .withColumn("n_chars",
        when(hotDoc, length(col("text")).cast("long"))
          .otherwise(col("n_chars"))), "documents")

    skewKey("lineitem", "l_orderkey", smallest(read("orders"), "o_orderkey"),
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice"))
    skewKey("orders", "o_custkey", smallest(read("customer"), "c_custkey"),
      Seq("o_orderkey"))
    skewKey("events", "user_id", smallest(read("events"), "user_id"),
      Seq("event_id"))
  }
}
