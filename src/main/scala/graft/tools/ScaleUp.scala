package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bench-only scale-up: replicate the driver's sf0.1 tables `factor`×
  * into an sf1-equivalent directory, preserving the REFERENTIAL and
  * DISTRIBUTIONAL shape a real 10× corpus would have.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <factor>
  *
  * Design constraints (why this is not a blind UNION ALL of 10 copies):
  *   - Every key column is offset by `replica * 1e9` so joins stay
  *     1:1/1:N exactly as at sf0.1 (no accidental key collisions, no
  *     fan-out inflation). Dimension tables (region/nation) are fixed
  *     size in TPC-H and are copied verbatim; nationkey references stay
  *     valid in every replica.
  *   - `documents.text` is PERTURBED per replica (a replica-tagged
  *     token spliced onto every 3rd word): verbatim clones would make
  *     every doc an exact+near duplicate of its 9 copies, scaling
  *     near-dup PAIR counts ~100× instead of the ~10× a genuine sf1
  *     corpus shows. The splice leaves only ~1/3 of word 3-grams
  *     intact, dropping cross-replica Jaccard to ≈0.2 — far below
  *     every dedup threshold. n_chars is recomputed to stay
  *     consistent. Replica 0 is the untouched original corpus.
  *   - `embeddings.embedding` gets a per-replica deterministic
  *     sign-flip pattern (coords where (j+3)*replica % 11 < 4) for the
  *     same reason: exact vector clones would explode cosine-near-dup
  *     pairs quadratically. A flip of ~4/11 of the energy moves cosine
  *     vs the original to ≈0.27. Patterns are distinct per replica
  *     (11 prime > factor), so no two replicas share a vector.
  *   - `events.ts` is passed through in its source physical layout
  *     (µs TIMESTAMP_NTZ, as [[graft.Tables]] declares it).
  */
object ScaleUp {

  private val Off = 1000000000L

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    run(spark, src, out, factorS.toInt)
    spark.stop()
  }

  def run(spark: org.apache.spark.sql.SparkSession, src: String, out: String,
      factor: Int): Unit = {
    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    def replicate(name: String, keys: Seq[String],
        perturb: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = read(name)
      val parts = (0 until factor).map { i =>
        val shifted = keys.foldLeft(base)((d, k) =>
          d.withColumn(k, col(k) + lit(i * Off)))
        perturb(shifted, i)
      }
      write(parts.reduce(_ union _), name)
    }

    // fixed-size dimensions: verbatim
    write(read("region"), "region")
    write(read("nation"), "nation")

    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))

    replicate("documents", Seq("doc_id"), (df, i) =>
      if (i == 0) df
      else
        // splice a replica-tagged token onto every 3rd word: breaks
        // 2/3 of word 3-grams, so replicas are NOT near-dups of the
        // original or of each other (cross-replica Jaccard ≈ 0.2)
        df.withColumn("text", spliceExpr(col("text"), i))
          .withColumn("n_chars", length(col("text")).cast("long")))

    replicate("embeddings", Seq("vec_id"), (df, i) =>
      if (i == 0) df
      else {
        // deterministic per-replica sign flips (see class doc); -x keeps
        // FloatType so the schema stays list<float>
        val flipped = zip_with(col("embedding"),
          sequence(lit(0), greatest(size(col("embedding")) - 1, lit(0))),
          (x, j) => when(((j + 3) * i) % 11 < 4, -x).otherwise(x))
        df.withColumn("embedding", flipped)
      })
  }

  /** exposed for the spec: the text splice for one replica */
  def spliceExpr(text: Column, i: Int): Column = {
    val words = split(text, " ")
    array_join(
      zip_with(words, sequence(lit(0), greatest(size(words) - 1, lit(0))),
        (w, j) => when(j % 3 === 2, concat(w, lit(s" zrep${i}z"))).otherwise(w)),
      " ")
  }
}
