package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** The parquet state of a foreachBatch twin as seen from micro-batch
  * `batchId`: one table per name under `dir`, each partitioned by the
  * id of the batch that wrote it (`<dir>/<table>/batch_id=N`).
  *
  * A twin reads [[prior]] and writes [[put]], which makes it
  * idempotent under foreachBatch's at-least-once retries: a retried
  * batch sees exactly the priors its first attempt saw (its own
  * leftover partition is invisible) and overwrites the same files
  * instead of adding to them — the state after batch N is a function
  * of the priors and batch N alone, the D-Streams recovery rule.
  *
  * Reads never infer a schema: the stored rows are read under the
  * schema of the relation the batch writes to the same table, so a
  * read launches no Spark job, and a table holding only a killed
  * write's uncommitted `_temporary/` files reads empty instead of
  * failing inference. */
final class BatchIndex(dir: String, batchId: Long) {

  /** The rows that batches before this one committed to `table`, with
    * the columns of `like` — the relation this batch writes there.
    * Empty if nothing is committed yet. */
  def prior(table: String, like: DataFrame): DataFrame = {
    val spark = like.sparkSession
    val path = new Path(s"$dir/$table")
    if (!path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path))
      spark.createDataFrame(java.util.List.of[Row](), like.schema)
    else spark.read.schema(like.schema.add("batch_id", LongType))
      .parquet(path.toString)
      .filter(col("batch_id") < batchId)
      .select(like.columns.map(col).toIndexedSeq: _*)
  }

  /** Overwrites this batch's partition of `table` with `rows`. */
  def put(table: String, rows: DataFrame): Unit =
    rows.write.mode("overwrite").parquet(s"$dir/$table/batch_id=$batchId")
}
