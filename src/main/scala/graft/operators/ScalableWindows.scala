package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe replacements for global (unpartitioned) windows.
  *
  * `Window.orderBy(...)` with no partition key plans as
  * `Exchange SinglePartition → Window`: the entire relation lands on ONE
  * task, which is the classic 100× scale-up killer (fine at 60k rows,
  * serialized at 2B). The two-pass shape here keeps every stage
  * parallel:
  *
  *   1. `repartitionByRange(sortKey)` splits the total order into
  *      contiguous key ranges (ascending partition id ≡ ascending key
  *      range — RangePartitioning's contract);
  *   2. a PARTITIONED window per range computes local row numbers /
  *      running sums (parallel sorts of ~|rows|/parts each);
  *   3. each partition's exclusive offset — ≤ `parts` rows — is
  *      cumulated by a bounded in-plan window and broadcast-joined back,
  *      and local + offset = exact global value.
  *
  * The offset cumulation is over per-partition TOTALS (≤ `parts` rows,
  * corpus-independent), so its SinglePartition window exchange is benign
  * at any scale — and since r16 it rides the main action instead of a
  * separate driver-side collect+fold (one fewer Spark job per call).
  *
  * Determinism requires the sort key to be a total order (unique);
  * ranks over tie-heavy keys should instead be derived from row numbers
  * via a hash aggregation (see [[Relational.q10RankFamily]]).
  */
object ScalableWindows {

  /** `df` plus `out` = global 1-based row number by `sortCols` (LONG).
    * `sortCols` must be a total order (no ties) for a deterministic
    * result. */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column], out: String,
      parts: Int = 32): DataFrame =
    twoPass(df, sortCols, None, out, null, parts)

  /** `df` plus `rnOut` = global row number and `sumOut` = global running
    * sum of `value` (both LONG; cast `value` to a long-summable type).
    * Frame is rows-between unbounded-preceding and current row. */
  def globalRunningSum(df: DataFrame, sortCols: Seq[Column], value: Column,
      rnOut: String, sumOut: String, parts: Int = 32): DataFrame =
    twoPass(df, sortCols, Some(value), rnOut, sumOut, parts)

  private def twoPass(df: DataFrame, sortCols: Seq[Column],
      value: Option[Column], rnOut: String, sumOut: String,
      parts: Int): DataFrame = {
    // MATERIALIZED once: the local-window branch and the totals branch
    // below must observe the SAME partition assignment, but
    // RangePartitioner picks its boundaries by SAMPLING at each
    // evaluation, and the two branches' plan subtrees differ after
    // column pruning, so nothing guarantees exchange reuse. Without the
    // checkpoint the branches can sample DIFFERENT boundaries, and
    // local + offset stops being a permutation — observed at sf0.1
    // (20k rows, 32 ranges): q10's rn reached n+34 with duplicates,
    // silently corrupting every downstream rank. sf0.01 passed only
    // because both samplings happened to agree at 2k rows — the gate
    // SF could not see this bug; the 10× oracle sweep caught it.
    val ranged = df.repartitionByRange(parts, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val w = Window.partitionBy("__pid").orderBy(sortCols: _*)
    val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local0 = ranged.withColumn("__lrn", row_number().over(w).cast("long"))
    val local = value match {
      case Some(v) => local0.withColumn("__lsum", sum(v).over(frame).cast("long"))
      case None    => local0
    }
    // per-partition totals (≤ `parts` rows), exclusive-prefix-summed by
    // a bounded window; partition ids are range-ordered so the window
    // order is the key order. r16: this was a driver-side collect+fold
    // (one EXTRA Spark action per call — 28 call sites paid it); the
    // unpartitioned window below runs over ≤ `parts` rows (corpus-
    // independent by construction), so the SinglePartition exchange is
    // benign at any scale and the offsets now ride the main action.
    val totals = value match {
      case Some(v) => ranged.groupBy("__pid")
        .agg(count(lit(1)).as("__cnt"), sum(v).cast("long").as("__vsum"))
      case None => ranged.groupBy("__pid")
        .agg(count(lit(1)).as("__cnt"), lit(0L).as("__vsum"))
    }
    // unpartitioned by design: the input is ≤ `parts` rows by
    // construction, so one task is the CORRECT placement. PlanShapeSpec's
    // nets recognize this window by its `__pid` order key (the
    // ScalableWindows contract column) and still fail any OTHER
    // unpartitioned/single-partition window.
    val wOff = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offDf = broadcast(totals
      .select(col("__pid"), col("__cnt"),
        coalesce(col("__vsum"), lit(0L)).as("__vsum"))
      .select(col("__pid"),
        coalesce(sum("__cnt").over(wOff), lit(0L)).as("__rnoff"),
        coalesce(sum("__vsum").over(wOff), lit(0L)).as("__sumoff")))
    val joined = local.join(offDf, "__pid")
      .withColumn(rnOut, col("__lrn") + col("__rnoff"))
    val finished = value match {
      case Some(_) => joined.withColumn(sumOut, col("__lsum") + col("__sumoff"))
      case None    => joined
    }
    finished.drop("__pid", "__lrn", "__lsum", "__rnoff", "__sumoff")
  }
}
