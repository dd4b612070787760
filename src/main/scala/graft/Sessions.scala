package graft

import org.apache.spark.sql.SparkSession

/** Session factory — one place for the engine's execution configuration
  * and the reasoning behind it, so Verify/Bench/tests run identically.
  *
  * Cluster sizing notes (the local values are the same dials):
  *   - `spark.sql.shuffle.partitions`: locally = cores. On a cluster set
  *     ≈ 2-3× total executor cores, then let AQE coalesce down —
  *     partitions sized so a shuffle partition of the LARGEST shuffle
  *     fits executor memory (~100-200 MB each at 100 TB inputs means
  *     tens of thousands; AQE's coalescing makes over-provisioning
  *     cheap, under-provisioning spills).
  *   - AQE on: runtime re-planning gives skew-join splitting, dynamic
  *     coalescing, and broadcast demotion/promotion from TRUE sizes
  *     rather than estimates.
  *   - `spark.sql.files.maxPartitionBytes` (default 128 MB) governs scan
  *     task granularity; raise toward 256-512 MB at petabyte scans so
  *     task scheduling overhead doesn't dominate column-pruned reads.
  *   - UTC pinned everywhere: timestamp semantics must not depend on
  *     cluster locale (the CDC µs-since-epoch columns assume it).
  *   - Streaming checkpoint logs go through
  *     [[CheckpointFileManagerClass]], not Spark's FileContext default.
  *     Every offsets and commit log entry is written to a temp file and
  *     renamed into place. On a Hadoop without libhadoop, a FileContext
  *     rename stats the source through `RawLocalFileSystem`'s deprecated
  *     link-status path, which forks `readlink` (`FileUtil.readLink`),
  *     so each streaming batch paid several process starts on its
  *     critical path. The FileSystem-based manager renames with
  *     `RawLocalFileSystem.rename`, i.e. `File.renameTo`, and forks
  *     nothing. Its no-overwrite rename is exists-then-rename, which is
  *     what FileContext's `rename(src, dst, Rename.NONE)` also does on
  *     `file:`, so the guard Spark relies on to detect two queries on
  *     one checkpoint is unchanged there. On HDFS this manager would
  *     lose FileContext's atomic rename; [[local]] builds local-master
  *     sessions only, whose checkpoints live on `file:`.
  */
object Sessions {

  /** Spark's FileSystem-based checkpoint file manager (see above). */
  val CheckpointFileManagerClass: String =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      // local[N, 4]: allow task retries like a real cluster would —
      // plain local[N] aborts a whole query on one transient task
      // failure (e.g. the JDK NIO spill-read race under heavy spill)
      .master(s"local[$cpus,4]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE re-plans joins from TRUE materialized sizes, so its
      // broadcast threshold can safely exceed the static estimate-based
      // one (kept at the 10 MB default): a mid-plan relation that turns
      // out to be ≤64 MB — e.g. the candidate-doc signature table in the
      // near-dup verify, ~20 MB at sf1 — broadcasts instead of paying a
      // shuffle join per pair side (measured 12 s → 2 s on that stage);
      // anything bigger at corpus scale still falls back to the shuffle
      // join. 64 MB is a routine executor-memory budget on real
      // clusters.
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpointFileManagerClass", CheckpointFileManagerClass)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietWindowExec()
    spark
  }

  /** ScalableWindows' offsets window is unpartitioned BY DESIGN over
    * ≤`parts` rows, but WindowExec cannot know that and logs "No
    * Partition Defined for Window operation" — 28 call sites × every
    * run made Verify's stderr a wall of that one benign warning,
    * burying real ones. Raise just the window-exec loggers to ERROR;
    * nothing else is filtered, and corpus-sized unpartitioned windows
    * are still caught structurally by PlanShapeSpec's registry-wide
    * net. Only the log4j-core backend has per-logger levels to set; with
    * any other backend bound, logging is left alone. */
  private def quietWindowExec(): Unit =
    org.apache.logging.log4j.LogManager.getContext(false) match {
      case _: org.apache.logging.log4j.core.LoggerContext =>
        org.apache.logging.log4j.core.config.Configurator.setLevel(
          "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
      case _ => ()
    }
}
