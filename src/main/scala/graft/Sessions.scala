package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
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
  *   - `file:` is served by [[NioLocalFileSystem]], Hadoop's checksummed
  *     `LocalFileSystem` over a raw local file system that sets
  *     permissions through `java.nio` instead of forking a `chmod`
  *     process. Without libhadoop, the stock raw file system forks one
  *     `chmod` per created file and directory, and again for each
  *     file's `.crc` sibling: every checkpoint-log entry, state-store
  *     upload and parquet file. The bits set are the same (the create
  *     mode under the configured umask, 0644 and 0755 by default). Where
  *     the platform has no POSIX attribute view, or the mode carries
  *     the sticky bit, it falls back to the stock `chmod` path.
  *     Hadoop caches one file system per scheme JVM-wide, keyed without
  *     the configuration, so the setting holds only if no `file:` file
  *     system was created before the session; the sessions here are the
  *     first thing their JVMs build.
  *
  * [[IoSettings]] holds these two settings; [[local]] and the test
  * session both apply them.
  */
object Sessions {

  /** Spark's FileSystem-based checkpoint file manager (see above). */
  val CheckpointFileManagerClass: String =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** The checkpoint-manager and `file:` settings (see above), which every
    * session built for the engine carries, test sessions included. */
  val IoSettings: Map[String, String] = Map(
    "spark.sql.streaming.checkpointFileManagerClass" -> CheckpointFileManagerClass,
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName)

  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .config(IoSettings)
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

/** Hadoop's `LocalFileSystem` (checksummed `file:`) over
  * [[NioRawLocalFileSystem]]; see [[Sessions]]. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` is one `java.nio` call
  * instead of a forked `chmod`. A sticky bit, and a file system without
  * a POSIX attribute view, keep the stock path. */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try {
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
    } catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
}
