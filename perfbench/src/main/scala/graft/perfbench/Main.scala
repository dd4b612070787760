package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.Sessions

/** JVM side of the benchmark; `perfbench/run.py` is the entry point.
  *
  *   --workload <registry_sf0.001|registry_sf0.1|cdc_stream>
  *   --seed <n> --seconds <s> --trace <0|1> --cpus <n>
  *   --data <table dir>   (registry workloads)
  *   --run-dir <dir>      (per-run scratch: checkpoints, near-dup index)
  *   --out <file>         (raw result JSON)
  *
  * `--gen-digest --seed <n> --seconds <s>` prints the SHA-256 of the
  * `cdc_stream` generator's output without starting Spark. */
object Main {
  def main(args: Array[String]): Unit = {
    // --name value pairs; a --name followed by another --name is a flag
    val opts = args.indices.collect {
      case i if args(i).startsWith("--") =>
        args(i).stripPrefix("--") ->
          args.lift(i + 1).filterNot(_.startsWith("--")).getOrElse("true")
    }.toMap
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    if (opts.contains("gen-digest")) {
      val g = new CdcGen(seed, seconds, CdcRun.UsersRate, CdcRun.EventsRate, CdcRun.DocsRate)
      println(g.digest)
      return
    }
    val workload = opts("workload")
    val trace = opts.getOrElse("trace", "0") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupStart = () => (System.currentTimeMillis() - jvmStartMs) / 1e3

    val spark = Sessions.local(opts.getOrElse("cpus", "4"))
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val result =
      try {
        if (workload == "cdc_stream")
          CdcRun.run(spark, seed, seconds, opts("run-dir"), tracer, setupStart)
        else if (RegistryRun.SampleSizes.contains(workload))
          RegistryRun.run(spark, workload, opts("data"), seed, seconds, tracer, setupStart)
        else sys.error(s"unknown workload $workload")
      } finally spark.stop()
    Files.writeString(Paths.get(opts("out")),
      Json(result ++ Map("jvm" -> jvmStats, "cpus" -> opts.getOrElse("cpus", "4"))))
  }

  /** peak RSS (VmHWM), total GC time and peak heap use of this JVM */
  private def jvmStats: Map[String, Any] = {
    val hwmKb = scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L))
      .getOrElse(0L)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    Map("peak_rss_mb" -> hwmKb / 1024.0, "gc_s" -> gcMs / 1e3,
      "heap_peak_mb" -> heapPeak / 1048576.0)
  }
}
