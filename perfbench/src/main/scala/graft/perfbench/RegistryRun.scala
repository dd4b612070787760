package graft.perfbench

import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{GraphAnalytics, Multimodal2}

/** The registry workloads: a fixed, family-stratified sample of
  * `SparkEntry.queries`, run in a seeded order, after the shared builds,
  * for the measured window. Each execution is timed the way `graft.Bench`
  * times a query: DataFrame construction plus `.count()`. */
object RegistryRun {

  /** the query's family: its name prefix (`q`, `cdc`, `text`, …) */
  def family(name: String): String = {
    val p = name.takeWhile(_ != '_')
    if (p.matches("q[0-9]+")) "q" else p
  }

  /** queries per family in each workload's sample */
  val SampleSizes: Map[String, Map[String, Int]] = Map(
    "registry_sf0.001" -> Map("q" -> 8, "cdc" -> 1, "text" -> 3, "dedup" -> 2,
      "sim" -> 2, "mm" -> 2, "curation" -> 1),
    "registry_sf0.1" -> Map("q" -> 3, "cdc" -> 1, "text" -> 1, "dedup" -> 1,
      "sim" -> 1, "mm" -> 1, "curation" -> 1))

  /** The shared one-time builds run before the window. */
  val Builds: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "graph_pair_counts" -> GraphAnalytics.pairCounts,
    "graph_edges" -> GraphAnalytics.edges,
    "phash_pairs" -> Multimodal2.phashPairs,
    "phash_labels" -> Multimodal2.phashLabels)

  private def sha1(s: String): String =
    MessageDigest.getInstance("SHA-1").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** The sample: per family, the first k names in SHA-1 order — fixed for
    * a given registry, independent of the seed. */
  def sample(workload: String): Seq[String] = {
    val sizes = SampleSizes(workload)
    SparkEntry.queries.keys.toSeq.groupBy(family).toSeq.sortBy(_._1)
      .flatMap { case (f, names) => names.sortBy(sha1).take(sizes.getOrElse(f, 0)) }
  }

  private def settle(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  def run(spark: SparkSession, workload: String, dataDir: String, seed: Long,
      seconds: Double, tracer: Option[Tracer], setupStart: () => Double)
      : Map[String, Any] = {
    val sc = spark.sparkContext
    def group[T](g: String)(body: => T): T =
      if (tracer.isEmpty) body
      else {
        sc.setJobGroup(g, g)
        try body finally sc.clearJobGroup()
      }
    def drain(): Unit = if (tracer.nonEmpty) PerfbenchBus.drain(sc)

    group("pb-setup") {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$dataDir/region.parquet").count()
    }
    val builds = Builds.map { case (name, f) =>
      val t0 = System.nanoTime()
      val err = try { group(s"pb-build-$name")(f(spark, dataDir).count()); None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val s = (System.nanoTime() - t0) / 1e9
      drain()
      mutable.LinkedHashMap[String, Any]("name" -> name, "s" -> s, "err" -> err) ++
        tracer.map(_.group(s"pb-build-$name").toMap).getOrElse(Map.empty)
    }
    val fns = SparkEntry.queries
    val names = sample(workload)
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    val rng = new scala.util.Random(seed)
    val samples = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    var executions = 0

    /** one timed execution: construction + count(), then settle */
    def execute(name: String, pass: Int): mutable.Map[String, Any] = {
      val g = s"pb-q$executions"
      executions += 1
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      var ms1 = ms0
      val rec = mutable.LinkedHashMap[String, Any](
        "q" -> name, "fam" -> family(name), "pass" -> pass)
      try {
        val df = group(g + "-c")(fns(name)(spark, dataDir))
        t1 = System.nanoTime()
        ms1 = System.currentTimeMillis()
        rec("rows") = group(g + "-a")(df.count())
      } catch {
        case e: Throwable =>
          rec("err") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      }
      val t2 = System.nanoTime()
      val ms2 = System.currentTimeMillis()
      rec("s") = (t2 - t0) / 1e9
      settle(spark)
      tracer.foreach { tr =>
        drain()
        val ph = tr.phasesBetween(ms1, ms2 + 1)
        val cat = Seq("analysis", "optimization", "planning")
          .map(p => p -> ph.getOrElse(p, 0L) / 1e3).toMap
        val actionS = (t2 - t1) / 1e9
        rec("construct_s") = (t1 - t0) / 1e9
        rec("action_s") = actionS
        cat.foreach { case (p, v) => rec(s"${p}_s") = v }
        // wall-clock bounds of the construct and action spans, to check
        // that the listener's jobs of each group fall inside their span
        rec("span_ms") = Seq(ms0, ms1, ms2)
        rec("construct") = tr.group(g + "-c").toMap
        rec("action") = tr.group(g + "-a").toMap
      }
      rec
    }

    // pass 0, part of set-up: every query's first execution in this JVM
    // (code generation, first-use class loading)
    val cold = rng.shuffle(names).map(execute(_, 0)).toSeq
    val setupS = setupStart()

    // the window: whole passes in seeded order until `seconds` have passed
    val w0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - w0) / 1e9
    var pass = 1
    while (pass == 1 || elapsed < seconds) {
      rng.shuffle(names).foreach(n => samples += execute(n, pass))
      pass += 1
    }
    val windowS = elapsed
    val orphans = tracer.map { tr =>
      drain()
      tr.groupNames.filter(g => !g.startsWith("pb-"))
        .map(g => g -> tr.group(g).jobs).toMap
    }
    Map("workload" -> workload, "setup_s" -> setupS, "window_s" -> windowS,
      "passes" -> (pass - 1), "sample" -> names, "builds" -> builds,
      "cold" -> cold, "samples" -> samples, "oracle_sql" -> oracle,
      "orphan_jobs" -> orphans)
  }
}
