package graft.tools

import java.nio.file.{Files, Paths}

/** Plan and timing dump for named registered queries. For each name it
  * writes `plans/<tag>/<name>.txt` holding BOTH the initial
  * `.explain("formatted")` plan AND the AQE final plan, captured from the
  * SAME DataFrame instance after one execution, so runtime
  * ReusedExchange / AQEShuffleRead nodes (invisible in the initial plan)
  * are checkable. It prints the DataFrame-construction / physical-plan
  * split and min-of-2 timings for the bench's `.count()` action and for
  * the noop sink (which computes every column with no sink cost). Jobs
  * are labelled via `setJobDescription`. Never on the bench path.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <tag> <name> [name ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val dir = Paths.get("plans", args(1))
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    Files.createDirectories(dir)
    for (name <- args.drop(2)) {
      val fn = graft.SparkEntry.queries(name)
      def fresh() = fn(spark, sfDir)
      def settle(): Unit = {
        spark.sparkContext.getPersistentRDDs.valuesIterator
          .foreach(_.unpersist(blocking = false))
        spark.catalog.clearCache()
      }
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val tc0 = System.nanoTime()
      val df0 = fresh()
      val tBuild = (System.nanoTime() - tc0) / 1e9
      val tp0 = System.nanoTime()
      df0.queryExecution.executedPlan
      val tPlan = (System.nanoTime() - tp0) / 1e9
      val initial = df0.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // execute THIS QueryExecution (a noop write would build a NEW one
      // and leave df0's adaptive plan un-finalized) so the dumped final
      // plan shows runtime ReusedExchange / AQEShuffleRead nodes
      df0.queryExecution.executedPlan.execute().count()
      val finalPlan = df0.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val out = dir.resolve(s"$name.txt")
      Files.writeString(out,
        s"== INITIAL PLAN (pre-execution) ==\n$initial\n" +
          s"== FINAL PLAN (post-execution, AQE final) ==\n$finalPlan")
      settle()
      def timeCount(): Double = {
        val t0 = System.nanoTime(); fresh().count(); (System.nanoTime() - t0) / 1e9
      }
      def timeNoop(): Double = {
        val t0 = System.nanoTime()
        fresh().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val c = { val a = timeCount(); settle(); val b = timeCount(); settle(); math.min(a, b) }
      val n = { val a = timeNoop(); settle(); val b = timeNoop(); settle(); math.min(a, b) }
      println(f"[plandump] $name%-32s count=$c%7.2fs noop=$n%7.2fs build=$tBuild%6.2fs plan=$tPlan%6.2fs -> $out")
    }
    spark.stop()
  }
}
