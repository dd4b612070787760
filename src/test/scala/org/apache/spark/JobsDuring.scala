package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** A started Spark job: its short call site (its result stage's name)
  * and whether it ran inside a SQL execution. A schema-inference job
  * runs bare, during analysis; writes and query actions run inside
  * one. */
final case class StartedJob(site: String, inSqlExecution: Boolean)

/** The Spark jobs started while `body` runs. */
object JobsDuring {
  def apply(sc: SparkContext)(body: => Unit): Seq[StartedJob] = {
    ListenerBusDrain(sc)
    val jobs = new ConcurrentLinkedQueue[StartedJob]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(StartedJob(e.stageInfos.maxBy(_.stageId).name,
          e.properties.getProperty("spark.sql.execution.id") != null))
    }
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }
}
