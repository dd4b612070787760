package graft

import org.apache.spark.{JobsDuring, StartedJob}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.catalyst.plans.logical.Aggregate

/** One construction pass over every registered query on the tiny corpus,
  * shared by the specs that inspect it ([[TableSchemaSpec]]'s
  * construction net, [[AggAuditSpec]]'s plan sweep), so the registry is
  * built once per test JVM. */
object RegistrySweep {

  /** @param jobs    Spark jobs launched while the DataFrame was built
    * @param aggKeys per [[Aggregate]] of the optimized plan, the names of
    *                its grouping expressions and the attributes they read */
  final case class Built(name: String, jobs: Seq[StartedJob], aggKeys: Seq[Seq[String]])

  lazy val built: Seq[Built] = {
    val spark = TestSpark.spark
    SparkEntry.registry.map { q =>
      var df: DataFrame = null
      val jobs = JobsDuring(spark.sparkContext) { df = q.run(spark, TestSpark.tiny) }
      val aggKeys = df.queryExecution.optimizedPlan.collect { case a: Aggregate =>
        (a.groupingExpressions.flatMap(_.references.map(_.name)) ++
          a.groupingExpressions.collect { case ne: NamedExpression => ne.name }).distinct
      }
      Built(q.name, jobs, aggKeys)
    }
  }
}
