package graft

import org.apache.spark.JobsDuring
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ScaleUp

/** `Tables` reads every driver table under a declared schema instead of
  * inferring it from the parquet footers. The declarations must equal
  * what inference yields on every data directory — otherwise plans, and
  * with them oracle results, would move — and loading must launch no
  * Spark job. */
class TableSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def dataDirs: Seq[String] =
    Option(new java.io.File(TestSpark.tiny).getParentFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("sf"))
      .map(_.getPath).sorted

  private def assertDeclaredEqualsInferred(dir: String): Unit =
    for ((name, decl) <- Tables.Schemas) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(decl == inferred, s"$dir/$name: declared ${decl.toDDL} != inferred ${inferred.toDDL}")
    }

  private val loaders: Seq[(SparkSession, String) => DataFrame] = Seq(
    Tables.region, Tables.nation, Tables.customer, Tables.supplier, Tables.part,
    Tables.orders, Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings)

  test("declared schemas equal the inferred ones in every data directory") {
    val dirs = dataDirs
    assert(dirs.contains(TestSpark.tiny))
    dirs.foreach(assertDeclaredEqualsInferred)
  }

  test("declared schemas equal the inferred ones on ScaleUp output") {
    val out = java.nio.file.Files.createTempDirectory("graft_schema_up").toString
    ScaleUp.run(spark, TestSpark.tiny, out, 2)
    assertDeclaredEqualsInferred(out)
  }

  test("calling all ten loaders launches no Spark job") {
    assert(loaders.size == Tables.Schemas.size)
    val jobs = JobsDuring(spark.sparkContext)(loaders.foreach(_(spark, TestSpark.tiny)))
    assert(jobs.isEmpty, s"loaders launched jobs: $jobs")
  }

  test("events.ts is normalized to session-UTC timestamp") {
    assert(Tables.events(spark, TestSpark.tiny).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("a footer that disagrees with the declaration makes the scan throw") {
    val dir = java.nio.file.Files.createTempDirectory("graft_schema_bad").toString
    Tables.documents(spark, TestSpark.tiny)
      .withColumn("n_chars", col("n_chars").cast("string"))
      .write.parquet(s"$dir/documents.parquet")
    // collect, not count: a bare count prunes every column and reads
    // only row-group row counts, so no column type is ever checked
    val e = intercept[org.apache.spark.SparkException](Tables.documents(spark, dir).collect())
    assert(e.getMessage.contains("n_chars"), e.getMessage)
  }

  test("no registered query infers a parquet schema while it is built") {
    val offenders = RegistrySweep.built.flatMap { q =>
      q.jobs.filter(j => !j.inSqlExecution && j.site.startsWith("parquet at"))
        .map(j => s"${q.name} -> ${j.site}")
    }
    assert(offenders.isEmpty,
      s"construction inferred a parquet schema; read driver tables via Tables:\n  ${offenders.mkString("\n  ")}")
  }
}
