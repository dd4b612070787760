package graft

import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("dot_product is callable from SQL after registration") {
    GraftExtensions.register(spark)
    val got = spark.sql(
      """SELECT dot_product(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                   array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d
        |""".stripMargin).collect()(0).getDouble(0)
    assert(got === 11.0)
  }

  test("avro_decode is callable from SQL with a literal schema") {
    GraftExtensions.register(spark)
    import java.io.ByteArrayOutputStream
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    val json = """{"type":"record","name":"r","fields":[{"name":"x","type":"int"}]}"""
    val sc = new Schema.Parser().parse(json)
    val rec: GenericRecord = new GenericData.Record(sc)
    rec.put("x", 42)
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get.binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](sc).write(rec, enc); enc.flush()
    import spark.implicits._
    Seq(out.toByteArray).toDF("bin").createOrReplaceTempView("avro_in")
    val got = spark.sql(
      s"SELECT avro_decode(bin, '$json').x FROM avro_in").collect()(0).getInt(0)
    assert(got === 42)
  }

  test("DESCRIBE FUNCTION reports the class a SQL entry builds") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.Literal
    val registry = spark.sessionState.functionRegistry
    val id = FunctionIdentifier("png_build")
    val className = registry.lookupFunction(id).map(_.getClassName)
    assert(className ===
      Some(registry.lookupFunction(id, Seq(Literal(7L))).getClass.getName))
    assert(className === Some("graft.functions.ObjectCall"))
    val described = spark.sql("DESCRIBE FUNCTION EXTENDED png_build")
      .collect().map(_.getString(0))
    assert(described.contains("Class: graft.functions.ObjectCall"),
      described.mkString("\n"))
  }
}
