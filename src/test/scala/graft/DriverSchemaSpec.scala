package graft

import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Driver-sortable-schema net (the r07 finding): the driver's
  * correctness gate sorts every result by all columns with pandas,
  * which crashes (`unhashable type: 'numpy.ndarray'`) on ARRAY / MAP /
  * STRUCT output cells — so a query can be hash-green in the local
  * `tools/check_oracle.py` sweep (which normalizes container cells)
  * yet red in the binding driver harness (q93_sum_map, round 7).
  *
  * This spec asserts the invariant at CI time: every registered
  * query's OUTPUT schema contains only scalar types. Container values
  * are fine internally (ARRAY_AGG feeding LIST_REDUCE folds, structs
  * feeding sort_array) — they just must be serialized to a canonical
  * scalar (the q24_array_agg `ARRAY_TO_STRING` precedent) before the
  * final projection.
  */
class DriverSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def containerFields(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if isContainer(f.dataType) => s"${f.name}: ${f.dataType.simpleString}"
    }.toSeq

  private def isContainer(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => true
    case _                                         => false
  }

  test("no registered query emits container-typed output columns") {
    val offenders = SparkEntry.registry.flatMap { q =>
      // .schema only triggers analysis, not execution — cheap for every
      // registered query.
      val bad = containerFields(q.run(spark, TestSpark.tiny).schema)
      if (bad.isEmpty) Nil else Seq(s"${q.name} -> ${bad.mkString(", ")}")
    }
    assert(offenders.isEmpty,
      "driver comparator cannot sort container columns; serialize them " +
        s"to canonical strings (see q24_array_agg):\n  ${offenders.mkString("\n  ")}")
  }
}
