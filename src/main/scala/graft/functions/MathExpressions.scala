package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.DoubleType

object MathExpressions {
  /** Natural log via `java.lang.Math.log` (the platform intrinsic, which
    * matches glibc's correctly-rounded `log` bit-for-bit — verified across
    * the corpus's argument range) instead of Spark's `StrictMath.log`
    * (fdlibm), which differs in the last ulp and breaks the DuckDB
    * hash-compare for scores derived from logs (TF-IDF, BM25).
    */
  def ln(v: Double): Double = java.lang.Math.log(v)

  /** ln with host-libm rounding (see [[ln]]). */
  def lnLibm(c: Column): Column =
    ObjectCall.column("ln_libm", this, "ln", DoubleType, Seq(c.cast(DoubleType)))
}
