package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Codegen'd ±1 sign-matrix projections — the one-pass replacement for
  * the interpreted `aggregate(zip_with(vec, sequence(...)))` fold family
  * (the r06 `weak` on sim_random_projection / lshSignature / the IVF/PQ
  * quantizers): Spark evaluates higher-order-function lambdas interpreted,
  * per row, per plane, re-deriving the plane sign via a Catalyst xxhash64
  * call per element — 32 planes × 64 dims ≈ 2k interpreted evals per row
  * on the operator whose whole purpose is to be the cheap map-side step
  * at 100 TB. Here the sign matrix is materialized ONCE at class-load
  * (same xxhash64(p, i) parity derivation — the cross-engine determinism
  * contract is unchanged) and each row is a single static-call walk:
  * nPlanes running sums updated in one pass over the vector, inside
  * whole-stage codegen.
  *
  * Semantics contract (bit-parity with the fold it replaces and with the
  * DuckDB oracle's inlined-sign `list_reduce`): per plane p, sequential
  * accumulation in array order of `(double) x_i * sign(p, i)` with seed
  * 0.0, where `i` indexes the INPUT ARRAY locally (so a 16-dim slice
  * uses sign columns 0..15 — the PQ subspace convention). The optional
  * `scale` multiplies the finished fold (JL's 1/√16 — applied after the
  * sum, exactly as the `proj * 0.25` column did). Sign bits pack as
  * `(proj_p >= 0 ? 1 : 0) << p`, matching `lshSignature`'s foldLeft.
  */
object SignMatrix {

  /** Plane capacity (annLsh 0..31, IVF 32..35, PQ 36..51, JL 52..67,
    * embedding-dedup LSH bands 68..323 — see
    * [[graft.operators.Dedup.bandedCosinePairs]]). The matrix costs
    * 8 bytes × MaxPlanes × MaxDim once per JVM (~166 KB at 324). */
  val MaxPlanes = 324

  /** First plane of the 32×8 banded-cosine allocation. */
  val CosineBandBase = 68
  /** Max vector length any plane is applied over. */
  val MaxDim = 64

  /** Flat [plane × MaxDim] sign matrix from the parity of
    * xxhash64(p, i) — identical derivation to the interpreted signBit
    * expression it replaces, evaluated once per JVM instead of per
    * row per element. */
  lazy val signs: Array[Double] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val out = new Array[Double](MaxPlanes * MaxDim)
    var p = 0
    while (p < MaxPlanes) {
      var i = 0
      while (i < MaxDim) {
        val h = XxHash64(Seq(Literal(p), Literal(i)), 42L)
          .eval(null).asInstanceOf[Long]
        out(p * MaxDim + i) = if ((h & 1L) == 1L) 1.0 else -1.0
        i += 1
      }
      p += 1
    }
    out
  }

  /** Host-side sign lookup (oracle SQL inlining, spec support). */
  def sign(p: Int, i: Int): Double = signs(p * MaxDim + i)

  /** One-pass multi-plane projection; called from generated code. */
  def project(arr: ArrayData, planeBase: Int, nPlanes: Int,
      isFloat: Boolean, scale: Double): ArrayData = {
    val n = math.min(MaxDim, arr.numElements())
    val out = new Array[Double](nPlanes)
    var i = 0
    while (i < n) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      val row = (planeBase * MaxDim) + i
      var p = 0
      while (p < nPlanes) {
        out(p) += x * signs(row + p * MaxDim)
        p += 1
      }
      i += 1
    }
    if (scale != 1.0) {
      var p = 0
      while (p < nPlanes) { out(p) *= scale; p += 1 }
    }
    new GenericArrayData(out)
  }

  /** One-pass packed sign bits; called from generated code. */
  def packBits(arr: ArrayData, planeBase: Int, nPlanes: Int,
      isFloat: Boolean): Long = {
    val n = math.min(MaxDim, arr.numElements())
    val acc = new Array[Double](nPlanes)
    var i = 0
    while (i < n) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      val row = (planeBase * MaxDim) + i
      var p = 0
      while (p < nPlanes) {
        acc(p) += x * signs(row + p * MaxDim)
        p += 1
      }
      i += 1
    }
    var bits = 0L
    var p = 0
    while (p < nPlanes) {
      if (acc(p) >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  private def checkVec(dt: DataType, name: String)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$name expects array<float|double>, got ${other.catalogString}")
  }

  private def isFloatArr(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  private val Cls = SignMatrix.getClass.getName.stripSuffix("$") + "$.MODULE$"

  /** array<double> of raw projections for planes
    * planeBase..planeBase+nPlanes-1 (each × scale). Bespoke, not an
    * [[ObjectCall]]: the call's `isFloat` depends on the resolved input type. */
  case class Project(child: Expression, planeBase: Int, nPlanes: Int,
      scale: Double = 1.0) extends UnaryExpression {
    require(planeBase >= 0 && planeBase + nPlanes <= MaxPlanes)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "sign_matrix_project"
    override def checkInputDataTypes() = checkVec(child.dataType, prettyName)
    private def isFloat = isFloatArr(child.dataType)
    override def nullSafeEval(v: Any): Any =
      project(v.asInstanceOf[ArrayData], planeBase, nPlanes, isFloat, scale)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev,
        c => s"${ev.value} = $Cls.project($c, $planeBase, $nPlanes, $isFloat, $scale);")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Packed sign bits (bit p = proj_p >= 0) for planes
    * planeBase..planeBase+nPlanes-1. Bespoke, not an [[ObjectCall]]:
    * the call's `isFloat` depends on the resolved input type. */
  case class PackBits(child: Expression, planeBase: Int, nPlanes: Int)
      extends UnaryExpression {
    require(planeBase >= 0 && planeBase + nPlanes <= MaxPlanes && nPlanes <= 63)
    override def dataType: DataType = LongType
    override def prettyName: String = "sign_matrix_bits"
    override def checkInputDataTypes() = checkVec(child.dataType, prettyName)
    private def isFloat = isFloatArr(child.dataType)
    override def nullSafeEval(v: Any): Any =
      packBits(v.asInstanceOf[ArrayData], planeBase, nPlanes, isFloat)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev,
        c => s"${ev.value} = $Cls.packBits($c, $planeBase, $nPlanes, $isFloat);")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def projectCol(vec: Column, planeBase: Int, nPlanes: Int,
      scale: Double = 1.0): Column =
    ColumnBridge.column(
      Project(ColumnBridge.expression(vec), planeBase, nPlanes, scale))

  def bitsCol(vec: Column, planeBase: Int, nPlanes: Int): Column =
    ColumnBridge.column(
      PackBits(ColumnBridge.expression(vec), planeBase, nPlanes))
}
