package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** The one Catalyst expression behind this package's codec-free
  * walkers, hashes and kernels: `owner.method(children…, constants…)`
  * on a Scala object, printed in plans as `name(children…, constants…)`.
  *
  * Generated code calls `Owner$.MODULE$.method(...)` directly, so the
  * call stays inside whole-stage codegen with no UDF boundary. The
  * interpreted eval (constant folding, `NO_CODEGEN`) calls the same
  * method through reflection, resolved once per instance in a
  * transient field; planning and codegen never reflect, and the
  * expression itself holds only names and values, so it serializes
  * like any other.
  *
  * NULL in any child is NULL without a call. A result equal to
  * `nullOn` (a walker's per-call-site malformed-input sentinel) is
  * NULL. With `boxed`, the method returns the boxed form of a
  * primitive `dataType` and null means NULL: the form for results
  * whose every bit pattern is valid. Constants are `Int` or `Boolean`,
  * spliced into the generated call as literals. Locals come from
  * `ctx.freshName`, so any number of calls can share one projection.
  */
case class ObjectCall(
    name: String,
    owner: String,
    method: String,
    children: Seq[Expression],
    constants: Seq[Any],
    dataType: DataType,
    nullOn: Option[Long],
    boxed: Boolean) extends Expression {

  require(constants.forall(c => c.isInstanceOf[Int] || c.isInstanceOf[Boolean]),
    s"$name: constants must be Int or Boolean, got $constants")

  @transient private lazy val target: Method = {
    val arity = children.length + constants.length
    Class.forName(owner).getMethods
      .filter(m => m.getName == method && m.getParameterCount == arity) match {
      case Array(m) => m
      case ms => throw new IllegalArgumentException(
        s"$name: $owner.$method with $arity parameters matches ${ms.length} methods")
    }
  }
  @transient private lazy val module: AnyRef =
    Class.forName(owner).getField("MODULE$").get(null)

  override def prettyName: String = name
  override def flatArguments: Iterator[Any] = children.iterator ++ constants
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullable: Boolean =
    nullOn.isDefined || boxed || children.exists(_.nullable)

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length + constants.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    constants.foreach { c => args(i) = c.asInstanceOf[AnyRef]; i += 1 }
    val r = try target.invoke(module, args: _*)
      catch { case e: InvocationTargetException => throw e.getCause }
    if (r != null && nullOn.exists(_ == r.asInstanceOf[Number].longValue)) null
    else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val args = gens.map(_.value.toString) ++ constants.map(_.toString)
    val call = s"$owner.MODULE$$.$method(${args.mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    val r = ctx.freshName("r")
    val assign =
      if (boxed) s"""
        |${CodeGenerator.boxedType(dataType)} $r = $call;
        |if ($r == null) { ${ev.isNull} = true; }
        |else { ${ev.value} = $r.${javaType}Value(); }""".stripMargin
      else nullOn match {
        case Some(s) =>
          val sentinel = if (s == Long.MinValue) "java.lang.Long.MIN_VALUE" else s"${s}L"
          s"""
            |$javaType $r = $call;
            |if ($r == $sentinel) { ${ev.isNull} = true; } else { ${ev.value} = $r; }""".stripMargin
        case None => s"${ev.value} = $call;"
      }
    val init = s"$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
    if (nullable) {
      // Spark's n-ary null-safe shape: each child is evaluated only if
      // the ones before it are non-null
      val body = gens.zip(children).foldRight(s"${ev.isNull} = false;\n$assign") {
        case ((g, c), inner) =>
          g.code.toString + ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)
      }
      ev.copy(code = code"boolean ${ev.isNull} = true;\n$init\n$body")
    } else {
      val childCode = gens.map(_.code.toString).mkString("\n")
      ev.copy(code = code"$childCode\n$init\n$assign", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object ObjectCall {
  /** `owner.method(args…, constants…)` as a column named `name`;
    * `owner` is the Scala object that defines `method`. */
  def column(name: String, owner: AnyRef, method: String, dataType: DataType,
      args: Seq[Column], constants: Seq[Any] = Nil,
      nullOn: Option[Long] = None, boxed: Boolean = false): Column =
    ColumnBridge.column(ObjectCall(name, owner.getClass.getName, method,
      args.map(ColumnBridge.expression), constants, dataType, nullOn, boxed))
}
