package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** n-gram word shingles as a native codegen'd expression.
  *
  * The HOF formulation (`transform(sequence(...), i => concat_ws(...))`)
  * runs interpreted (CodegenFallback) and re-evaluates per element — it
  * was the CPU hot spot of every near-dup query. This expression emits a
  * simple Java loop inside whole-stage codegen: one pass over the words
  * array per row, zero shuffles, so the per-row generation shape (the
  * right one at corpus scale — shingling before any exchange) is also the
  * fast one. Short inputs (< n words) yield an empty array, matching the
  * oracle's empty RANGE. The non-distinct path fills an exact-size array
  * (the output count is known up front); only the distinct path pays a
  * growable list.
  *
  * `distinct = true` dedups WITHIN the row (first-occurrence order —
  * exactly `array_distinct` semantics) via a row-local hash set, O(len)
  * per row inside codegen. This is what lets [[graft.operators.Dedup
  * .shingleRows]] emit distinct (doc_id, shingle) postings with NO
  * relational distinct: within a doc the expression dedups, across docs
  * doc_id differs — so the postings relation needs zero shuffles, where
  * the explode + `.distinct()` formulation paid a full hash-aggregate
  * exchange over the corpus' raw postings in every near-dup query.
  *
  * A bespoke expression, not an [[ObjectCall]]: its generated code is
  * an inline loop that builds the output array, not one method call.
  */
case class WordShingles(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {
  require(n >= 1)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val len = arr.numElements()
    if (len < n) new GenericArrayData(Array.empty[Any])
    else {
      val sep = UTF8String.fromString(" ")
      def shingleAt(i: Int): UTF8String = {
        val parts = new Array[UTF8String](n)
        var k = 0
        while (k < n) { parts(k) = arr.getUTF8String(i + k); k += 1 }
        UTF8String.concatWs(sep, parts: _*)
      }
      if (distinct) {
        val out = new java.util.ArrayList[Any](len - n + 1)
        val seen = new java.util.HashSet[UTF8String]()
        var i = 0
        while (i <= len - n) {
          val s = shingleAt(i)
          if (seen.add(s)) out.add(s)
          i += 1
        }
        new GenericArrayData(out.toArray)
      } else {
        val out = new Array[Any](len - n + 1)
        var i = 0
        while (i <= len - n) { out(i) = shingleAt(i); i += 1 }
        new GenericArrayData(out)
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val arrCls = classOf[GenericArrayData].getName
      val u8 = classOf[UTF8String].getName
      val lenVar = ctx.freshName("len")
      val outVar = ctx.freshName("out")
      val seenVar = ctx.freshName("seen")
      val partsVar = ctx.freshName("parts")
      val sVar = ctx.freshName("s")
      val iVar = ctx.freshName("i")
      val kVar = ctx.freshName("k")
      val body =
        if (distinct)
          s"""java.util.ArrayList<Object> $outVar =
             |  new java.util.ArrayList<Object>($lenVar - $n + 1);
             |java.util.HashSet<$u8> $seenVar = new java.util.HashSet<$u8>();
             |for (int $iVar = 0; $iVar <= $lenVar - $n; $iVar++) {
             |  $u8[] $partsVar = new $u8[$n];
             |  for (int $kVar = 0; $kVar < $n; $kVar++) {
             |    $partsVar[$kVar] = $c.getUTF8String($iVar + $kVar);
             |  }
             |  $u8 $sVar = $u8.concatWs($u8.fromString(" "), $partsVar);
             |  if ($seenVar.add($sVar)) $outVar.add($sVar);
             |}
             |${ev.value} = new $arrCls($outVar.toArray());""".stripMargin
        else
          s"""Object[] $outVar = new Object[$lenVar - $n + 1];
             |for (int $iVar = 0; $iVar <= $lenVar - $n; $iVar++) {
             |  $u8[] $partsVar = new $u8[$n];
             |  for (int $kVar = 0; $kVar < $n; $kVar++) {
             |    $partsVar[$kVar] = $c.getUTF8String($iVar + $kVar);
             |  }
             |  $outVar[$iVar] = $u8.concatWs($u8.fromString(" "), $partsVar);
             |}
             |${ev.value} = new $arrCls($outVar);""".stripMargin
      s"""
         |int $lenVar = $c.numElements();
         |if ($lenVar < $n) {
         |  ${ev.value} = new $arrCls(new Object[0]);
         |} else {
         |  $body
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  def apply(words: Column, n: Int): Column = apply(words, n, distinct = false)

  def apply(words: Column, n: Int, distinct: Boolean): Column =
    ColumnBridge.column(WordShingles(
      ColumnBridge.expression(words), n, distinct))
}
