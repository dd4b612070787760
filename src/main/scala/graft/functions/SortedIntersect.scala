package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType

/** Count of common elements between two SORTED long arrays — the verify
  * kernel of candidate-then-verify similarity joins.
  *
  * Why not `size(array_intersect(a, b))`: ArrayIntersect allocates and
  * fills a hash set per ROW evaluation and carries element objects;
  * over millions of candidate pairs the verify stage is exactly a tight
  * inner loop over fixed-width primitives, which this method runs
  * directly inside whole-stage codegen — a two-pointer merge over the
  * unsafe array data, zero allocation, zero boxing.
  *
  * CONTRACT: both inputs must be sorted ascending and duplicate-free
  * (e.g. `sort_array(collect_set(xxhash64(...)))`) — the merge neither
  * checks nor repairs order.
  */
object SortedIntersectCount {
  /** two-pointer merge count */
  def merge(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1L; i += 1; j += 1 }
    }
    c
  }

  def apply(a: Column, b: Column): Column =
    ObjectCall.column("sorted_intersect_count", this, "merge", LongType, Seq(a, b))
}
