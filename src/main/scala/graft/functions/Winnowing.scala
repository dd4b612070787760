package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** MOSS-style winnowing fingerprint selection as ONE codegen'd row-local
  * pass (Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for
  * Document Fingerprinting", SIGMOD 2003 — public algorithm).
  *
  * Per row: k-code-point gram hashes (the [[PolyHash]] base-31 mod 1e9+7
  * fold, so DuckDB mirrors each hash with the ASCII() fold already used
  * by `text_fingerprint`), then for every window of `w` consecutive gram
  * hashes select the minimum — rightmost on ties, the paper's rule —
  * and emit each selected (pos, hash) pair once. Selection is encoded in
  * a single BIGINT key `h·2³¹ + (2³¹−1−pos)` (h < 2³⁰, 1-based pos <
  * 2³¹−1): integer MIN on the key IS "min hash, rightmost position", so
  * the DuckDB oracle reproduces the selection with a plain windowed
  * MIN — no struct comparisons, no UDF on the oracle side.
  *
  * Consecutive windows picking the same (pos, hash) emit once (picked
  * positions are non-decreasing, so consecutive-dedup ≡ global distinct).
  * Strings with fewer than `k + w − 1` code points yield an empty array
  * — callers filter those out so both engines see the same domain.
  *
  * Scale shape: O(len·k) per row inside whole-stage codegen, no state
  * across rows; the winnowing density guarantee (≈ 2/(w+1) of grams)
  * bounds the downstream explode. */
object Winnowing {

  private val Mod = 1000000007L
  val PosBase: Long = 2147483648L // 2^31
  val PosMask: Long = 2147483647L // 2^31 − 1

  /** selected fingerprint keys, position-ascending; empty when the
    * string has fewer than k + w − 1 code points. */
  def winnowKeys(s: UTF8String, k: Int, w: Int): GenericArrayData = {
    val str = s.toString
    // decode once (code-point count < str.length with surrogates)
    var n = 0
    var i = 0
    while (i < str.length) { n += 1; i += Character.charCount(str.codePointAt(i)) }
    val m = n - k + 1 // gram count
    if (m < w) return new GenericArrayData(Array.empty[Any])
    val cps = new Array[Int](n)
    i = 0; var j = 0
    while (i < str.length) {
      val cp = str.codePointAt(i); cps(j) = cp; j += 1
      i += Character.charCount(cp)
    }
    // gram keys: h·2³¹ + (2³¹−1−pos), pos 1-based
    val keys = new Array[Long](m)
    var g = 0
    while (g < m) {
      var acc = 0L
      var t = 0
      while (t < k) { acc = (acc * 31 + cps(g + t)) % Mod; t += 1 }
      keys(g) = acc * PosBase + (PosMask - (g + 1))
      g += 1
    }
    // sliding-window min with consecutive-dedup (picks are
    // position-non-decreasing, so this is the distinct set)
    val out = new java.util.ArrayList[Any](2 * m / (w + 1) + 2)
    var last = -1L
    var end = w - 1
    while (end < m) {
      var best = keys(end)
      var off = 1
      while (off < w) {
        val cand = keys(end - off)
        if (cand < best) best = cand
        off += 1
      }
      if (best != last) { out.add(best); last = best }
      end += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** text → array of selected winnowing keys (never null for non-null
    * input; empty below k+w−1 code points). */
  def winnowKeysCol(text: Column, k: Int, w: Int): Column = {
    require(k >= 1 && w >= 1)
    ObjectCall.column("winnow_keys", this, "winnowKeys",
      ArrayType(LongType, containsNull = false), Seq(text), Seq(k, w))
  }
}
