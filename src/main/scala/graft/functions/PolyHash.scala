package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd polynomial rolling hash (base 31, mod 1e9+7) over the code
  * points of a string — the native replacement for the interpreted
  * `aggregate(transform(sequence(...)))` fold that
  * [[graft.operators.TextAnalysis.polyHash]] originally planned: the
  * HOF shape evaluates an interpreted lambda (substr + ascii + mod
  * arithmetic) PER CHARACTER per row, which is exactly the per-row-cost
  * class the sign-matrix and byte-walker families were already migrated
  * off. One code-point loop in compiled code replaces it; the
  * arithmetic is the identical sequential fold — (acc·31 + cp) mod
  * 1e9+7 in code-point order, 0 seed — so every existing oracle
  * (DuckDB mirrors it with ASCII() over 1-char substrings) is
  * unchanged bit for bit.
  *
  * [[minWindow]] is the winnowing variant behind `text_fingerprint`:
  * the minimum window hash over all `win`-code-point windows, computed
  * in one O(win·n) pass over a decoded code-point array instead of the
  * interpreted O(win·n) lambda tree (which also re-ran substr's UTF-8
  * seek per element, making it effectively O(win·n²) on long docs).
  * Strings shorter than `win` return NULL (same contract as before).
  */
object PolyHash {

  private val Mod = 1000000007L

  /** full-string fold over code points (0 for the empty string —
    * matches the HOF form, whose empty-`sequence` edge also lands 0) */
  def fullHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** minimum `win`-window hash; -1 sentinel when the string has fewer
    * than `win` code points (mapped to NULL by the expression). */
  def minWindow(s: UTF8String, win: Int): Long = {
    val str = s.toString
    // decode once; code-point count can be < str.length with surrogates
    var n = 0
    var i = 0
    while (i < str.length) { n += 1; i += Character.charCount(str.codePointAt(i)) }
    if (n < win) return -1L
    val cps = new Array[Int](n)
    i = 0; var j = 0
    while (i < str.length) {
      val cp = str.codePointAt(i); cps(j) = cp; j += 1
      i += Character.charCount(cp)
    }
    var best = Long.MaxValue
    var w = 0
    while (w + win <= n) {
      var acc = 0L
      var k = 0
      while (k < win) { acc = (acc * 31 + cps(w + k)) % Mod; k += 1 }
      if (acc < best) best = acc
      w += 1
    }
    best
  }

  def full(text: Column): Column =
    ObjectCall.column("poly_hash", this, "fullHash", LongType, Seq(text))
  def minWindowCol(text: Column, win: Int): Column =
    ObjectCall.column("min_window_hash", this, "minWindow", LongType,
      Seq(text), Seq(win), nullOn = Some(-1L))
}
