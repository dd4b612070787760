package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType

/** Row-local 60-bit SimHash over a string array (the document's distinct
  * shingles): per element, the portable md5-prefix hash — identical to
  * `conv(substring(md5(shingle), 1, 15), 16, 10)`, i.e. the top 60 bits
  * of the MD5 digest — votes ±1 on each of 60 bit positions; a positive
  * sum sets the bit.
  *
  * Why a row-local call and not the relational form (explode → 60
  * conditional sums → repack): the votes of one document never need
  * other documents' rows, so the aggregation was a pure shuffle tax —
  * the postings exchange plus a 60-column hash aggregate over the whole
  * corpus. This computes the signature where the shingles already are,
  * one row at a time, zero exchanges; at 100 TB the signature stage
  * becomes embarrassingly parallel map work. Bit-identical to the
  * relational form (same per-shingle hash, same strict `sum > 0` tie
  * rule), which `DedupSpec` asserts.
  *
  * Docs with an EMPTY shingle array must be dropped by the caller
  * (`filter(size(ws) > 0)`) to preserve the explode semantics — the
  * relational form produced no group for them, while an all-zero
  * signature would spuriously bucket empty docs together.
  */
object SimHash60 {

  private val Bits = 60

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(arr: ArrayData): Long = {
    val md = digest.get()
    val n = arr.numElements()
    val votes = new Array[Int](Bits)
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(arr.getUTF8String(i).getBytes)
      // top 60 bits of the digest = the leading 15 hex chars of
      // md5()'s hex string = first 8 bytes big-endian, shifted off the
      // low nibble
      var h = 0L
      var k = 0
      while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
      h = h >>> 4
      var b = 0
      while (b < Bits) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sh = 0L
    var b = 0
    while (b < Bits) {
      if (votes(b) > 0) sh |= 1L << b
      b += 1
    }
    sh
  }

  def apply(ws: Column): Column =
    ObjectCall.column("simhash60", this, "compute", LongType, Seq(ws))
}
