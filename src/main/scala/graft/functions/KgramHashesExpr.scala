package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native k-gram hash array: every overlapping k-character window's
  * 60-bit md5-prefix hash ([[HashFunctions.md5Int60]] contract — the
  * first 15 hex chars as a non-negative long), in position order.
  *
  * This is the q108 substring-dup scan kernel. The composed form
  * (explode a 1..len-k+1 sequence, then `md5 → hex → substr → conv` per
  * exploded ROW) pays the per-element expression chain AND copies the
  * full document text into every exploded row before the projection
  * prunes it — the same per-position overhead class the q137/q175
  * kernels eliminated (21×/2× there, r12). Here the kernel emits ONE
  * long array per document; `posexplode` then ships (pos, hash) pairs
  * — the text never survives into the exploded rows at all.
  *
  * DedupSpec asserts kernel == composed on boundary-length texts;
  * windows are CODE-POINT based (Spark substring semantics). Texts
  * shorter than k yield an empty array.
  */
object KgramHashes {

  def apply(c: Column, k: Int): Column = {
    require(k >= 2, s"kgram_hashes needs k >= 2, got $k")
    Kernel.column(this, "kgram_hashes", ArrayType(LongType, containsNull = false),
      Seq(c -> StringType), Seq(k))
  }

  private val digestLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(s: UTF8String, k: Int): ArrayData = {
    val str = s.toString
    val nChars = str.codePointCount(0, str.length)
    if (nChars < k) return new GenericArrayData(Array.emptyLongArray)
    val ascii = str.length == nChars
    val off: Array[Int] =
      if (ascii) null
      else {
        val a = new Array[Int](nChars + 1)
        var ci = 0; var cp = 0
        while (ci < str.length) {
          a(cp) = ci
          ci += Character.charCount(str.codePointAt(ci))
          cp += 1
        }
        a(nChars) = str.length
        a
      }
    val md = digestLocal.get()
    val out = new Array[Long](nChars - k + 1)
    var p = 0
    while (p <= nChars - k) {
      val from = if (ascii) p else off(p)
      val to = if (ascii) p + k else off(p + k)
      md.reset()
      val d = md.digest(str.substring(from, to)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex chars = bytes 0..6 (56 bits) plus byte 7's high
      // nibble — the md5Int60 contract
      var h = 0L
      var i = 0
      while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      out(p) = (h << 4) | ((d(7) & 0xf0L) >> 4)
      p += 1
    }
    new GenericArrayData(out)
  }
}
