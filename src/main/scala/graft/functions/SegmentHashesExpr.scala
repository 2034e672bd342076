package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native hashes of the FULL non-overlapping `segLen`-token segments of
  * a text — the counting side of segment-granular boilerplate removal /
  * benchmark scrubbing (q85/q96).
  *
  * Produces EXACTLY the values of the composed phrasing the reassembly
  * path keeps using (`Dedup.segmentRows` rows with idx < nseg, hashed
  * with [[HashFunctions.md5Int32]]): tokenization is
  * `split(lower(trim(text)), '\s+')` with keep-trailing-empties limit
  * -1 (the [[TokenStats]] discipline), nseg = ⌊tokens / segLen⌋,
  * segment j = tokens[j·segLen .. (j+1)·segLen−1] joined with single
  * spaces, hash = first 8 md5 hex chars as a non-negative long
  * (md5Int32 contract — first 4 digest bytes, big-endian). One hash per
  * segment OCCURRENCE, in order (no dedup: the boilerplate counter
  * aggregates countDistinct(doc) and the benchmark set distincts the
  * hash — both unchanged by within-doc duplicates). The tail remainder
  * (idx = nseg) is NOT emitted, exactly like the `idx < nseg` filter it
  * replaces.
  *
  * Why native (the r19 per-stage profile of q85/q96): the composed counting
  * pass re-ran tokenize + slice + array_join — a string allocation per
  * segment — purely to hash and drop the string; the rewrite side needs
  * those strings (the output text), the counting side never did.
  */
object SegmentHashes {

  def apply(text: Column, segLen: Int): Column = {
    require(segLen >= 1, s"segment_hashes needs segLen >= 1, got $segLen")
    Kernel.column(this, "segment_hashes", ArrayType(LongType, containsNull = false),
      Seq(text -> StringType), Seq(segLen))
  }

  private val digestLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def compute(s: UTF8String, segLen: Int): GenericArrayData = {
    val toks = s.trim().toLowerCase.toString.split("\\s+", -1)
    val nSeg = toks.length / segLen
    val out = new Array[Long](nSeg)
    if (nSeg > 0) {
      val md = digestLocal.get()
      val space = ' '.toByte
      var j = 0
      while (j < nSeg) {
        md.reset()
        var t = 0
        while (t < segLen) {
          if (t > 0) md.update(space)
          md.update(toks(j * segLen + t).getBytes("UTF-8"))
          t += 1
        }
        val d = md.digest()
        // first 8 hex chars of md5 = first 4 bytes, big-endian (md5Int32)
        out(j) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
                 ((d(2) & 0xffL) << 8)  |  (d(3) & 0xffL)
        j += 1
      }
    }
    new GenericArrayData(out)
  }
}
