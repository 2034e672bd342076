package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native intra-document keep-first segment scrub over a token array:
  * w-token segments (space-joined), first occurrence kept, the cleaned
  * text re-joined with spaces — returning
  * struct(n_segments, n_dropped, cleaned_n_chars, cleaned_hash).
  *
  * Produces EXACTLY the values of the composed phrasing in
  * [[graft.text.CorpusOps.intraDocScrub]]: segments are
  * `array_join(slice(tokens, i·w+1, w), " ")`, duplicate detection is
  * string equality, cleaned text is the `__rn = 1` segments in position
  * order joined with " ", `cleaned_n_chars` its code-point length and
  * `cleaned_hash` its md5Int32 (first 8 md5 hex chars as a long).
  *
  * Why native (the r19 per-stage profile of q133 at sf1):
  * keep-first-within-doc has NO cross-document interaction, yet the composed
  * form exploded every segment, shuffled the segment STRINGS corpus-wide
  * twice (a (doc, seg) row_number window, then a groupBy(doc) whose aggregate
  * re-built the cleaned text via collect_list + array_sort +
  * array_join), ~70 MB of shuffle per run at sf1 — ALSO the round-18
  * chronic contention source, since those shuffle files stay on disk
  * until a driver GC. This kernel does the whole scrub per row
  * map-side; the only exchange left in q133 is the final top-k.
  */
object IntraDocScrub {

  val OutType: StructType = StructType(Seq(
    StructField("n_segments", LongType, nullable = false),
    StructField("n_dropped", LongType, nullable = false),
    StructField("cleaned_n_chars", LongType, nullable = false),
    StructField("cleaned_hash", LongType, nullable = false)))

  def apply(tokens: Column, w: Int): Column = {
    require(w >= 1, s"intra_doc_scrub needs w >= 1, got $w")
    Kernel.column(this, "intra_doc_scrub", OutType,
      Seq(tokens -> ArrayType(StringType)), Seq(w))
  }

  private val digestLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def compute(tokens: ArrayData, w: Int): InternalRow = {
    val nTok = tokens.numElements()
    val nSeg = (nTok + w - 1) / w // 0 when the token array is empty
    val seen = new java.util.HashSet[UTF8String](nSeg * 2)
    val cleaned = new java.lang.StringBuilder()
    var kept = 0
    var i = 0
    while (i < nSeg) {
      val sb = new java.lang.StringBuilder()
      var t = i * w
      val end = math.min(t + w, nTok)
      var first = true
      while (t < end) {
        if (!first) sb.append(' ')
        val tok = tokens.get(t, StringType).asInstanceOf[UTF8String]
        if (tok != null) sb.append(tok.toString)
        first = false
        t += 1
      }
      val seg = UTF8String.fromString(sb.toString)
      if (seen.add(seg)) {
        if (kept > 0) cleaned.append(' ')
        cleaned.append(seg.toString)
        kept += 1
      }
      i += 1
    }
    val cleanedU = UTF8String.fromString(cleaned.toString)
    val md = digestLocal.get()
    md.reset()
    val d = md.digest(cleanedU.getBytes)
    // first 8 hex chars of md5 = first 4 bytes, big-endian, unsigned
    // (md5Int32 contract)
    val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    new GenericInternalRow(Array[Any](
      nSeg.toLong, (nSeg - kept).toLong, cleanedU.numChars().toLong, h))
  }
}
