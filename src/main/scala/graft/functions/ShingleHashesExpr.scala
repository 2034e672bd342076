package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native distinct word-n-gram shingle hashes over a token array: the
  * 60-bit md5-prefix hash ([[HashFunctions.md5Int60]] contract — first
  * 15 hex chars as a non-negative long) of every distinct shingle, in
  * first-occurrence order.
  *
  * Produces EXACTLY the values of the expression-tree phrasing
  * `transform(Dedup.shingles(text, n), md5Int60)` (and its DuckDB
  * oracle): shingle = tokens[i..i+n-1] joined with ' ', whole-token-array
  * fallback when fewer than n tokens, distinct with first occurrence
  * kept. Distinctness is over the hash VALUE; two distinct shingles
  * colliding in 60 bits would merge — the same measure-zero caveat the
  * q97 inverted index pinned (the oracle replays the identical
  * md5-prefix hash, so parity is unaffected).
  *
  * Why native (the r19 per-stage profile of q131/q130): the composed form
  * pays interpreted higher-order functions per shingle (transform + slice +
  * concat_ws allocate a string per window) plus array_distinct over
  * strings — measured ~19 ms/doc at sf0.1, 94 CPU-seconds for a 5 k-doc
  * corpus before a single hash left the map stage. This kernel runs one
  * tight digest loop with zero intermediate strings and stays inside
  * whole-stage codegen via a static helper call.
  */
object ShingleHashes {

  def apply(tokens: Column, n: Int): Column = {
    require(n >= 1, s"shingle_hashes needs n >= 1, got $n")
    Kernel.column(this, "shingle_hashes", ArrayType(LongType, containsNull = false),
      Seq(tokens -> ArrayType(StringType)), Seq(n))
  }

  private val digestLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** One-pass shingle→md5Int60→distinct kernel. */
  def compute(tokens: ArrayData, n: Int): GenericArrayData = {
    val nTok = tokens.numElements()
    val md = digestLocal.get()
    val nShingles = if (nTok >= n) nTok - n + 1 else 1
    val width = if (nTok >= n) n else nTok
    val space = ' '.toByte
    val seen = new java.util.HashSet[java.lang.Long](nShingles * 2)
    val out = new Array[Long](nShingles)
    var nOut = 0
    var i = 0
    while (i < nShingles) {
      md.reset()
      var t = 0
      while (t < width) {
        if (t > 0) md.update(space)
        val tok = tokens.get(i + t, StringType).asInstanceOf[UTF8String]
        if (tok != null) md.update(tok.getBytes)
        t += 1
      }
      val d = md.digest()
      // first 15 hex chars of md5 = first 7 bytes + the high nibble of
      // byte 7, big-endian, non-negative (md5Int60 contract)
      val h = ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) |
              ((d(2) & 0xffL) << 36) | ((d(3) & 0xffL) << 28) |
              ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
              ((d(6) & 0xffL) << 4)  | ((d(7) & 0xffL) >>> 4)
      if (seen.add(h)) { out(nOut) = h; nOut += 1 }
      i += 1
    }
    new GenericArrayData(
      if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut))
  }
}
