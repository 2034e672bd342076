package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MOSS-style fingerprints over an ALREADY-NORMALIZED text
  * column: md5-prefix hashes of every char k-gram, thinned to h ≡ 0
  * (mod modulo), distinct, in first-occurrence order — EXACTLY the
  * values of the expression form
  * ([[graft.text.TextAnalysis.fingerprintsOfNormalized]]) and its DuckDB
  * oracle.
  *
  * The expression form evaluates an interpreted lambda per k-gram
  * position (substr + cast + md5 + conv + cast through the HOF
  * interpreter); this kernel walks the string once with a reused
  * MessageDigest and a primitive hash set. The hash itself is still md5
  * per k-gram (the portability contract, see HashFunctions) — the win
  * is removing the interpreter and allocation overhead around it, not
  * the digest. K-gram positions are CHAR positions (substr semantics),
  * so the kernel operates on the decoded string, encoding each k-gram
  * window to UTF-8 for hashing exactly as `cast(substr(...) as binary)`
  * does.
  */
object Fingerprints {

  def apply(normalized: Column, k: Int = 16, modulo: Int = 16): Column =
    Kernel.column(this, "fingerprints", ArrayType(LongType, containsNull = false),
      Seq(normalized -> StringType), Seq(k, modulo))

  private val digestLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def compute(text: UTF8String, k: Int, modulo: Int): GenericArrayData = {
    val s = text.toString
    val md = digestLocal.get()
    // substr(s, i, k) for i in 1..max(len-k+1, 1): k-grams by CHAR index
    // (String is UTF-16; use offsets by code point? substr in Spark counts
    // code points — match via codePoint-aware stepping)
    val cps = s.codePoints().toArray
    val n = cps.length
    val nGrams = math.max(n - k + 1, 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < nGrams) {
      val end = math.min(i + k, n)
      val gram = new String(cps, i, end - i)
      md.reset()
      val h32 = {
        val d = md.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      }
      if (h32 % modulo == 0) seen.add(h32)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }
}
