package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native CDC boundary scan: the q175 cut-position detector as ONE
  * codegen expression instead of a per-position expression tree.
  *
  * The composed form (`filter(sequence(4, len), p -> md5-hex-parse of
  * substring(p-3, 4) % modulus = 0)`) pays, PER CHARACTER POSITION: a
  * boxed lambda step, a `substring`, an md5 → HEX STRING → `substr` →
  * `conv` parse chain — the same per-element expression overhead the
  * q137 kernel eliminated (21× there, r12). This kernel walks the code
  * points once and feeds each trailing 4-gram's UTF-8 bytes straight
  * into a thread-local MD5 — no hex strings, no per-position arrays.
  *
  * Bit-identical contract (DedupSpec asserts kernel == composed):
  * positions are 1-based SQL-substring positions over CODE
  * POINTS (Spark `length`/`substring` semantics); the returned array is
  * `[0, interior cuts asc, length]` exactly as the composed
  * `concat(array(0), filter(...), array(len))`, with texts shorter than
  * 4 chars yielding `[0, len]`.
  */
object CdcCutPositions {

  def apply(c: Column, modulus: Int): Column = {
    require(modulus >= 2, s"cdc_cut_positions needs modulus >= 2, got $modulus")
    Kernel.column(this, "cdc_cut_positions",
      ArrayType(IntegerType, containsNull = false), Seq(c -> StringType),
      Seq(modulus))
  }

  private val digestLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(s: UTF8String, modulus: Int): ArrayData = {
    val str = s.toString
    val nChars = str.codePointCount(0, str.length)
    if (nChars < 4)
      return new GenericArrayData(Array[Any](0, nChars))
    // char-unit offset of each code point (identity for BMP-only text)
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
    def gramBytes(p: Int): Array[Byte] = {
      // trailing 4-gram ending at position p (1-based SQL): code points
      // [p-4, p) zero-based
      val from = if (ascii) p - 4 else off(p - 4)
      val to = if (ascii) p else off(p)
      str.substring(from, to).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    val cuts = scala.collection.mutable.ArrayBuilder.make[Any]
    cuts += 0
    val md = digestLocal.get()
    var p = 4
    while (p < nChars) {
      md.reset()
      val d = md.digest(gramBytes(p))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      if (h % modulus == 0) cuts += p
      p += 1
    }
    cuts += nChars
    new GenericArrayData(cuts.result())
  }
}
