package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native character-class counter for the entropy profile
  * ([[graft.text.CorpusOps.charEntropy]]): counts of 'a'..'z' (slots
  * 0-25), space (26) and every other code point (27) in ONE pass over
  * the string's UTF-8 bytes — the single-scan replacement for the
  * 28-replace length-delta chain, which re-traverses (and copies) the
  * text once per class. Value-identical to that chain (CorpusOpsSpec
  * pins bit equality, including multi-byte code points: the class
  * bytes are single ASCII bytes, UTF-8 lead/continuation bytes never
  * collide with them, and the other-bucket derives from the
  * code-point length so a surrogate counts once, like regexp_replace).
  *
  * Returns `array<long>` of length 28 in class order (a..z, space,
  * other).
  */
object CharClassCounts {

  /** Number of class slots: 26 letters + space + other. */
  val NumClasses: Int = 28

  def apply(c: Column): Column =
    Kernel.column(this, "char_class_counts",
      ArrayType(LongType, containsNull = false), Seq(c -> StringType))

  /** One byte pass; the other-bucket is numChars − Σ(class counts), so
    * multi-byte code points count once each (code-point semantics, the
    * same unit as Spark's `length`).
    */
  def compute(s: UTF8String): GenericArrayData = {
    val bytes = s.getBytes
    val out = new Array[Long](NumClasses)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b >= 'a' && b <= 'z') out(b - 'a') += 1
      else if (b == ' ') out(26) += 1
      i += 1
    }
    var sum = 0L
    var k = 0
    while (k < 27) { sum += out(k); k += 1 }
    out(27) = s.numChars() - sum
    new GenericArrayData(out)
  }
}
