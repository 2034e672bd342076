package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native count of BPE-ish pre-tokens in an ALREADY-LOWERCASED string:
  * the number of matches of `[a-z]+|[0-9]+|[^a-z0-9\s]` — letter runs
  * and digit runs collapse to one token each, every other non-whitespace
  * code point counts alone.
  *
  * Counting needs no match materialization, so this replaces the
  * regexp_extract_all + size pipeline (which allocates an array of every
  * match per row and runs the regex engine interpreted) with one linear
  * scan over code points in whole-stage codegen. `\s` here is exactly
  * the Java/RE2 ASCII class `[ \t\n\x0B\f\r]`, matching what the regex
  * form (and the DuckDB oracle) treats as whitespace.
  */
object BpeTokenCount {

  def apply(c: Column): Column =
    Kernel.column(this, "bpe_token_count", IntegerType, Seq(c -> StringType))

  private final val S_OTHER = 0
  private final val S_LETTER = 1
  private final val S_DIGIT = 2

  /** Linear scan; iterates code points so astral-plane symbols count
    * once, exactly as a regex `.`-class match would.
    */
  def compute(s: UTF8String): Int = {
    val str = s.toString
    var n = 0
    var state = S_OTHER
    var i = 0
    val len = str.length
    while (i < len) {
      val cp = str.codePointAt(i)
      if (cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
          cp == '\f' || cp == '\r') {
        state = S_OTHER
      } else if (cp >= 'a' && cp <= 'z') {
        if (state != S_LETTER) { n += 1; state = S_LETTER }
      } else if (cp >= '0' && cp <= '9') {
        if (state != S_DIGIT) { n += 1; state = S_DIGIT }
      } else {
        n += 1 // symbols never merge into runs
        state = S_OTHER
      }
      i += Character.charCount(cp)
    }
    n
  }
}
