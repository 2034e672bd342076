package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word n-gram repetition ratio (the Gopher-style boilerplate
  * signal): `1 − distinct/total` over the n-grams of the lowercased,
  * space-trimmed, whitespace-split token sequence; 0.0 when fewer than
  * n tokens exist. EXACTLY the value of the expression form
  * ([[graft.text.TextAnalysis.repetitionRatio]], the spec-asserted
  * witness) and of the DuckDB oracle.
  *
  * The expression form pays the HOF interpreter per gram (sequence →
  * transform → slice → concat_ws → array_distinct allocate arrays and
  * strings through non-codegen lambdas); this kernel tokenizes once and
  * walks a sliding window with one reused StringBuilder and a HashSet.
  * Gram identity stays STRING equality (not hash equality), so the
  * distinct count cannot diverge from the witness under collisions.
  */
object RepetitionRatio {

  def apply(text: Column, n: Int = 5): Column = {
    require(n >= 1, s"repetition_ratio n must be >= 1, got $n")
    Kernel.column(this, "repetition_ratio", DoubleType,
      Seq(text -> StringType), Seq(n))
  }

  def compute(text: UTF8String, n: Int): Double = {
    // trim (ASCII space, like Spark trim) then lower (Unicode, like
    // Spark lower) through UTF8String so the normalization is
    // bit-identical to the expression tree's trim/lower
    val s = text.trim().toLowerCase.toString
    // Spark split(str, "\\s+") = Java regex split keeping a leading
    // empty token when the string starts with non-space whitespace
    val w = s.split("\\s+", -1)
    if (w.length < n) return 0.0
    val total = w.length - n + 1
    val seen = new java.util.HashSet[String](total * 2)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < total) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(w(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    1.0 - seen.size.toDouble / total.toDouble
  }
}
