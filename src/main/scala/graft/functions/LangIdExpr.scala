package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.text.TextAnalysis

/** Native language-ID over a token array: one pass scoring every token
  * against all stopword lists at once (hash-set membership), then the
  * same priority tie-break as the expression form
  * ([[TextAnalysis.langIdFromTokens]]) — first list in declaration order
  * reaching the max wins; zero hits everywhere → "unknown".
  *
  * The expression-tree phrasing walks the token array once per language
  * (5 interpreted `filter` lambdas per row); this is a single loop with
  * O(1) per-token membership tests, inlined into whole-stage codegen via
  * a static kernel. Value-identical by construction (same lists, same
  * counts, same tie order) — asserted by spec and the q16 DuckDB oracle.
  */
object LangId {

  // a null token array classifies as "unknown", matching the expression
  // form (its when-chain falls through null comparisons to the otherwise
  // branch), so the output is never null and `compute` takes the null
  def apply(tokens: Column): Column =
    Kernel.column(this, "lang_id", StringType,
      Seq(tokens -> ArrayType(StringType)), propagateNull = false)

  private val langs: Array[UTF8String] =
    TextAnalysis.StopwordLists.map(l => UTF8String.fromString(l._1)).toArray

  /** token → bitmask of the lists containing it (a token can be a
    * stopword in several languages, e.g. "la"/"de").
    */
  private val membership: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    TextAnalysis.StopwordLists.zipWithIndex.foreach { case ((_, words), i) =>
      words.foreach { w =>
        val k = UTF8String.fromString(w)
        val prev = m.getOrDefault(k, 0)
        m.put(k, prev | (1 << i))
      }
    }
    m
  }

  private val unknown = UTF8String.fromString("unknown")

  def compute(tokens: ArrayData): UTF8String = {
    if (tokens == null) return unknown
    val n = tokens.numElements()
    val scores = new Array[Int](langs.length)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val mask = membership.get(tokens.getUTF8String(i))
        if (mask != null) {
          val m = mask.intValue
          var j = 0
          while (j < langs.length) {
            if ((m & (1 << j)) != 0) scores(j) += 1
            j += 1
          }
        }
      }
      i += 1
    }
    var max = 0
    var j = 0
    while (j < langs.length) { if (scores(j) > max) max = scores(j); j += 1 }
    if (max == 0) return unknown
    j = 0
    while (j < langs.length) { // first list hitting the max wins (priority)
      if (scores(j) == max) return langs(j)
      j += 1
    }
    unknown // unreachable
  }
}
