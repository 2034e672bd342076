package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Native 32-bit SimHash over an array of (non-negative) token hashes.
  *
  * Bit i of the result is set when the sum of ±1 votes from bit i of each
  * token hash is positive — identical integer math to the HOF phrasing in
  * [[graft.dedup.Dedup.simhash]] and its DuckDB oracle, but ONE pass over
  * the token array maintaining 32 counters, instead of 32 interpreted
  * passes (higher-order functions don't participate in codegen). Inlines
  * into whole-stage codegen: the shape you want when fingerprinting a
  * 100 TB corpus.
  */
object SimHash {
  /** Column-API entry point: `SimHash(col("token_hashes"))`. */
  def apply(c: Column): Column =
    Kernel.column(this, "simhash32", LongType, Seq(c -> ArrayType(LongType)))

  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](32)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var b = 0
        while (b < 32) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      } else {
        // witness parity: the HOF form's IF((null div 2^i) % 2 = 1, 1, -1)
        // takes the -1 branch for every bit, so a null element votes -1
        // everywhere — skipping it would diverge from Dedup.simhash and
        // the DuckDB oracle on arrays containing nulls
        var b = 0
        while (b < 32) { votes(b) -= 1; b += 1 }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
