package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.functions.HashFunctions.{minhashA, minhashB, MinhashPrime}

/** MinHash signature derived from an ALREADY-HASHED shingle array — the
  * 60-bit md5-prefix values [[ShingleHashes]] emits — instead of
  * re-digesting every shingle.
  *
  * Why this is value-identical to [[MinHashSignature]] over the same
  * token array (r20, guide §2.3/§2.4 "compute the expensive thing
  * once"): both md5-prefix hashes are prefixes of the SAME digest —
  * md5Int32 is the first 32 bits, md5Int60 the first 60 — so
  * h32 = h60 >>> 28 exactly, per shingle. And the two deduplications
  * cannot diverge a minimum: [[MinHashSignature]] iterates every
  * shingle occurrence (duplicates never change a min), while
  * [[ShingleHashes]] keeps first occurrences of each 60-bit value —
  * any occurrence it drops has the same 60-bit hash as a survivor and
  * therefore the same 32-bit prefix, so the set of h32 values entering
  * each affine min is preserved. MinHashFromHashesSpec pins
  * MinHashFromHashes(ShingleHashes(w, n), k) == MinHashSignature(w, n, k)
  * row-for-row on real corpora and boundary shapes.
  *
  * This is what lets the whole LSH pairs+verify family run ONE
  * tokenize+shingle+digest pass per corpus: project
  * `shingleHashes(text)` once, checkpoint the longs, derive the
  * signature (k affine minima over in-memory longs — no md5, no
  * strings) and feed the verification intersects from the same column.
  * Previously the signature pass and each verify side re-digested the
  * corpus independently (3 kernel passes per nearDupPairs call).
  */
object MinHashFromHashes {

  def apply(hashes: Column,
            numHashes: Int = MinHashSignature.DefaultNumHashes): Column = {
    require(numHashes >= 1, s"minhash_from_hashes needs numHashes >= 1, got $numHashes")
    Kernel.column(this, "minhash_from_hashes", ArrayType(LongType, containsNull = false),
      Seq(hashes -> ArrayType(LongType)), Seq(numHashes))
  }

  /** k affine minima over the 32-bit prefixes (h60 >>> 28) of the input
    * hashes.
    */
  def compute(hashes: ArrayData, k: Int): GenericArrayData = {
    val n = hashes.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      // ShingleHashes arrays are containsNull = false by construction
      val h = hashes.getLong(i) >>> 28 // md5Int32 == md5Int60 >>> 28
      var j = 0
      while (j < k) {
        val v = (minhashA(j) * h + minhashB(j)) % MinhashPrime
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}
