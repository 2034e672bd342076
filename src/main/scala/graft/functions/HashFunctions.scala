package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hashes built from md5 hex prefixes.
  *
  * Spark's native `hash`/`xxhash64` are not reproducible in DuckDB, so
  * every operator whose output must be oracle-comparable (MinHash,
  * SimHash, fingerprints) derives integers from `md5(...)` instead:
  *
  *   Spark :  conv(substr(md5(x), 1, k), 16, 10)::long
  *   DuckDB:  ('0x' || substr(md5(x), 1, k))::BIGINT
  *
  * both yield the same non-negative integer (k <= 15 keeps it within a
  * signed 64-bit range). md5 is overkill cryptographically but it is the
  * one hash both engines share bit-for-bit, and it is the only hasher the
  * text and dedup kernels use: there is no switch to another hash.
  */
object HashFunctions {

  /** 32-bit non-negative hash of a string column (md5 prefix, 8 hex
    * chars). r19: computed by the native [[Md5PrefixLong]] kernel —
    * bit-identical to the documented conv/substring phrasing (which the
    * DuckDB oracles keep), without allocating and re-parsing the hex
    * string per evaluation. [[md5Int32Expr]] is the composed witness.
    */
  def md5Int32(c: Column): Column = Md5PrefixLong(c.cast("binary"), 8)

  /** 60-bit non-negative hash of a string column (md5 prefix, 15 hex chars). */
  def md5Int60(c: Column): Column = Md5PrefixLong(c.cast("binary"), 15)

  /** Composed expression-tree forms — the oracle-documenting twins the
    * specs assert the kernels against.
    */
  def md5Int32Expr(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")

  def md5Int60Expr(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Universal-family hash h_j(x) = (a_j * md5_32(x) + b_j) mod p, used by
    * MinHash. p is a prime > 2^32; a_j, b_j are derived deterministically
    * from the hash index j so both engines can reconstruct them.
    */
  val MinhashPrime: Long = 4294967311L // smallest prime > 2^32

  def minhashA(j: Int): Long = 2L * j + 1 // odd multipliers
  def minhashB(j: Int): Long = 1000000007L * (j + 1) % MinhashPrime
}
