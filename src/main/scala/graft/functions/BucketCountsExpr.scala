package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Per-row bucket histogram of a hash array: counts of `h % buckets`
  * over the input longs, emitted as array<struct<b:int, c:bigint>> in
  * first-occurrence order of the bucket.
  *
  * Why (r20, guide §2.3 "aggregate before you shuffle" taken all the
  * way to the map side): DSIR walks its hashed-bigram feature stream
  * twice — once to build the per-bucket distributions, once to score
  * every doc against the ratio table — and each walk re-ran the
  * TokenBigramHashes kernel (an md5 per bigram occurrence, the
  * operator's dominant CPU). Collapsing the per-doc stream to its
  * bucket histogram in the SAME map pass lets one narrow checkpoint
  * (id, histogram) feed both consumers: Σ_occurrences l(b) ≡
  * Σ_buckets c·l(b) exactly (integer arithmetic, no reordering of
  * anything but an integer sum), and no shuffle is added — the
  * histogram is computed before any exchange. DsirSpec pins the
  * kernel-histogram path == the composed per-occurrence phrasing.
  */
object BucketCounts {

  private val OutType: DataType = ArrayType(
    StructType(Seq(StructField("b", IntegerType, nullable = false),
      StructField("c", LongType, nullable = false))), containsNull = false)

  def apply(hashes: Column, buckets: Int): Column = {
    require(buckets >= 1, s"bucket_counts needs buckets >= 1, got $buckets")
    Kernel.column(this, "bucket_counts", OutType,
      Seq(hashes -> ArrayType(LongType)), Seq(buckets))
  }

  /** Single-pass histogram; input hashes are non-negative md5 prefixes
    * (containsNull = false arrays), so `% buckets` stays non-negative.
    */
  def compute(hashes: ArrayData, buckets: Int): GenericArrayData = {
    val n = hashes.numElements()
    val counts = new Array[Long](buckets)
    val order = new Array[Int](math.min(n, buckets))
    var nOut = 0
    var i = 0
    while (i < n) {
      val b = (hashes.getLong(i) % buckets).toInt
      if (counts(b) == 0L) { order(nOut) = b; nOut += 1 }
      counts(b) += 1L
      i += 1
    }
    val out = new Array[Any](nOut)
    i = 0
    while (i < nOut) {
      val b = order(i)
      out(i) = InternalRow(b, counts(b))
      i += 1
    }
    new GenericArrayData(out)
  }
}
