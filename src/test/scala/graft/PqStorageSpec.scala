package graft

import org.apache.spark.sql.functions._

import graft.search.Ann

/** The q65/q203 build-once PQ gate (VERDICT r14 item 3): codebooks +
  * codes persist to a data-dir-fingerprinted store on first touch, later
  * calls are read-cost, the store round-trips the books bit-exactly, and
  * regenerating the data dir in place invalidates the key so stale
  * codebooks can never be served — the same discipline IvfStorageSpec
  * pins for the q28 index.
  */
class PqStorageSpec extends SparkSpec {
  import spark.implicits._

  private def writeEmbeddings(dir: String, n: Int): Unit =
    spark.range(n)
      // mixed multiplicative hashes give every row a distinct point in
      // each 2-dim subspace, so k-means can actually support ks clusters
      .select(col("id").cast("int").as("vec_id"),
        array((0 until 4).map(j =>
          ((col("id") * (j + 3) * 2654435761L + col("id") * col("id") * 97L)
            % 1000003L).cast("double") / 1000003.0): _*)
          .as("embedding"),
        concat(lit("l"), (col("id") % 3).cast("string")).as("label"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  /** `root` is a published build-once artifact: the root exists and no
    * staging sibling of it is left behind.
    */
  private def assertPublished(root: String): Unit = {
    val r = java.nio.file.Paths.get(root)
    assert(java.nio.file.Files.isDirectory(r), s"$root not published")
    val staging = r.getParent.toFile.list()
      .filter(_.startsWith(s".${r.getFileName}.staging-"))
    assert(staging.isEmpty, s"staging left beside $root: ${staging.mkString(", ")}")
  }

  test("PQ gate: build-once + persisted store + marker; key rolls on data change") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_gate").toString
    writeEmbeddings(dir, 64)

    val p1 = SparkEntry.pqPathFor(spark, dir)
    val i1 = SparkEntry.pqIndexFor(spark, dir)
    assertPublished(p1)

    // same JVM, same data -> the cached instance, no rebuild
    assert(SparkEntry.pqIndexFor(spark, dir) eq i1)

    // a fresh readPq (the next session's path) returns the SAME books
    // bit-exactly — doubles round-trip through parquet losslessly
    val reread = Ann.readPq(spark, p1)
    assert(reread.codebooks.length == i1.codebooks.length)
    for (j <- i1.codebooks.indices; c <- i1.codebooks(j).indices)
      assert(java.util.Arrays.equals(reread.codebooks(j)(c), i1.codebooks(j)(c)),
        s"codebook ($j, $c) did not round-trip the store")
    // and the codes table is complete
    assert(reread.encoded.count() == 64L)

    // regenerate the data dir in place (different row count -> different
    // leaf length, whatever the mtime granularity): the fingerprint key
    // must roll, forcing a retrain at a NEW path
    writeEmbeddings(dir, 80)
    val p2 = SparkEntry.pqPathFor(spark, dir)
    assert(p2 != p1, "data change did not roll the PQ store key")
    val i2 = SparkEntry.pqIndexFor(spark, dir)
    assert(!(i2 eq i1), "stale PQ index served after data change")
    assertPublished(p2)
    assert(i2.encoded.count() == 80L)
  }
}
