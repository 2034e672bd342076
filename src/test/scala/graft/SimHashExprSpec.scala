package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.SimHash

class SimHashExprSpec extends SparkSpec {
  import spark.implicits._

  test("native expression matches the HOF/oracle phrasing exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("hs", Dedup.tokenHashes(col("text")))
    val both = docs.select(
      SimHash($"hs").as("native"),
      Dedup.simhash("hs").as("hof")).collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("TokenHashes32 kernel == composed transform(tokens, h32) on the " +
    "sf0.001 corpus and whitespace edges") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
      .unionByName(Seq("\tlead tab", "trail\t", "a  b", "", "  spaced  ")
        .toDF("text"))
    val both = docs.select(
      Dedup.tokenHashes(col("text")).as("kernel"),
      Dedup.tokenHashesComposed(col("text")).as("composed")).collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"${r.getSeq[Long](0)} != ${r.getSeq[Long](1)}")
    }
  }

  test("hand-computed small cases") {
    // one hash 0b101 → bits 0 and 2 win (single positive vote), bit 1 loses
    val df = Seq(Seq(5L), Seq(0L), Seq(1L, 1L, 2L)).toDF("hs")
    val got = df.select(SimHash($"hs")).as[Long].collect()
    assert(got(0) == 5L)
    assert(got(1) == 0L) // all bits vote -1 → 0
    // bit 0: votes +1+1-1=1 → set; bit 1: -1-1+1=-1 → clear
    assert(got(2) == 1L)
  }

  test("empty array → all negative votes → 0") {
    val df = Seq(Seq.empty[Long]).toDF("hs")
    assert(df.select(SimHash($"hs")).as[Long].head() == 0L)
  }

  test("SQL surface: simhash32 registered via function registry") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash32", GraftExtensions.builder("simhash32"), "built-in")
    val got = spark.sql("SELECT simhash32(array(5L)) AS h").as[Long].head()
    assert(got == 5L)
  }
}
