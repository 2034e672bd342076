package graft

import org.apache.spark.sql.functions._
import graft.ops.Skew

/** Salted skew join (q219) and salted aggregation — output identity
  * with the plain join and the direct aggregation.
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  test("saltedJoin == plain join (inner and left) on skewed data with " +
    "keys missing from either side") {
    // key "hot" carries 1000 rows, light keys a handful; "noDim" has no
    // dim row (exercises left-join padding), dim key "unusedDim" has no
    // big-side rows
    val big = ((0 until 1000).map(i => ("hot", i.toLong)) ++
      (0 until 7).map(i => ("warm", 100L + i)) ++
      Seq(("cold", 1L), ("noDim", 9L))).toDF("k", "v")
    val dim = Seq(("hot", "H"), ("warm", "W"), ("cold", "C"),
      ("unusedDim", "U")).toDF("k", "tag")
    for (jt <- Seq("inner", "left")) {
      val plain = big.join(dim, Seq("k"), jt)
      val salted = Skew.saltedJoin(big, dim, "k", Seq("hot"), salt = 8,
        joinType = jt)
      assert(salted.columns.toSeq == plain.columns.toSeq)
      assert(sortedRows(salted) == sortedRows(plain), s"mismatch for $jt")
    }
  }

  test("saltedJoinAuto detects the heavy key and matches the plain " +
    "join; empty heavy set degrades to the plain join") {
    val big = ((0 until 500).map(i => ("hot", i.toLong)) ++
      (0 until 5).map(i => ("light", i.toLong))).toDF("k", "v")
    val dim = Seq(("hot", 1L), ("light", 2L)).toDF("k", "d")
    val auto = Skew.saltedJoinAuto(big, dim, "k", heavyThreshold = 100L,
      salt = 4)
    val plain = big.join(dim, Seq("k"))
    assert(sortedRows(auto) == sortedRows(plain))
    // threshold above every count -> no salting, still identical
    val none = Skew.saltedJoinAuto(big, dim, "k", heavyThreshold = 10000L)
    assert(sortedRows(none) == sortedRows(plain))
  }

  test("saltedJoin spreads a heavy key's rows across salt sub-keys") {
    val big = (0 until 640).map(i => ("hot", i.toLong)).toDF("k", "v")
    val dim = Seq(("hot", 1L)).toDF("k", "d")
    // peek at the pre-join salted frame through the same salting rule:
    // every one of the 8 sub-keys must receive rows (position-based
    // salt over 640 rows cannot collapse)
    val salted = big.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(8L)))
    assert(salted.select("__salt").distinct().count() == 8)
    // and the join result is still exactly 640 rows, each matched once
    assert(Skew.saltedJoin(big, dim, "k", Seq("hot"), salt = 8).count() == 640)
  }

  test("saltedJoinAuto refuses a degenerate heavy set; saltedJoin " +
    "rejects unsupported join types") {
    val big = (0 until 100).map(i => (s"k${i % 20}", i.toLong)).toDF("k", "v")
    val dim = big.select($"k", lit(1L).as("d")).distinct()
    val ex = intercept[IllegalArgumentException](
      Skew.saltedJoinAuto(big, dim, "k", heavyThreshold = 0L))
    assert(ex.getMessage.contains("threshold"))
    val ex2 = intercept[IllegalArgumentException](
      Skew.saltedJoinAuto(big, dim, "k", heavyThreshold = 1L,
        maxHeavyKeys = 10))
    assert(ex2.getMessage.contains("raise the threshold"))
    val ex3 = intercept[IllegalArgumentException](
      Skew.saltedJoin(big, dim, "k", Seq("k1"), joinType = "full"))
    assert(ex3.getMessage.contains("inner/left"))
  }

  test("saltedCountSum equals the direct aggregation (decomposable aggs)") {
    val df = (Seq.fill(500)(("hot", 2.0)) ++
      Seq(("a", 1.0), ("a", 3.0), ("b", -5.0)))
      .toDF("k", "v").repartition(8)
    val salted = Skew.saltedCountSum(df, "k", "v", salt = 8)
      .orderBy("k")
      .select($"k", $"n_rows", $"sum_value", $"min_value", $"max_value", $"avg_value")
      .as[(String, Long, Double, Double, Double, Double)].collect().toSeq
    val direct = df.groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"),
        min($"v").as("mn"), max($"v").as("mx"),
        (sum($"v") / count(lit(1))).as("av"))
      .orderBy("k")
      .as[(String, Long, Double, Double, Double, Double)].collect().toSeq
    assert(salted == direct)
  }
}
