package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import graft.functions.{CosineSimilarity, VectorFunctions}

class CosineExprSpec extends SparkSpec {
  import spark.implicits._

  /** Registers the builder GraftExtensions ships for `name`. */
  private def register(name: String): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, GraftExtensions.builder(name), "built-in")

  private def pairs = Seq(
    (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
    (Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)),
    (Seq(2.0, 0.0, 1.0), Seq(-3.0, 0.0, -1.5)),
    (Seq(0.0, 0.0, 0.0), Seq(1.0, 1.0, 1.0))
  ).toDF("a", "b")

  test("native expression matches hand-computed values incl. zero-norm guard") {
    val got = pairs.select(CosineSimilarity($"a", $"b")).as[Double].collect()
    assert(math.abs(got(0) - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))) < 1e-15)
    assert(got(1) == 0.0)
    assert(math.abs(got(2) - -1.0) < 1e-15) // antiparallel (fp-rounded)
    assert(got(3) == 0.0) // zero-norm → 0, not NaN
  }

  test("bit-identical to the higher-order-function form on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" === 0)
      .select($"embedding".as("qv"))
    val both = emb.crossJoin(broadcast(q))
      .select(
        CosineSimilarity($"embedding", $"qv").as("native"),
        VectorFunctions.cosineSimilarity(
          VectorFunctions.asDouble($"embedding"),
          VectorFunctions.asDouble($"qv")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    // exact equality — same fold order, so the doubles must match bitwise
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("float and double element types both accepted") {
    val f = Seq((Seq(1.0f, 2.0f), Seq(2.0, 4.0))).toDF("f", "d")
    val got = f.select(CosineSimilarity($"f", $"d")).as[Double].head()
    assert(math.abs(got - 1.0) < 1e-12)
  }

  test("dimension mismatch is a hard error (reference parity §2.9.8)") {
    val df = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(CosineSimilarity($"a", $"b")).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain(e).exists(_.getMessage.contains("dimension mismatch")))
  }

  test("SQL surface via function registration") {
    register("cosine_sim")
    val got = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS s")
      .as[Double].head()
    assert(got == 1.0)
  }

  test("GraftExtensions registers without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // injection itself must not throw
  }

  test("SQL surface: bpe_token_count / lang_id / minhash_signature") {
    Seq("bpe_token_count", "lang_id", "minhash_signature").foreach(register)
    assert(spark.sql("SELECT bpe_token_count('ab1 cd!') AS n")
      .as[Int].head() == 4) // ab, 1, cd, !
    assert(spark.sql("SELECT lang_id(array('the','of','and')) AS l")
      .as[String].head() == "en")
    val sig = spark.sql(
      "SELECT minhash_signature(array('a','b','c','d')) AS s")
      .as[Seq[Long]].head()
    assert(sig.length == 16 && sig.forall(_ >= 0))
  }

  test("SQL surface: sign_bucket / fingerprints") {
    Seq("sign_bucket", "fingerprints").foreach(register)
    // bits 0,1,3 positive → 1 + 2 + 8
    assert(spark.sql(
      "SELECT sign_bucket(array(1.0f, 2.0f, -3.0f, 0.5f), 4) AS b")
      .as[Long].head() == 11L)
    val fps = spark.sql("SELECT fingerprints('alpha beta gamma delta') AS f")
      .as[Seq[Long]].head()
    assert(fps.nonEmpty && fps.forall(_ >= 0))
  }

  test("SQL surface: kgram_hashes / cdc_cuts agree with the Column forms") {
    Seq("kgram_hashes", "cdc_cuts").foreach(register)
    val hs = spark.sql("SELECT kgram_hashes('abcdef', 3) AS h")
      .as[Seq[Long]].head()
    // 4 windows: abc bcd cde def — each equal to md5Int60 of the window
    def h60(x: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).take(8)
        .map(b => f"$b%02x").mkString.take(15), 16)
    assert(hs == Seq("abc", "bcd", "cde", "def").map(h60), hs.toString)
    val cuts = spark.sql("SELECT cdc_cuts('abcdef', 2) AS c")
      .as[Seq[Int]].head()
    assert(cuts.head == 0 && cuts.last == 6 && cuts == cuts.sorted,
      cuts.toString)
  }

  test("SQL surface: repetition_ratio with default and explicit n") {
    register("repetition_ratio")
    assert(spark.sql("SELECT repetition_ratio('a b c') AS r")
      .as[Double].head() == 0.0) // < 5 tokens
    val r2 = spark.sql("SELECT repetition_ratio('a b a b a b', 2) AS r")
      .as[Double].head()
    // grams: [a b, b a, a b, b a, a b] → 2 distinct of 5 → 0.6
    assert(math.abs(r2 - 0.6) < 1e-12)
  }

  test("SQL surface: sniff_format (built-in composition, not a custom expr)") {
    register("sniff_format")
    val got = spark.sql(
      """SELECT sniff_format(concat(unhex('89504E47'), cast('rest' as binary)))
        |  AS png,
        | sniff_format(cast('plain text' as binary)) AS unk""".stripMargin)
      .as[(String, String)].head()
    assert(got == ("png", "unknown"), got.toString)
  }
}
