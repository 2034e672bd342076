package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._

/** Every expression in `graft.functions` returns the same rows when
  * Spark evaluates it interpreted (no whole-stage codegen, no generated
  * projections) as under the default codegen path. The kernels behind
  * the `Kernel` shell call one `compute` either way; the classes that
  * keep their own Catalyst expression still carry two implementations
  * each, and this is the spec that holds them together. The input has
  * nulls in every column, null elements in the arrays that admit them,
  * empty values and non-ASCII text.
  */
class InterpretedCodegenSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("text", StringType),
    StructField("tokens", ArrayType(StringType)),
    StructField("hs", ArrayType(LongType, containsNull = false)),
    StructField("hs_nulls", ArrayType(LongType)),
    StructField("vf", ArrayType(FloatType)),
    StructField("vd", ArrayType(DoubleType)),
    StructField("bin", BinaryType)))

  private def frame: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row(1, "The quick brown fox and the lazy dog of the year",
        Seq("the", "of", "and", "the"), Seq(5L, 0L, 1L << 40, 77L),
        Seq(5L, null, 3L), Seq(1.0f, -2.0f, 0.5f), Seq(0.25, 0.0, -1.0),
        "abc".getBytes("UTF-8")),
      Row(2, "a b a b a b c d e f a b a b", Seq("a", null, "b", "a"),
        Seq.empty[Long], Seq.empty[java.lang.Long], Seq(0.0f, 0.0f, 0.0f),
        Seq(3.0, 4.0, 5.0), Array.emptyByteArray),
      Row(3, "", Seq.empty[String], Seq(9L), Seq(null),
        Seq(-1.0f, 2.0f, 3.0f), Seq(-0.5, 0.5, 1.5), Array[Byte](0, -1)),
      Row(4, "  Héllo\twörld 😀 und der die das el la de  ",
        Seq("der", "die", "la", "de"), Seq(1L, 2L, 3L, 4L, 5L), Seq(2L),
        Seq(1.0f, 1.0f, 1.0f), Seq(1.0, 1.0, 1.0), "😀".getBytes("UTF-8")),
      Row(5, null, null, null, null, null, null, null)), 2),
    schema)

  /** Every expression of `graft.functions` but the generator, by name. */
  private def exprs: Seq[(String, Column)] = {
    val text = col("text")
    val tokens = col("tokens")
    Seq(
      // the 18 kernels behind the Kernel shell
      "token_bigram_hashes" -> TokenBigramHashes(text),
      "token_ngram_hashes" -> TokenNgramHashes(text, 3),
      "token_pair_hashes" -> TokenPairHashes(text),
      "token_hashes32" -> TokenHashes32(text),
      "bpe_token_count" -> BpeTokenCount(lower(text)),
      "bucket_counts" -> BucketCounts(col("hs"), 4),
      "cdc_cut_positions" -> CdcCutPositions(text, 3),
      "char_class_counts" -> CharClassCounts(text),
      "fingerprints" -> Fingerprints(lower(text), 4, 2),
      "intra_doc_scrub" -> IntraDocScrub(tokens, 2),
      "kgram_hashes" -> KgramHashes(text, 3),
      "lang_id" -> LangId(tokens),
      "minhash_signature" -> MinHashSignature(tokens, 2, 4),
      "minhash_from_hashes" -> MinHashFromHashes(col("hs"), 4),
      "repetition_ratio" -> RepetitionRatio(text, 2),
      "segment_hashes" -> SegmentHashes(text, 2),
      "shingle_hashes" -> ShingleHashes(tokens, 2),
      "simhash32" -> SimHash(col("hs_nulls")),
      // the classes that keep their own expression
      "cosine_sim" -> CosineSimilarity(col("vf"), col("vd")),
      "bigram_weight_sum" -> BigramWeightSum(text, (1L to 7L).toIndexedSeq),
      "bloom_might_contain" ->
        BloomMightContain(text, Array(0x5a5a5a5aL, 0x0f0f0f0fL), 3),
      "multi_phrase_counts" -> MultiPhraseCounts(text, Seq("a b", "the")),
      "token_stats" -> TokenStats(text, Seq("the", "a", "of")),
      "sign_bucket_float" -> SignBucket(col("vf"), 3),
      "sign_bucket_double" -> SignBucket(col("vd")),
      "md5_prefix_string" -> Md5PrefixLong(text, 8),
      "md5_prefix_binary" -> Md5PrefixLong(col("bin"), 15))
  }

  /** `run`'s rows under interpreted evaluation and under the defaults. */
  private def bothWays(run: () => DataFrame): (Seq[Row], Seq[Row]) = {
    // rows, then the number of whole-stage codegen spans the run used
    def rowsAndSpans(df: DataFrame): (Seq[Row], Int) = {
      val rows = df.collect().toSeq
      (rows, collect(df.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec => w
      }.size)
    }
    val conf = spark.conf
    val (interpreted, spans) =
      try {
        conf.set("spark.sql.codegen.wholeStage", "false")
        conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        rowsAndSpans(run())
      } finally {
        conf.unset("spark.sql.codegen.wholeStage")
        conf.unset("spark.sql.codegen.factoryMode")
      }
    val (generated, generatedSpans) = rowsAndSpans(run())
    assert(spans == 0 && generatedSpans > 0)
    (interpreted, generated)
  }

  test("every graft.functions expression: interpreted rows == codegen rows") {
    exprs.foreach { case (name, e) =>
      val (interpreted, generated) = bothWays(() =>
        frame.select(col("id"), e.as("v")).orderBy("id"))
      assert(interpreted.size == 5, name)
      assert(interpreted == generated, name)
    }
  }

  test("chunk_text generator: interpreted rows == codegen rows") {
    val (interpreted, generated) = bothWays(() =>
      frame.select(col("id"),
        ChunkText(col("text"), 10, 3).as(Seq("i", "n", "c")))
        .orderBy("id", "i"))
    assert(interpreted.nonEmpty)
    assert(interpreted == generated)
  }

  test("a kernel keeps its name and nullability, and checks its input type") {
    val df = frame.select(RepetitionRatio(col("text")), LangId(col("tokens")))
    assert(df.columns.toSeq == Seq("repetition_ratio(text)", "lang_id(tokens)"))
    assert(df.schema.map(_.nullable) == Seq(true, false))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      frame.select(RepetitionRatio(col("id")))
    }
    assert(e.getMessage.contains("repetition_ratio expects string, got int"),
      e.getMessage)
  }
}
