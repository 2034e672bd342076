package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ColumnShim

import graft.functions._
import graft.text.Chunker

/** SparkSessionExtensions entry point: registers graft's native Catalyst
  * functions for the SQL surface, so `SELECT cosine_sim(a, b)` and
  * `SELECT simhash32(hs)` work in `spark.sql(...)` as well as through
  * the Column API.
  *
  * Wire-up: `withExtensions(new GraftExtensions)` on a session builder
  * or `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), build))
    }
}

private[graft] object GraftExtensions {

  type Builder = Seq[Expression] => Expression

  /** Every SQL function: its name and the builder of its expression from
    * the call's arguments. A kernel with a Column-API entry is built
    * through that entry, so SQL and the Column API share one
    * constructor.
    */
  val functions: Seq[(String, Builder)] = Seq(
    fn("cosine_sim", "a, b", 2, 2)(a => CosineSimilarity(a(0), a(1))),
    fn("simhash32", "hashes", 1, 1)(a => kernel(SimHash(col(a(0))))),
    fn("bpe_token_count", "text", 1, 1)(a => kernel(BpeTokenCount(col(a(0))))),
    fn("lang_id", "tokens", 1, 1)(a => kernel(LangId(col(a(0))))),
    fn("minhash_signature", "tokens", 1, 1)(a =>
      kernel(MinHashSignature(col(a(0))))),
    fn("repetition_ratio", "text[, n]", 1, 2)(a =>
      kernel(RepetitionRatio(col(a(0)), intArg("repetition_ratio", a, 1, "n", 5)))),
    fn("sign_bucket", "vector[, bits]", 1, 2)(a =>
      SignBucket(a(0), intArg("sign_bucket", a, 1, "bits", 8))),
    fn("fingerprints", "text[, k[, modulo]]", 1, 3)(a =>
      kernel(Fingerprints(col(a(0)), intArg("fingerprints", a, 1, "k", 16),
        intArg("fingerprints", a, 2, "modulo", 16)))),
    fn("kgram_hashes", "text, k", 2, 2)(a =>
      kernel(KgramHashes(col(a(0)), intArg("kgram_hashes", a, 1, "k", 0)))),
    fn("cdc_cuts", "text[, modulus]", 1, 2)(a =>
      kernel(CdcCutPositions(col(a(0)), intArg("cdc_cuts", a, 1, "modulus", 64)))),
    fn("char_class_counts", "text", 1, 1)(a =>
      kernel(CharClassCounts(col(a(0))))),
    // built-in composition (hex/substring/case-when), not a custom
    // expression: the sniff rules expand as a plain Catalyst tree
    fn("sniff_format", "binary payload", 1, 1)(a =>
      graft.multimodal.Multimodal.sniffFormatExpr(a(0))),
    fn("chunk_text", "text[, size[, overlap]]", 1, 3)(a =>
      ChunkText(a(0),
        intArg("chunk_text", a, 1, "chunk_size", Chunker.DefaultChunkSize),
        intArg("chunk_text", a, 2, "overlap", Chunker.DefaultOverlap))))

  /** The builder registered under `name`. */
  def builder(name: String): Builder =
    functions.collectFirst { case (`name`, b) => b }.getOrElse(
      throw new IllegalArgumentException(s"no graft SQL function $name"))

  private def fn(name: String, args: String, min: Int, max: Int)(
      build: Builder): (String, Builder) =
    name -> { (exprs: Seq[Expression]) =>
      require(exprs.length >= min && exprs.length <= max,
        s"$name expects ${if (min == max) s"$min" else s"$min-$max"} " +
          s"argument(s) ($args), got ${exprs.length}")
      build(exprs)
    }

  private def col(e: Expression): Column = ColumnShim.column(e)

  private def kernel(c: Column): Expression = ColumnShim.expression(c)

  /** The literal integer argument `i` of a call to `fn`, or `dflt` when
    * the call has fewer arguments.
    */
  private def intArg(fn: String, exprs: Seq[Expression], i: Int,
                     param: String, dflt: Int): Int =
    if (exprs.length <= i) dflt
    else {
      require(exprs(i).foldable, s"$fn $param must be a literal")
      exprs(i).eval() match {
        case v: Number => v.intValue
        case other => throw new IllegalArgumentException(
          s"$fn $param must be a non-null integer, got $other")
      }
    }
}
