package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BpeTokenCount, ChunkText, CosineSimilarity, LangId, MinHashSignature, RepetitionRatio, SimHash}
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
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"cosine_sim expects 2 arguments, got ${exprs.length}")
        CosineSimilarity(exprs(0), exprs(1))
      }))
    e.injectFunction((
      FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[SimHash].getName, "simhash32"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"simhash32 expects 1 argument, got ${exprs.length}")
        SimHash(exprs.head)
      }))
    e.injectFunction((
      FunctionIdentifier("bpe_token_count"),
      new ExpressionInfo(classOf[BpeTokenCount].getName, "bpe_token_count"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"bpe_token_count expects 1 argument, got ${exprs.length}")
        BpeTokenCount(exprs.head)
      }))
    e.injectFunction((
      FunctionIdentifier("lang_id"),
      new ExpressionInfo(classOf[LangId].getName, "lang_id"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"lang_id expects 1 argument (token array), got ${exprs.length}")
        LangId(exprs.head)
      }))
    e.injectFunction((
      FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"minhash_signature expects 1 argument (token array), got ${exprs.length}")
        MinHashSignature(exprs.head)
      }))
    e.injectFunction((
      FunctionIdentifier("repetition_ratio"),
      new ExpressionInfo(classOf[RepetitionRatio].getName, "repetition_ratio"),
      (exprs: Seq[Expression]) => {
        require(exprs.nonEmpty && exprs.length <= 2,
          s"repetition_ratio expects 1-2 arguments (text[, n]), got ${exprs.length}")
        val n =
          if (exprs.length < 2) 5
          else {
            require(exprs(1).foldable, "repetition_ratio n must be a literal")
            exprs(1).eval() match {
              case v: Number => v.intValue
              case other => throw new IllegalArgumentException(
                s"repetition_ratio n must be a non-null integer, got $other")
            }
          }
        RepetitionRatio(exprs.head, n)
      }))
    e.injectFunction((
      FunctionIdentifier("sign_bucket"),
      new ExpressionInfo(classOf[graft.functions.SignBucket].getName, "sign_bucket"),
      (exprs: Seq[Expression]) => {
        require(exprs.nonEmpty && exprs.length <= 2,
          s"sign_bucket expects 1-2 arguments (vector[, bits]), got ${exprs.length}")
        val bits =
          if (exprs.length < 2) 8
          else {
            require(exprs(1).foldable, "sign_bucket bits must be a literal")
            exprs(1).eval() match {
              case v: Number => v.intValue
              case other => throw new IllegalArgumentException(
                s"sign_bucket bits must be a non-null integer, got $other")
            }
          }
        graft.functions.SignBucket(exprs.head, bits)
      }))
    e.injectFunction((
      FunctionIdentifier("fingerprints"),
      new ExpressionInfo(classOf[graft.functions.Fingerprints].getName, "fingerprints"),
      (exprs: Seq[Expression]) => {
        require(exprs.nonEmpty && exprs.length <= 3,
          s"fingerprints expects 1-3 arguments (text[, k[, modulo]]), got ${exprs.length}")
        def intArg(i: Int, name: String, dflt: Int): Int =
          if (exprs.length <= i) dflt
          else {
            require(exprs(i).foldable, s"fingerprints $name must be a literal")
            exprs(i).eval() match {
              case v: Number => v.intValue
              case other => throw new IllegalArgumentException(
                s"fingerprints $name must be a non-null integer, got $other")
            }
          }
        graft.functions.Fingerprints(exprs.head,
          intArg(1, "k", 16), intArg(2, "modulo", 16))
      }))
    e.injectFunction((
      FunctionIdentifier("kgram_hashes"),
      new ExpressionInfo(classOf[graft.functions.KgramHashes].getName,
        "kgram_hashes"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"kgram_hashes expects 2 arguments (text, k), got ${exprs.length}")
        require(exprs(1).foldable, "kgram_hashes k must be a literal")
        val k = exprs(1).eval() match {
          case v: Number => v.intValue
          case other => throw new IllegalArgumentException(
            s"kgram_hashes k must be a non-null integer, got $other")
        }
        graft.functions.KgramHashes(exprs.head, k)
      }))
    e.injectFunction((
      FunctionIdentifier("cdc_cuts"),
      new ExpressionInfo(classOf[graft.functions.CdcCutPositions].getName,
        "cdc_cuts"),
      (exprs: Seq[Expression]) => {
        require(exprs.nonEmpty && exprs.length <= 2,
          s"cdc_cuts expects 1-2 arguments (text[, modulus]), got ${exprs.length}")
        val modulus =
          if (exprs.length < 2) 64
          else {
            require(exprs(1).foldable, "cdc_cuts modulus must be a literal")
            exprs(1).eval() match {
              case v: Number => v.intValue
              case other => throw new IllegalArgumentException(
                s"cdc_cuts modulus must be a non-null integer, got $other")
            }
          }
        graft.functions.CdcCutPositions(exprs.head, modulus)
      }))
    e.injectFunction((
      FunctionIdentifier("char_class_counts"),
      new ExpressionInfo(classOf[graft.functions.CharClassCounts].getName,
        "char_class_counts"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"char_class_counts expects 1 argument (text), got ${exprs.length}")
        graft.functions.CharClassCounts(exprs.head)
      }))
    e.injectFunction((
      FunctionIdentifier("sniff_format"),
      new ExpressionInfo(classOf[graft.multimodal.Multimodal.type].getName,
        "sniff_format"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"sniff_format expects 1 argument (binary payload), got ${exprs.length}")
        // built-in composition (hex/substring/case-when), not a custom
        // expression: the sniff rules expand as a plain Catalyst tree
        graft.multimodal.Multimodal.sniffFormatExpr(exprs.head)
      }))
    e.injectFunction((
      FunctionIdentifier("chunk_text"),
      new ExpressionInfo(classOf[ChunkText].getName, "chunk_text"),
      (exprs: Seq[Expression]) => {
        require(exprs.nonEmpty && exprs.length <= 3,
          s"chunk_text expects 1-3 arguments (text[, size[, overlap]]), " +
            s"got ${exprs.length}")
        def intArg(i: Int, name: String, dflt: Int): Int =
          if (exprs.length <= i) dflt
          else {
            val ex = exprs(i)
            require(ex.foldable, s"chunk_text $name must be a literal")
            ex.eval() match {
              case n: Number => n.intValue
              case other => throw new IllegalArgumentException(
                s"chunk_text $name must be a non-null integer, got $other")
            }
          }
        ChunkText(exprs.head,
          intArg(1, "chunk_size", Chunker.DefaultChunkSize),
          intArg(2, "overlap", Chunker.DefaultOverlap))
      }))
  }
}
