package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass bigram weight-sum: the q137 quality-classifier
  * kernel as ONE codegen expression instead of a per-bigram expression
  * tree.
  *
  * The composed form (`tokenNgrams(text, 2)` → `transform(weightOf)` →
  * `aggregate`) pays, PER BIGRAM: an array `slice`, an `array_join`
  * string allocation, an md5 → HEX STRING → `substring` → `conv` parse
  * chain, and a boxed lambda step — and the round-11/12 measurements
  * proved the digest itself is NOT the cost, the per-bigram expression
  * machinery is. This kernel tokenizes once (identical semantics:
  * `split(lower(trim(text)), '\s+')` with Spark's keep-trailing-empties
  * limit = -1), then per bigram feeds the two token byte slices straight
  * into a thread-local MD5 and indexes the broadcast weight table — no
  * hex strings, no per-bigram arrays, no lambda.
  *
  * Semantics are bit-identical to the composed form (first-4-bytes-
  * big-endian of md5("tok1 tok2") mod buckets, the
  * `HashFunctions.md5Int32` contract the DuckDB oracle replays) —
  * CorpusOpsSpec asserts kernel == composed.
  *
  * Returns struct(wsum BIGINT, n_bigrams BIGINT); a sub-2-token text
  * yields (0, 0), which the caller's `n_bigrams > 0` filter drops —
  * exactly the composed form's empty-array semantics.
  */
case class BigramWeightSum(child: Expression, weights: IndexedSeq[Long])
  extends UnaryExpression {

  // case-class field is an IndexedSeq (content equals/hashCode) so two
  // semantically identical instances canonicalize equal — an Array field
  // compares by reference and defeats Catalyst CSE (ADVICE r12); the
  // eval/codegen hot path still sees a primitive long[]
  @transient private lazy val weightsArr: Array[Long] = weights.toArray

  override def dataType: DataType = BigramWeightSum.Schema

  override def prettyName: String = "bigram_weight_sum"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string column, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    BigramWeightSum.compute(input.asInstanceOf[UTF8String], weightsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("bigramWeights", weightsArr, "long[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.BigramWeightSum.compute($a, $w);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native token-bigram hash array: the 60-bit md5 prefix
  * ([[HashFunctions.md5Int60]] contract) of every adjacent
  * whitespace-token pair "tokᵢ SP tokᵢ₊₁", in position order — the DSIR
  * (q109) feature extractor as one codegen scan. Replaces the
  * transform(concat_ws) + per-element md5-hex-parse tree (the q137
  * overhead class); DsirSpec pins kernel == composed. Tokenization is
  * exactly `split(lower(trim(text)), '\s+')` with Spark's
  * keep-trailing-empties limit -1 and NO empty-token filter (the
  * composed `element_at` form kept them too). Sub-2-token text yields
  * an empty array.
  */
object TokenBigramHashes {

  def apply(c: Column): Column =
    Kernel.column(this, "token_bigram_hashes",
      ArrayType(LongType, containsNull = false), Seq(c -> StringType))

  private val digestLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(s: UTF8String): ArrayData = {
    val toks = s.trim().toLowerCase.toString.split("\\s+", -1)
    if (toks.length < 2)
      return new GenericArrayData(Array.emptyLongArray)
    val bytes = new Array[Array[Byte]](toks.length)
    var i = 0
    while (i < toks.length) {
      bytes(i) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    val md = digestLocal.get()
    val out = new Array[Long](toks.length - 1)
    var j = 0
    while (j < toks.length - 1) {
      md.reset()
      md.update(bytes(j))
      md.update(' '.toByte)
      md.update(bytes(j + 1))
      val d = md.digest()
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      out(j) = (h << 4) | ((d(7) & 0xf0L) >> 4)
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Native token n-gram hash array: the 60-bit md5 prefix
  * ([[HashFunctions.md5Int60]] contract) of every n-token window
  * "tok₁ SP … SP tokₙ" of `lower(trim(text))`, in position order — the
  * generalization of [[TokenBigramHashes]] to any n (bit-identical to
  * it at n = 2, spec-pinned). Lets the within-doc repeat audit (q121)
  * and any n-gram-vocabulary aggregate shuffle fixed 8-byte longs
  * instead of n-token strings: the composed form pays an array slice +
  * array_join allocation + md5-hex-parse chain PER WINDOW (the q137
  * overhead class). Sub-n-token text yields an empty array
  * (tokenNgrams' `size >= n` semantics); tokenization is
  * `split(lower(trim(text)), '\s+')` limit -1, no empty filter.
  */
object TokenNgramHashes {

  def apply(c: Column, n: Int): Column = {
    require(n >= 1, s"token_ngram_hashes needs n >= 1, got $n")
    Kernel.column(this, "token_ngram_hashes",
      ArrayType(LongType, containsNull = false), Seq(c -> StringType), Seq(n))
  }

  private val digestLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(s: UTF8String, n: Int): ArrayData = {
    val toks = s.trim().toLowerCase.toString.split("\\s+", -1)
    if (toks.length < n)
      return new GenericArrayData(Array.emptyLongArray)
    val bytes = new Array[Array[Byte]](toks.length)
    var i = 0
    while (i < toks.length) {
      bytes(i) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    val out = new Array[Long](toks.length - n + 1)
    val md = digestLocal.get()
    var j = 0
    while (j < out.length) {
      md.reset()
      var w = 0
      while (w < n) {
        if (w > 0) md.update(' '.toByte)
        md.update(bytes(j + w))
        w += 1
      }
      val d = md.digest()
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      out(j) = (h << 4) | ((d(7) & 0xf0L) >> 4)
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Native adjacent-token hash-pair array: for every adjacent
  * whitespace-token pair of `lower(trim(text))`, the 60-bit md5 prefix
  * ([[HashFunctions.md5Int60]] contract) of EACH token separately —
  * struct(h1, h2) in position order. This is the q160 Kneser–Ney
  * feature extractor: the LM's joins (pairs ⋈ cab ⋈ ctx ⋈ lcont) need
  * w1 and w2 as SEPARATE keys, so the combined-pair hash
  * [[TokenBigramHashes]] emits cannot serve them; hashing each token
  * once moves every downstream shuffle from variable-length string keys
  * into fixed 8-byte longs (the measured ~2× class, q83/PERF.md r12).
  *
  * Each distinct token is digested once per occurrence position but the
  * per-token byte encoding is done once per token slot, same as the
  * sibling kernels; a sub-2-token text yields an empty array (the
  * composed form's `size >= 2` filter semantics). Tokenization is
  * exactly `split(lower(trim(text)), '\s+')` with keep-trailing-empties
  * limit -1 and NO empty-token filter, matching
  * [[graft.text.TextAnalysis.tokens]] and the DuckDB oracle's
  * regexp_split_to_array. 60-bit collision odds on a V-token
  * vocabulary are ~V²/2^61 (V = 10⁶ → 4·10⁻⁷) — and the oracle replays
  * the identical hash, so a collision changes both engines identically.
  */
object TokenPairHashes {

  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false))), containsNull = false)

  def apply(c: Column): Column =
    Kernel.column(this, "token_pair_hashes", Schema, Seq(c -> StringType))

  private val digestLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** md5Int60: first 15 hex chars of md5 = 7 bytes + high nibble of the
    * 8th, big-endian — `('0x' || substr(md5(t), 1, 15))::BIGINT` in the
    * oracle.
    */
  private def h60(md: java.security.MessageDigest, tok: Array[Byte]): Long = {
    md.reset()
    val d = md.digest(tok)
    var h = 0L
    var b = 0
    while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }

  def compute(s: UTF8String): ArrayData = {
    val toks = s.trim().toLowerCase.toString.split("\\s+", -1)
    if (toks.length < 2)
      return new GenericArrayData(Array.empty[Any])
    val md = digestLocal.get()
    // hash each token slot once; pair j reuses slot j+1's hash as its h2
    val hs = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val b = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      hs(i) = h60(md, b)
      i += 1
    }
    val out = new Array[Any](toks.length - 1)
    var j = 0
    while (j < toks.length - 1) {
      out(j) = new GenericInternalRow(Array[Any](hs(j), hs(j + 1)))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Native per-token 32-bit hash array: [[HashFunctions.md5Int32]] of
  * every whitespace token of `lower(trim(text))` (split limit -1, empty
  * tokens hashed like the composed `transform(tokens, h32)` form they
  * replace), in position order. Feeds [[SimHash]] (q15/q55) without the
  * per-token md5-hex-parse expression tree; DedupSpec's simhash tests
  * pin kernel == composed.
  */
object TokenHashes32 {

  def apply(c: Column): Column =
    Kernel.column(this, "token_hashes32",
      ArrayType(LongType, containsNull = false), Seq(c -> StringType))

  private val digestLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(s: UTF8String): ArrayData = {
    val toks = s.trim().toLowerCase.toString.split("\\s+", -1)
    val md = digestLocal.get()
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      md.reset()
      val d = md.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    new GenericArrayData(out)
  }
}

object BigramWeightSum {

  val Schema: StructType = StructType(Seq(
    StructField("wsum", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false)))

  def apply(c: Column, weights: IndexedSeq[Long]): Column =
    ColumnShim.column(BigramWeightSum(ColumnShim.expression(c), weights))

  private val digestLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val Space = Array[Byte](' ')

  /** One pass: trim(' ' only, Spark's trim) → lower (UTF8String, Spark's
    * lower) → split("\\s+", -1) (Spark's keep-trailing-empties split) →
    * per-window digest of "tokᵢ SP tokᵢ₊₁" bytes → weight-table sum.
    */
  def compute(s: UTF8String, weights: Array[Long]): InternalRow = {
    val toks = s.trim().toLowerCase.toString.split("\\s+", -1)
    val n = math.max(toks.length - 1, 0).toLong
    if (n == 0L) return new GenericInternalRow(Array[Any](0L, 0L))
    val buckets = weights.length
    val bytes = new Array[Array[Byte]](toks.length)
    var i = 0
    while (i < toks.length) {
      bytes(i) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    var wsum = 0L
    val md = digestLocal.get()
    var j = 0
    while (j < toks.length - 1) {
      md.reset()
      md.update(bytes(j))
      md.update(Space)
      md.update(bytes(j + 1))
      val d = md.digest()
      // first 4 bytes big-endian unsigned = HashFunctions.md5Int32
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      wsum += weights((h % buckets).toInt)
      j += 1
    }
    new GenericInternalRow(Array[Any](wsum, n))
  }
}
