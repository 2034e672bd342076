package graft

import org.apache.spark.sql.functions._
import graft.search.{Ann, Search}

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (0L, Seq(1.0f, 1.0f, -1.0f, 1.0f)),
    (1L, Seq(0.9f, 1.1f, -0.5f, 2.0f)),  // same orthant as 0
    (2L, Seq(-1.0f, -1.0f, 1.0f, -1.0f)), // opposite orthant
    (3L, Seq(1.0f, 1.0f, 1.0f, 1.0f))
  ).toDF("vec_id", "embedding")

  test("signBucket encodes component signs as bits") {
    val got = corpus.select($"vec_id", Ann.signBucket("embedding", 4).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(got(0L) == 11L) // bits 0,1,3 → 1+2+8
    assert(got(1L) == 11L)
    assert(got(2L) == 4L)  // only bit 2
    assert(got(3L) == 15L)
  }

  test("ivfTopK searches only the query's bucket") {
    val qrow = corpus.filter($"vec_id" === 0)
      .select($"embedding".as("query_vec"))
    val got = Ann.ivfTopK(corpus, qrow, "query_vec", k = 5, bits = 4)
      .as[(Long, Double)].collect()
    // bucket 11 contains ids 0 and 1 only; self scores 1.0 first
    assert(got.map(_._1).toSeq == Seq(0L, 1L))
    assert(got.head._2 == 1.0)
  }

  test("native SignBucket equals the HOF signBucket phrasing") {
    val rnd = new scala.util.Random(3)
    val vecs = (Seq.tabulate(50)(i =>
        (i.toLong, Seq.fill(12)(rnd.nextGaussian().toFloat))) :+
        (99L, Seq.fill(12)(0.0f)))
      .toDF("vec_id", "embedding")
    val mism = vecs.select(
        graft.functions.SignBucket(col("embedding"), 8).as("native"),
        Ann.signBucket("embedding", 8).as("hof"))
      .filter(!(col("native") <=> col("hof"))).count()
    assert(mism == 0L)
    // short vector: only existing components contribute bits
    val short = Seq(Tuple1(Seq(1.0f, -1.0f))).toDF("embedding")
      .select(graft.functions.SignBucket(col("embedding"), 8)).as[Long].head()
    assert(short == 1L)
  }

  test("nearDupPairs only pairs same-bucket vectors above threshold") {
    val got = Ann.nearDupPairs(corpus, threshold = 0.5, bits = 4)
      .as[(Long, Long, Double)].collect()
    assert(got.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L)))
    assert(got.head._3 > 0.5)
  }

  test("bucketStats partitions the corpus exactly") {
    val got = Ann.bucketStats(corpus, bits = 4).as[(Long, Long)].collect().toMap
    assert(got.values.sum == 4L)
    assert(got(11L) == 2L)
  }

  test("matryoshkaTopK: full-prefix degenerates to the exact scan; " +
      "prefix prescan reranks with full-dim scores") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qVec = emb.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    // prefixDim = dim → stage 1 IS the exact ranking
    val full = Ann.matryoshkaTopK(emb, qVec, prefixDim = qVec.length,
        poolK = 20, k = 5)
      .as[(Long, Double)].collect().toSeq
    val exact = graft.search.Search.topK(emb, qVec, k = 5, threshold = -2.0)
      .select($"vec_id", $"score").as[(Long, Double)].collect().toSeq
    assert(full.map(_._1) == exact.map(_._1))
    // prefix-16: local reference — same two stages computed in Scala
    val vecs = emb.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val pool = vecs.map { case (id, v) => (id, cos(v.take(16), qVec.take(16))) }
      .sortBy { case (id, p) => (-p, id) }.take(50).map(_._1).toSet
    val want = vecs.filter(v => pool(v._1))
      .map { case (id, v) => (id, cos(v, qVec)) }
      .sortBy { case (id, sc) => (-sc, id) }.take(10).map(_._1).toSeq
    val got = Ann.matryoshkaTopK(emb, qVec, prefixDim = 16, poolK = 50, k = 10)
      .as[(Long, Double)].collect().toSeq.map(_._1)
    assert(got == want)
  }

  test("k-means IVF: self is top hit; probe lists cover the exact top-k") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qVec = emb.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val index = Ann.buildIvf(emb, nCentroids = 4, seed = 42L)
    // assignment is total and the centroid table matches
    assert(index.assigned.count() == emb.count())
    assert(index.centers.length == 4)
    val got = Ann.ivfSearch(index, qVec, k = 3, nprobe = 4) // all lists → exact
    val ids = got.collect().map(_.getLong(0)).toSeq
    assert(ids.head == 0L) // self-similarity 1.0 wins
    // with nprobe = all centroids, IVF must equal the exact scan's top-3
    val exact = graft.search.Search.topK(emb, qVec, k = 3, threshold = -2.0)
      .collect().map(_.getLong(0)).toSeq
    assert(ids == exact)
  }

  test("PQ: exact when every subspace fits its codebook (zero quantization error)") {
    // dim 4, m=2 subspaces of 2; each subspace slice takes only 2 distinct
    // values, ks=2 → k-means must place a centroid ON each value, codes
    // reconstruct exactly, and the ADC distance IS the true squared L2
    val a = Seq(0.0f, 0.0f); val b = Seq(4.0f, 4.0f)
    val vecs = Seq(a ++ a, a ++ b, b ++ a, b ++ b, a ++ a, b ++ b)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val index = Ann.buildPq(df, m = 2, ks = 2, seed = 7L, maxIter = 10)
    // every code within [0, ks)
    val codes = index.encoded.select($"codes").as[Seq[Int]].collect()
    assert(codes.forall(cs => cs.length == 2 && cs.forall(c => c >= 0 && c < 2)))
    val q = Seq(0.0, 0.0, 4.0, 4.0) // == vector 1
    val got = Ann.pqSearch(index, q, k = 6)
      .as[(Long, Double)].collect().toMap
    def l2(v: Seq[Float]): Double =
      v.map(_.toDouble).zip(q).map { case (x, y) => (x - y) * (x - y) }.sum
    vecs.zipWithIndex.foreach { case (v, i) =>
      assert(math.abs(got(i.toLong) - l2(v)) < 1e-9,
        s"vec $i: pq ${got(i.toLong)} != exact ${l2(v)}")
    }
  }

  test("pqDistortion: zero on a codebook that fits exactly; hand value on a " +
    "planted offset; wrong-dim rows excluded") {
    val a = Seq(0.0f, 0.0f); val b = Seq(4.0f, 4.0f)
    val vecs = Seq(a ++ a, a ++ b, b ++ a, b ++ b, a ++ a, b ++ b)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val index = Ann.buildPq(df, m = 2, ks = 2, seed = 7L, maxIter = 10)
    val zero = Ann.pqDistortion(index)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(zero == Seq((0L, 6L, 0L, 0L), (1L, 6L, 0L, 0L)), zero)
    // force single-centroid codebooks (ks=2 but only subspace means move):
    // replace each codebook with one planted centroid at the subspace mean
    // (2, 2) -> every row's error is (x-2)^2*2 = 8.0 -> 8_000_000 micro
    val planted = index.copy(codebooks =
      Array.fill(2)(Array(Array(2.0, 2.0))))
    val forced = planted.copy(encoded =
      planted.encoded.withColumn("codes", array(lit(0), lit(0))))
    val got = Ann.pqDistortion(forced)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((0L, 6L, 8000000L, 8000000L),
      (1L, 6L, 8000000L, 8000000L)), got)
    // a wrong-dimensionality row is excluded, not crashed on
    val withBad = index.copy(encoded = index.encoded.unionByName(
      Seq((99L, Seq(1.0f), Seq(0, 0))).toDF("vec_id", "embedding", "codes")))
    val n = Ann.pqDistortion(withBad).agg(max($"n_vectors")).head().getLong(0)
    assert(n == 6L)
  }

  test("PQ recall is exact-set on clustered data (the workload PQ is built for)") {
    // 5 well-separated cluster centers in 8-dim; 10 members each with a
    // small deterministic jitter. Query = center 0 → exact top-10 is
    // cluster 0, and a trained PQ must retrieve exactly that set.
    val centers = (0 until 5).map(c =>
      Array.tabulate(8)(i => if ((c + i) % 5 == 0) 10.0f else 0.0f))
    val vecs = for (c <- 0 until 5; j <- 0 until 10) yield {
      val v = centers(c).clone()
      v(j % 8) += 0.1f * ((c * 10 + j) % 7)
      ((c * 10 + j).toLong, v.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val index = Ann.buildPq(df, m = 4, ks = 8, seed = 42L, maxIter = 10)
    val q = centers(0).map(_.toDouble).toSeq
    val got = Ann.pqSearch(index, q, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(got == (0L until 10L).toSet,
      s"PQ must retrieve exactly cluster 0, got $got")
  }

  test("PQ on real embeddings: complete encoding, near-exact distance quality") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qVec = emb.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val index = Ann.buildPq(emb, m = 4, ks = 16, seed = 42L, maxIter = 4)
    assert(index.encoded.count() == emb.count())
    assert(index.codebooks.length == 4 &&
      index.codebooks.forall(_.forall(_.length == 16)))
    // These embeddings are near-random projections (no cluster structure,
    // razor-thin neighbor margins) — set recall is the wrong metric, so
    // assert distance QUALITY: the true distances of PQ's picks must be
    // close to the true distances of the exact top-k.
    val trueD2 = emb
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
      .withColumn("d2",
        graft.functions.VectorFunctions.dotProduct($"e", $"e")
          - lit(2.0) * graft.functions.VectorFunctions.dotProduct($"e",
            array(qVec.map(lit): _*)))
      .select($"vec_id", $"d2").as[(Long, Double)].collect().toMap
    val pqIds = Ann.pqSearch(index, qVec, k = 10).collect().map(_.getLong(0))
    val exactTop = trueD2.toSeq.sortBy { case (id, d) => (d, id) }
      .take(10).map(_._2)
    val qNorm = qVec.map(x => x * x).sum // shift d2 ≥ 0 for a valid ratio
    val pqMean = pqIds.map(trueD2).sum / 10 + qNorm
    val exMean = exactTop.sum / 10 + qNorm
    assert(pqMean <= exMean * 1.25,
      s"PQ picks' true mean distance $pqMean vs exact $exMean")
  }

  test("PQ input validation: dim divisibility, k, query dim") {
    intercept[IllegalArgumentException](Ann.buildPq(corpus, m = 3))
    val idx = Ann.buildPq(corpus, m = 2, ks = 2, seed = 1L)
    intercept[IllegalArgumentException](Ann.pqSearch(idx, Seq(1.0, 2.0), k = 1))
    intercept[IllegalArgumentException](
      Ann.pqSearch(idx, Seq(1.0, 2.0, 3.0, 4.0), k = 0))
  }

  test("countSketchProject: deterministic, linear, approximately angle-preserving") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val proj = vecs.select(col("vec_id"),
        Ann.countSketchProject(col("embedding"), 64, 16).as("p"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(proj.values.forall(_.length == 16))
    // deterministic across plans
    val again = vecs.repartition(3).select(col("vec_id"),
        Ann.countSketchProject(col("embedding"), 64, 16).as("p"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(again == proj)
    // linearity: project(2x) == 2*project(x) exactly
    val doubled = vecs.select(col("vec_id"),
        Ann.countSketchProject(expr("transform(embedding, x -> x * 2)"), 64, 16).as("p"))
      .as[(Long, Seq[Double])].collect().toMap
    doubled.foreach { case (id, p) =>
      p.zip(proj(id)).foreach { case (d2, d1) => assert(d2 == 2 * d1) }
    }
    // JL-style preservation: projected cosine correlates strongly with
    // the original cosine over random pairs (count-sketch is unbiased
    // for inner products; 64→16 keeps the signal well above noise)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val orig = vecs.as[(Long, Seq[Float])].collect().toMap
      .map { case (k, v) => k -> v.map(_.toDouble) }
    val ids = orig.keys.toSeq.sorted
    val pairs = for (i <- ids; j <- ids if i < j) yield (i, j)
    val xs = pairs.map { case (i, j) => cos(orig(i), orig(j)) }
    val ys = pairs.map { case (i, j) => cos(proj(i), proj(j)) }
    val mx = xs.sum / xs.size; val my = ys.sum / ys.size
    val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val r = cov / math.sqrt(
      xs.map(x => (x - mx) * (x - mx)).sum * ys.map(y => (y - my) * (y - my)).sum)
    assert(r > 0.5, s"projected/original cosine correlation too weak: $r")
  }

  test("countSketchProject validates dimensions") {
    intercept[IllegalArgumentException] {
      Ann.countSketchProject(col("embedding"), 16, 64)
    }
  }

  test("binaryCode packs sign bits into words; hamming counts sign flips") {
    // dim 4, wordBits 2 → 2 words: word0 = signs of comps 1-2, word1 = 3-4
    val got = corpus.select($"vec_id",
        Ann.binaryCode($"embedding", dim = 4, wordBits = 2).as("c"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(0L) == Seq(3L, 2L)) // (+,+) → 11b; (−,+) → 10b
    assert(got(2L) == Seq(0L, 1L)) // (−,−) → 00b; (+,−) → 01b
    assert(got(3L) == Seq(3L, 3L))

    // query = vec 0's own vector: hamming 0 to itself and its orthant
    // twin, 4 to the antipode, 1 to vec 3 (one sign differs)
    val top = Ann.hammingTopK(corpus, Seq(1.0, 1.0, -1.0, 1.0), k = 4,
        wordBits = 2)
      .as[(Long, Long)].collect().toMap
    assert(top == Map(0L -> 0L, 1L -> 0L, 3L -> 1L, 2L -> 4L))
  }

  test("hammingTopK respects k with (distance, id) ordering") {
    val got = Ann.hammingTopK(corpus, Seq(1.0, 1.0, -1.0, 1.0), k = 2,
        wordBits = 32)
      .as[(Long, Long)].collect()
    assert(got.toSeq == Seq((0L, 0L), (1L, 0L))) // tie on 0 → id order
  }

  test("hammingTopKCoded over stored codes equals the inline-packing form") {
    val q = Seq(1.0, 1.0, -1.0, 1.0)
    val coded = corpus.select($"vec_id",
      Ann.binaryCode($"embedding", dim = 4, wordBits = 2).as("code"))
    val viaStored = Ann.hammingTopKCoded(coded, q, k = 4, wordBits = 2)
      .as[(Long, Long)].collect().toSeq
    val viaInline = Ann.hammingTopK(corpus, q, k = 4, wordBits = 2)
      .as[(Long, Long)].collect().toSeq
    assert(viaStored == viaInline)
  }

  test("semDedup: near-identical cluster member drops, cross-cluster twin survives") {
    // hand-built assignment (semDedup only reads index.assigned):
    // cluster 0 holds a near-identical pair (1, 2) and a distinct vector
    // 3; vector 4 is IDENTICAL to 1 but lives in cluster 1, so the
    // cluster scope must keep it
    val assigned = Seq(
      (1L, Seq(1.0, 0.0, 0.0), 0),
      (2L, Seq(0.999, 0.01, 0.0), 0),  // cos vs 1 ≈ 0.99995 → dropped
      (3L, Seq(0.0, 1.0, 0.0), 0),
      (4L, Seq(1.0, 0.0, 0.0), 1)
    ).toDF("vec_id", "embedding", "centroid_id")
    val got = Ann.semDedup(Ann.IvfIndex(assigned, Array.empty), threshold = 0.95)
      .select($"vec_id", $"cluster_id", $"kept")
      .as[(Long, Int, Boolean)].collect().toSet
    assert(got == Set((1L, 0, true), (2L, 0, false), (3L, 0, true), (4L, 1, true)))
  }

  test("semDedup maxClusterSize: over-full clusters are kept, never dropped") {
    val assigned = Seq(
      (1L, Seq(1.0, 0.0), 0), (2L, Seq(1.0, 0.0), 0), (3L, Seq(1.0, 0.0), 0),
      (10L, Seq(0.0, 1.0), 1), (11L, Seq(0.0, 1.0), 1)
    ).toDF("vec_id", "embedding", "centroid_id")
    val got = Ann.semDedup(Ann.IvfIndex(assigned, Array.empty),
        threshold = 0.95, maxClusterSize = 2)
      .select($"vec_id", $"kept").as[(Long, Boolean)].collect().toMap
    // cluster 0 (3 members) exceeds the cap → skipped → all kept;
    // cluster 1 still dedups (11 drops against 10)
    assert(got == Map(1L -> true, 2L -> true, 3L -> true,
      10L -> true, 11L -> false))
  }

  test("sq8TopK with a full-corpus pool equals the exact scan; coded form agrees") {
    val rnd = new scala.util.Random(7)
    val data = (0L until 40L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val qVec = data.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    // poolK = corpus size → stage 1 prunes nothing → exact by construction
    val sq8 = Ann.sq8TopK(data, qVec, poolK = 40, k = 5)
      .as[(Long, Double)].collect().toSeq
    val exact = Search.topK(
        data.select($"vec_id", $"embedding".cast("array<double>").as("embedding")),
        qVec, k = 5, threshold = -2.0)
      .select($"vec_id", $"score").as[(Long, Double)].collect().toSeq
    assert(sq8 == exact, s"sq8=$sq8 exact=$exact")
    val coded = Ann.sq8TopKCoded(Ann.sq8Encode(data), data, qVec, poolK = 40, k = 5)
      .as[(Long, Double)].collect().toSeq
    assert(sq8 == coded)
    // self is the top hit at cosine 1
    assert(sq8.head._1 == 0L && math.abs(sq8.head._2 - 1.0) < 1e-9)
  }

  test("sq8 stage-1 pruning still finds the exact top-k on separated data") {
    // two tight clusters far apart: int8 quantization error (<= scale/254
    // per component) cannot reorder across the gap, so a pool of 6 from
    // stage 1 must contain the true top-5 cluster members
    val rnd = new scala.util.Random(11)
    def near(base: Double) = Seq.fill(8)((base + rnd.nextGaussian() * 0.01).toFloat)
    val data = ((0L until 5L).map(i => (i, near(1.0))) ++
      (10L until 30L).map(i => (i, near(-1.0)))).toDF("vec_id", "embedding")
    val qVec = data.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val got = Ann.sq8TopK(data, qVec, poolK = 6, k = 5)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(got == Set(0L, 1L, 2L, 3L, 4L), s"got $got")
  }

  test("sq8AffineTopK: full-corpus shortlist equals the exact scan; " +
    "column and driver encodes agree; degenerate dims code to 0") {
    val rnd = new scala.util.Random(7)
    // dim 0 constant (span 0), the rest gaussian — the degenerate dim
    // must quantize to 0 everywhere without poisoning the ranking
    val data = (0L until 40L).map(i =>
      (i, 3.5f +: Seq.fill(15)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val model = Ann.sq8Train(data)
    assert(model.span(0) == 0.0, "constant dim should have span 0")
    val qVec = data.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    // shortlist = corpus → rescore sees everything → exact by construction
    val got = Ann.sq8AffineTopK(data, model, qVec, k = 5, shortlist = 40)
      .select($"vec_id", $"score").as[(Long, Double)].collect().toSeq
    val exact = Search.topK(
        data.select($"vec_id", $"embedding".cast("array<double>").as("embedding")),
        qVec, k = 5, threshold = -2.0)
      .select($"vec_id", round($"score", 6)).as[(Long, Double)].collect().toSeq
    assert(got == exact, s"got=$got exact=$exact")
    assert(got.head._1 == 0L && math.abs(got.head._2 - 1.0) < 1e-9)
    // the Column encode and the driver encode are the same arithmetic
    val colCodes = data.filter($"vec_id" === 0)
      .select(Ann.sq8CodesCol(model).as("c")).head().getSeq[Long](0)
    assert(colCodes == model.encode(qVec).toSeq,
      "sq8CodesCol and Sq8Model.encode disagree")
    assert(colCodes.head == 0L, "degenerate dim must code to 0")
    assert(colCodes.forall(c => c >= 0L && c <= 255L))
  }

  test("sq8Affine stage-1 int-dot pruning finds the exact top-k on " +
    "separated clusters with a tight shortlist") {
    val rnd = new scala.util.Random(11)
    def near(base: Double) = Seq.fill(8)((base + rnd.nextGaussian() * 0.01).toFloat)
    val data = ((0L until 5L).map(i => (i, near(1.0))) ++
      (10L until 30L).map(i => (i, near(-1.0)))).toDF("vec_id", "embedding")
    val model = Ann.sq8Train(data)
    val qVec = data.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val got = Ann.sq8AffineTopK(data, model, qVec, k = 5, shortlist = 6)
      .select($"vec_id").as[Long].collect().toSet
    assert(got == Set(0L, 1L, 2L, 3L, 4L), s"got $got")
  }

  test("hubness matches a brute-force within-bucket k-occurrence count") {
    val rnd = new scala.util.Random(5)
    val data = (0L until 24L).map(i =>
      (i, Seq.fill(4)((rnd.nextGaussian()).toFloat)))
    val df = data.toDF("vec_id", "embedding")
    val got = Ann.hubness(df, k = 2, bits = 4)
      .as[(Long, Long)].collect().toMap

    // brute force: same bucket rule, same per-src (cos desc, id) top-2
    def bucket(v: Seq[Float]) =
      (0 until 4).map(i => if (v(i) > 0) 1L << i else 0L).sum
    def cos(a: Seq[Float], b: Seq[Float]) = {
      val (da, db, dd) = (a.map(x => x * x.toDouble).sum,
        b.map(x => x * x.toDouble).sum,
        a.zip(b).map { case (x, y) => x.toDouble * y }.sum)
      if (da == 0 || db == 0) 0.0 else dd / (math.sqrt(da) * math.sqrt(db))
    }
    val occ = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((id, v) <- data) {
      val mates = data.filter { case (j, u) => j != id && bucket(u) == bucket(v) }
      mates.sortBy { case (j, u) => (-cos(v, u), j) }.take(2)
        .foreach { case (j, _) => occ(j) += 1 }
    }
    val want = data.map { case (id, _) => occ(id) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == want, s"got $got want $want")
    assert(got.values.sum == 24L) // every point counted exactly once
    // cap that doesn't bind leaves the histogram unchanged
    assert(Ann.hubness(df, k = 2, bits = 4, maxBucketSize = 1000)
      .as[(Long, Long)].collect().toMap == got)
  }

  test("hubness maxBucketSize drops over-full buckets' pairs; points still counted") {
    // 5 clones land in one bucket; cap 4 excludes the bucket entirely,
    // so every point scores occurrence 0 but remains in the histogram
    val df = (0L until 5L).map(i => (i, Seq(1.0f, 1.0f, 1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Ann.hubness(df, k = 2, bits = 4, maxBucketSize = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 5L), got.toString)
  }

  test("hubnessCloneCollapsed == hubness on an all-distinct corpus") {
    val rnd = new scala.util.Random(11)
    val data = (0L until 40L).map(i =>
      (i, Seq.fill(6)(rnd.nextGaussian().toFloat)))
    val df = data.toDF("vec_id", "embedding")
    val bits = Ann.occupancyBits(40L, 2.0)
    val plain = Ann.hubness(df, k = 3, bits = bits)
      .as[(Long, Long)].collect().toMap
    val collapsed = Ann.hubnessCloneCollapsed(df, k = 3)
      .as[(Long, Long)].collect().toMap
    assert(collapsed == plain, s"got $collapsed want $plain")
    assert(collapsed.values.sum == 40L)
  }

  test("hubnessCloneCollapsed == hubness on a clone-heavy corpus") {
    // multiplicities straddle every closed-form regime: m=1 (pure
    // external), m=k (clones + 1 external slot), m=k+1 (exactly filled),
    // m>k+1 (internal-only with a zero-occurrence tail); ids interleave
    // across groups so member rank != insertion order
    val rnd = new scala.util.Random(7)
    val base = (0 until 10).map(_ => Seq.fill(6)(rnd.nextGaussian().toFloat))
    val mult = Seq(1, 2, 3, 4, 7, 1, 3, 5, 2, 6)
    val rows = for {
      (v, g) <- base.zipWithIndex
      c <- 0 until mult(g)
    } yield (c * 100L + g, v) // interleaved ids: clones never contiguous
    val df = rows.toDF("vec_id", "embedding")
    val k = 3
    val bits = Ann.occupancyBits(base.size.toLong, 2.0)
    val plain = Ann.hubness(df, k = k, bits = bits)
      .as[(Long, Long)].collect().toMap
    val collapsed = Ann.hubnessCloneCollapsed(df, k = k)
      .as[(Long, Long)].collect().toMap
    assert(collapsed == plain, s"got $collapsed want $plain")
    assert(collapsed.values.sum == rows.size.toLong)
  }

  test("hubnessCloneCollapsed on planted scaled copies: deterministic, mass-conserving") {
    // Scaled copies (v, 2v, 3v) are DISTINCT vectors at cosine exactly 1.0
    // — the one tie class where collapsed (orders distinct groups by rep)
    // and plain hubness (interleaves by raw id) may legitimately diverge
    // (documented measure-zero caveat, ADVICE r10). The histogram of WHO
    // receives an occurrence can shift under tie reordering, but (a) the
    // output must be run-to-run deterministic and (b) the total occurrence
    // mass Σ j·count_j — how many neighbor-list slots got filled — is
    // tie-break-invariant, so it must match plain hubness exactly.
    val base = Seq(0.6f, -0.3f, 0.4f, 0.2f, -0.5f, 0.1f)
    val other = Seq(-0.2f, 0.7f, -0.1f, 0.3f, 0.4f, -0.6f)
    val rows = Seq(
      (10L, base), (3L, base.map(_ * 2)), (21L, base.map(_ * 3)), // cos-1.0 tie class
      (7L, other), (15L, other.map(_ * 2))                        // second tie class
    )
    val df = rows.toDF("vec_id", "embedding")
    val k = 2
    val run1 = Ann.hubnessCloneCollapsed(df, k = k)
      .as[(Long, Long)].collect().toMap
    val run2 = Ann.hubnessCloneCollapsed(df, k = k)
      .as[(Long, Long)].collect().toMap
    assert(run1 == run2, s"nondeterministic under ties: $run1 vs $run2")
    val bits = Ann.occupancyBits(rows.size.toLong, 2.0)
    val plain = Ann.hubness(df, k = k, bits = bits)
      .as[(Long, Long)].collect().toMap
    def mass(h: Map[Long, Long]) = h.map { case (j, n) => j * n }.sum
    assert(mass(run1) == mass(plain),
      s"occurrence mass diverged: collapsed=$run1 plain=$plain")
    assert(run1.values.sum == rows.size.toLong)
  }

  test("q186 nprobe curve: monotone nesting — scanned and recall never " +
    "decrease with nprobe; full probe of all lists reaches recall 1.0") {
    // driven through SparkEntry so the curve runs against the REAL
    // persisted q28 index machinery at sf0.001
    val got = SparkEntry.queries("q186_nprobe_curve")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2, s"scanned shrank: $a -> $b")
      assert(a._5 <= b._5 + 1e-9, s"recall shrank: $a -> $b")
    }
    got.foreach { case (_, scanned, frac, hits, recall) =>
      assert(hits >= 0 && hits <= 5 && recall == hits / 5.0)
      assert(frac > 0 && frac <= 1.0 && scanned > 0)
    }
  }

  test("knnLabelNoise: planted mislabel is flagged; clean clusters read zero") {
    // two sign-separated clusters (bits=4 at this n): cluster A = 5 'a'
    // points + 1 mislabeled 'b' point in the SAME geometry; cluster B =
    // 4 clean 'b' points. The mislabel's 3 NN are all 'a' -> diff 3,
    // flagged; every a-point ranks its fellow a's above the mislabel
    // (cos ~0.9998 within-a vs ~0.9988 to the off-geometry point).
    val aPts = (0 until 5).map(i =>
      (i.toLong, "a", Seq(1.0f, 1.0f, 1.0f, 0.1f + 0.01f * i)))
    val mislabel = Seq((10L, "b", Seq(1.0f, 1.0f, 0.9f, 0.1f)))
    val bPts = (0 until 4).map(j =>
      (20L + j, "b", Seq(-1.0f, -1.0f, 1.0f, 0.1f + 0.01f * j)))
    val df = (aPts ++ mislabel ++ bPts).toDF("vec_id", "label", "embedding")
    val got = Ann.knnLabelNoise(df, k = 3, targetOccupancy = 8.0)
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // (label, n_points, n_neighbors, n_disagree, n_flagged, noise_rate)
    assert(got("a") == (("a", 5L, 15L, 0L, 0L, 0.0)), got("a").toString)
    assert(got("b") == (("b", 5L, 15L, 3L, 1L, 0.2)), got("b").toString)
    // singleton buckets are excluded, not scored
    val lone = df.unionByName(
      Seq((99L, "c", Seq(1.0f, -1.0f, -1.0f, -0.5f)))
        .toDF("vec_id", "label", "embedding"))
    val withLone = Ann.knnLabelNoise(lone, k = 3, targetOccupancy = 8.0)
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(!withLone.exists(_._1 == "c"), withLone.mkString(","))
  }

  test("knnLabelNoiseCollapsed == knnLabelNoise on an all-distinct corpus") {
    val rnd = new scala.util.Random(23)
    val labels = Seq("a", "b", "c")
    val data = (0L until 60L).map(i =>
      (i, labels((i % 3).toInt), Seq.fill(6)(rnd.nextGaussian().toFloat)))
    val df = data.toDF("vec_id", "label", "embedding")
    val plain = Ann.knnLabelNoise(df, k = 3, targetOccupancy = 8.0)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    val collapsed = Ann.knnLabelNoiseCollapsed(df, k = 3, targetOccupancy = 8.0)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    assert(collapsed == plain, s"got $collapsed want $plain")
  }

  test("knnLabelNoiseCollapsed == knnLabelNoise on planted clone groups " +
    "(label-pure and mixed-label)") {
    // multiplicities straddle the closed-form regimes (m=1 external-only,
    // m=k internal+1 external slot, m=k+1 exactly filled, m>k+1
    // internal-cut), and one group mixes labels with each subgroup's ids
    // a contiguous ascending block (the layout under which the collapsed
    // rep-order convention is exact vs the per-id dst-asc order)
    val rnd = new scala.util.Random(31)
    val base = (0 until 8).map(_ => Seq.fill(6)(rnd.nextGaussian().toFloat))
    // (group, members as (id, label)): ids blocked per subgroup
    val members: Seq[Seq[(Long, String)]] = Seq(
      Seq((0L, "a")),                                         // m=1
      Seq((100L, "a"), (101L, "a"), (102L, "a")),             // m=k, pure
      Seq((200L, "b"), (201L, "b"), (202L, "b"), (203L, "b")),// m=k+1, pure
      Seq((300L, "a"), (301L, "a"), (310L, "b"), (311L, "b"), (312L, "b"),
        (320L, "c")),                                         // m>k+1, MIXED
      Seq((400L, "c")),                                       // m=1
      Seq((500L, "b"), (501L, "b")),                          // m=2
      Seq((600L, "a")),                                       // m=1
      Seq((700L, "c"), (701L, "c"), (702L, "c"), (703L, "c"), (704L, "c")))
    val rows = base.zip(members).flatMap { case (v, ms) =>
      ms.map { case (id, l) => (id, l, v) }
    }
    val df = rows.toDF("vec_id", "label", "embedding")
    val plain = Ann.knnLabelNoise(df, k = 3, targetOccupancy = 8.0)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    val collapsed = Ann.knnLabelNoiseCollapsed(df, k = 3, targetOccupancy = 8.0)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    assert(collapsed == plain, s"got $collapsed want $plain")
    // total audited points = every point in a kept bucket, both forms
    assert(collapsed.toSeq.map(_._2).sum == plain.toSeq.map(_._2).sum)
  }

  test("knnLabelNoiseCollapsed audits the clone-heavy bucket the per-id " +
    "cap would drop (the q183 hole)") {
    // 40 clones of one vector + 2 distinct points in the same bucket:
    // per-id with maxBucketSize=16 drops the bucket (42 points) and
    // audits nothing there; collapsed counts 3 DISTINCT vectors — far
    // under the cap — and keeps all 42 points in the audit
    val v = Seq(0.9f, 0.8f, 0.7f, 0.6f)
    val rows =
      (0L until 40L).map(i => (i, "a", v)) ++
        Seq((100L, "b", Seq(0.9f, 0.8f, 0.7f, 0.61f)),
          (101L, "a", Seq(0.9f, 0.81f, 0.7f, 0.6f)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val perId = Ann.knnLabelNoise(df, k = 3, targetOccupancy = 8.0,
      maxBucketSize = 16).as[(String, Long, Long, Long, Long, Double)].collect()
    val collapsed = Ann.knnLabelNoiseCollapsed(df, k = 3,
      targetOccupancy = 8.0, maxBucketSize = 16)
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(collapsed.map(_._2).sum > perId.map(_._2).sum,
      s"collapsed=${collapsed.mkString(",")} perId=${perId.mkString(",")}")
    assert(collapsed.map(_._2).sum == 42L, collapsed.mkString(","))
    // the 40 clones each take k=3 co-clone neighbors, all same-label
    val a = collapsed.find(_._1 == "a").get
    assert(a._2 == 41L, a.toString)
  }

  test("bucketOutliers: brute-force equality on distinct corpus; clones score 0") {
    // one bucket (all-positive first dims at bits=4): distances fully
    // computable by hand-replica; k=2
    val rnd = new scala.util.Random(19)
    val data = (0L until 12L).map(i =>
      (i, Seq.fill(4)(math.abs(rnd.nextGaussian()).toFloat + 0.1f)))
    val df = data.toDF("vec_id", "embedding")
    val k = 2
    val got = Ann.bucketOutliers(df, k = k, targetOccupancy = 16.0, topK = 12)
      .as[(Long, Long, Long)].collect()
    // replica: every vector shares the all-positive bucket
    def dmu(a: Seq[Float], b: Seq[Float]): Long =
      math.round(math.sqrt(a.zip(b).map { case (x, y) =>
        (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum) * 1e6)
    val want = data.map { case (i, v) =>
      val ds = data.filter(_._1 != i).map(o => dmu(v, o._2)).sorted
      (i, data.size.toLong - 1, ds(k - 1))
    }.sortBy(t => (-t._3, t._1))
    assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")

    // clone discipline: a 4-clone group (m-1 >= k) must score knn 0 with
    // the clone mass counted in n_cands, and pair work never expands the
    // clones (output has ONE row per distinct vector, rep = min id)
    val clones = Seq(
      (5L, Seq(1.0f, 1.0f, 1.0f, 1.0f)), (17L, Seq(1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Seq(1.0f, 1.0f, 1.0f, 1.0f)), (30L, Seq(1.0f, 1.0f, 1.0f, 1.0f)),
      (9L, Seq(2.0f, 1.0f, 1.0f, 1.0f)), (4L, Seq(1.0f, 2.0f, 1.0f, 1.0f)))
    val cg = Ann.bucketOutliers(clones.toDF("vec_id", "embedding"), k = 2,
        targetOccupancy = 16.0, topK = 10)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(cg(2L) == ((2L, 5L, 0L)), cg.toString) // clone group rep: min id, knn 0
    // the two singles rank against 4 clone-zeros first? no - their k-th
    // (k=2) is the 2nd smallest CROSS distance: 4 clones at dist 1 and
    // the other single at sqrt(2): kth = 1e6 for both
    assert(cg(9L)._3 == 1000000L && cg(4L)._3 == 1000000L, cg.toString)
    assert(cg.size == 3, s"clone members must not expand: $cg")
  }

  test("daviesBouldin: planted tight/loose clusters rank by overlap, scatter exact") {
    // cluster 0: three copies of (0,0) -> scatter exactly 0
    // cluster 1: (10,0)±(1,0) -> scatter = mean(1e6, 1e6, 0) = 666666 (div)
    // centroids at (0,0) and (10,0): M = 10
    val rows = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)),
      (3L, Seq(9.0f, 0.0f)), (4L, Seq(11.0f, 0.0f)), (5L, Seq(10.0f, 0.0f)))
    val df = rows.toDF("vec_id", "embedding")
    val centers = Array(Array(0.0, 0.0), Array(10.0, 0.0))
    val assigned = df.withColumn("centroid_id",
      org.apache.spark.sql.functions.when($"vec_id" < 3, 0).otherwise(1))
    val got = Ann.daviesBouldin(Ann.IvfIndex(assigned, centers))
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((0, 3L, 0L), (1, 3L, 666666L)), got.toSeq.toString)
    // R_0 = R_1 = (0 + 666666) / (10 * 1e6) = 0.066667 after rounding
    assert(got.forall(r => math.abs(r._4 - 0.066667) < 1e-9), got.toSeq.toString)
    // duplicate centroids must fail loudly, not divide by zero
    val dup = intercept[IllegalArgumentException](
      Ann.daviesBouldin(Ann.IvfIndex(assigned, Array(Array(0.0, 0.0), Array(0.0, 0.0)))))
    assert(dup.getMessage.contains("duplicate centroids"), dup.getMessage)
  }

  test("marginMine finds the planted translation pair, candidates stay in-bucket") {
    // bucket = signs of first 2 dims (bits=2). s1,t1,t2 share bucket 3;
    // s2 sits alone in bucket 0 -> no candidates -> no emission.
    val src = Seq(
      (0L, Seq(1.0f, 1.0f, 0.9f, 0.1f)),   // s1
      (2L, Seq(-1.0f, -1.0f, 0.5f, 0.5f))  // s2, bucket 0
    ).toDF("src_id", "va")
    val tgt = Seq(
      (1L, Seq(1.0f, 1.0f, 0.91f, 0.1f)),  // true pair for s1, cos ~ 1
      (3L, Seq(1.0f, 1.0f, -0.9f, 0.2f))   // in-bucket distractor, cos ~ 0.42
    ).toDF("tgt_id", "vb")
    val got = Ann.marginMine(src, tgt, k = 4, minMargin = 1.05, bits = 2)
      .select("src_id", "tgt_id").as[(Long, Long)].collect().toSet
    // s1 keeps its true pair (margin ~ 1.17 over the diluted neighborhood
    // average); the distractor ranks below; s2 emits nothing
    assert(got == Set((0L, 1L)), got.toString)
  }

  test("occupancyBits holds expected bucket occupancy constant in corpus size") {
    // verify-scale anchor: N=500 at target 2.0 must derive exactly the
    // bits=8 the q118 oracle pins
    assert(Ann.occupancyBits(500L, targetOccupancy = 2.0) == 8)
    // occupancy bound: n / 2^bits <= target whenever the clamp is inactive
    for (n <- Seq(100L, 500L, 10000L, 40000L, 1000000L)) {
      val bits = Ann.occupancyBits(n, targetOccupancy = 2.0)
      if (bits > 4 && bits < 24)
        assert(n.toDouble / (1L << bits) <= 2.0 + 1e-9,
          s"n=$n bits=$bits occupancy=${n.toDouble / (1L << bits)}")
    }
    // growing n never shrinks bits (monotone), and clamps hold
    assert(Ann.occupancyBits(1L) == 4)
    assert(Ann.occupancyBits(Long.MaxValue) == 24)
    // exact powers of two don't round up on float noise
    assert(Ann.occupancyBits(512L, targetOccupancy = 2.0) == 8)
    intercept[IllegalArgumentException](Ann.occupancyBits(0L))
  }

  test("multiprobeTopK recovers a Hamming-1 neighbor that nprobe=1 misses") {
    // query lives in bucket 1111; its TRUE nearest neighbor (20) has one
    // barely-negative component → bucket 0111, Hamming-1 away; vector 21
    // is the best in-bucket match but farther in angle
    val data = Seq(
      (0L, Seq(0.5f, 0.5f, 0.5f, 0.5f)), // query, bucket 15
      (20L, Seq(-0.001f, 0.5f, 0.5f, 0.5f)), // bucket 14, cos ≈ 0.866
      (21L, Seq(2.0f, 0.1f, 0.1f, 0.1f)), // bucket 15, cos ≈ 0.57
      (22L, Seq(-1.0f, -1.0f, -1.0f, -1.0f)) // bucket 0, Hamming-4: never probed
    ).toDF("vec_id", "embedding")
    val qrow = data.filter($"vec_id" === 0).select($"embedding".as("query_vec"))
    val narrow = Ann.ivfTopK(data, qrow, "query_vec", k = 2, bits = 4)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(narrow == Seq(0L, 21L)) // bucket-15-only scan misses 20
    val wide = Ann.multiprobeTopK(data, qrow, "query_vec", k = 3, bits = 4)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(wide == Seq(0L, 20L, 21L), s"got $wide") // ring-1 probe finds 20
    // Hamming-4 bucket stays unprobed — multiprobe is not a full scan
    assert(!wide.contains(22L))
  }

  test("IVF-PQ: full probe + full shortlist + zero quant error == exact scan") {
    import graft.search.Search
    // 4-dim, two clean clusters; each subspace slice takes 2 distinct
    // values with ks=2 → codes reconstruct exactly, ADC is true L2
    val a = Seq(0.0f, 0.0f); val b = Seq(4.0f, 4.0f)
    val vecs = Seq(a ++ a, a ++ b, b ++ a, b ++ b, a ++ a, b ++ b)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val index = Ann.buildIvfPq(df, nCentroids = 2, m = 2, ks = 2,
      seed = 7L, maxIter = 10)
    val q = Seq(1.0, 0.0, 4.0, 4.0)
    // probe everything, keep everything → rerank must equal brute force
    val got = Ann.ivfPqSearch(index, q, k = 6, nprobe = 2, shortlist = 6)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    val exact = Search.topK(df, q, k = 6, threshold = -2.0)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
      .map { case (id, s) => (id, math.rint(s * 1e6) / 1e6) } // match round(6)
    assert(got == exact, s"ivfpq $got != exact $exact")
    // narrow probe scans only the probed list: nprobe=1 output ⊆ one
    // centroid's members, and its centroid_id column is constant
    val narrow = Ann.ivfPqSearch(index, q, k = 6, nprobe = 1, shortlist = 6)
      .select("centroid_id").distinct().collect()
    assert(narrow.length == 1, narrow.mkString(","))
    intercept[IllegalArgumentException](
      Ann.ivfPqSearch(index, q, k = 5, shortlist = 4))
    intercept[IllegalArgumentException](
      Ann.ivfPqSearch(index, Seq(1.0, 2.0), k = 1))
  }

  test("IVF-PQ residual coding (FAISS default, VERDICT r15 item 4): " +
    "exact at full probe+shortlist; recall A/B vs raw at a fixed code budget") {
    import graft.search.Search
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // fixed code budget: identical nCentroids/m/ks on both variants —
    // the only difference is WHAT the codes quantize
    val raw = Ann.buildIvfPq(emb, nCentroids = 8, m = 8, ks = 16,
      seed = 7L, maxIter = 5)
    val res = Ann.buildIvfPq(emb, nCentroids = 8, m = 8, ks = 16,
      seed = 7L, maxIter = 5, residual = true)
    assert(res.residual && !raw.residual)
    // same coarse quantizer, different code semantics, same schema
    assert(res.centers.map(_.toSeq).toSeq == raw.centers.map(_.toSeq).toSeq)
    assert(res.encoded.columns.sorted.toSeq == raw.encoded.columns.sorted.toSeq)
    val n = emb.count().toInt
    def exactIds(q: Seq[Double]): Seq[Long] =
      Search.topK(emb, q, k = 10, threshold = -2.0)
        .select("vec_id").as[Long].collect().toSeq
    def qVec(id: Long): Seq[Double] = emb.filter($"vec_id" === id)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    // plumbing exactness: every list probed + corpus-sized shortlist →
    // the per-probe residual tables and rerank must reproduce brute force
    val q1 = qVec(1L)
    assert(Ann.ivfPqSearch(res, q1, k = 10, nprobe = 8, shortlist = n)
      .select("vec_id").as[Long].collect().toSeq == exactIds(q1))
    // A/B recall@10 at serving settings over an 8-query panel
    def recall(idx: Ann.IvfPqIndex): Double = {
      val hits = (0L until 8L).map { id =>
        val q = qVec(id)
        val got = Ann.ivfPqSearch(idx, q, k = 10, nprobe = 2, shortlist = 32)
          .select("vec_id").as[Long].collect().toSet
        (exactIds(q).toSet & got).size
      }.sum
      hits / 80.0
    }
    val rRaw = recall(raw); val rRes = recall(res)
    info(f"recall@10 nprobe=2 shortlist=32: raw=$rRaw%.3f residual=$rRes%.3f")
    // both variants must be usable at serving settings; the relative
    // ordering is data-dependent (PERF.md records the measured pair)
    assert(rRaw >= 0.3 && rRes >= 0.3, f"raw=$rRaw%.3f res=$rRes%.3f")
  }

  // two tight clusters for the delete/filtered tests: ids 0..11 near
  // (1,0,0,0) ("A"), ids 12..23 near (0,1,0,0) ("B")
  private def twoClusterLabeled: org.apache.spark.sql.DataFrame =
    ((0 until 12).map(i =>
        (i.toLong, Seq(1.0f + 0.01f * i, 0.002f * i, 0.0f, 0.0f), i % 3)) ++
      (12 until 24).map(i =>
        (i.toLong, Seq(0.002f * i, 1.0f + 0.01f * i, 0.0f, 0.0f), i % 3)))
      .toDF("vec_id", "embedding", "label")

  private def bruteTopK(corp: org.apache.spark.sql.DataFrame,
                        q: Seq[Double], k: Int): Seq[Long] =
    corp.withColumn("s", graft.functions.CosineSimilarity(
        $"embedding", array(q.map(lit): _*)))
      .orderBy($"s".desc, $"vec_id".asc).limit(k)
      .select("vec_id").as[Long].collect().toSeq

  test("deleteFromIvf: probes exclude tombstoned ids; compactIvf folds " +
    "them into the lists and is idempotent") {
    val p = java.nio.file.Files
      .createTempDirectory("graft_ivf_del").toString + "/ivf"
    val corp = twoClusterLabeled
    Ann.writeIvf(Ann.buildIvf(corp, nCentroids = 2, seed = 7L,
      initMode = "random"), p)
    val queries = corp.filter($"vec_id".isin(0L, 12L))
      .select($"vec_id".as("query_id"),
        $"embedding".cast("array<double>").as("query_vec"))
    def probe(): Seq[(Long, Long)] =
      Ann.ivfSearchBatch(spark, p, queries, k = 5, nprobe = 2)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toSeq.sorted
    val before = probe()
    assert(before.contains((0L, 0L)), "sanity: id 0 retrievable pre-delete")
    Ann.deleteFromIvf(spark, p, Seq(0L, 13L))
    val after = probe()
    assert(!after.exists(r => r._2 == 0L || r._2 == 13L),
      s"tombstoned id leaked into a probe: $after")
    // survivors rank exactly like brute force over the surviving corpus
    val live = corp.filter(!$"vec_id".isin(0L, 13L))
    val q0 = corp.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    assert(after.filter(_._1 == 0L).map(_._2) == bruteTopK(live, q0, 5),
      "post-delete probe != brute force over survivors")
    // reload honors tombstones too
    assert(Ann.readIvf(spark, p).assigned.count() == 22)
    // delete is idempotent (duplicate tombstone rows collapse)
    Ann.deleteFromIvf(spark, p, Seq(0L))
    assert(probe() == after)
    // compaction: lists rewritten minus tombstones into one whole
    // generation, tombstone dirs dropped from the manifest, serving
    // unchanged; a second compact is a clean no-op (no new version)
    Ann.compactIvf(spark, p)
    val m = Ann.readIvfManifest(spark, p)
    assert(m.tombstones.isEmpty,
      "compactIvf left tombstone dirs in the manifest")
    assert(m.listDirs.size == 1 && m.listDirs.head.whole,
      s"compactIvf did not collapse to one whole generation: ${m.listDirs}")
    assert(Ann.listsFrame(spark, p)
      .filter($"vec_id".isin(0L, 13L)).count() == 0,
      "compacted lists still hold deleted rows")
    assert(probe() == after, "compaction changed serving results")
    Ann.compactIvf(spark, p)
    assert(Ann.readIvfManifest(spark, p).version == m.version,
      "a no-op compaction committed a new version")
    assert(probe() == after)
  }

  test("upsertIntoIvf: replaces across lists, unmasks a deleted id, " +
    "inserts a new id; probes match brute force over the updated corpus") {
    val p = java.nio.file.Files
      .createTempDirectory("graft_ivf_up").toString + "/ivf"
    val corp = twoClusterLabeled
    Ann.writeIvf(Ann.buildIvf(corp, nCentroids = 2, seed = 7L,
      initMode = "random"), p)
    def probeIds(q: Seq[Double]): Seq[Long] = {
      val qdf = Seq((0L, q.map(_.toFloat))).toDF("query_id", "query_vec")
      Ann.ivfSearchBatch(spark, p, qdf, k = 5, nprobe = 2)
        .select("vec_id").as[Long].collect().toSeq
    }
    val qB = Seq(0.0, 1.0, 0.0, 0.0) // cluster B's direction
    // 1. MOVE: id 5 (cluster A) gets a cluster-B vector — the targeted
    //    rewrite must drop it from A's list, the frozen quantizer must
    //    land it in B's
    val newVec5 = Seq(0.01f, 1.5f, 0.0f, 0.0f)
    Ann.upsertIntoIvf(spark, p,
      Seq((5L, newVec5, 2)).toDF("vec_id", "embedding", "label"))
    val updated = corp.filter($"vec_id" =!= 5L)
      .union(Seq((5L, newVec5, 2)).toDF("vec_id", "embedding", "label"))
    assert(probeIds(qB) == bruteTopK(updated, qB, 5),
      "post-move probe != brute force over the updated corpus")
    assert(Ann.listsFrame(spark, p).filter($"vec_id" === 5L).count() == 1,
      "upsert left a stale or doubled row")
    // 2. UNMASK: delete id 6, then upsert it back with a new vector —
    //    the tombstone must not hide the fresh row
    Ann.deleteFromIvf(spark, p, Seq(6L))
    val newVec6 = Seq(0.02f, 1.6f, 0.0f, 0.0f)
    Ann.upsertIntoIvf(spark, p,
      Seq((6L, newVec6, 0)).toDF("vec_id", "embedding", "label"))
    val updated2 = updated.filter($"vec_id" =!= 6L)
      .union(Seq((6L, newVec6, 0)).toDF("vec_id", "embedding", "label"))
    assert(probeIds(qB) == bruteTopK(updated2, qB, 5),
      "a tombstone masked the upserted row")
    // 3. INSERT: a brand-new id takes the pure-append path
    val newVec99 = Seq(0.03f, 1.7f, 0.0f, 0.0f)
    Ann.upsertIntoIvf(spark, p,
      Seq((99L, newVec99, 1)).toDF("vec_id", "embedding", "label"))
    assert(probeIds(qB) == bruteTopK(
      updated2.union(Seq((99L, newVec99, 1)).toDF("vec_id", "embedding", "label")),
      qB, 5))
    // idempotence: re-upserting the same row changes nothing
    Ann.upsertIntoIvf(spark, p,
      Seq((99L, newVec99, 1)).toDF("vec_id", "embedding", "label"))
    assert(Ann.listsFrame(spark, p).filter($"vec_id" === 99L).count() == 1)
  }

  test("ivfSearchBatch at nprobe = all equals the exact topKBatch over listsFrame") {
    val rnd = new scala.util.Random(41)
    val corp = (0L until 48L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
      .repartition(4) // multi-file lists
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_batch").toString
    Ann.writeIvf(Ann.buildIvf(corp, nCentroids = 4, seed = 7L), p)
    val queries = Ann.listsFrame(spark, p)
      .filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"),
        $"embedding".cast("array<double>").as("query_vec"))
    val exact = Search.topKBatch(Ann.listsFrame(spark, p), queries,
        k = 3, threshold = -2.0)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val probed = Ann.ivfSearchBatch(spark, p, queries, k = 3, nprobe = 4)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    assert(probed.size == 6 && probed == exact)
  }

  test("ivf-v3 manifest protocol: crashed commits are invisible and " +
    "swept; probes planned before a mutation collect correctly after " +
    "it; gcIvf enforces the retention contract (VERDICT r17 item 1)") {
    import org.apache.hadoop.fs.Path
    val p = java.nio.file.Files
      .createTempDirectory("graft_ivf_rec").toString + "/ivf"
    val corp = twoClusterLabeled
    Ann.writeIvf(Ann.buildIvf(corp, nCentroids = 2, seed = 7L,
      initMode = "random"), p)
    Ann.deleteFromIvf(spark, p, Seq(0L, 13L))
    val fs = new Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qA = Seq(1.0, 0.0, 0.0, 0.0)
    def probe(): Seq[Long] = {
      val qdf = Seq((0L, qA.map(_.toFloat)))
        .toDF("query_id", "query_vec")
      Ann.ivfSearchBatch(spark, p, qdf, k = 5, nprobe = 2)
        .select("vec_id").as[Long].collect().toSeq
    }
    val healthy = probe()
    assert(!healthy.contains(0L), "sanity: tombstoned id excluded")
    assert(Ann.recoverIvf(spark, p).isEmpty,
      "recoverIvf acted on a healthy index")

    // 1. a crashed writer strands ONLY reader-invisible artifacts: an
    //    orphan generation (data written, manifest rename never landed)
    //    and a dead manifest tmp. Probes never see them; the next
    //    writer's entry sweep reclaims both.
    fs.mkdirs(new Path(p, "gen-000099/lists/centroid_id=0"))
    fs.create(new Path(p, "_manifests/.v000099.manifest.tmp"), true).close()
    assert(probe() == healthy, "an uncommitted generation leaked into a probe")
    val a1 = Ann.recoverIvf(spark, p).toSet
    assert(a1 == Set("dropped orphan generation gen-000099",
      "dropped dead manifest tmp .v000099.manifest.tmp"), a1.toString)
    assert(probe() == healthy)

    // 2. THE RACE the v2 in-place swaps had (carried r16→r17): plan a
    //    probe and resolve an index BEFORE mutations, collect AFTER.
    //    Manifest commits never touch the files prior versions
    //    reference, so both still resolve the pre-mutation snapshot.
    val plannedProbe = {
      val qdf = Seq((0L, qA.map(_.toFloat))).toDF("query_id", "query_vec")
      Ann.ivfSearchBatch(spark, p, qdf, k = 5, nprobe = 2).select("vec_id")
    }
    val plannedIdx = Ann.readIvf(spark, p)
    val v0 = Ann.latestIvfVersion(spark, p)
    val newVec5 = Seq(0.01f, 1.5f, 0.0f, 0.0f) // id 5 moves A → B
    Ann.upsertIntoIvf(spark, p,
      Seq((5L, newVec5, 2)).toDF("vec_id", "embedding", "label"))
    Ann.compactIvf(spark, p)
    assert(Ann.latestIvfVersion(spark, p) == v0 + 2,
      "each mutation must commit exactly one version")
    assert(plannedProbe.as[Long].collect().toSeq == healthy,
      "a probe planned before the mutations did not survive them")
    assert(plannedIdx.assigned.count() == 22,
      "an index resolved before the mutations did not survive them")
    // fresh probes serve the POST-mutation truth (id 5 left cluster A)
    val live = corp.filter(!$"vec_id".isin(0L, 13L, 5L))
      .union(Seq((5L, newVec5, 2)).toDF("vec_id", "embedding", "label"))
    assert(probe() == bruteTopK(live, qA, 5),
      "post-mutation probe != brute force over the mutated corpus")
    // time travel: the pre-mutation version still reads while retained
    assert(Ann.readIvf(spark, p, v0).assigned.count() == 22)

    // 3. gcIvf: retention keeps in-flight reads valid; expiry reclaims
    //    superseded generations and refuses time travel below cutoff
    val reclaimed = Ann.gcIvf(spark, p, keepVersions = 1)
    assert(reclaimed.nonEmpty, "gcIvf reclaimed nothing after 2 mutations")
    val ex0 = intercept[IllegalArgumentException](Ann.readIvf(spark, p, v0))
    assert(ex0.getMessage.contains("reclaimed by gcIvf"), ex0.getMessage)
    assert(probe() == bruteTopK(live, qA, 5),
      "gcIvf broke the current version")

    // 4. compacting a fully-tombstoned index is refused, not written
    Ann.deleteFromIvf(spark, p, (0L until 24L).filter(i => i != 0L && i != 13L))
    val ex = intercept[IllegalArgumentException](Ann.compactIvf(spark, p))
    assert(ex.getMessage.contains("every row is tombstoned"))
    assert(Ann.listsFrame(spark, p).count() > 0,
      "refused compaction must leave the lists intact")
  }

  test("writer-entry cost is O(1) in index age (VERDICT r18 item 3): " +
    "on a 50-version index a mutation opens <= 2 manifests — the " +
    "orphan sweep reads NONE (gen numbering vs latest version decides); " +
    "a same-version manifest race fails cleanly (r18 item 2)") {
    val p = java.nio.file.Files
      .createTempDirectory("graft_ivf_cost").toString + "/ivf"
    val corp = twoClusterLabeled
    Ann.writeIvf(Ann.buildIvf(corp, nCentroids = 2, seed = 7L,
      initMode = "random"), p)
    // 49 cheap mutations (tombstone commits) age the index to v50
    (1 to 49).foreach(i => Ann.deleteFromIvf(spark, p, Seq((i % 7).toLong)))
    assert(Ann.latestIvfVersion(spark, p) == 50L)
    Ann.ivfManifestReads.set(0L)
    Ann.deleteFromIvf(spark, p, Seq(8L))
    val reads = Ann.ivfManifestReads.get()
    assert(reads <= 2,
      s"a writer entry on a 50-version index read $reads manifests — " +
      "the O(versions) sweep is back")
    // the sweep itself is read-free AND still sweeps true orphans:
    // a crashed commit's gen is numbered above every committed version
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(p, "gen-000077/lists/centroid_id=0"))
    Ann.ivfManifestReads.set(0L)
    val swept = Ann.recoverIvf(spark, p)
    assert(swept == Seq("dropped orphan generation gen-000077"), swept.toString)
    assert(Ann.ivfManifestReads.get() == 0L,
      "the orphan sweep read manifests")
    // same-version race: the loser throws, the winner's manifest and
    // the index content are untouched
    val before = Ann.listsFrame(spark, p).count()
    val m = Ann.readIvfManifest(spark, p, 51L)
    val ex = intercept[graft.sources.ConcurrentCommitException](
      Ann.commitIvfManifestForTest(spark, p, m.copy(tombstones = Nil)))
    assert(ex.getMessage.contains("concurrent writer"), ex.getMessage)
    assert(Ann.readIvfManifest(spark, p, 51L).tombstones.nonEmpty,
      "the losing commit clobbered the winner's manifest")
    assert(Ann.listsFrame(spark, p).count() == before)
  }

  test("ivfSearchAdaptive: an easy query probes one list, a boundary " +
    "query widens and matches brute force; maxProbe clamps") {
    val p = java.nio.file.Files
      .createTempDirectory("graft_ivf_adapt").toString + "/ivf"
    val corp = twoClusterLabeled
    Ann.writeIvf(Ann.buildIvf(corp, nCentroids = 2, seed = 7L,
      initMode = "random"), p)
    // query 0 sits on cluster A's axis (easy); query 1 on the exact
    // A/B diagonal (Voronoi boundary — ambiguous)
    val queries = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(1.0, 1.0, 0.0, 0.0))).toDF("query_id", "query_vec")
    val got = Ann.ivfSearchAdaptive(spark, p, queries, k = 5,
      margin = 0.2, maxProbe = 2)
      .select($"query_id", $"vec_id", $"n_probes", $"rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    val byQ = got.groupBy(_._1)
    assert(byQ(0L).head._3 == 1L, s"easy query should probe 1 list: $got")
    assert(byQ(1L).head._3 == 2L, s"boundary query should widen: $got")
    // the widened query probed EVERY list -> exact by construction
    val exact1 = bruteTopK(corp, Seq(1.0, 1.0, 0.0, 0.0), 5)
    assert(byQ(1L).sortBy(_._4).map(_._2) == exact1,
      "boundary query != brute force despite full probe")
    // margin 0 degenerates to nprobe=1 for every query
    val tight = Ann.ivfSearchAdaptive(spark, p, queries, k = 5,
      margin = 0.0, maxProbe = 2)
      .select($"n_probes").distinct().as[Long].collect().toSeq
    assert(tight == Seq(1L), s"margin 0 must probe exactly 1: $tight")
    // validation
    intercept[IllegalArgumentException](
      Ann.ivfSearchAdaptive(spark, p, queries, k = 0))
    intercept[IllegalArgumentException](
      Ann.ivfSearchAdaptive(spark, p, queries, margin = -0.1))
  }

  test("matryoshkaRecallCurve: full dim always recalls 1.0; prefix-" +
    "concentrated data reaches full recall at the prefix width") {
    val rnd = new scala.util.Random(5)
    // matryoshka-like: all signal in dims 0-1, dims 2-7 tiny noise —
    // a 2-dim prefix already ranks like the full vector
    val data = (0L until 30L).map { i =>
      val base = if (i < 15) Seq(1.0, 0.1 * i) else Seq(-1.0, 0.05 * i)
      (i, (base ++ Seq.fill(6)(rnd.nextGaussian() * 1e-4)).map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val qVec = data.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val curve = Ann.matryoshkaRecallCurve(data, qVec,
        dims = Seq(2, 4, 8), poolK = 12, k = 5)
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(curve(8L) == (5L, 1000000L), "full dim must recall 1.0")
    assert(curve(2L)._2 == 1000000L,
      s"prefix-concentrated data should recall 1.0 at dim 2: $curve")
    intercept[IllegalArgumentException](
      Ann.matryoshkaRecallCurve(data, qVec, dims = Seq(2, 4))) // no full
    intercept[IllegalArgumentException](
      Ann.matryoshkaRecallCurve(data, qVec, dims = Seq(8), poolK = 2, k = 5))
  }

  test("ivfSq8Search: full probe+shortlist equals brute force; the " +
    "ranking scan projects codes WITHOUT the float column; augment is " +
    "idempotent; tombstones honored") {
    val p = java.nio.file.Files
      .createTempDirectory("graft_ivf_sq8").toString + "/ivf"
    val corp = twoClusterLabeled
    Ann.writeIvf(Ann.buildIvf(corp, nCentroids = 2, seed = 7L,
      initMode = "random"), p)
    val model = Ann.sq8Train(corp)
    Ann.sq8AugmentIvf(spark, p, model)
    val qVec = corp.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val got = Ann.ivfSq8Search(spark, p, qVec, k = 5, nprobe = 2,
      shortlist = 24)
    assert(got.select($"vec_id").as[Long].collect().toSeq ==
      bruteTopK(corp, qVec, 5),
      "full-probe IVF-SQ8 != brute force")
    // the ranking (codes) scan must NOT read the float vectors — the
    // 4x-scan-reduction claim, visible as a lists scan whose output
    // carries sq8_codes and not embedding; and it partition-prunes.
    // AQE hides the physical tree from collect(), so audit without it
    // (the PruningAuditSpec idiom — AQE never widens a ReadSchema)
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans =
      try Ann.ivfSq8Search(spark, p, qVec, k = 5, nprobe = 2,
          shortlist = 24)
        .queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }
      finally spark.conf.set("spark.sql.adaptive.enabled", before)
    val codeScan = scans.find(_.output.exists(_.name == "sq8_codes"))
    assert(codeScan.isDefined, "no scan projecting sq8_codes")
    assert(!codeScan.get.output.exists(_.name == "embedding"),
      s"ranking scan reads the float column: ${codeScan.get.output}")
    assert(codeScan.get.partitionFilters.exists(
      _.references.exists(_.name == "centroid_id")),
      "codes scan is not partition-pruned")
    // persisted model round-trips; re-augment is a no-op for serving
    val m2 = Ann.readSq8Model(spark, p)
    assert(m2.lo.toSeq == model.lo.toSeq && m2.span.toSeq == model.span.toSeq)
    Ann.sq8AugmentIvf(spark, p, model)
    assert(Ann.ivfSq8Search(spark, p, qVec, k = 5, nprobe = 2,
        shortlist = 24).select($"vec_id").as[Long].collect().toSeq ==
      bruteTopK(corp, qVec, 5))
    // deletes mask on the compressed path too
    val victim = bruteTopK(corp, qVec, 5).head
    Ann.deleteFromIvf(spark, p, Seq(victim))
    val after = Ann.ivfSq8Search(spark, p, qVec, k = 5, nprobe = 2,
      shortlist = 24).select($"vec_id").as[Long].collect().toSeq
    assert(!after.contains(victim), "tombstoned id leaked")
    assert(after == bruteTopK(corp.filter($"vec_id" =!= victim), qVec, 5))
  }

  test("ivfSearchFiltered: nprobe=all == exact filtered scan; pushed " +
    "predicate; widenToFill rescues a starved selective filter") {
    val p = java.nio.file.Files
      .createTempDirectory("graft_ivf_filt").toString + "/ivf"
    // label 9 lives ONLY in cluster B — a query near cluster A probing
    // 1 list sees zero label-9 rows (the filtered-ANN starvation case)
    val corp = twoClusterLabeled
      .withColumn("label", when($"vec_id" >= 12, 9).otherwise($"label"))
    Ann.writeIvf(Ann.buildIvf(corp, nCentroids = 2, seed = 7L,
      initMode = "random"), p)
    val q0 = Seq(1.0, 0.0, 0.0, 0.0) // cluster A's direction
    val wantFiltered = bruteTopK(corp.filter($"label" === 9), q0, 5)
    def got(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("vec_id").as[Long].collect().toSeq
    // full probe == exact filtered answer (q212's gate shape)
    assert(got(Ann.ivfSearchFiltered(spark, p, q0, $"label" === 9,
      k = 5, nprobe = 2)) == wantFiltered)
    // starved: 1 probed list has no label-9 rows at all
    assert(got(Ann.ivfSearchFiltered(spark, p, q0, $"label" === 9,
      k = 5, nprobe = 1)).isEmpty)
    // widenToFill detects the shortfall and re-probes everything
    assert(got(Ann.ivfSearchFiltered(spark, p, q0, $"label" === 9,
      k = 5, nprobe = 1, widenToFill = true)) == wantFiltered)
    // no-shortfall path: the probed list fills k, the bounded limit(k)
    // probe reports no starvation, and the answer is still exact
    val wantLocal = bruteTopK(corp.filter($"label" =!= 9 && $"vec_id" < 12),
      q0, 5)
    assert(got(Ann.ivfSearchFiltered(spark, p, q0, $"label" =!= 9,
      k = 5, nprobe = 1, widenToFill = true)) == wantLocal)
    // deletes compose: tombstoning the filtered top-1 removes exactly it
    Ann.deleteFromIvf(spark, p, Seq(wantFiltered.head))
    assert(got(Ann.ivfSearchFiltered(spark, p, q0, $"label" === 9,
      k = 5, nprobe = 2)) ==
      bruteTopK(corp.filter($"label" === 9 &&
        $"vec_id" =!= wantFiltered.head), q0, 5))
  }

  // one persisted SQ8-augmented two-cluster index, label 9 only in
  // cluster B, shared by the snapshot and dimension cases below
  private lazy val sq8TwoCluster: String = {
    val p = java.nio.file.Files
      .createTempDirectory("graft_ivf_snap").toString + "/ivf"
    val corp = twoClusterLabeled
      .withColumn("label", when($"vec_id" >= 12, 9).otherwise($"label"))
    Ann.writeIvf(Ann.buildIvf(corp, nCentroids = 2, seed = 7L,
      initMode = "random"), p)
    Ann.sq8AugmentIvf(spark, p, Ann.sq8Train(corp))
    p
  }

  test("every persisted-IVF probe resolves exactly one manifest per call") {
    val p = sq8TwoCluster
    val q0 = Seq(1.0, 0.0, 0.0, 0.0)
    val queries = Seq((0L, q0), (1L, Seq(1.0, 1.0, 0.0, 0.0)))
      .toDF("query_id", "query_vec")
    def manifestsOpened(probe: => org.apache.spark.sql.DataFrame): Long = {
      Ann.ivfManifestReads.set(0L)
      assert(probe.collect().nonEmpty)
      Ann.ivfManifestReads.get()
    }
    val opened = Map(
      "ivfSearchBatch" -> manifestsOpened(
        Ann.ivfSearchBatch(spark, p, queries, k = 5, nprobe = 1)),
      "ivfSearchAdaptive" -> manifestsOpened(
        Ann.ivfSearchAdaptive(spark, p, queries, k = 5, maxProbe = 2)),
      // nprobe 1 near cluster A finds no label-9 row: the shortfall
      // probe fires and the answer re-probes every list
      "ivfSearchFiltered(widenToFill)" -> manifestsOpened(
        Ann.ivfSearchFiltered(spark, p, q0, $"label" === 9, k = 5,
          nprobe = 1, widenToFill = true)),
      "ivfSq8Search" -> manifestsOpened(
        Ann.ivfSq8Search(spark, p, q0, k = 5, nprobe = 1, shortlist = 8)))
    assert(opened.values.forall(_ == 1L), s"manifests opened per call: $opened")
  }

  private def assertDimMismatch(probe: => Any): Unit = {
    val ex = intercept[IllegalArgumentException](probe)
    assert(ex.getMessage.contains("query dimension 3") &&
      ex.getMessage.contains("index dimension 4"), ex.getMessage)
  }

  test("ivfSearch: a query of the wrong dimension fails naming both") {
    val index = Ann.buildIvf(twoClusterLabeled, nCentroids = 2, seed = 7L,
      initMode = "random")
    assertDimMismatch(Ann.ivfSearch(index, Seq(1.0, 0.0, 0.0)))
  }

  test("ivfSearchFiltered: a query of the wrong dimension fails naming both") {
    assertDimMismatch(Ann.ivfSearchFiltered(spark, sq8TwoCluster,
      Seq(1.0, 0.0, 0.0), $"label" === 9, widenToFill = true))
  }

  test("ivfSq8Search: a query of the wrong dimension fails naming both") {
    assertDimMismatch(Ann.ivfSq8Search(spark, sq8TwoCluster,
      Seq(1.0, 0.0, 0.0)))
  }
}
