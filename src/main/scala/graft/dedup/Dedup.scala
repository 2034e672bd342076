package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions._

/** Near-duplicate detection for large text corpora — the operators a
  * training-data pipeline layers on top of the reference's append-only
  * corpus (which itself accumulates duplicates by design,
  * `/root/reference/mock_vector_db_api.py:200` / SURVEY.md §2.7 "set ops").
  *
  * Everything here is pure Catalyst expressions (no UDFs): shingling and
  * signatures are per-row higher-order functions (map-side, no shuffle),
  * and the only shuffles are the band-bucket self-join and the final
  * dedup — the canonical MinHash-LSH shape that scales linearly in corpus
  * size instead of quadratically in pairs. Hashes derive from md5 prefixes
  * (HashFunctions) so DuckDB can replay them bit-for-bit for the oracle.
  *
  * Scale notes (100 TB posture):
  *  - signatures/bands stream map-side; only (band_hash, doc_id) pairs —
  *    never the text — enter the candidate-pair shuffle;
  *  - the band join is an equi-join on band_hash, so Spark hash-partitions
  *    buckets across executors; a hot bucket (boilerplate text) is the one
  *    skew risk — AQE skew-join handles it, or cap bucket size upstream;
  *  - exact-Jaccard verification joins shingle SETS only for candidate
  *    pairs (LSH-pruned), not all pairs.
  */
object Dedup {

  /** Signature width — the single source of truth is the native kernel's
    * default (graft.functions.MinHashSignature), which minhashBands uses;
    * referencing it here keeps bandHashes' slicing in lockstep.
    */
  val NumHashes: Int = graft.functions.MinHashSignature.DefaultNumHashes
  val NumBands = 8 // rows per band r = 2 → candidate prob = 1-(1-j^2)^8

  /** Lowercased whitespace tokens of a text column — the ONE corpus
    * tokenization (delegates to TextAnalysis.tokens so dedup signatures
    * can never desynchronize from the rest of the text pipeline).
    */
  def tokens(text: Column): Column = graft.text.TextAnalysis.tokens(text)

  /** Distinct word n-gram shingles; texts shorter than n words fall back
    * to a single whole-text shingle so every doc has ≥1 shingle.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val w = tokens(text)
    val grams = transform(
      sequence(lit(0), size(w) - n),
      i => concat_ws(" ", slice(w, i + 1, lit(n))))
    array_distinct(when(size(w) >= n, grams).otherwise(array(concat_ws(" ", w))))
  }

  /** Distinct shingle 60-bit md5 hashes — the set the verify joins
    * intersect (r19): every consumer below that only ever needs
    * |A∩B| / |A∪B| / equality of shingles compares 8-byte longs instead
    * of materializing shingle STRINGS through interpreted HOFs
    * (the r19 per-stage profile measured the composed string form at
    * ~19 ms/doc before any set work). Values are md5Int60 of the exact
    * same shingle strings ([[graft.functions.ShingleHashes]],
    * spec-pinned), so intersect/union SIZES — and every downstream jaccard,
    * containment, decile, and threshold count — are unchanged; two
    * distinct shingles colliding in 60 bits is the same measure-zero
    * caveat the q97 inverted index pinned, and every oracle gate
    * re-proves it per corpus.
    */
  def shingleHashes(text: Column, n: Int = 3): Column =
    graft.functions.ShingleHashes(tokens(text), n)

  /** 32-bit portable hash of one shingle (md5-prefix, DuckDB-replayable;
    * the single definition lives in HashFunctions — duplicating the
    * recipe here would let the oracle-critical hash drift).
    */
  private def h32(s: Column): Column = graft.functions.HashFunctions.md5Int32(s)

  /** MinHash signature over PRE-HASHED shingles: for each of [[NumHashes]]
    * universal-family hash functions, the minimum over the doc's shingle
    * hashes. Takes the hashed array (not the shingles) so callers stage
    * the md5 pass as its own projection — md5 is the expensive part and
    * must run once per shingle, not once per hash function. (Catalyst's
    * CollapseProject keeps a non-cheap multi-referenced projection
    * separate, so the staging survives optimization.)
    */
  def minhashSignatureFromHashes(hashedCol: Column): Column =
    array((0 until NumHashes).map { j =>
      array_min(transform(hashedCol,
        h => pmod(lit(minhashA(j)) * h + lit(minhashB(j)), lit(MinhashPrime))))
    }: _*)

  /** Convenience single-expression form (tests, small data): hashes and
    * signature in one tree — md5 is recomputed per hash function here, so
    * prefer the staged [[minhashSignatureFromHashes]] on real corpora.
    */
  def minhashSignature(shingleCol: Column): Column =
    minhashSignatureFromHashes(transform(shingleCol, s => h32(s)))

  /** LSH banding: signature → array of [[NumBands]] md5 band keys (each
    * hashing r = k/bands consecutive signature slots).
    */
  def bandHashes(sig: Column): Column = {
    val r = NumHashes / NumBands
    array((0 until NumBands).map { b =>
      md5(concat_ws(",",
        transform(slice(sig, b * r + 1, r), x => x.cast("string"))).cast("binary"))
    }: _*)
  }

  /** docs → (doc_id, band, band_hash): one row per band per doc — the
    * bucket table LSH joins on. The shingle→hash→minima kernel is the
    * native [[graft.functions.MinHashSignature]] expression (one fused
    * JVM pass per row, value-identical to the expression-tree phrasing);
    * only the 8 small band md5s remain expression-level.
    */
  def minhashBands(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", n: Int = 3): DataFrame =
    docs.select(col(idCol), tokens(col(textCol)).as("__w"))
      .select(col(idCol),
        graft.functions.MinHashSignature(col("__w"), n, NumHashes).as("__sig"))
      .select(col(idCol),
        posexplode(bandHashes(col("__sig"))).as(Seq("band", "band_hash")))

  /** Expression-tree variant of [[minhashBands]] (the oracle-documenting
    * form; see the staged projections — each expensive pass runs once).
    */
  def minhashBandsExpr(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    docs.select(col(idCol), shingles(col(textCol)).as("__sh"))
      .select(col(idCol), transform(col("__sh"), s => h32(s)).as("__hashed"))
      .select(col(idCol), minhashSignatureFromHashes(col("__hashed")).as("__sig"))
      .select(col(idCol),
        posexplode(bandHashes(col("__sig"))).as(Seq("band", "band_hash")))

  /** (idCol, "sh") shingle-hash frame → (idCol, band, band_hash), the
    * signature DERIVED from the 60-bit hashes
    * ([[graft.functions.MinHashFromHashes]]: md5Int32 ≡ md5Int60 >>> 28
    * per shingle, so the band values are bit-identical to
    * [[minhashBands]] — MinHashFromHashesSpec pins it). This is the r20
    * shared-projection entry (guide §2.3/§2.4): the pairs+verify family
    * projects `shingleHashes` ONCE (checkpointed by the caller), derives
    * bands without re-digesting a single shingle, and intersects the
    * same column — one tokenize+shingle+digest pass per corpus where
    * there were three (signature pass + one per verify side).
    */
  def bandsFromShingleHashes(sh: DataFrame, idCol: String = "doc_id"): DataFrame =
    sh.select(col(idCol),
        graft.functions.MinHashFromHashes(col("sh"), NumHashes).as("__sig"))
      .select(col(idCol),
        posexplode(bandHashes(col("__sig"))).as(Seq("band", "band_hash")))

  /** Candidate pairs: docs sharing any band bucket (doc_a < doc_b). The
    * self-join shuffles only (band, band_hash, doc_id) triples.
    *
    * `maxBucketSize` guards the quadratic blow-up of a hot bucket (at
    * corpus scale, boilerplate text — license headers, templates — lands
    * thousands of docs in one bucket, and a b-sized bucket emits b²/2
    * pairs): buckets above the cap are skipped entirely, the standard
    * LSH treatment — an over-full bucket is non-discriminative, and its
    * members still pair through their other (rarer) bands. Default
    * unlimited to keep the exact-LSH semantics (and the DuckDB oracle)
    * unchanged.
    */
  def candidatePairs(bands: DataFrame, idCol: String = "doc_id",
                     maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // r19 (guide §2.4): the cap keeps rows whose bucket holds <= cap
    // members — a count window over the bucket key, not aggregate +
    // left-semi join. The join form re-derived `bands` (usually an
    // UN-cached MinHash signature pass over the corpus) for the probe
    // side — one extra full tokenize+minhash per call; the window filters
    // inside the bucket exchange the self-join needs anyway. Identical
    // surviving rows. Caveat (ADVICE r19): WindowExec still sorts and
    // buffers the hottest (band, band_hash) group before the filter
    // drops it, so a degenerate corpus where one bucket holds most rows
    // can spill here — measured cheaper than the agg+semi-join's extra
    // signature pass on real corpora, but if such skew appears the old
    // aggregate + left-semi form is the fallback.
    val bounded =
      if (maxBucketSize == Int.MaxValue) bands
      else
        bands.withColumn("__n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("band"), col("band_hash"))))
          .filter(col("__n") <= maxBucketSize)
          .drop("__n")
    val x = bounded.select(col("band"), col("band_hash"), col(idCol).as("doc_a"))
    val y = bounded.select(col("band"), col("band_hash"), col(idCol).as("doc_b"))
    x.join(y, Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** LSH candidates verified with exact word-n-gram Jaccard similarity
    * (|A∩B| / |A∪B| over distinct shingles). Only candidate pairs pay the
    * set comparison.
    */
  def nearDupPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", minJaccard: Double = 0.0,
                   maxBucketSize: Int = Int.MaxValue,
                   keepRawJaccard: Boolean = false): DataFrame =
    // r20 (guide §2.3/§2.4): ONE shingle projection — checkpointed —
    // feeds the band derivation and both verify sides; previously the
    // signature pass and each verify side re-ran tokenize+shingle+md5
    // independently (3 kernel passes per call). Bit-identical bands and
    // sets (see bandsFromShingleHashes / MinHashFromHashesSpec).
    nearDupPairsFromHashes(
      docs.select(col(idCol), shingleHashes(col(textCol)).as("sh"))
        // eager: the bands branch and the two verify sides are
        // INDEPENDENT stages of one job — lazily-checkpointed blocks
        // race (each concurrent stage recomputes the kernel before the
        // cache fills; measured +3x family CPU at sf0.1), an eager cut
        // runs the kernel exactly once
        .localCheckpoint(eager = true),
      idCol, minJaccard, maxBucketSize, keepRawJaccard)

  /** [[nearDupPairs]] over a prebuilt (idCol, "sh") shingle-hash frame —
    * the caller decides materialization (recallCurve shares one frame
    * between the production pairs pass and its truth join).
    */
  def nearDupPairsFromHashes(sh: DataFrame, idCol: String = "doc_id",
                             minJaccard: Double = 0.0,
                             maxBucketSize: Int = Int.MaxValue,
                             keepRawJaccard: Boolean = false): DataFrame = {
    val verified =
      candidatePairs(bandsFromShingleHashes(sh, idCol), idCol, maxBucketSize)
        .join(sh.select(col(idCol).as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(sh.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .withColumn("jaccard",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
        .filter(col("jaccard") >= minJaccard)
    // raw_jaccard lets ONE LSH pass serve several downstream thresholds
    // exactly: a later filter on the RAW value is identical to passing a
    // higher minJaccard here (the output column is 6dp-rounded, so
    // filtering on it instead would misplace pairs within 5e-7 of the cut)
    if (keepRawJaccard)
      verified.select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).as("jaccard"),
        col("jaccard").as("raw_jaccard"))
    else
      verified.select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** LSH candidates verified with exact shingle CONTAINMENT —
    * |A∩B| / min(|A|,|B|) over distinct word n-gram shingles. Catches
    * subset duplication (one document embedded inside a larger one) that
    * symmetric Jaccard dilutes: a 100-shingle doc fully contained in a
    * 1000-shingle doc scores containment 1.0 but Jaccard only ~0.1.
    * Candidate generation is the same MinHash-LSH as [[nearDupPairs]],
    * with the shingle size `n` threaded through to the signature kernel
    * so candidates and the containment metric always see the same
    * shingles (at n = 3 this is bit-identical to nearDupPairs'
    * candidates); only the verification metric differs. Note the
    * MinHash bands are tuned for Jaccard, so low-Jaccard/high-containment
    * pairs surface only when the small side still shares enough bands —
    * for guaranteed containment recall use [[containmentPairsExact]]
    * (prefix-filtered inverted index; this is the scan-cheap variant).
    */
  def containmentNearDups(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text", n: Int = 3,
                          minContainment: Double = 0.0,
                          maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // r20 shared shingle projection (see nearDupPairs): one kernel pass
    // feeds bands + both verify sides (eager — see nearDupPairs)
    val sh = docs.select(col(idCol), shingleHashes(col(textCol), n).as("sh"))
      .localCheckpoint(eager = true)
    candidatePairs(bandsFromShingleHashes(sh, idCol), idCol, maxBucketSize)
      .join(sh.select(col(idCol).as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** Clone-collapsed [[containmentNearDups]] with IDENTICAL output: a
    * clone copy carries exactly its representative's bands and shingle
    * set, so the per-id candidate+verify pass factorizes — LSH and the
    * intersect verification run on DISTINCT texts only, and the per-id
    * pair list is reconstructed closed-form (rep pair × both member
    * lists for inter-group pairs; containment exactly 1.0 for
    * intra-group pairs, which always band-collide). Verification work
    * drops from per-pair to per-REP-pair (the gs100x clone replica ran
    * q75's per-id form at 56.3 s of mostly identical-array intersects);
    * the expansion is output-sized with no set operations. Intra-group
    * pairs are emitted unconditionally at 1.0 — which the per-id form
    * also always keeps, since 1.0 passes every threshold. Parity is
    * exact at `maxBucketSize = Int.MaxValue` (q75's contract); under a
    * finite cap the collapsed form reinterprets occupancy over DISTINCT
    * texts (the q183/q198 cap caveat) and keeps intra-clique pairs a
    * per-id cap would drop.
    */
  def containmentNearDupsCollapsed(docs: DataFrame,
                                   idCol: String = "doc_id",
                                   textCol: String = "text", n: Int = 3,
                                   minContainment: Double = 0.0,
                                   maxBucketSize: Int = Int.MaxValue)
      : DataFrame = {
    val h = md5(col(textCol).cast("binary"))
    val groups = exactDupGroups(docs, idCol, textCol)
    // (doc_id, keep_id) for every doc — corpus-sized, one hash join
    val mapping = docs.select(col(idCol), h.as("__h"))
      .join(groups.select(col("text_hash").as("__h"), col("keep_id")), "__h")
      .select(col(idCol), col("keep_id"))
      .localCheckpoint(eager = true) // feeds three joins below
    val reps = docs.join(groups.select(col("keep_id")),
      col(idCol) === col("keep_id"), "left_semi")
    val repPairs = containmentNearDups(reps, idCol, textCol, n,
      minContainment, maxBucketSize)
    // inter-group: every (member of a) × (member of b) pair, the rep
    // pair's containment verbatim (identical texts ⇒ identical metric)
    val inter = repPairs
      .join(mapping.select(col("keep_id").as("doc_a"), col(idCol).as("__ua")), "doc_a")
      .join(mapping.select(col("keep_id").as("doc_b"), col(idCol).as("__ub")), "doc_b")
      .select(least(col("__ua"), col("__ub")).as("doc_a"),
        greatest(col("__ua"), col("__ub")).as("doc_b"),
        col("containment"))
    // intra-group: clone copies always share every band; containment 1.0
    val intra = mapping
      .join(mapping.select(col("keep_id"), col(idCol).as("__v")), Seq("keep_id"))
      .filter(col(idCol) < col("__v"))
      .select(col(idCol).as("doc_a"), col("__v").as("doc_b"),
        lit(1.0).as("containment"))
    inter.unionByName(intra)
  }

  /** Containment pairs with GUARANTEED recall — no LSH false negatives.
    * Prefix filtering over a shingle inverted index (the AllPairs/PPJoin
    * family, Bayardo et al. "Scaling Up All Pairs Similarity Search";
    * Xiao et al. PPJoin): fix one global total order on shingles —
    * (doc frequency ASC, shingle-hash ASC), rarest first — and note that if
    * |A∩B| ≥ α, the first |S|−α+1 shingles of the SMALLER set S must
    * contain an intersection element (otherwise all α of them squeeze
    * into the remaining α−1 slots). With containment ≥ t ⇒ overlap
    * α ≥ ⌈t·|S|⌉, every qualifying pair therefore collides when each doc
    * PROBES with only its ⌊|S|−⌈t·|S|⌉+1⌋ rarest shingles while the
    * full corpus is INDEXED on all shingles — recall 1.0 by construction
    * (DedupSpec plants a Jaccard≈0.1 / containment 1.0 pair the
    * Jaccard-tuned bands miss and asserts this path finds it).
    *
    * Scale shape: the index side is the linear shingle explosion (same
    * as [[contaminationPairs]]); the probe side is (1−t)× that, and
    * rare-first ordering keeps hot shingles (boilerplate n-grams) out
    * of probe prefixes, so the per-shingle join fan-out is
    * probe(s)·index(s) with probe(s) small exactly where index(s) is
    * large. Two shuffles build the ranked index (by shingle for doc
    * frequency, by doc for the prefix rank); candidates dedup before
    * the shingle-set verification join. All-identical corpora still
    * emit quadratic output — that is genuine result size, not a plan
    * defect.
    *
    * Shingles are 60-bit-hashed BEFORE the first shuffle: every
    * downstream exchange (doc-freq groupBy, the rank window, the
    * probe⋈index equi-join) then carries an 8-byte key instead of an
    * n-word string, and the verification intersect compares longs. The
    * lemma only needs SOME fixed total order on the shingle universe, so
    * ordering by hash instead of raw text is equally valid; hash
    * collisions (~|corpus shingles|²/2^61) merge two shingles into one
    * for BOTH sides of every comparison, and the oracle replays the
    * identical md5-prefix hash, so parity is unaffected.
    *
    * **Count-prefilter hybrid — PINNED NEGATIVE** (VERDICT r16 item 3 /
    * r17 item 9): replacing the set-verification join with a
    * group-count of index collisions per candidate pair (count ≥ α ⇒
    * verified) was tried and measured WORSE: the count aggregates the
    * EXPLODED probe⋈index rows, while the verify join's input is the
    * already-DEDUPED candidate pairs — orders of magnitude fewer at
    * prefix selectivity — so the "prefilter" shuffles strictly more
    * bytes than the stage it would skip. The committed scaling curve
    * (PERF.md, solo fresh sessions: 127.9 s at 100×, 200.7 s at 200× —
    * 2× data → 1.57× time) is linear in shingle mass with no
    * verify-bound segment left to cut; the 1000× ceiling is single-box
    * shuffle DISK, which a count-prefilter does not change. Do not
    * re-litigate without a plan that reduces shuffled bytes.
    */
  def containmentPairsExact(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text", n: Int = 3,
                            minContainment: Double = 0.5): DataFrame = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0, 1], got $minContainment")
    import org.apache.spark.sql.expressions.Window
    // localCheckpoint: the hashed shingle sets feed the explosion AND
    // both sides of the verification join — 3 recomputes of the
    // tokenize+shingle+hash scan otherwise. Longs-only payload.
    val sh = docs.select(col(idCol).as("__id"),
      array_distinct(transform(shingles(col(textCol), n),
        x => graft.functions.HashFunctions.md5Int60(x))).as("sh"))
      // eager (r20): the explosion and the two verification sides are
      // independent stages — lazy blocks race and re-run the shingle
      // pass per stage (the nearDupPairs lesson)
      .localCheckpoint(eager = true)
    val ex = sh.select(col("__id"), size(col("sh")).cast("long").as("sz"),
      explode(col("sh")).as("s"))
    // shingles are distinct per doc, so count(*) per shingle = doc freq
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("__df"))
    // localCheckpoint: ranked feeds BOTH sides of the probe⋈index
    // self-join — without it the scan + shingle explosion + doc-freq
    // join + rank window all run twice (self-joins defeat Spark's
    // exchange reuse above the window). The materialized table is
    // (id, sz, s-hash, rn): four fixed-width columns per shingle, the
    // same order of magnitude the join shuffles anyway.
    // r20 (guide §2, VERDICT item 7): the checkpoint is REPARTITIONED BY
    // THE JOIN KEY at the session's shuffle parallelism before it
    // materializes. Two effects: (a) probe and index read a frame whose
    // preserved outputPartitioning already satisfies the self-join's
    // hash requirement, so the join adds ZERO exchanges (previously both
    // sides re-shuffled the checkpoint by s); (b) the explicit partition
    // count pins the width — at bench SF the window exchange's output is
    // a few MB and AQE's 1 MB-per-partition coalescing floor was landing
    // the checkpoint (and every downstream stage) on 2-4 tasks, i.e.
    // near-serial on a 32-core box (driver r19: 8 cores ran 1.09x of
    // 32), even though the per-byte CPU here (rank + set verify) is
    // heavy. numShufflePartitions is the session's scale knob, not a
    // local constant: local[k] benches set it to k, a cluster job sets
    // it to its reduce width.
    val shufN = ex.sparkSession.sessionState.conf.numShufflePartitions
    val ranked = ex.join(dfreq, "s")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("__id")).orderBy(col("__df").asc, col("s").asc)))
      .repartition(shufN, col("s"))
      .localCheckpoint(eager = true) // eager: probe + index race a lazy cut
    val prefixLen = col("sz") - ceil(lit(minContainment) * col("sz")) + lit(1L)
    val probe = ranked.filter(col("rn") <= prefixLen)
      .select(col("s"), col("__id").as("id_p"), col("sz").as("sz_p"),
        col("rn").as("rn_p"))
    val index = ranked.select(col("s"), col("__id").as("id_i"),
      col("sz").as("sz_i"), col("rn").as("rn_i"))
    // the lemma needs the SMALLER side probing; equal sizes pass both
    // ways and dedup via the least/greatest normalization + distinct.
    // PPJoin positional filter: every common shingle sits at rank ≥ rn
    // on BOTH sides, so overlap ≤ min(sz−rn)+1 — a record whose bound
    // cannot reach ⌈t·min(sz)⌉ is pruned. Lossless: the pair's FIRST
    // common shingle (in the global order) has the loosest bound, and
    // that record always survives.
    val cand = probe.join(index, "s")
      .filter(col("sz_p") < col("sz_i") ||
        (col("sz_p") === col("sz_i") && col("id_p") =!= col("id_i")))
      .filter(least(col("sz_p") - col("rn_p"), col("sz_i") - col("rn_i")) + 1 >=
        ceil(lit(minContainment) * col("sz_p")))
      .select(least(col("id_p"), col("id_i")).as("doc_a"),
        greatest(col("id_p"), col("id_i")).as("doc_b"))
      .distinct()
      // pinned-width verify (same rationale as `ranked` above): the
      // distinct keeps its partial-aggregate-below-the-exchange shape
      // (§2.3 — raw pair rows repeat once per shared prefix shingle and
      // must combine map-side), then the DEDUPED pair frame — tiny —
      // repartitions once more on doc_a so the set-intersect verify
      // joins run at the session's width instead of the 2-3
      // AQE-coalesced tasks the pair exchange reads at bench SF, and
      // the first verify join is already clustered on its key
      .repartition(shufN, col("doc_a"))
    cand
      .join(sh.select(col("__id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("__id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** Benchmark-contamination scan (train/test decontamination): corpus
    * documents sharing ≥ `minShared` distinct word n-gram shingles with
    * any benchmark document. The benchmark side is exploded to
    * (shingle → benchmark_id) and BROADCAST — eval/benchmark sets are
    * tiny next to a 100 TB corpus, so the corpus streams map-side
    * through the shingle join and only matching (corpus, benchmark)
    * pairs reach the count aggregate. Shingles are distinct per doc, so
    * the pair count IS the intersection size.
    *
    * `excludeSelf` defaults to FALSE: it is only meaningful when the
    * benchmark rows are drawn from the corpus itself (shared id space).
    * With independently-numbered datasets, dropping id-equal pairs
    * would silently hide genuinely contaminated documents that happen
    * to share an id with their benchmark twin.
    */
  def contaminationPairs(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         n: Int = 3, minShared: Int = 2,
                         excludeSelf: Boolean = false): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val c = corpus.select(col(idCol).as("corpus_id"),
      explode(shingleHashes(col(textCol), n)).as("sh"))
    val b = benchmark.select(col(idCol).as("benchmark_id"),
      explode(shingleHashes(col(textCol), n)).as("sh"))
    val joined = c.join(broadcast(b), "sh")
    val pairs = if (excludeSelf)
      joined.filter(col("corpus_id") =!= col("benchmark_id")) else joined
    pairs.groupBy(col("corpus_id"), col("benchmark_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Fuzzy near-title pairs via edit distance with bounded blocking
    * (entity-resolution shape): candidates share (`groupCol`, first
    * title token, a ±1 window of `lengthBand`-char title-length bands)
    * and are verified with levenshtein ≤ `maxDist` over the
    * `prefixTokens`-token "title" prefix.
    *
    * The length band is the block-size bound a stopword-leading corpus
    * needs: blocking on the first token alone makes one block quadratic
    * when half the titles start with "the". Because an edit costs at
    * least one character of length difference, `dist ≤ maxDist` implies
    * `|len(a) − len(b)| ≤ maxDist`, so with `lengthBand > maxDist` every
    * qualifying pair lands in the same or an adjacent band — side A
    * emits its band ±1 (3 small rows), side B its own band, and the
    * equi-join sees each unordered pair exactly once (the id_a < id_b
    * half). Output is IDENTICAL to unbanded blocking (spec-asserted);
    * only the candidate space shrinks. `lengthBand = 0` disables banding
    * (the spec's reference path).
    *
    * Returns (groupCol, id_a, id_b, dist).
    */
  def editNearPairs(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", groupCol: String = "lang",
                    prefixTokens: Int = 5, maxDist: Int = 8,
                    lengthBand: Int = 16): DataFrame = {
    require(lengthBand == 0 || lengthBand > maxDist,
      s"lengthBand must be 0 (off) or > maxDist for lossless banding; " +
        s"got band=$lengthBand maxDist=$maxDist")
    val titles = docs
      .select(col(idCol), col(groupCol),
        array_join(slice(split(lower(trim(col(textCol))), "\\s+"),
          1, prefixTokens), " ").as("title"))
      .withColumn("blk", substring_index(col("title"), " ", 1))
      .withColumn("lb",
        if (lengthBand == 0) lit(0L) else floor(length(col("title")) / lengthBand))
    val a = titles.select(col(groupCol), col("blk"),
      explode(if (lengthBand == 0) array(col("lb"))
        else array(col("lb") - 1, col("lb"), col("lb") + 1)).as("lbj"),
      col(idCol).as("id_a"), col("title").as("t_a"))
    val b = titles.select(col(groupCol), col("blk"), col("lb").as("lbj"),
      col(idCol).as("id_b"), col("title").as("t_b"))
    a.join(b, Seq(groupCol, "blk", "lbj"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("t_a"), col("t_b")))
      .filter(col("dist") <= maxDist)
      .select(col(groupCol), col("id_a"), col("id_b"), col("dist"))
  }

  /** Dedup scaling curve: exact-duplicate rate at nested corpus
    * fractions — the concavity read that prices marginal crawl: if the
    * dup rate climbs steeply from the 10% subset to the full corpus,
    * new data is increasingly redundant and the next crawl buys less
    * than the last (the scaling-law companion to q119's threshold
    * curve, which varies the THRESHOLD at fixed size; this varies the
    * SIZE at exact-dup granularity). Subsets are nested by md5(id) mod
    * `den` < k (content-independent, deterministic), so each point is a
    * uniform sample of the corpus and a subset of every larger point.
    *
    * Scale shape: ONE text-hash projection; ONE hash-keyed aggregate
    * producing per-hash subset counts (conditional sums — the subset
    * flags ride the same shuffle); ONE |fractions|-row rollup. The text
    * never shuffles; adding a curve point adds a column, not a pass.
    */
  def dedupScalingCurve(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text",
                        numerators: Seq[Int] = Seq(1, 2, 5, 10),
                        den: Int = 10): DataFrame = {
    require(numerators.nonEmpty && numerators.forall(k => k >= 1 && k <= den),
      s"need 1 <= k <= $den for every curve point, got $numerators")
    // degenerate rows are counted DETERMINISTICALLY, not dropped (ADVICE
    // r12): a null id hashes as "" (stable bucket, so the doc is in the
    // same nested subsets every run instead of silently vanishing from
    // all of them — including the 100% point), and a null text groups
    // with the empty string (null md5 would otherwise collapse all null
    // texts into one NULL group-key "duplicate" cluster by accident;
    // empty-vs-null is not a distinction an exact-dup curve should draw)
    val bucket = pmod(graft.functions.HashFunctions
      .md5Int32(coalesce(col(idCol).cast("string"), lit(""))), lit(den.toLong))
    val subsetCols = numerators.map(k =>
      sum(when(col("__bk") < k, 1L).otherwise(0L)).as(s"c_$k"))
    val perHash = docs
      .select(md5(coalesce(col(textCol), lit("")).cast("binary")).as("__h"),
        bucket.as("__bk"))
      .groupBy(col("__h"))
      .agg(subsetCols.head, subsetCols.tail: _*)
    val rollCols = numerators.flatMap(k => Seq(
      sum(col(s"c_$k")).as(s"n_$k"),
      sum(when(col(s"c_$k") > 0, 1L).otherwise(0L)).as(s"d_$k")))
    val rolled = perHash.agg(rollCols.head, rollCols.tail: _*)
    rolled.select(explode(array(numerators.map(k =>
        struct(lit(k).as("k"), col(s"n_$k").as("n_docs"),
          col(s"d_$k").as("n_distinct"))): _*)).as("p"))
      .select(col("p.k").cast("long").as("fraction_tenths"),
        col("p.n_docs"), col("p.n_distinct"),
        (col("p.n_docs") - col("p.n_distinct")).as("n_dups"),
        when(col("p.n_docs") > 0, round(
          (col("p.n_docs") - col("p.n_distinct")).cast("double") /
            col("p.n_docs").cast("double"), 6)).as("dup_rate"))
  }

  /** Duplicate-group size distribution + discrete power-law exponent:
    * exact-duplicate groups (md5 of text; singletons are size-1 groups),
    * their size histogram, and the continuous-approximation MLE of the
    * power-law exponent at xmin = 1 (Clauset, Shalizi & Newman 2009,
    * eq. 3.7: α = 1 + N / Σᵢ ln(xᵢ / (xmin − ½))) — the dedup-ECONOMICS
    * read q185's scaling curve doesn't give: a heavy tail (small α)
    * means a few giant clone families own the dup mass (dedup = kill
    * the head), while large α means diffuse pairwise dups (dedup must
    * be exhaustive to matter). The α estimate is exact given the
    * histogram, and the histogram is exact.
    *
    * Scale shape: ONE text-hash projection → ONE hash-keyed aggregate
    * (group sizes) → ONE size-keyed aggregate (histogram, ≤ O(√N_docs)
    * distinct sizes at any corpus — Σ sz·n_sz = N bounds the frame) →
    * the α scalar folds the SORTED histogram sequentially inside one
    * row (deterministic summation order, the q180 discipline — each
    * ln term is rounded to 9dp first, so both engines fold IDENTICAL
    * terms in size order and the 6dp output can't wobble on reduce
    * order or libm-vs-JVM ln ULPs). Histogram rows + the 1-row
    * α broadcast are the only things that move after the group-size
    * shuffle.
    */
  def dupSizePowerlaw(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val sizes = docs
      .select(md5(coalesce(col(textCol), lit("")).cast("binary")).as("__h"))
      .groupBy(col("__h")).agg(count(lit(1)).as("__sz"))
    val hist = sizes.groupBy(col("__sz")).agg(count(lit(1)).as("n_groups"))
      .localCheckpoint(eager = true) // feeds the α fold AND the output
    val alpha = hist
      .agg(sort_array(collect_list(struct(col("__sz"), col("n_groups"))))
        .as("__hrows"))
      .withColumn("__n", expr(
        "aggregate(__hrows, 0L, (a, e) -> a + e.n_groups)"))
      // ADVICE r13: each ln term rounds to 9dp BEFORE accumulation —
      // JVM Math.log vs libm ln can differ by ULPs, and only rounded
      // (engine-identical) terms make the size-ordered fold exact
      .withColumn("__lnsum", expr(
        "aggregate(__hrows, cast(0 as double), " +
          "(a, e) -> a + e.n_groups * round(ln(e.__sz / 0.5), 9))"))
      .select(round(lit(1.0) + col("__n") / col("__lnsum"), 6).as("alpha_mle"),
        col("__n").as("n_groups_total"))
    hist
      .select(col("__sz").as("group_size"), col("n_groups"),
        (col("__sz") * col("n_groups")).as("n_docs"))
      .crossJoin(broadcast(alpha))
  }

  /** Duplication-by-length histogram: exact-clone statistics stratified
    * by fixed-width text-length buckets — WHERE the duplication lives.
    * Short-doc-heavy duplication is boilerplate/template mass (scrub
    * it); long-doc duplication is mirrored content (dedup it); the
    * split decides which pipeline stage pays. Fixed-width buckets
    * (length div `bucketChars`), not quantiles — quantile edges are
    * tie-broken by row order and would not replay across engines.
    *
    * One hash aggregate keyed (text_hash, bucket) — the bucket is a
    * function of the text, so the key adds no cardinality — then a
    * ≤max-length/width-row rollup. All integers.
    */
  def dupByLengthBuckets(docs: DataFrame, textCol: String = "text",
                         bucketChars: Int = 50): DataFrame = {
    require(bucketChars > 0, s"bucketChars must be > 0, got $bucketChars")
    val t = coalesce(col(textCol), lit(""))
    docs
      .groupBy(md5(t.cast("binary")).as("__h"),
        expr(s"length(coalesce($textCol, '')) div $bucketChars").as("len_bucket"))
      .agg(count(lit(1)).as("m"))
      .groupBy(col("len_bucket"))
      .agg(count(lit(1)).as("n_groups"), sum(col("m")).as("n_docs"),
        sum(when(col("m") >= 2, col("m")).otherwise(lit(0L))).as("n_dup_docs"),
        sum(expr("m * (m - 1) div 2")).as("n_dup_pairs"))
  }

  /** MinHash estimator accuracy audit: over the LSH candidate pairs of
    * DISTINCT texts, how far the signature-agreement estimate
    * (agreeing slots / [[NumHashes]]) sits from the exact shingle
    * Jaccard, bucketed by exact-Jaccard decile. The audit that
    * justifies (or indicts) the signature width the whole LSH family
    * runs on: if mean error at the dedup threshold's decile rivals the
    * band gap, the index needs more hashes — measured on THIS corpus,
    * not the i.i.d. model. Companion to [[recallCurve]] (which audits
    * the BANDING; this audits the ESTIMATOR).
    *
    * Error is exact-integer ppm: |1e6·(agree·uni − k·inter)| div
    * (k·uni) — the common-denominator form of |agree/k − inter/uni| —
    * so every cell replays in any engine. Clone discipline: exact
    * clones collapse first (identical texts estimate trivially and
    * quadratically inflate candidates); the oracle collapses
    * identically.
    */
  def minhashAccuracy(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val groups = exactDupGroups(docs, idCol, textCol)
    val reps = docs.join(groups.select(col("keep_id")),
      col(idCol) === col("keep_id"), "left_semi")
    // r20: the signature derives from the staged shingle hashes
    // (MinHashFromHashes — md5Int32 ≡ md5Int60 >>> 28), so the corpus is
    // tokenized and digested ONCE instead of once per kernel; the staged
    // projection survives CollapseProject (non-cheap, multi-referenced)
    val base = reps
      .select(col(idCol), shingleHashes(col(textCol)).as("__sh"))
      .select(col(idCol),
        graft.functions.MinHashFromHashes(col("__sh"), NumHashes).as("__sig"),
        col("__sh"))
      .localCheckpoint(eager = true) // bands + both pair sides read it
    val bands = base.select(col(idCol),
      posexplode(bandHashes(col("__sig"))).as(Seq("band", "band_hash")))
    val pairs = candidatePairs(bands, idCol, maxBucketSize)
    val a = base.select(col(idCol).as("doc_a"), col("__sig").as("sig_a"),
      col("__sh").as("sh_a"))
    val b = base.select(col(idCol).as("doc_b"), col("__sig").as("sig_b"),
      col("__sh").as("sh_b"))
    pairs.join(a, "doc_a").join(b, "doc_b")
      .select(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"),
        size(array_union(col("sh_a"), col("sh_b"))).cast("long").as("uni"),
        expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
          .cast("long").as("agree"))
      // distinct texts shorter than the shingle width all share the empty
      // shingle set (and hence one signature): uni = 0 makes both ratios
      // undefined, and the pairs carry no estimator information — drop
      // them BEFORE the division (ADVICE r14; mirrored in the q200 oracle)
      .filter(col("uni") > 0)
      .select(expr("(10 * inter) div uni").as("jaccard_decile"),
        expr(s"abs(1000000 * (agree * uni - $NumHashes * inter)) div ($NumHashes * uni)")
          .as("err_ppm"))
      .groupBy(col("jaccard_decile"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("err_ppm")).as("__s"),
        max(col("err_ppm")).as("max_err_ppm"))
      .select(col("jaccard_decile"), col("n_pairs"),
        expr("__s div n_pairs").as("mean_err_ppm"), col("max_err_ppm"))
  }

  /** Clone-collapsed aggregate form of [[editNearPairs]]: per
    * (group, dist), the EXACT pair count, computed by pairing DISTINCT
    * titles only and reconstructing multiplicities in closed form — the
    * q97/q118 clone-guard discipline applied to entity-resolution
    * blocking. Identical titles share every blocking key by
    * construction, so per-id pairing is quadratic in clone multiplicity
    * (the 100× id-shift replica turns every title into a 100-clone
    * clique: measured 258.7 s, r12); here a title pair (u, w) with
    * multiplicities m_u, m_w contributes m_u·m_w pairs at
    * dist(u, w) — id interleaving never matters to an equi-blocked
    * count — and each title's internal clones contribute C(m, 2) pairs
    * at dist 0. DedupSpec asserts equality with the per-id form on
    * clone-planted corpora.
    */
  def editNearPairCounts(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", groupCol: String = "lang",
                         prefixTokens: Int = 5, maxDist: Int = 8,
                         lengthBand: Int = 16): DataFrame = {
    require(lengthBand == 0 || lengthBand > maxDist,
      s"lengthBand must be 0 (off) or > maxDist for lossless banding; " +
        s"got band=$lengthBand maxDist=$maxDist")
    val distinct = docs
      .select(col(idCol), col(groupCol),
        array_join(slice(split(lower(trim(col(textCol))), "\\s+"),
          1, prefixTokens), " ").as("title"))
      .groupBy(col(groupCol), col("title"))
      .agg(count(lit(1)).as("m"), min(col(idCol)).as("rep"))
      .withColumn("blk", substring_index(col("title"), " ", 1))
      .withColumn("lb",
        if (lengthBand == 0) lit(0L) else floor(length(col("title")) / lengthBand))
      .localCheckpoint(eager = true) // feeds both join sides + internal agg
    val internal = distinct.filter(col("m") >= 2)
      .groupBy(col(groupCol))
      // integer C(m,2): `/` on Columns is DOUBLE division; div is exact
      .agg(sum(expr("m * (m - 1) div 2")).as("n_pairs"))
      .withColumn("dist", lit(0))
    val a = distinct.select(col(groupCol), col("blk"),
      explode(if (lengthBand == 0) array(col("lb"))
        else array(col("lb") - 1, col("lb"), col("lb") + 1)).as("lbj"),
      col("rep").as("rep_a"), col("m").as("m_a"), col("title").as("t_a"))
    val b = distinct.select(col(groupCol), col("blk"), col("lb").as("lbj"),
      col("rep").as("rep_b"), col("m").as("m_b"), col("title").as("t_b"))
    val cross = a.join(b, Seq(groupCol, "blk", "lbj"))
      .filter(col("rep_a") < col("rep_b"))
      .withColumn("dist", levenshtein(col("t_a"), col("t_b")))
      .filter(col("dist") <= maxDist)
      .groupBy(col(groupCol), col("dist"))
      .agg(sum(col("m_a") * col("m_b")).as("n_pairs"))
    cross.unionByName(internal.select(col(groupCol), col("dist"), col("n_pairs")))
      .groupBy(col(groupCol), col("dist"))
      .agg(sum(col("n_pairs")).as("n_pairs"))
  }

  /** C4-style boilerplate REMOVAL at segment granularity — the action
    * half of segment dedup (q73 detects cross-document repeated
    * segments; this rewrites each document without them). Documents are
    * tokenized, cut into non-overlapping `segLen`-token segments (+ a
    * tail remainder that is always kept), and a segment whose hash
    * appears in ≥ `minDocs` DISTINCT documents is dropped from every
    * document; the survivors re-join in original order.
    *
    * Scale shape: the frequency pass aggregates (seg_hash, doc_id)
    * pairs only — the segment text never shuffles for counting (column
    * pruning drops it below the aggregate). The removal pass is one
    * anti-join of the exploded segments against the (small — repetition
    * concentrates) boilerplate hash set, then one reassembly shuffle by
    * document id. Output is the normalized token stream re-joined with
    * single spaces (a training pipeline tokenizes downstream anyway).
    *
    * Returns (idCol, text_clean, n_removed).
    */
  def removeBoilerplateSegments(docs: DataFrame, idCol: String = "doc_id",
                                textCol: String = "text", segLen: Int = 8,
                                minDocs: Int = 2): DataFrame = {
    require(segLen >= 1, s"segLen must be >= 1, got $segLen")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // r19 (§1.2): the counting pass hashes segments natively
    // (SegmentHashes — no per-segment string build; one occurrence per
    // full segment, so countDistinct(doc) is unchanged); only the
    // rewrite pass still materializes segment text, which it must.
    val bp = docs
      .select(col(idCol),
        explode(graft.functions.SegmentHashes(col(textCol), segLen)).as("__h"))
      .groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"))
    reassembleWithout(segmentRows(docs, idCol, textCol, segLen), idCol, bp)
  }

  /** Span-level decontamination: rewrite corpus documents without the
    * `segLen`-token segments that appear VERBATIM in a benchmark set —
    * the masking form of doc-level decontamination
    * ([[contaminationPairs]] flags whole documents; this salvages the
    * document and scrubs only the leaked spans, the usual treatment
    * when a long doc quotes a benchmark item).
    *
    * The benchmark is tiny next to the corpus, so its distinct
    * segment-hash set BROADCASTS and corpus segments stream map-side
    * through the anti-join — the only corpus shuffle is the per-doc
    * reassembly, which carries kept segments only. Only the benchmark's
    * FULL segments ban (its sub-`segLen` tail is too weak a signal to
    * scrub on); corpus tails are never removed, as in
    * [[removeBoilerplateSegments]].
    */
  def scrubBenchmarkSegments(corpus: DataFrame, benchmark: DataFrame,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             segLen: Int = 8): DataFrame = {
    require(segLen >= 1, s"segLen must be >= 1, got $segLen")
    // r19: banned set hashed natively (SegmentHashes) — same values as
    // the segmentRows + md5Int32 phrasing, no per-segment string build
    val banned = benchmark
      .select(explode(
        graft.functions.SegmentHashes(col(textCol), segLen)).as("__h"))
      .distinct()
    reassembleWithout(segmentRows(corpus, idCol, textCol, segLen), idCol,
      broadcast(banned))
  }

  /** (idCol, __nseg, idx, seg): one row per full `segLen`-token segment
    * (idx 0..nseg-1) + one tail row (idx = nseg; possibly "", filtered
    * at reassembly).
    */
  private def segmentRows(docs: DataFrame, idCol: String, textCol: String,
                          segLen: Int): DataFrame = {
    val w = col("__w")
    docs
      .select(col(idCol), tokens(col(textCol)).as("__w"))
      .withColumn("__nseg", floor(size(w) / segLen).cast("int"))
      .select(col(idCol), col("__nseg"),
        posexplode(concat(
          when(col("__nseg") >= 1,
            transform(sequence(lit(0), col("__nseg") - 1),
              j => array_join(slice(w, j * segLen + 1, lit(segLen)), " ")))
            .otherwise(array().cast("array<string>")),
          array(array_join(
            slice(w, col("__nseg") * segLen + 1, size(w)), " "))))
          .as(Seq("idx", "seg")))
  }

  /** Drop full segments whose hash is in `banned`("__h") and re-join the
    * survivors in order → (idCol, text_clean, n_removed).
    */
  private def reassembleWithout(segRows: DataFrame, idCol: String,
                                banned: DataFrame): DataFrame =
    segRows
      // tail rows (idx = nseg) never match the anti-join condition, so a
      // tail that happens to equal a banned segment is still kept
      .join(banned,
        graft.functions.HashFunctions.md5Int32(col("seg")) === banned("__h") &&
          col("idx") < col("__nseg"),
        "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            filter(sort_array(collect_list(struct(col("idx"), col("seg")))),
              s => s("seg") =!= ""),
            s => s("seg")), " ").as("text_clean"),
        (max(col("__nseg")) -
          sum(when(col("idx") < col("__nseg"), 1L).otherwise(0L)))
          .cast("long").as("n_removed"))

  /** Per-token 32-bit hashes of a text column (the SimHash input). */
  // native kernel (one pass, no per-token md5-hex-parse tree); the
  // composed transform(tokens, h32) stays as the spec equivalence witness
  def tokenHashes(text: Column): Column =
    graft.functions.TokenHashes32(text)

  def tokenHashesComposed(text: Column): Column =
    transform(tokens(text), w => h32(w))

  /** SimHash near-duplicate pairs by banded hamming join: each 32-bit
    * simhash splits into `nBands` equal bit-bands; only simhashes
    * agreeing on at least one band are compared (pigeonhole: ≤
    * maxHamming bit errors with maxHamming < nBands ALWAYS leave one
    * band intact, so banding loses no pair — recall is exact, unlike
    * probabilistic MinHash banding).
    *
    * The band join runs over DISTINCT simhash VALUES, not documents:
    * clone-heavy corpora (the training-data norm) collapse each clique
    * to one value before any pairwise work, and the quadratic
    * clique expansion happens only where it is genuine output —
    * identical-value doc pairs (hamming 0) expand in a separate
    * group self-join, cross-value pairs expand from the value pairs.
    * Measured on a 20×-cloned 40 k-doc corpus this cut the query from
    * 209 s to the same few seconds as the un-cloned run (PERF.md).
    *
    * `maxBucketSize` optionally skips band buckets holding more
    * distinct values than the cap (an 8-bit band has only 256 values,
    * so at very large V every bucket is hot — raise the simhash width/
    * band count instead; the cap is the skew guard, not the fix).
    */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", maxHamming: Int = 3,
                   nBands: Int = 4,
                   maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(nBands > 0 && 32 % nBands == 0, s"nBands must divide 32, got $nBands")
    require(maxHamming >= 0 && maxHamming < nBands,
      s"banding guarantees exact recall only for maxHamming < nBands, " +
        s"got hamming $maxHamming with $nBands bands")
    val width = 32 / nBands
    val mask = (1L << width) - 1
    // native SimHash kernel (codegen, one pass) — the interpreted
    // simhash("hs") phrasing is its spec-asserted equivalence witness.
    // members feeds FIVE plan references (vals, both crossPairs sides,
    // both samePairs sides); localCheckpoint materializes the
    // (doc_id, sh) projection once instead of re-scanning + re-hashing
    // the corpus per reference (the DupClusters precedent — eager, so
    // this call computes the simhash pass at invocation time)
    val members = docs
      .select(col(idCol), tokenHashes(col(textCol)).as("hs"))
      .select(col(idCol), graft.functions.SimHash(col("hs")).as("sh"))
      .localCheckpoint()
    val vals = members.select(col("sh")).distinct()
    val banded = vals.select(col("sh"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sh"), b * width).bitwiseAND(lit(mask)).as("key"))): _*))
          .as("bk"))
      .select(col("sh"), col("bk.band"), col("bk.key"))
    val bounded =
      if (maxBucketSize == Int.MaxValue) banded
      else {
        val small = banded.groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") <= maxBucketSize)
          .drop("__n")
        banded.join(small, Seq("band", "key"), "left_semi")
      }
    val a = bounded.select(col("band"), col("key"), col("sh").as("sh_a"))
    val b = bounded.select(col("band"), col("key"), col("sh").as("sh_b"))
    val valPairs = a.join(b, Seq("band", "key"))
      .filter(col("sh_a") < col("sh_b"))
      .select(col("sh_a"), col("sh_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
    val crossPairs = valPairs
      .join(members.select(col("sh").as("sh_a"), col(idCol).as("ia")), "sh_a")
      .join(members.select(col("sh").as("sh_b"), col(idCol).as("ib")), "sh_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))
    val samePairs = members.select(col("sh"), col(idCol).as("id_a"))
      .join(members.select(col("sh"), col(idCol).as("id_b")), "sh")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
    crossPairs.union(samePairs)
  }

  /** 32-bit SimHash over a precomputed token-hash array column: bit i is
    * set when the sum of ±1 votes from each token's hash bit i is
    * positive. Near-dups differ in few bits (compare via
    * bit_count(xor) ≤ t). Map-side expression; `(h div 2^i) % 2` is the
    * bit probe (h is non-negative), identical in DuckDB as `(h >> i) & 1`.
    */
  def simhash(hashedColName: String): Column = expr(
    s"""aggregate(sequence(0, 31), 0L, (acc, i) -> acc +
       | IF(aggregate($hashedColName, 0L,
       |      (s, h) -> s + IF((h div shiftleft(1L, i)) % 2 = 1, 1L, -1L)) > 0,
       |    shiftleft(1L, i), 0L))""".stripMargin)

  /** Exact duplicate groups by full-content hash: one row per distinct
    * text, keeping the lowest id. The 100 TB shape: only (hash, id) pairs
    * shuffle, never the content.
    */
  def exactDupGroups(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Near-dup pairs with exact-dedup-first pipeline ordering — the
    * production shape for corpora with heavy exact duplication
    * (boilerplate, mirrored files): a c-member exact-clone clique would
    * put C(c,2) trivially-jaccard-1.0 pairs through LSH banding and set
    * comparison; instead, collapse each clique to its lowest-id
    * representative FIRST (one hash aggregation — content never
    * shuffles), run MinHash-LSH + exact Jaccard on distinct texts only,
    * and report clone membership separately.
    *
    * Returns (pairs among representatives, exact groups with keep_id +
    * n_copies). Pairs for clone members are recoverable by joining
    * either side through its group's keep_id; materializing them is
    * exactly the quadratic blow-up this exists to avoid.
    */
  def nearDupPairsDeduped(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text",
                          minJaccard: Double = 0.0,
                          maxBucketSize: Int = Int.MaxValue)
      : (DataFrame, DataFrame) = {
    // lazy cut (r20): `groups` feeds the reps semi-join AND whatever the
    // caller does with the group frame (q162's rollup re-read it, which
    // re-ran the corpus-wide md5 aggregate — the r19 per-stage profile showed
    // the exactDupGroups stage twice per run). Lazy, not eager: the reps
    // pipeline inside nearDupPairs' construction-time checkpoint is the
    // first reader and completes before any second consumer starts, so
    // the blocks fill race-free without spending a dedicated job.
    val groups = exactDupGroups(docs, idCol, textCol)
      .localCheckpoint(eager = false)
    val reps = docs
      .join(groups.select(col("keep_id")),
        col(idCol) === col("keep_id"), "left_semi")
    (nearDupPairs(reps, idCol, textCol, minJaccard, maxBucketSize), groups)
  }

  /** Deterministic left-fold power (x·x·…·x, k factors): both engines
    * replay it as an explicit multiplication chain, so the S-curve
    * literals the planner embeds are bit-identical everywhere.
    */
  private def powChain(x: Double, k: Int): Double = {
    var v = 1.0; var i = 0
    while (i < k) { v *= x; i += 1 }
    v
  }

  private def round6(v: Double): Double = math.rint(v * 1e6) / 1e6

  /** The (bands, rowsPerBand) factorizations of the 16-hash signature
    * the planner scores, plus the S-curve constants each one implies:
    * collision probability p(j) = 1 − (1 − jʳ)ᵇ at Jaccard j, and the
    * S-curve midpoint t₅₀ = (1 − 0.5^(1/b))^(1/r) (the threshold the
    * config is "tuned for"). Pure functions of (b, r) — computed once
    * driver-side and embedded as literals in BOTH engines.
    */
  private[graft] val PlannerConfigs: Seq[(Int, Int)] =
    Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))

  private[graft] def plannerCurve(b: Int, r: Int): (Double, Seq[(Int, Double)]) = {
    val t50 = round6(math.pow(1.0 - math.pow(0.5, 1.0 / b), 1.0 / r))
    val ps = Seq(50, 70, 80, 90).map { jPct =>
      jPct -> round6(1.0 - powChain(1.0 - powChain(jPct / 100.0, r), b))
    }
    (t50, ps)
  }

  /** MinHash-LSH banding planner: for every way of carving the 16-hash
    * signature into (b bands × r rows), the MEASURED candidate-pair work
    * on THIS corpus (Σ over buckets of C(n,2) — the number of pair
    * comparisons LSH would enqueue, the quantity that explodes on a
    * skewed corpus) next to the config's theoretical S-curve (collision
    * probability at Jaccard 0.5/0.7/0.8/0.9 and the midpoint threshold
    * t₅₀). The read that turns "pick bands=8" from folklore into a
    * number: a 100 TB corpus with heavy boilerplate can make a
    * theoretically-right config enqueue quadratic work, and this shows
    * it BEFORE the pair join runs.
    *
    * Exactness: bucket counts are exact integers; the S-curve values
    * are driver-computed constants (explicit multiplication chains +
    * 6dp rounding) embedded as literals in both engines — no runtime
    * float path. Scale shape: ONE signature kernel scan (checkpointed),
    * then per config an explode(≤16)-aggregate over band buckets — the
    * same mass the real LSH banding shuffles, never pairs.
    */
  def lshBandPlanner(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val sigs = docs
      .select(col(idCol), tokens(col(textCol)).as("__w"))
      .select(col(idCol),
        graft.functions.MinHashSignature(col("__w"), 3, NumHashes).as("__sig"))
      .localCheckpoint(eager = true) // one signature pass feeds 5 configs
    // r19 fuse (guide §2.4): the per-config form aggregated the
    // checkpointed signatures FIVE times (5 scans, 5 exchanges, unioned).
    // All 31 (config, band) hashes explode in ONE tagged stream —
    // identical md5 band values, since `bands` is unique per config the
    // grouped counts are the same — through ONE exchange; the static
    // S-curve literals re-attach on the 5-row config frame.
    val allBands = array(PlannerConfigs.flatMap { case (b, r) =>
      (0 until b).map { band =>
        struct(lit(b.toLong).as("bands"), lit(band).as("band"),
          md5(concat_ws(",",
            transform(slice(col("__sig"), band * r + 1, r), x => x.cast("string")))
            .cast("binary")).as("bh"))
      }
    }: _*)
    val stats = sigs.select(explode(allBands).as("e"))
      // band STAYS in the key: two bands of one config can carry equal
      // slice values (identical minhash slots) and must remain distinct
      // buckets, exactly as the per-config posexplode kept them
      .groupBy(col("e.bands").as("bands"), col("e.band").as("band"),
        col("e.bh").as("bh"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("bands"))
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("cand_pairs"),
        count(lit(1)).as("n_buckets"), max(col("n")).as("max_bucket"))
    val cfgDf = PlannerConfigs.map { case (b, r) =>
      val (t50, ps) = plannerCurve(b, r)
      docs.sparkSession.range(1).select(
        Seq(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          lit(t50).as("threshold_50")) ++
        ps.map { case (jPct, p) => lit(p).as(s"p_at_0$jPct") }: _*)
    }.reduce(_ unionByName _)
    val curveNames = plannerCurve(2, 8)._2.map { case (jPct, _) => s"p_at_0$jPct" }
    cfgDf.join(stats, Seq("bands"), "left")
      .select(Seq(col("bands"), col("rows_per_band"),
        coalesce(col("cand_pairs"), lit(0L)).as("cand_pairs"),
        coalesce(col("n_buckets"), lit(0L)).as("n_buckets"),
        col("max_bucket"), col("threshold_50")) ++
        curveNames.map(col): _*)
  }

  /** Near-dup degree histogram, clone-collapsed (VERDICT r13 item 3 —
    * the q118/q183 discipline applied to the q147 read): how many docs
    * have 0, 1, 2, … near-dup partners, including degree-0 docs.
    *
    * The per-id form (degrees over [[nearDupPairs]] endpoints) is
    * quadratic in clone multiplicity: a c-member exact-clone clique
    * contributes C(c,2) jaccard-1.0 pairs before a single degree is
    * counted. Here exact clones collapse to their lowest-id
    * representative FIRST, MinHash-LSH + exact Jaccard runs on
    * DISTINCT texts only, and every degree is reconstructed
    * closed-form: a doc in clone group u with multiplicity m_u and
    * rep-partner set P(u) has degree (m_u − 1) + Σ_{w∈P(u)} m_w —
    * its co-clones (jaccard exactly 1.0, always ≥ any threshold the
    * pair list used) plus every member of every matched group. The
    * histogram then weights each group's degree by m_u. Exactly equal
    * to the per-id form (DedupSpec pins all-distinct and planted-clone
    * corpora) except under the bucket cap, which this form
    * reinterprets over DISTINCT-text occupancy — the quantity that
    * actually bounds pair work — mirroring [[graft.search.Ann
    * .knnLabelNoiseCollapsed]]'s documented cap caveat.
    *
    * Scale shape: one text-hash aggregate (content never shuffles
    * again), the rep-only LSH pair list (graph-sized), two
    * group-frame joins, and a ≤-max-degree-row histogram.
    */
  def dupDegreeHistogram(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", minJaccard: Double = 0.0,
                         maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val groups = exactDupGroups(docs, idCol, textCol)
      .select(col("keep_id"), col("n_copies"))
      .localCheckpoint(eager = true) // reps + multiplicities, read 3×
    val reps = docs.join(groups.select(col("keep_id")),
      col(idCol) === col("keep_id"), "left_semi")
    val pairs = nearDupPairs(reps, idCol, textCol, minJaccard, maxBucketSize)
    // neighbor mass per rep: every distinct partner w contributes m_w
    val mass = pairs.select(col("doc_a").as("keep_id"), col("doc_b").as("__w"))
      .union(pairs.select(col("doc_b").as("keep_id"), col("doc_a").as("__w")))
      .join(groups.select(col("keep_id").as("__w"), col("n_copies").as("m_w")),
        Seq("__w"))
      .groupBy(col("keep_id")).agg(sum(col("m_w")).as("__s"))
    groups.join(mass, Seq("keep_id"), "left")
      .na.fill(0L, Seq("__s"))
      .withColumn("degree", col("n_copies") - 1 + col("__s"))
      .groupBy(col("degree")).agg(sum(col("n_copies")).as("n_docs"))
  }

  /** Clone-guarded [[containmentPairsExact]]: exact duplicates collapse
    * to one representative first, the prefix-filtered join runs on
    * representatives only, and clone membership ships separately —
    * same contract as [[nearDupPairsDeduped]]. On clone-heavy corpora
    * this is the difference between representative-scale work and
    * genuinely quadratic clone-pair output: 20×-replicated sf0.1
    * (every doc + 19 exact clones) runs the raw join at ~355 s of
    * mostly clone-pair verification, while the representative set is
    * base-corpus-sized (PERF.md round-7 stress notes).
    */
  def containmentPairsExactDeduped(docs: DataFrame, idCol: String = "doc_id",
                                   textCol: String = "text", n: Int = 3,
                                   minContainment: Double = 0.5)
      : (DataFrame, DataFrame) = {
    val groups = exactDupGroups(docs, idCol, textCol)
    val reps = docs
      .join(groups.select(col("keep_id")),
        col(idCol) === col("keep_id"), "left_semi")
    (containmentPairsExact(reps, idCol, textCol, n, minContainment), groups)
  }

  /** Incremental (snapshot-delta) dedup: filter a NEW batch against an
    * EXISTING corpus, dropping batch docs that are exact copies (text
    * md5) or near-dups (MinHash band-bucket candidate + exact Jaccard ≥
    * `minJaccard`) of anything already stored — the daily-crawl shape:
    * yesterday's 100 TB corpus is the reference, today's batch is small.
    *
    * Every corpus pass here is a map-side join against a BROADCAST
    * batch-derived table; the corpus is scanned (twice: hashes, bands)
    * but NEVER shuffled:
    *  1. corpus text-hashes ⋈ broadcast batch hashes → the matched hash
    *     set (batch-bounded), anti-joined back onto the batch;
    *  2. corpus bands ⋈ broadcast batch bands → (new, old) candidates
    *     (batch-bounded); `maxBucketSize` drops over-full CORPUS buckets
    *     first, so boilerplate buckets cost nothing (their members still
    *     match through rarer bands);
    *  3. only candidate old docs (semi-join on a broadcast id list) pay
    *     shingle extraction for the exact-Jaccard verify.
    * Returns surviving batch rows with their original schema.
    *
    * Large-batch fallback: broadcasting assumes the batch is small —
    * the widest broadcast is the batch's shingle-set table, so a batch
    * approaching corpus size would OOM the driver. The batch size is
    * probed with a bounded `limit(max+1).count()` (O(max) work no
    * matter how big the batch is); above `maxBroadcastBatch` rows every
    * broadcast hint is dropped and the same joins plan as shuffles —
    * the corpus does get key-partitioned in that mode, which is the
    * right trade once "batch" stops being small. Identical output
    * either way (DedupSpec asserts parity); tune the threshold to
    * executor/driver memory (1M docs × ~100 shingle strings is the
    * default's rough ceiling).
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       minJaccard: Double = 0.5,
                       maxBucketSize: Int = Int.MaxValue,
                       maxBroadcastBatch: Int = 1000000): DataFrame = {
    val (afterExact, nearIds, bc) = incrementalDedupCore(batch, corpus,
      idCol, textCol, minJaccard, maxBucketSize, maxBroadcastBatch)
    afterExact.join(bc(nearIds), Seq(idCol), "left_anti")
  }

  /** Per-doc fate report over [[incrementalDedup]]'s own pipeline —
    * (idCol, fate ∈ exact_dup | near_dup | kept) for every batch doc.
    * Sharing the core (r19, guide §2.4) means the funnel query pays the
    * corpus md5 pass ONCE (it previously re-derived the exact-dup set
    * with its own corpus-wide hash semi-join on top of the dedup run)
    * and can never drift from the filter it describes.
    */
  def incrementalDedupFates(batch: DataFrame, corpus: DataFrame,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            minJaccard: Double = 0.5,
                            maxBucketSize: Int = Int.MaxValue,
                            maxBroadcastBatch: Int = 1000000): DataFrame = {
    val (afterExact, nearIds, bc) = incrementalDedupCore(batch, corpus,
      idCol, textCol, minJaccard, maxBucketSize, maxBroadcastBatch)
    batch.select(col(idCol))
      .join(bc(afterExact.select(col(idCol)).withColumn("__ae", lit(true))),
        Seq(idCol), "left")
      .join(bc(nearIds.withColumn("__near", lit(true))), Seq(idCol), "left")
      .select(col(idCol),
        when(col("__ae").isNull, lit("exact_dup"))
          .when(col("__near").isNotNull, lit("near_dup"))
          .otherwise(lit("kept")).as("fate"))
  }

  private def incrementalDedupCore(batch: DataFrame, corpus: DataFrame,
                                   idCol: String, textCol: String,
                                   minJaccard: Double, maxBucketSize: Int,
                                   maxBroadcastBatch: Int)
      : (DataFrame, DataFrame, DataFrame => DataFrame) = {
    require(maxBroadcastBatch > 0,
      s"maxBroadcastBatch must be > 0, got $maxBroadcastBatch")
    val small = batch.limit(maxBroadcastBatch + 1).count() <= maxBroadcastBatch
    // every batch-derived build side goes through this: hint only when
    // the probe said the batch (and thus anything derived from it) is
    // broadcast-sized
    def bc(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // 1. exact copies of an existing doc
    val batchHashed = batch.withColumn("__h", md5(col(textCol).cast("binary")))
    val matchedHashes = corpus
      .select(md5(col(textCol).cast("binary")).as("__h"))
      .join(bc(batchHashed.select(col("__h"))), Seq("__h"), "left_semi")
      .distinct()
    val afterExact = batchHashed
      .join(bc(matchedHashes), Seq("__h"), "left_anti")
      .drop("__h")

    // 2. band-bucket candidates vs the corpus (corpus-side hot-bucket cap)
    val cBands = {
      // count-window cap (see candidatePairs): one corpus signature
      // pass instead of aggregate + semi-join re-deriving it
      val all = minhashBands(corpus, idCol, textCol)
      if (maxBucketSize == Int.MaxValue) all
      else
        all.withColumn("__n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("band"), col("band_hash"))))
          .filter(col("__n") <= maxBucketSize)
          .drop("__n")
    }
    val bBands = minhashBands(afterExact, idCol, textCol)
      .select(col("band"), col("band_hash"), col(idCol).as("__new_id"))
    val cand = cBands
      .join(bc(bBands), Seq("band", "band_hash"))
      .select(col("__new_id"), col(idCol).as("__old_id"))
      .distinct()

    // 3. exact-Jaccard verify on candidates only
    val oldSh = corpus
      .join(bc(cand.select(col("__old_id").as(idCol)).distinct()),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("__old_id"), shingleHashes(col(textCol)).as("__sh_old"))
    val newSh = afterExact
      .select(col(idCol).as("__new_id"), shingleHashes(col(textCol)).as("__sh_new"))
    val nearIds = cand
      .join(bc(newSh), "__new_id")
      .join(oldSh, "__old_id")
      .filter(size(array_intersect(col("__sh_new"), col("__sh_old"))).cast("double") /
        size(array_union(col("__sh_new"), col("__sh_old"))).cast("double") >= minJaccard)
      .select(col("__new_id").as(idCol))
      .distinct()

    (afterExact, nearIds, bc)
  }

  /** Dedup threshold-sensitivity curve: for each candidate Jaccard
    * threshold, how many near-duplicate pairs and how many distinct
    * documents a dedup pass at that threshold would touch — the
    * tuning audit run BEFORE committing to a threshold (the curve's
    * knee is where boilerplate ends and true clones begin). ONE
    * MinHash-LSH candidate pass + ONE exact set comparison per pair;
    * the per-threshold counts come from exploding the (static, tiny)
    * threshold list over the verified pairs — the corpus is never
    * re-scanned per threshold.
    *
    * Thresholds are integer PERCENT and the comparison is the integer
    * cross-multiplication 100·|A∩B| ≥ t·|A∪B| — no float Jaccard
    * anywhere, so every output cell is an exact integer in any engine.
    * LSH bands are tuned for the lowest threshold; higher thresholds
    * only shrink the verified set, so one candidate pass serves the
    * whole curve.
    */
  def dedupThresholdCurve(docs: DataFrame,
                          thresholdsPct: Seq[Int] = Seq(50, 60, 70, 80, 90),
                          idCol: String = "doc_id", textCol: String = "text",
                          maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(thresholdsPct.nonEmpty && thresholdsPct.forall(t => t > 0 && t <= 100),
      s"thresholdsPct must be in (0, 100], got $thresholdsPct")
    // r20 shared shingle projection (see nearDupPairs): one kernel pass
    // feeds bands + both verify sides (eager — see nearDupPairs)
    val sh = docs.select(col(idCol), shingleHashes(col(textCol)).as("sh"))
      .localCheckpoint(eager = true)
    val pairs = candidatePairs(bandsFromShingleHashes(sh, idCol), idCol, maxBucketSize)
      .join(sh.select(col(idCol).as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("__inter"),
        size(array_union(col("sh_a"), col("sh_b"))).cast("long").as("__uni"))
    val ts = array(thresholdsPct.map(t => lit(t.toLong)): _*)
    val at = pairs
      .select(col("doc_a"), col("doc_b"), col("__inter"), col("__uni"),
        explode(ts).as("threshold_pct"))
      .filter(col("__inter") * 100 >= col("threshold_pct") * col("__uni"))
    val nPairs = at.groupBy(col("threshold_pct"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = at
      .select(col("threshold_pct"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy(col("threshold_pct"))
      .agg(countDistinct(col("d")).as("n_docs"))
    nPairs.join(nDocs, Seq("threshold_pct"))
  }

  /** Clone-collapsed [[dedupThresholdCurve]] (the q118/q147/q183
    * discipline applied to the threshold-tuning audit): exact clones
    * collapse to their lowest-id representative FIRST, MinHash-LSH +
    * the integer-Jaccard verify run on DISTINCT texts only, and each
    * threshold's counts are reconstructed closed-form —
    *
    *  - a passing representative pair (u, w) stands for m_u·m_w doc
    *    pairs (every clone of u pairs with every clone of w at the
    *    same intersection/union, since the sets depend only on text);
    *  - a clone group of multiplicity m contributes C(m,2) internal
    *    pairs at EVERY threshold (identical texts have Jaccard exactly
    *    1 ≥ any t ≤ 100, and identical signatures share every band,
    *    so the per-id form always counted them);
    *  - n_docs(t) = Σ m over groups touched at t: endpoints of a
    *    passing representative pair, plus every m ≥ 2 group.
    *
    * Value-identical to the per-id form when the bucket cap never
    * fires (DedupSpec pins all-distinct and planted-clone corpora);
    * under `maxBucketSize` the cap is reinterpreted over DISTINCT-text
    * bucket occupancy — the quantity that actually bounds pair work —
    * the same documented caveat as [[dupDegreeHistogram]]. Null-text
    * docs form one clone group (md5(null) groups together), mirroring
    * [[dedupScalingCurve]]'s deterministic null treatment.
    *
    * Scale shape: the per-id form pays the signature pass per DOC and
    * the set-verify per clone-pair — quadratic in multiplicity; this
    * form pays one text-hash aggregate, representative-scale LSH, and
    * three group-frame joins. On the clone-replica battery that is the
    * difference between corpus² and representative² work.
    */
  def dedupThresholdCurveCollapsed(docs: DataFrame,
                                   thresholdsPct: Seq[Int] = Seq(50, 60, 70, 80, 90),
                                   idCol: String = "doc_id", textCol: String = "text",
                                   maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(thresholdsPct.nonEmpty && thresholdsPct.forall(t => t > 0 && t <= 100),
      s"thresholdsPct must be in (0, 100], got $thresholdsPct")
    val spark = docs.sparkSession
    import spark.implicits._
    // lazy cache, not an eager checkpoint: the three readers (reps join,
    // internal agg, every-threshold touched frame) all sit inside ONE
    // action, so caching shares the group frame without spending a job
    // (the audit-relevant difference from dupDegreeHistogram's shape)
    val groups = exactDupGroups(docs, idCol, textCol)
      .select(col("keep_id"), col("n_copies"))
      .cache()
    // adaptive fallback (the incrementalDedup probe pattern), gated on
    // clone MASS, not mere presence (VERDICT r15 item 2): the collapse
    // saves per-id work proportional to the clone-pair count — Σ C(m,2)
    // internal set-verifies plus Σ(m−1) redundant signature passes —
    // while its own overhead is a handful of corpus-scale passes (reps
    // join, two checkpoint barriers, reconstruction joins). r15's close
    // measured the mis-route both ways: sf0.1 carries 8 organic clone
    // texts in 5000 docs, and routing them through the collapse DOUBLED
    // the ledger median (4.50 → 7.98 s) for nothing, while the sf1
    // 10-clique replica improved 2.8× on the same code. Rule: collapse
    // only when the clone-driven work is at least ~5% of a corpus pass
    // (internal pairs + excess docs ≥ corpus rows / 20, phrased as an
    // integer division so a clique-heavy corpus can't overflow a
    // multiply); zero clones and the empty corpus route per-id as
    // before (0 ≤ 0). Value-identical either way — DedupSpec pins
    // parity AND the routing on both corpus classes. The probe is one
    // tiny aggregate over the cached group frame.
    val probe = groups.agg(count(lit(1)), coalesce(sum(col("n_copies")), lit(0L)),
      coalesce(sum(expr("n_copies * (n_copies - 1) div 2")), lit(0L)))
      .collect()(0)
    val excess = probe.getLong(1) - probe.getLong(0)
    val internalPairs = probe.getLong(2)
    if (internalPairs + excess <= probe.getLong(1) / 20L) {
      // the per-id plan never reads the group frame again — release the
      // probe-populated cache now (ADVICE r14: a session-lifetime pin)
      groups.unpersist()
      return dedupThresholdCurve(docs, thresholdsPct, idCol, textCol, maxBucketSize)
    }
    // inner join carries the multiplicity along, so the pair frame never
    // joins back to groups
    val reps = docs.join(groups, col(idCol) === col("keep_id"))
      .select(col(idCol), col(textCol), col("n_copies"))
    // r20 shared shingle projection (see nearDupPairs): one kernel pass
    // feeds bands + both verify sides (eager — see nearDupPairs)
    val sh = reps.select(col(idCol), col("n_copies"),
      shingleHashes(col(textCol)).as("sh"))
      .localCheckpoint(eager = true)
    val repPairs = candidatePairs(
      bandsFromShingleHashes(sh.select(col(idCol), col("sh")), idCol),
      idCol, maxBucketSize)
      .join(sh.select(col(idCol).as("doc_a"), col("n_copies").as("m_a"),
        col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col(idCol).as("doc_b"), col("n_copies").as("m_b"),
        col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("m_a"), col("m_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("__inter"),
        size(array_union(col("sh_a"), col("sh_b"))).cast("long").as("__uni"))
      // graph-sized; the pair-count and touched-doc aggregates BOTH fold
      // it, and without the barrier each re-runs the whole LSH + verify
      // pipeline (measured 7 s vs 1.9 s at sf0.1)
      .localCheckpoint(eager = true)
    val ts = array(thresholdsPct.map(t => lit(t.toLong)): _*)
    val at = repPairs
      .select(col("doc_a"), col("doc_b"), col("m_a"), col("m_b"),
        col("__inter"), col("__uni"), explode(ts).as("threshold_pct"))
      .filter(col("__inter") * 100 >= col("threshold_pct") * col("__uni"))
    val tFrame = thresholdsPct.map(_.toLong).toDF("threshold_pct")
    val clones = groups.filter(col("n_copies") >= 2)
    // 1-row frame: internal clone pairs, identical at every threshold
    val internal = clones
      .agg(coalesce(sum(expr("n_copies * (n_copies - 1) div 2")), lit(0L))
        .as("__int_pairs"))
    val cross = at.groupBy(col("threshold_pct"))
      .agg(sum(col("m_a") * col("m_b")).as("__cross_pairs"))
    val touched = at
      .select(col("threshold_pct"), col("doc_a").as("k"), col("m_a").as("m"))
      .union(at.select(col("threshold_pct"), col("doc_b").as("k"), col("m_b").as("m")))
      .union(tFrame.crossJoin( // m ≥ 2 groups are touched at every threshold
        clones.select(col("keep_id").as("k"), col("n_copies").as("m"))))
      .distinct()
      .groupBy(col("threshold_pct")).agg(sum(col("m")).as("n_docs"))
    val result = tFrame
      .join(cross, Seq("threshold_pct"), "left")
      .crossJoin(internal) // 1-row aggregate
      .withColumn("n_pairs", coalesce(col("__cross_pairs"), lit(0L)) + col("__int_pairs"))
      .filter(col("n_pairs") > 0) // per-id form emits no row for a pairless threshold
      .join(touched, Seq("threshold_pct"))
      .select(col("threshold_pct"), col("n_pairs"), col("n_docs"))
      // ≤ |thresholds| rows: pin them so the group-frame cache can be
      // released before returning (ADVICE r14) — the one extra job is on
      // the clone-bearing path only; the zero-clone fallback stays flat
      .localCheckpoint(eager = true)
    groups.unpersist()
    result
  }

  /** Cross-source duplication matrix: for every pair of sources, how
    * many distinct MOSS-style fingerprints ([[graft.functions.Fingerprints]],
    * Schleimer et al. 2003) they share — the corpus-forensics audit
    * behind "how much of source A is recycled in source B" (mirror
    * detection, license-laundering sweeps, crawl-overlap estimation).
    * Output: (source_a, source_b, n_shared, n_a, n_b) with
    * source_a < source_b; n_a/n_b are each side's distinct-fingerprint
    * totals, so Jaccard/containment are one division away.
    *
    * Scale shape: docs collapse to DISTINCT (source, fingerprint) pairs
    * in one hash aggregate — the corpus's text leaves the scan as
    * 32-bit hashes only. The pair join is on the fingerprint hash; a
    * fingerprint present in s sources expands to C(s,2) ≤ C(|sources|,2)
    * pairs — bounded by the source-count square, never corpus².
    * Per-source totals are a |sources|-row broadcast.
    */
  def sourceOverlap(docs: DataFrame, groupCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    // materialize the distinct (source, fp) table once: it feeds BOTH
    // join sides and the totals — without this the corpus text is
    // re-scanned and re-fingerprinted three times
    val fps = docs
      .select(col(groupCol), lower(trim(col(textCol))).as("__t"))
      .select(col(groupCol),
        explode(graft.functions.Fingerprints(col("__t"))).as("fp"))
      .distinct()
      .localCheckpoint(eager = true)
    val totals = fps.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_fp"))
    val shared = fps.toDF(groupCol + "_a", "fp")
      .join(fps.toDF(groupCol + "_b", "fp"), "fp")
      .filter(col(groupCol + "_a") < col(groupCol + "_b"))
      .groupBy(col(groupCol + "_a"), col(groupCol + "_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(totals.toDF(groupCol + "_a", "n_a")), groupCol + "_a")
      .join(broadcast(totals.toDF(groupCol + "_b", "n_b")), groupCol + "_b")
      .select(col(groupCol + "_a"), col(groupCol + "_b"),
        col("n_shared"), col("n_a"), col("n_b"))
  }

  /** Exact substring duplicate spans (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * the ExactSubstr criterion, realized with fixed-k rolling grams
    * instead of a suffix array): a character k-gram of the normalized
    * text that occurs MORE THAN ONCE in the corpus (any doc, including
    * the same one) marks every position it starts at as duplicated;
    * overlapping/adjacent marked windows merge into maximal spans
    * (all windows share length k, so merging with the immediate
    * predecessor is exact). Output: one row per doc with ≥1 span —
    * (idCol, n_dup_spans, dup_chars) — the per-doc input to a
    * scrub-or-drop policy (pair with q96's span scrubbing / q85's
    * reassembly machinery to actually rewrite the text).
    *
    * Scale shape: the gram table is O(total chars) rows but carries
    * only (id, pos, 60-bit hash) — never text; the repeated-gram set
    * comes from ONE hash-partitioned count and returns via a left-semi
    * join on the same key, so a boilerplate gram occurring 1M times
    * costs one counter, never a pair expansion. Span merging is a
    * window partitioned by doc — the corpus's natural partitioning,
    * no global sort. All arithmetic is integer/md5, replayed
    * bit-for-bit by the DuckDB oracle (q108).
    */
  def substringDupSpans(docs: DataFrame, k: Int = 32,
                        idCol: String = "doc_id",
                        textCol: String = "text",
                        kernelGrams: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"substringDupSpans: k must be >= 2, got $k")
    // kernel path: ONE long-array projection per doc, then posexplode of
    // (pos, hash) — the text never survives into the exploded rows. The
    // composed path explodes a row PER CHARACTER POSITION carrying the
    // full text, then pays the md5-hex-parse chain per row (the r12
    // kernel discipline: q137 21x, q175 2x, here 1.6x at 100x — the
    // residual cost is the inherent corpus-wide (pos, h) gram shuffle
    // plus the md5-per-position mass itself). Kept as the spec-asserted
    // equivalence witness.
    val grams =
      if (kernelGrams)
        docs
          .select(col(idCol), lower(trim(col(textCol))).as("__t"))
          .filter(length(col("__t")) >= k)
          .select(col(idCol),
            posexplode(graft.functions.KgramHashes(col("__t"), k))
              .as(Seq("__p0", "h")))
          .select(col(idCol), (col("__p0") + 1).as("pos"), col("h"))
      else docs
        .select(col(idCol), lower(trim(col(textCol))).as("__t"))
        .filter(length(col("__t")) >= k)
        .select(col(idCol),
          explode(sequence(lit(1), length(col("__t")) - (k - 1))).as("pos"),
          col("__t"))
        .select(col(idCol), col("pos"),
          md5Int60(expr(s"substring(__t, pos, $k)")).as("h"))
    // r19 A/B (guide §2.4), MEASURED NEGATIVE — kept the agg + semi-join:
    // a count-window-over-h variant (one gram pass, one h-exchange) was
    // tried to avoid computing the gram stream twice, and LOST at sf1:
    // 360 MB shuffled vs 237 MB here (the single exchange carries wide
    // (doc, pos, h) rows, while map-side combine shrinks the (h, count)
    // partials to 140 MB and the broadcast semi-join re-probe is only
    // 97 MB), wall 5.1 -> 8.9 s warm (WindowExec's sort + per-group
    // spill buffer cost more than the second KgramHashes pass). This
    // shape's df aggregate also stays skew-proof: a boilerplate gram
    // occurring 1M times is one counter, never a buffered group.
    // r20 (guide §2.3/§1.2): the doc-freq count SKIPS the partial
    // aggregate. Grams are mostly distinct within a map task (the
    // per-stage profile at sf1: the partial's per-task hashmap burned ~30
    // of the stage's 49 CPU-seconds to combine ~nothing, and its exchange
    // carried a count column per row: 140 MB for ~12M grams), so the
    // pre-shuffle combine is pure overhead here — the explicit
    // repartition ships bare 8-byte hashes and the reduce side builds the
    // ONE hashmap the final aggregate always needed. Width is pinned at
    // the session's shuffle parallelism (the q97 lesson: a CPU-dense
    // few-MB exchange gets AQE-coalesced to 2-4 tasks at bench SF).
    // Trade-off kept in view: a
    // boilerplate gram occurring 1M times now ships 1M rows into one
    // partition instead of combining map-side — one 8 MB counter-feed at
    // worst, still never a buffered group, vs the partial hashmap taxing
    // every gram on every corpus.
    val repeated = grams.select(col("h"))
      .repartition(grams.sparkSession.sessionState.conf.numShufflePartitions,
        col("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .select(col("h"))
    val hits = grams.join(repeated, Seq("h"), "left_semi")
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    hits
      .withColumn("__prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("__new",
        when(col("__prev").isNull || col("pos") > col("__prev") + k, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg((max(col("pos")) + k - min(col("pos"))).as("__len"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("__len")).as("dup_chars"))
  }

  /** Deterministic planted near-duplicates for the recall harness:
    * every doc whose md5("plant:"+id) bucket hits (1/`plantMod` of the
    * corpus) gets one clone under `id + idOffset`, with each token i
    * independently dropped when md5("drop:"+id+":"+i) lands in bucket 0
    * of `dropMod` (≈10% dropout at the default) — so the clone's TRUE
    * Jaccard to its original is known per pair and spans a spectrum,
    * not a point. RNG-free: the same (id, position) always drops.
    * Output: (orig_id, doc_id = orig_id + idOffset, text).
    */
  def plantedClones(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", plantMod: Int = 5,
                    dropMod: Int = 10, idOffset: Long = 10000000L): DataFrame = {
    require(plantMod >= 1 && dropMod >= 2,
      s"need plantMod >= 1 and dropMod >= 2, got $plantMod/$dropMod")
    import graft.functions.HashFunctions.md5Int32
    docs
      .filter(md5Int32(concat(lit("plant:"), col(idCol).cast("string"))) % plantMod === 0)
      .select(col(idCol).cast("long").as("orig_id"),
        array_join(
          filter(tokens(col(textCol)), (t, i) =>
            md5Int32(concat(lit("drop:"), col(idCol).cast("string"),
              lit(":"), i.cast("string"))) % dropMod =!= 0),
          " ").as("text"))
      .select(col("orig_id"), (col("orig_id") + idOffset).as("doc_id"), col("text"))
  }

  /** MinHash-LSH recall curve, measured — not modeled: plant clones with
    * known true Jaccard ([[plantedClones]]), run the production
    * [[nearDupPairs]] pipeline over corpus ∪ clones, and report per
    * true-Jaccard decile how many planted pairs the bands surfaced. This
    * is the empirical LSH S-curve (the 1−(1−s^r)^b acceptance the band
    * parameters promise — Leskovec/Rajaraman/Ullman, Mining of Massive
    * Datasets ch. 3), and the acceptance gate a pipeline checks before
    * trusting its dedup settings at a new shingle/band configuration.
    *
    * The decile is exact integer arithmetic ((10·|A∩B|) div |A∪B|), so
    * the bin cut never depends on a float. Scale shape: everything is
    * the production LSH plan plus one doc_id-keyed join of the planted
    * frame (1/plantMod of the corpus) against the pair list; no step
    * exceeds the dedup pass itself.
    */
  def recallCurve(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", plantMod: Int = 5,
                  dropMod: Int = 10, idOffset: Long = 10000000L,
                  maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"))
    val clones = plantedClones(base, "doc_id", "text", plantMod, dropMod, idOffset)
    // r20 shared shingle projection (guide §2.3/§2.4): the production
    // LSH pass AND the truth join read ONE checkpointed shingle frame
    // over corpus ∪ clones — previously nearDupPairs re-derived shingles
    // three times internally and the truth sides re-shingled base and
    // clones again (5 kernel passes; now 1). Provenance rides a tag
    // column so the truth sides are exactly the original base/clones
    // rows, never an id-range guess.
    val tagged = base
      .select(col("doc_id"), col("text"),
        lit(false).as("__clone"), lit(null).cast("long").as("orig_id"))
      .unionByName(clones.select(col("doc_id"), col("text"),
        lit(true).as("__clone"), col("orig_id")))
    val shU = tagged.select(col("doc_id"), col("__clone"), col("orig_id"),
        shingleHashes(col("text")).as("sh"))
      .localCheckpoint(eager = true) // eager — see nearDupPairs
    val pairs = nearDupPairsFromHashes(shU.select(col("doc_id"), col("sh")),
      "doc_id", maxBucketSize = maxBucketSize)
    val shBase = shU.filter(!col("__clone"))
      .select(col("doc_id").as("orig_id"), col("sh").as("sh_o"))
    val shClone = shU.filter(col("__clone"))
      .select(col("orig_id"), col("doc_id").as("clone_id"), col("sh").as("sh_c"))
    val truth = shBase.join(shClone, Seq("orig_id"))
      .select(col("orig_id"), col("clone_id"),
        size(array_intersect(col("sh_o"), col("sh_c"))).cast("long").as("__i"),
        size(array_union(col("sh_o"), col("sh_c"))).cast("long").as("__u"))
      .withColumn("jaccard_decile", expr("(10 * __i) div __u").cast("long"))
    val found = pairs.select(col("doc_a").as("orig_id"),
      col("doc_b").as("clone_id"), lit(1).as("__f"))
    truth.join(found, Seq("orig_id", "clone_id"), "left")
      .groupBy(col("jaccard_decile"))
      .agg(count(lit(1)).as("n_planted"),
        count(col("__f")).as("n_found"))
      .withColumn("recall",
        round(col("n_found").cast("double") / col("n_planted").cast("double"), 6))
  }

  /** Content-defined chunking (CDC) shared-mass audit — the
    * shift-robust sub-document dedup. Fixed-grid segmenting (q73's
    * newline segments, q108's k-gram spans) breaks when one byte is
    * inserted: every downstream boundary moves. CDC cuts where the text
    * ITSELF says so — after any position whose trailing 4-gram hashes
    * to 0 mod `modulus` — so an edit only redraws boundaries in its own
    * neighborhood and every other chunk re-aligns (the Rabin/gear-hash
    * idea behind LBFS/restic-style storage dedup, applied to corpus
    * text). Expected chunk length ≈ `modulus` chars.
    *
    * Per source: chunk counts, char mass, and the fraction of mass in
    * chunks that appear in ≥ 2 DISTINCT documents — the upper bound on
    * what sub-document dedup at this granularity could save.
    *
    * Scale shape: boundary detection and chunk hashing are one
    * map-side projection; the only shuffles are the chunk-hash aggregate
    * and the chunk⋈dup-hash equi-join, both keyed on content hashes.
    * Documents with empty text carry no mass and are excluded on both
    * engines.
    */
  def cdcSharedChunks(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", groupCol: String = "source",
                      modulus: Int = 64,
                      kernelCuts: Boolean = true): DataFrame = {
    require(modulus >= 2, s"need modulus >= 2, got $modulus")
    def posHash(sub: String): String =
      s"cast(conv(substring(md5(cast($sub as binary)), 1, 8), 16, 10) as bigint)"
    def chunkHash(sub: String): String = s"md5(cast($sub as binary))"
    // composed per-position form: DedupSpec's equivalence witness for the
    // native kernel (the q137 discipline — the expression tree pays an
    // md5-hex-parse chain PER CHARACTER POSITION; the kernel digests the
    // 4-gram bytes directly, 21x on q137's identical shape)
    val cutsSql =
      s"""CASE WHEN length($textCol) >= 4 THEN
         |  concat(array(0),
         |    filter(sequence(4, length($textCol)), p ->
         |      p < length($textCol) AND
         |      pmod(${posHash(s"substring($textCol, p - 3, 4)")}, $modulus) = 0),
         |    array(length($textCol)))
         |ELSE array(0, length($textCol)) END""".stripMargin.replaceAll("\n", " ")
    val cuts =
      if (kernelCuts)
        graft.functions.CdcCutPositions(col(textCol), modulus)
      else expr(cutsSql)
    val chunks = docs
      .filter(length(col(textCol)) > 0)
      .withColumn("__cuts", cuts)
      .withColumn("__j", explode(expr("sequence(1, size(__cuts) - 1)")))
      .select(col(idCol), col(groupCol),
        expr(chunkHash(s"substring($textCol, element_at(__cuts, __j) + 1, " +
          "element_at(__cuts, __j + 1) - element_at(__cuts, __j))"))
          .as("__h"),
        expr("element_at(__cuts, __j + 1) - element_at(__cuts, __j)")
          .cast("long").as("__len"))
      .localCheckpoint() // md5-per-position scan feeds both reads below
    val dup = chunks.groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("__h"), lit(1).as("__dup"))
    chunks.join(dup, Seq("__h"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("__len")).as("total_chars"),
        coalesce(sum(when(col("__dup").isNotNull, col("__len"))), lit(0L))
          .as("shared_chars"))
      .withColumn("shared_frac", round(
        col("shared_chars").cast("double") / col("total_chars").cast("double"), 6))
  }

  /** Template-family dedup: group documents by a NORMALIZED content hash
    * — lowercase, every digit run collapsed to `0`, whitespace runs to a
    * single space, trimmed — so "Order #12345 shipped 2024-01-02" and
    * "Order #99871 shipped 2024-03-17" land in one family. This is the
    * machine-generated-boilerplate detector (receipts, log lines, stock
    * pages) that exact dedup (q10) misses because the serial numbers
    * differ and MinHash (q14) ranks low because digits perturb many
    * shingles. Only families with ≥ 2 RAW variants are reported: a family
    * whose members are byte-identical is q10's finding, not a template.
    *
    * Same scale shape as exact dedup: map-side normalized+raw hash
    * projection, a two-level hash aggregate keyed on the template hash —
    * no joins, no windows, text never shuffles.
    */
  def templateDupGroups(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val norm = regexp_replace(
      regexp_replace(lower(trim(col(textCol))), "[0-9]+", "0"),
      "\\s+", " ")
    docs
      .select(col(idCol), md5(norm.cast("binary")).as("template_md5"),
        md5(col(textCol).cast("binary")).as("__raw"))
      .groupBy(col("template_md5"), col("__raw"))
      .agg(count(lit(1)).as("__c"), min(col(idCol)).as("__rep"))
      .groupBy(col("template_md5"))
      .agg(sum(col("__c")).as("n_docs"),
        count(lit(1)).as("n_variants"),
        min(col("__rep")).as("rep_doc"))
      .filter(col("n_variants") >= 2)
  }
}
