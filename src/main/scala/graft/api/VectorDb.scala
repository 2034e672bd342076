package graft.api

import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructType, TimestampType}

import graft.embed.Embedder
import graft.search.Search
import graft.stats.Stats

/** The reference store's full endpoint surface as one library facade —
  * what a user of `mock_vector_db_api.py` programs against, re-expressed
  * over a parquet-backed corpus:
  *
  *   POST /add_documents → [[addDocuments]]  (S7 append, F5 validation)
  *   POST /query         → [[query]]/[[queryVec]] (Q1-Q5 + quirks 7/8)
  *   GET  /stats         → [[stats]]         (A1-A5 report)
  *   POST /clear         → [[clear]]         (S8 backup-then-truncate)
  *   GET  /health        → [[health]]        (S9 probe)
  *
  * Reference parity quirks preserved (SURVEY.md §2.9): re-ingest APPENDS
  * duplicates (5); invalid `topK` silently coerces to 5 (7,
  * `mock_vector_db_api.py:254-256`); a query-vector dimension mismatch is
  * a hard error checked against the corpus (8, `:270-272`); schema-invalid
  * rows are dropped, not fatal (F5, `:181-190`); the score threshold
  * applies AFTER the top-k slice (1).
  *
  * Where the reference rewrites the entire JSON store on every 100-doc
  * batch (its measured O(corpus) bottleneck, SURVEY.md §1.4), this
  * facade appends parquet — O(batch) — and inherits Spark's scan
  * parallelism for every read path.
  *
  * Reads go through one snapshot per store state: the data-file listing,
  * the corpus frame opened over it and the probed embedding dimension.
  * Every read lists the store (a driver-side directory walk, no job) and
  * reuses the snapshot while the listing is unchanged, so a warm query
  * runs one Spark job, the top-k. Writers outside this object (an
  * external append or overwrite) are seen by the next read.
  */
final class VectorDb(spark: SparkSession, path: String,
                     embedder: Embedder = Embedder.Default) {

  /** Rows appended / rows dropped by validation (the reference's
    * add_documents response counts).
    */
  final case class AddResult(added: Long, dropped: Long)

  /** Corpus report — the `/stats` JSON shape. */
  final case class DbStats(totalDocuments: Long, uniqueFiles: Long,
                           totalContentKb: Double, avgChunksPerFile: Double,
                           byExtension: Map[String, Long])

  /** Store liveness — the `/health` shape. */
  final case class Health(status: String, documents: Long, storeExists: Boolean)

  private def storeDir: Path = Paths.get(path)

  /** One state of the store: its data files (path relative to the store
    * → (size, mtime)), the corpus frame over them (None while the store
    * holds no data file) and, once a query has sampled a stored row, the
    * embedding dimension.
    */
  private final case class Snapshot(files: Map[String, (Long, Long)],
                                    frame: Option[DataFrame], dim: Option[Int])

  // the server's pool reads and replaces the snapshot from several threads
  private val current = new AtomicReference(Snapshot(Map.empty, None, None))

  /** The store's data files as Spark's file index lists them: names that
    * start with `_` or `.` (commit markers, checksums, a write's
    * in-flight `_temporary` output) are skipped and partition
    * directories are walked. A file that vanishes mid-listing is left out.
    */
  private def dataFiles(): Map[String, (Long, Long)] = {
    val files = Map.newBuilder[String, (Long, Long)]
    def walk(dir: Path): Unit = {
      val entries =
        try { val s = Files.list(dir); try s.iterator.asScala.toList finally s.close() }
        catch { case _: NoSuchFileException => Nil }
      entries.foreach { p =>
        val name = p.getFileName.toString
        if (!name.startsWith("_") && !name.startsWith(".")) try {
          val a = Files.readAttributes(p, classOf[BasicFileAttributes])
          if (a.isDirectory) walk(p)
          else files += storeDir.relativize(p).toString ->
            (a.size, a.lastModifiedTime.toMillis)
        } catch { case _: NoSuchFileException => }
      }
    }
    walk(storeDir)
    files.result()
  }

  /** The corpus frame over `files`. A flat store is read with the schema
    * Spark wrote into the footer of its first file by path, the file
    * Spark's own schema inference reads, so opening it runs no job. A
    * partitioned store, or a first file without Spark's schema, is read
    * with inference.
    */
  private def open(files: Map[String, (Long, Long)]): Option[DataFrame] =
    if (files.isEmpty) None
    else Some {
      val flat = !files.keys.exists(_.contains(java.io.File.separator))
      val schema = if (flat) footerSchema(storeDir.resolve(files.keys.min)) else None
      schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
    }

  private def footerSchema(file: Path): Option[StructType] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HadoopPath(file.toUri), spark.sparkContext.hadoopConfiguration))
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")
    finally reader.close()
    Option(json).flatMap(j => Try(DataType.fromJson(j)).toOption).collect {
      case s: StructType => s
    }
  }

  /** The snapshot of the store as it is now: the current one while the
    * listing is unchanged, else a new one. A new snapshot keeps the
    * probed dimension when every file of the old one is still there
    * unchanged, since an append-only change leaves the sampled row
    * stored; any other change drops it, so the next query samples the
    * new store (quirk 8 always checks a stored row).
    */
  private def snapshot(): Snapshot = {
    val files = dataFiles()
    val old = current.get
    if (files == old.files) old
    else {
      val appended = old.files.forall { case (f, st) => files.get(f).contains(st) }
      val next = Snapshot(files, open(files), if (appended) old.dim else None)
      current.compareAndSet(old, next)
      next
    }
  }

  /** The corpus as a DataFrame, read through the current snapshot. A
    * store with no data file throws an IllegalStateException.
    */
  def corpus(): DataFrame = snapshot().frame.getOrElse(
    throw new IllegalStateException(s"the store at $path holds no data files"))

  /** S7/F5: validate (embedding + content present) and append. Duplicate
    * content accumulates — append is the reference's contract (§2.9.5),
    * dedup is an explicit downstream operator (graft.dedup). The added
    * and dropped counts are observed DURING the write pass — no count
    * job over the batch.
    */
  def addDocuments(docs: DataFrame): AddResult = {
    require(docs.columns.contains("embedding") && docs.columns.contains("content"),
      "documents need `embedding` and `content` columns " +
        s"(got: ${docs.columns.mkString(", ")})")
    val isValid = col("embedding").isNotNull && col("content").isNotNull
    val obs = Observation()
    docs.observe(obs, count(lit(1)).as("n"), count(when(isValid, 1)).as("added"))
      .filter(isValid)
      .write.mode("append").parquet(path)
    val counts = obs.get
    val added = counts("added").asInstanceOf[Long]
    AddResult(added, counts("n").asInstanceOf[Long] - added)
  }

  /** Q1-Q5: embed the query text with the store's embedder and run the
    * exact cosine top-k (threshold 0.1 AFTER the limit — §2.9.1).
    * Invalid `topK` (≤ 0) silently coerces to 5 (§2.9.7).
    */
  def query(text: String, topK: Int = 5, idCol: String = "path"): DataFrame =
    queryVec(embedder.embed(text).map(_.toDouble).toSeq, topK, idCol)

  /** Query with a caller-supplied vector; its dimension must match the
    * corpus's (checked against one stored row, like the reference checks
    * `embeddings[0]` — §2.9.8) and an empty corpus is a hard error
    * (`mock_vector_db_api.py:258-260`), thrown without a job when the
    * store holds no data file. The stored row is sampled once per
    * snapshot, so a warm query runs one job.
    */
  def queryVec(vec: Seq[Double], topK: Int = 5, idCol: String = "path"): DataFrame = {
    val k = if (topK <= 0) 5 else topK // quirk 7: silent coercion
    val snap = snapshot()
    val c = snap.frame.getOrElse(throw noEmbeddings)
    val dim = snap.dim.getOrElse {
      // Sample a non-null embedding: rows written by paths other than
      // addDocuments may carry nulls, and size(null) would NPE here.
      val sample = c.filter(col("embedding").isNotNull)
        .select(size(col("embedding"))).head(1)
      if (sample.isEmpty) throw noEmbeddings
      val d = sample.head.getInt(0)
      current.compareAndSet(snap, snap.copy(dim = Some(d)))
      d
    }
    require(vec.length == dim,
      s"query vector dimension ${vec.length} != corpus dimension $dim")
    // the reference requires only content and embedding (§1.2): a store
    // without the id column breaks score ties on the content
    val tieBreak = if (c.columns.contains(idCol)) idCol else "content"
    Search.topK(c, vec, k = k, threshold = 0.1, idCol = tieBreak,
      vecCol = "embedding")
  }

  private def noEmbeddings = new IllegalStateException(
    "query against a corpus with no embeddings (reference returns HTTP 400 here)")

  /** A1-A5: the `/stats` report in one pass over the corpus (plus the
    * tiny per-extension histogram), computed with the same last-wins
    * semantics the reference's chunk map has (§2.9.6).
    *
    * Only `embedding` and `content` are required (§1.2): an absent
    * `path`, `extension`, `total_chunks` or `orderCol` column reads as
    * null, as the reference's `.get` defaults do. Empty and missing paths
    * are no file (A3), a missing extension counts as "unknown" (A2), and
    * a sum or average over no value (a store of zero rows, or no chunk
    * count anywhere) reads 0.0.
    */
  def stats(orderCol: String = "ingested_at"): DbStats = {
    val raw = corpus()
    def opt(name: String, t: DataType): Column =
      (if (raw.columns.contains(name)) col(name) else lit(null).cast(t)).as(name)
    val c = raw.select(col("content"), opt("path", StringType),
      opt("extension", StringType), opt("total_chunks", IntegerType),
      opt(orderCol, TimestampType))
    val base = Stats.corpusStats(
      c.withColumn("__file", when(col("path") =!= "", col("path"))),
      "__file", "content").head()
    val avg = Stats.avgChunksPerFile(c, "path", "total_chunks", orderCol).head()
    val byExt = c
      .groupBy(coalesce(col("extension"), lit("unknown")).as("extension"))
      .count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def orZero(r: Row, i: Int): Double =
      if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    DbStats(base.getLong(0), base.getLong(1), orZero(base, 2), orZero(avg, 0), byExt)
  }

  /** Depth-first listing of everything under `root` except `root` itself,
    * deepest entries last — reverse it to delete children before parents.
    * A partitioned parquet write produces subdirectories, so both backup
    * and truncate must walk the tree, not just the top-level listing.
    */
  private def walkTree(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try {
      val b = Seq.newBuilder[Path]
      s.forEach(p => if (p != root) b += p)
      b.result()
    } finally s.close()
  }

  /** S8: timestamped backup copy, then truncate. Returns the backup
    * location (None when there was nothing to back up). The backup is a
    * file-level copy — the parquet analog of the reference's
    * `documents.json.backup_<ts>` (`mock_vector_db_api.py:66-74`).
    */
  def clear(backup: Boolean = true): Option[String] = {
    if (!Files.exists(storeDir)) return None
    val entries = walkTree(storeDir)
    val bak =
      if (backup && entries.nonEmpty) {
        val dst = Paths.get(s"$path.backup_${System.currentTimeMillis()}")
        Files.createDirectories(dst)
        entries.foreach { f =>
          val target = dst.resolve(storeDir.relativize(f))
          if (Files.isDirectory(f)) Files.createDirectories(target)
          else {
            Files.createDirectories(target.getParent)
            Files.copy(f, target, StandardCopyOption.COPY_ATTRIBUTES)
          }
        }
        Some(dst.toString)
      } else None
    // truncate: remove contents deepest-first; the directory stays (an
    // empty store)
    entries.reverse.foreach(f => Files.deleteIfExists(f))
    bak
  }

  /** S9: row count + store existence (the reference's health payload);
    * a store with no data file is "empty".
    */
  def health(): Health = snapshot().frame match {
    // per-partition row counts summed on the driver: one job, where
    // count()'s exchange takes two under adaptive execution
    case Some(c) => Health("healthy", c.select().rdd.count(), true)
    case None => Health("empty", 0L, false)
  }
}
