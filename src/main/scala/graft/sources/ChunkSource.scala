package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.text.Chunker

/** DataSource V2 "graft-chunks" format: scans a directory of text files
  * and emits CHUNK rows directly from the scan — the reference's
  * file-walk → read → chunk front half (`repo_to_vector.py:166-306`) as
  * a first-class table, with no intermediate whole-file row ever
  * materialized in the plan.
  *
  * ```
  * spark.read.format("graft-chunks")
  *   .option("chunkSize", "1000").option("overlap", "200")
  *   .load("/path/to/repo")
  * ```
  * Schema: (path, extension, chunk_index, total_chunks, content).
  *
  * Scale design: one InputPartition per file group (files are split
  * round-robin into `spark.default.parallelism` groups by default —
  * override with the `numPartitions` option — at planning time; chunk
  * boundaries depend on whole-file
  * content, so a file is never split across partitions; the 10 MB cap
  * the reference enforces keeps any single file driver- and
  * task-friendly). Readers stream file-by-file, chunk-by-chunk; memory
  * per task is one file's text. Filters/column pruning happen above in
  * Catalyst (the scan is narrow already).
  */
class ChunkSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-chunks"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChunkSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new ChunkTable(properties.asScala.toMap)
}

object ChunkSource {
  val Schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("extension", StringType, nullable = false),
    StructField("chunk_index", IntegerType, nullable = false),
    StructField("total_chunks", IntegerType, nullable = false),
    StructField("content", StringType, nullable = false)))

  val MaxFileBytes: Long = 10L * 1024 * 1024
}

private class ChunkTable(props: Map[String, String])
    extends Table with SupportsRead {

  override def name(): String = s"graft-chunks(${props.getOrElse("path", "?")})"
  override def schema(): StructType = ChunkSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChunkScanBuilder(options)
}

private class ChunkScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with Scan with Batch {

  private val root = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("graft-chunks: .load(path) required"))
  private val chunkSize =
    Option(options.get("chunkSize")).map(_.toInt).getOrElse(Chunker.DefaultChunkSize)
  require(chunkSize > 0, s"graft-chunks: chunkSize must be > 0, got $chunkSize")
  private val overlap =
    Option(options.get("overlap")).map(_.toInt).getOrElse(Chunker.DefaultOverlap)
  require(overlap >= 0 && overlap < chunkSize,
    s"graft-chunks: overlap must be in [0, chunkSize), got $overlap")
  private val numPartitions =
    Option(options.get("numPartitions")).map(_.toInt).getOrElse(
      // scale with the session by default; option overrides for tests/tuning
      org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)
  require(numPartitions > 0,
    s"graft-chunks: numPartitions must be > 0, got $numPartitions")

  override def build(): Scan = this
  override def readSchema(): StructType = ChunkSource.Schema
  override def description(): String = s"graft-chunks $root"
  override def toBatch: Batch = this

  /** Driver-side planning: list files (hidden-prune + size cap, the
    * reference's F1/F3) and round-robin them into partitions.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val rootPath = Paths.get(root)
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    val stream = Files.walk(rootPath)
    try {
      stream.iterator().asScala.foreach { p: Path =>
        val rel = rootPath.relativize(p).toString
        val hidden = rel.split("/").exists(_.startsWith("."))
        if (Files.isRegularFile(p) && !hidden &&
            Files.size(p) <= ChunkSource.MaxFileBytes) {
          files += rel
        }
      }
    } finally stream.close()
    val n = math.max(1, math.min(numPartitions, files.length))
    (0 until n).map { i =>
      ChunkPartition(root, files.zipWithIndex.collect {
        case (f, j) if j % n == i => f
      }.toArray, chunkSize, overlap): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new ChunkPartitionReader(p.asInstanceOf[ChunkPartition])
    }
}

private case class ChunkPartition(root: String, files: Array[String],
                                  chunkSize: Int, overlap: Int)
    extends InputPartition

/** Streams (file × chunk) pairs; holds one file's text at a time. */
private class ChunkPartitionReader(p: ChunkPartition)
    extends PartitionReader[InternalRow] {

  private var fileIdx = -1
  private var chunks: Seq[String] = Nil
  private var chunkIdx = 0
  private var curPath: String = _
  private var curExt: String = _

  private def advanceFile(): Boolean = {
    chunkIdx = 0
    chunks = Nil
    while (chunks.isEmpty) {
      fileIdx += 1
      if (fileIdx >= p.files.length) return false
      curPath = p.files(fileIdx)
      val full = Paths.get(p.root, curPath)
      // lossy UTF-8 decode = the reference's errors='ignore' read (S3)
      val text = new String(Files.readAllBytes(full), StandardCharsets.UTF_8)
      if (graft.ingest.Ingest.nonBlank(text)) { // F4 non-empty filter
        curExt = {
          val i = curPath.lastIndexOf('.')
          if (i >= 0 && i > curPath.lastIndexOf('/')) curPath.substring(i) else ""
        }
        chunks = Chunker.chunk(text, p.chunkSize, p.overlap)
      }
    }
    true
  }

  override def next(): Boolean =
    chunkIdx < chunks.length || advanceFile()

  override def get(): InternalRow = {
    val row = InternalRow(
      UTF8String.fromString(curPath), UTF8String.fromString(curExt),
      chunkIdx, chunks.length, UTF8String.fromString(chunks(chunkIdx)))
    chunkIdx += 1
    row
  }

  override def close(): Unit = ()
}
