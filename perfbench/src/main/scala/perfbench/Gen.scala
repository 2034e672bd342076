package perfbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.util.hashing.MurmurHash3

/** Seeded input generators. Everything a workload feeds the engine comes
  * from here, as a pure function of the seed: the same seed gives
  * byte-identical inputs, another seed gives different ones.
  */
object Gen {

  /** A fixed vocabulary of identifier- and prose-like tokens. */
  private val Vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    val keywords = Array("def", "val", "return", "import", "class", "if", "else",
      "for", "while", "{", "}", "(", ")", "=", "==", "//", "#", "the", "a", "of",
      "to", "and", "in", "is", "vector", "query", "index", "store", "chunk")
    keywords ++ Array.fill(3000) {
      val len = 2 + r.nextInt(9)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
  }

  /** `bytes` characters of code-like ASCII text: indented lines of
    * Zipf-skewed tokens, so the chunker finds both newlines and spaces.
    */
  def text(r: SplittableRandom, bytes: Int): String = {
    val sb = new java.lang.StringBuilder(bytes + 128)
    while (sb.length < bytes) {
      sb.append(" " * (2 * r.nextInt(3)))
      val words = 2 + r.nextInt(12)
      var i = 0
      while (i < words) {
        if (i > 0) sb.append(' ')
        sb.append(Vocab((Vocab.length * math.pow(r.nextDouble(), 3)).toInt))
        i += 1
      }
      sb.append('\n')
    }
    sb.setLength(bytes)
    sb.toString
  }

  // ---------------------------------------------------------------- trees

  /** One generated file; `accepted` is whether the engine's scan filters
    * (hidden path, extension allowlist, size cap, blank content) must keep
    * it. Files over the size cap carry no content: [[writeTree]] streams
    * `size` filler bytes instead of holding them.
    */
  final case class GenFile(rel: String, content: String, size: Long, accepted: Boolean)

  final case class Tree(files: Seq[GenFile]) {
    def accepted: Seq[GenFile] = files.filter(_.accepted)
    def acceptedBytes: Long = accepted.map(_.size).sum
  }

  val AllowedExt: Array[String] = Array(".py", ".js", ".ts", ".java", ".go",
    ".rs", ".scala", ".md", ".txt", ".json", ".yaml", ".sql", ".sh", ".c", ".h")
  val DisallowedExt: Array[String] = Array(".png", ".lock", ".csv", ".svg",
    ".bin", ".xml", ".html", ".ini")
  val HiddenDirs: Array[String] = Array(".git", ".github", ".cache", ".venv")

  /** Size cap of the engine's scan (files above it are skipped). */
  val MaxFileBytes: Long = 10L * 1024 * 1024

  /** A source tree of `files` files, about `textBytes` bytes of accepted
    * text with log-uniform file sizes, mixed with files every scan filter
    * must drop: disallowed extensions, hidden directories and files, empty
    * and blank files, and one file just over the size cap.
    */
  def tree(seed: Long, files: Int = 500, textBytes: Int = 4000000): Tree = {
    val r = new SplittableRandom(seed)
    def dir(): String = {
      val depth = 1 + r.nextInt(3)
      (0 until depth).map(d => s"m${r.nextInt(6)}_$d").mkString("src/", "/", "")
    }
    def pick[A](xs: Array[A]): A = xs(r.nextInt(xs.length))
    val nDisallowed = files * 6 / 100
    val nHidden = files * 4 / 100
    val nEmpty = files * 3 / 100
    val nBlank = files * 3 / 100
    val nText = files - nDisallowed - nHidden - nEmpty - nBlank - 1
    // log-uniform sizes in [64 B, 64 KiB), scaled so the tree's accepted
    // text totals textBytes whatever the seed
    val raw = Array.fill(nText)(math.exp(math.log(64) + r.nextDouble() * math.log(1024)))
    val scale = textBytes / raw.sum
    val out = Seq.newBuilder[GenFile]
    raw.zipWithIndex.foreach { case (s, i) =>
      val size = math.max(16, (s * scale).toInt)
      out += GenFile(s"${dir()}/f$i${pick(AllowedExt)}", text(r, size), size, accepted = true)
    }
    (0 until nDisallowed).foreach { i =>
      val size = 64 + r.nextInt(4096)
      out += GenFile(s"${dir()}/x$i${pick(DisallowedExt)}", text(r, size), size, accepted = false)
    }
    (0 until nHidden).foreach { i =>
      val size = 64 + r.nextInt(4096)
      val rel = if (i % 4 == 3) s"${dir()}/.hidden$i${pick(AllowedExt)}"
        else s"${pick(HiddenDirs)}/${dir()}/h$i${pick(AllowedExt)}"
      out += GenFile(rel, text(r, size), size, accepted = false)
    }
    (0 until nEmpty).foreach { i =>
      out += GenFile(s"${dir()}/e$i${pick(AllowedExt)}", "", 0, accepted = false)
    }
    (0 until nBlank).foreach { i =>
      val size = 1 + r.nextInt(200)
      out += GenFile(s"${dir()}/b$i${pick(AllowedExt)}", " " * size, size, accepted = false)
    }
    out += GenFile(s"${dir()}/huge.txt", null, MaxFileBytes + 1, accepted = false)
    Tree(out.result())
  }

  def writeTree(t: Tree, root: Path): Unit = t.files.foreach { f =>
    val p = root.resolve(f.rel)
    Files.createDirectories(p.getParent)
    if (f.content != null) Files.write(p, f.content.getBytes(US_ASCII))
    else {
      val line = ("filler " * 16 + "\n").getBytes(US_ASCII)
      val os = new java.io.BufferedOutputStream(Files.newOutputStream(p), 1 << 16)
      try {
        var left = f.size
        while (left > 0) {
          val n = math.min(left, line.length.toLong).toInt
          os.write(line, 0, n)
          left -= n
        }
      } finally os.close()
    }
  }

  // ------------------------------------------------------------ documents

  /** The benchmark's own text embedding (the client side of the wire, like
    * the reference's client-side model): token-hash buckets, L2-normalized.
    */
  def embed(text: String, dim: Int = 64): Array[Double] = {
    val v = new Array[Double](dim)
    text.split("\\s+").iterator.filter(_.nonEmpty).foreach { t =>
      val h = MurmurHash3.stringHash(t, 1234567)
      v(math.floorMod(h, dim)) += (if ((h & 0x10000) == 0) 1.0 else -1.0) *
        (1.0 + ((h >>> 17) & 7) / 8.0)
    }
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }

  final case class Doc(path: String, content: String, embedding: Array[Double])

  /** `n` chunk-sized documents under `prefix`, each with its embedding. */
  def docs(r: SplittableRandom, prefix: String, n: Int): Seq[Doc] =
    (0 until n).map { i =>
      val content = text(r, 200 + r.nextInt(800))
      Doc(s"$prefix/d$i${AllowedExt(r.nextInt(AllowedExt.length))}", content, embed(content))
    }

  /** A query vector: the embedding of a few words taken from `source`. */
  def queryFrom(r: SplittableRandom, source: String): Array[Double] = {
    val words = source.split("\\s+").filter(_.nonEmpty)
    if (words.isEmpty) embed("vector query")
    else embed(Seq.fill(6)(words(r.nextInt(words.length))).mkString(" "))
  }

  /** The /add_documents body: the reference's {"documents": [...]} batch,
    * with the fields a convert writes.
    */
  def addBody(ds: Seq[Doc]): String = ds.map { d =>
    val ext = d.path.substring(d.path.lastIndexOf('.'))
    s"""{"path":"${d.path}","extension":"$ext","size":${d.content.length},""" +
      s""""total_chunks":1,"chunk_index":0,"content":${jstr(d.content)},""" +
      s""""embedding":${d.embedding.mkString("[", ",", "]")},""" +
      s""""ingested_at":"2025-04-05T01:16:27Z"}"""
  }.mkString("""{"documents":[""", ",", "]}")

  def queryBody(q: Array[Double], topK: Int): String =
    s"""{"query_embedding":${q.mkString("[", ",", "]")},"top_k":$topK}"""

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c => c.toString
  } + "\""

  // --------------------------------------------------------- vector corpus

  /** Cluster centers of a clustered vector corpus. */
  def centers(seed: Long, k: Int, dim: Int): Array[Array[Double]] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    Array.fill(k, dim)(gaussian(r))
  }

  /** Row `id` of a clustered corpus: its center plus Gaussian noise. A pure
    * function of (seed, id), so executors write it and the benchmark's own
    * brute force regenerates it without holding the corpus.
    */
  def vector(seed: Long, ctrs: Array[Array[Double]], noise: Double, id: Long): Array[Float] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)
    val c = ctrs(r.nextInt(ctrs.length))
    Array.tabulate(c.length)(i => (c(i) + noise * gaussian(r)).toFloat)
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on every JDK
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** SHA-256 of a sequence of strings, to compare generated inputs. */
  def digest(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(String.valueOf(p).getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
