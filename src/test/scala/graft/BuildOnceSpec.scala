package graft

import java.nio.file.{Files, Path, Paths}

/** The one build-once protocol behind every persisted fixture
  * ([[SparkEntry.built]]): a root counts as built iff it exists, a
  * build runs in a hidden staging sibling and is published with one
  * atomic rename, a failed build leaves nothing behind, a lost publish
  * race keeps the winner's root, and nothing a published root holds
  * names the staging dir it was built in.
  */
class BuildOnceSpec extends SparkSpec {

  /** A fresh data dir (so a fresh cache key) holding a tiny table. */
  private def dataDir(): String = {
    val dir = Files.createTempDirectory("graft_build_once").toString
    spark.range(3).write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** The root a staging dir publishes to:
    * `.graft-<tag>-<key>.staging-<nonce>` → `graft-<tag>-<key>`.
    */
  private def rootOf(staging: String): Path = {
    val p = Paths.get(staging)
    val n = p.getFileName.toString
    p.resolveSibling(n.substring(1, n.lastIndexOf(".staging-")))
  }

  private def stagingSiblings(root: Path): Seq[String] =
    root.getParent.toFile.list().toSeq
      .filter(_.startsWith(s".${root.getFileName}.staging-"))

  test("a build that throws publishes nothing, leaves no staging dir, " +
    "and the next call builds") {
    val dir = dataDir()
    var staged = ""
    val e = intercept[IllegalStateException] {
      SparkEntry.built(spark, dir, "documents", "botest") { p =>
        staged = p
        Files.write(Paths.get(p, "half"), Array[Byte](1))
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    val root = rootOf(staged)
    assert(!Files.exists(Paths.get(staged)), "staging dir survived the failure")
    assert(!Files.exists(root), "a failed build was published")
    assert(stagingSiblings(root).isEmpty)

    var runs = 0
    val got = SparkEntry.built(spark, dir, "documents", "botest") { p =>
      runs += 1
      Files.write(Paths.get(p, "whole"), Array[Byte](1))
    }
    assert(runs == 1 && got == root.toString)
    assert(Files.exists(root.resolve("whole")) && !Files.exists(root.resolve("half")))
  }

  test("a lost publish race returns the winner's root and drops the " +
    "loser's staging dir") {
    val dir = dataDir()
    var staged = ""
    val got = SparkEntry.built(spark, dir, "documents", "botest") { p =>
      staged = p
      Files.write(Paths.get(p, "loser"), Array[Byte](1))
      // another writer publishes first
      val root = rootOf(p)
      Files.createDirectories(root)
      Files.write(root.resolve("winner"), Array[Byte](1))
    }
    val root = rootOf(staged)
    assert(got == root.toString)
    assert(Files.exists(root.resolve("winner")))
    assert(!Files.exists(root.resolve("loser")), "the loser overwrote the winner")
    assert(!Files.exists(Paths.get(staged)), "the loser's staging dir survived")
    assert(stagingSiblings(root).isEmpty)
  }

  test("repeated calls in one JVM run the build exactly once") {
    val dir = dataDir()
    var runs = 0
    val roots = (1 to 3).map { _ =>
      SparkEntry.built(spark, dir, "documents", "botest") { p =>
        runs += 1
        Files.write(Paths.get(p, "x"), Array[Byte](1))
      }
    }
    assert(runs == 1, s"build ran $runs times")
    assert(roots.distinct.size == 1 && Files.exists(Paths.get(roots.head, "x")))
  }

  test("q238/q244/q246's published roots name no staging path " +
    "(manifests, cursors, sync records)") {
    val dir = Files.createTempDirectory("graft_build_once_sf")
    Seq("documents", "embeddings").foreach { t =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        dir.resolve(s"$t.parquet"))
    }
    val home = Paths.get(sys.props("java.io.tmpdir"), SparkEntry.BuiltHome)
    def entries(): Set[String] =
      if (Files.isDirectory(home)) home.toFile.list().toSet else Set.empty
    val before = entries()
    Seq("q238_index_sync", "q244_shallow_clone", "q246_cdc_follow")
      .foreach(q => SparkEntry.queries(q)(spark, dir.toString).collect())
    val published = (entries() -- before).toSeq.sorted
    assert(published.forall(!_.startsWith(".")),
      s"staging dirs left behind: $published")
    Seq("ivf", "synctbl", "syncidx", "vclsrc", "vclone", "vflog").foreach { t =>
      assert(published.exists(_.startsWith(s"graft-$t-")),
        s"graft-$t-* not published: $published")
    }
    val files = published.flatMap { r =>
      val st = Files.walk(home.resolve(r))
      try st.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path])
      finally st.close()
    }
    assert(files.exists(_.getFileName.toString == "cursor"))
    assert(files.exists(_.getFileName.toString.contains("corpus_sync")))
    val named = files.filter { f =>
      new String(Files.readAllBytes(f), "ISO-8859-1").contains(".staging-")
    }
    assert(named.isEmpty, s"files naming a staging path: $named")
  }
}
