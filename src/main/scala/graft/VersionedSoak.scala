package graft

import org.apache.spark.sql.functions._

import graft.sources.Versioned
import graft.streaming.StreamingVersionedSink

/** Long-running streaming-sink soak for the versioned table (VERDICT
  * r17 item 2's "Done" evidence): N epoch-keyed commits through
  * [[StreamingVersionedSink.commitBatch]], two lanes —
  *
  *   - `nocompact`: raw accretion (one tiny file + one delta per epoch);
  *   - `compact`:   the same stream with `compactEvery = 10` inline
  *                  maintenance.
  *
  * Per-epoch COMMIT seconds are windowed (first 10 vs last 10): with
  * delta manifests both lanes' commit cost must stay flat in stream
  * length (the old full-rewrite manifests grew O(total files) per
  * commit). READ latency and the snapshot's file count are probed
  * every 20 epochs: the nocompact lane's file count grows linearly
  * (and read fan-out with it); the compact lane stays bounded near
  * `compactEvery`. Prints a markdown table + one JSON line.
  *
  * Usage: runMain graft.VersionedSoak [epochs] (default 120)
  */
object VersionedSoak {
  def main(args: Array[String]): Unit = {
    val epochs = args.headOption.map(_.toInt).getOrElse(120)
    val work = sys.env.getOrElse("SPARK_GRAFT_VSOAK_DIR", "/tmp/graft-vsoak")
    val spark = GraftSession("graft-versioned-soak")
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(work), true)

    final case class Lane(name: String, root: String, compactEvery: Int) {
      val commits = collection.mutable.ArrayBuffer.empty[Double]
      val probes = collection.mutable.ArrayBuffer.empty[(Int, Double, Int)]
    }
    val lanes = Seq(Lane("nocompact", s"$work/nc", 0),
      Lane("compact", s"$work/c", 10))

    for (lane <- lanes; e <- 0 until epochs) {
      val batch = spark.range(e * 100L, (e + 1) * 100L)
        .select(col("id"), (col("id") * 7 % 1000).as("v")).repartition(1)
      val t0 = System.nanoTime()
      StreamingVersionedSink.commitBatch(spark, lane.root, batch, e.toLong,
        compactEvery = lane.compactEvery, numFiles = 1)
      lane.commits += (System.nanoTime() - t0) / 1e9
      if ((e + 1) % 20 == 0) {
        val r0 = System.nanoTime()
        Versioned.readAsOf(spark, lane.root)
          .agg(count(lit(1)), sum(col("v"))).collect()
        val rs = (System.nanoTime() - r0) / 1e9
        val nf = Versioned.fileList(spark, lane.root,
          Versioned.latestVersion(spark, lane.root)).size
        lane.probes += ((e + 1, rs, nf))
        System.err.println(f"[vsoak] ${lane.name}%-10s epoch ${e + 1}%4d " +
          f"read $rs%6.3f s  files $nf%4d")
      }
    }

    def win(xs: Seq[Double]): (Double, Double) = {
      val first = xs.take(10); val last = xs.takeRight(10)
      (first.sum / first.size, last.sum / last.size)
    }
    println(s"| lane | commit s (first 10 avg) | commit s (last 10 avg) | " +
      s"files @20 | files @$epochs | read s @20 | read s @$epochs |")
    println("|---|---|---|---|---|---|---|")
    val parts = lanes.map { l =>
      val (cf, cl) = win(l.commits.toSeq)
      val p0 = l.probes.head; val pN = l.probes.last
      println(f"| ${l.name} | $cf%.3f | $cl%.3f | ${p0._3} | ${pN._3} | " +
        f"${p0._2}%.3f | ${pN._2}%.3f |")
      f""""${l.name}":{"commit_first10":$cf%.3f,"commit_last10":$cl%.3f,""" +
        f""""files_first":${p0._3},"files_last":${pN._3},""" +
        f""""read_first":${p0._2}%.3f,"read_last":${pN._2}%.3f}"""
    }
    // --- 1000-file prune probe (VERDICT r18 item 8c): manifest-decided
    // categorical skipping must stay sub-second when the snapshot holds
    // a thousand files. ONE value-stats commit written as 1000 files
    // (cat hash-routed so each file carries few distinct values), then
    // a point read: the decision is pure manifest parsing — no footer,
    // no listing — and opens only the containing files.
    val pruneRoot = s"$work/prune1000"
    val cats = spark.range(2000000L)
      .select(col("id"), concat(lit("c"),
        format_string("%04d", col("id") % 1000)).as("cat"))
      .repartitionByRange(1000, col("cat"))
    val b0 = System.nanoTime()
    Versioned.appendWithValueStats(spark, pruneRoot, cats, "cat",
      maxDistinct = 16)
    val buildS = (System.nanoTime() - b0) / 1e9
    val q0 = System.nanoTime()
    val (pf, pRead, pTotal) =
      Versioned.readWhereEq(spark, pruneRoot, "cat", "c0007")
    val pRows = pf.count()
    val pruneS = (System.nanoTime() - q0) / 1e9
    println(f"| prune1000 | files $pRead/$pTotal | rows $pRows | " +
      f"decide+read $pruneS%.3f s | build $buildS%.1f s |")

    // --- bloom sidecar probe: 2 M rows in 20 files (100 k rows/file →
    // every bloom beyond maxInlineBits, so the SIDECAR path carries the
    // index). A positive point lookup opens 1 file, a negative opens 0
    // — decided by 20 sidecar bit-tests, timed end to end.
    val bloomRoot = s"$work/bloom1m"
    val bb0 = System.nanoTime()
    Versioned.appendWithBloom(spark, bloomRoot,
      spark.range(2000000L).select(col("id"),
        (col("id") * 31 % 1000000).as("v")).repartition(20), "id")
    val bloomBuildS = (System.nanoTime() - bb0) / 1e9
    val bq0 = System.nanoTime()
    val (bf, bRead, bTotal) =
      Versioned.readWhereBloom(spark, bloomRoot, "id", 1234567L)
    val bRows = bf.count()
    val bloomPosS = (System.nanoTime() - bq0) / 1e9
    val bn0 = System.nanoTime()
    val (_, bReadNeg, _) =
      Versioned.readWhereBloom(spark, bloomRoot, "id", 99999999L)
    val bloomNegS = (System.nanoTime() - bn0) / 1e9
    println(f"| bloom1m | pos $bRead/$bTotal files, $bRows row, " +
      f"$bloomPosS%.3f s | neg $bReadNeg files, $bloomNegS%.3f s | " +
      f"build $bloomBuildS%.1f s |")

    // --- expiry probe on the compact lane: inline maintenance left a
    // long superseded history; expiring below the head reclaims the
    // per-epoch files in one metadata pass and the head still reads.
    val cLane = lanes.find(_.name == "compact").get
    val headV = Versioned.latestVersion(spark, cLane.root)
    val preRows = Versioned.readAsOf(spark, cLane.root).count()
    val e0 = System.nanoTime()
    val (deltasExp, filesExp) =
      Versioned.expireVersions(spark, cLane.root, headV)
    val expireS = (System.nanoTime() - e0) / 1e9
    val postRows = Versioned.readAsOf(spark, cLane.root).count()
    require(postRows == preRows,
      s"expiry changed the head: $preRows -> $postRows")
    println(f"| expire | $deltasExp deltas + $filesExp files reclaimed " +
      f"in $expireS%.3f s | head rows intact $postRows |")

    // --- follower catch-up probe on the nocompact lane: a cursor 10
    // epochs behind catches up in O(changed files), not O(table).
    val nLane = lanes.find(_.name == "nocompact").get
    val nHead = Versioned.latestVersion(spark, nLane.root)
    val curDir = s"$work/cursor"
    val fsP = new org.apache.hadoop.fs.Path(curDir)
    fs.mkdirs(fsP)
    val curPath = s"$curDir/lag10"
    val cw = fs.create(new org.apache.hadoop.fs.Path(curPath), true)
    cw.write(s"${nHead - 10}\n".getBytes("UTF-8")); cw.close()
    val f0 = System.nanoTime()
    var lagRows = 0L
    Versioned.followChanges(spark, nLane.root, curPath) { (df, _, _) =>
      lagRows = df.count()
    }
    val lagS = (System.nanoTime() - f0) / 1e9
    val curPathFull = s"$curDir/full"
    val ff0 = System.nanoTime()
    var fullRows = 0L
    Versioned.followChanges(spark, nLane.root, curPathFull) { (df, _, _) =>
      fullRows = df.count()
    }
    val fullS = (System.nanoTime() - ff0) / 1e9
    println(f"| follow | 10-behind: $lagRows rows $lagS%.3f s | " +
      f"from-zero: $fullRows rows $fullS%.3f s |")

    println(s"""{"metric":"versioned_soak","epochs":$epochs,""" +
      parts.mkString(",") +
      f""","prune1000":{"files_read":$pRead,"files_total":$pTotal,""" +
      f""""rows":$pRows,"seconds":$pruneS%.3f},""" +
      f""""bloom1m":{"pos_files":$bRead,"total":$bTotal,""" +
      f""""pos_s":$bloomPosS%.3f,"neg_files":$bReadNeg,""" +
      f""""neg_s":$bloomNegS%.3f,"build_s":$bloomBuildS%.1f},""" +
      f""""expire":{"deltas":$deltasExp,"files":$filesExp,""" +
      f""""seconds":$expireS%.3f},""" +
      f""""follow":{"lag10_rows":$lagRows,"lag10_s":$lagS%.3f,""" +
      f""""full_rows":$fullRows,"full_s":$fullS%.3f}}""")
    spark.stop()
  }
}
