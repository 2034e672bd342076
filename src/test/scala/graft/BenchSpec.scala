package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

/** Bench's stdout contract and its per-run work recorder. */
class BenchSpec extends SparkSpec {

  test("final stdout line stays under the driver's tail window at worst case (VERDICT r15 item 1)") {
    // worst case across every variable-length part: long query names
    // (longest real name + @nonclone suffix class), 5-digit seconds,
    // 12-digit counters, hundreds of failures, nonclone present.
    val name = "q199_token_entropy_window@nonclone" // 34 chars, > any real name
    def kv(n: Int) = (1 to n).map(i => f"$name$i%03d" -> 99999.999)
    def ns(n: Int) = (1 to n).map(i => f"$name$i%03d")
    val big = 999999999999L
    val workWorst = Bench.Work(big, big, big, big, big)
    val ctlWorst =
      """"control":{"median":99.999,"min":99.999,"max":999.999},""" +
        """"value_per_control":99999.9"""
    val sf1Worst = Bench.sf1Compact(99999.999, 999, 999, kv(50), workWorst,
      Some(kv(10)))
    val line = Bench.finalLine(99999.999, degraded = true, 999, 999,
      ns(50), 3, kv(50), workWorst, ctlWorst, Some(sf1Worst),
      "testdata/sf0.1")
    assert(line.length < 1900, s"final line ${line.length} chars:\n$line")
    // it must be parseable JSON with at least the top entries of every
    // capped list surviving (char-budgeted, not count-capped) and both
    // scales' work totals
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(tree.get("value").asDouble() == 99999.999)
    assert(tree.get("n_failed").asInt() == 999)
    assert(tree.get("queries").size() >= 2)
    assert(tree.get("failed").size() >= 1)
    assert(tree.get("work").get("shuffle_bytes").asLong() == big)
    assert(tree.get("sf1").get("work").get("jobs").asLong() == big)
    assert(tree.get("sf1").get("slowest").size() >= 2)
    assert(tree.get("sf1").get("nonclone").size() >= 2)
    // with realistic name lengths the headline budget carries ~3 entries
    val realKv = (1 to 9).map(i => f"q119_dedup_curve@nonclone$i" -> 12.345)
    val realLine = Bench.finalLine(398.8, degraded = false, 209, 0, Nil, 3,
      realKv.take(4), Bench.Work(4000, 90000, 800000, 123456789L, 0),
      ctlWorst, None, "testdata/sf0.1")
    val rt = new com.fasterxml.jackson.databind.ObjectMapper().readTree(realLine)
    assert(rt.get("queries").size() >= 3)
    assert(rt.get("work").get("jobs").asLong() == 4000L)
  }

  test("recorder: an exchange records jobs and shuffle bytes, a narrow " +
    "query none, and back-to-back records do not bleed into each other") {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val wide = spark.range(0, 20000, 1, 4).selectExpr("id % 97 as k").groupBy("k").count()
    val narrow = spark.range(0, 1000, 1, 2).selectExpr("id * 2 as x")
    // a slow listener on the same bus queue holds the recorder's events
    // back the way a busy bus does, so a record that does not drain the
    // bus misses its own tail and counts the previous run's
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(20)
    }
    spark.sparkContext.addSparkListener(slow)
    val rec = new Bench.Recorder(spark.sparkContext)
    try {
      val runs = (1 to 5).map { _ =>
        val (_, w, stages) = rec.record(noop(wide))
        val (_, n, _) = rec.record(noop(narrow))
        assert(w.jobs >= 1 && w.shuffleBytes > 0 && stages.nonEmpty, w)
        // exactly its own one job of two tasks: the wide run's tail is
        // not counted here, and none of this run's events are missed
        assert(n == Bench.Work(1, 2, n.cpuMs, 0, 0), n)
        w
      }
      assert(runs.map(w => (w.jobs, w.tasks, w.shuffleBytes)).distinct.size == 1,
        runs.mkString("\n"))
    } finally {
      rec.close()
      spark.sparkContext.removeSparkListener(slow)
    }
  }
}
