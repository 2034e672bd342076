package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage profiler for one (or a few) SparkEntry queries — the
  * guide-§1 "where is the time actually going" tool for a headless box
  * (spark.ui.enabled=false): runs each named query through the noop
  * sink with a listener that records, per completed stage, the wall
  * time, task count, executor run/CPU time, shuffle read/write bytes
  * and spill. Prints a per-stage table plus a shuffle-bytes total so
  * plan-shape claims ("removed an exchange", "shuffles fewer bytes")
  * are checkable against numbers, not vibes.
  *
  * Usage: runMain graft.StageProfile <sfDir> <queryName> [passes]
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args(1).split(",").toSeq
                else Seq("q01_cosine_topk")
    val passes = if (args.length > 2) args(2).toInt else 2
    SparkEntry.requireKnown(names)
    val spark = GraftSession("graft-stage-profile")

    case class StageRow(id: Int, name: String, ms: Long, tasks: Int,
                        runMs: Long, cpuMs: Long, shRead: Long,
                        shWrite: Long, spill: Long, input: Long)
    val rows = collection.mutable.ListBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        rows.synchronized {
          rows += StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(60),
            wall, si.numTasks, m.executorRunTime,
            m.executorCpuTime / 1000000, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
            m.inputMetrics.bytesRead)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.range(1000).selectExpr("sum(id)").collect() // session warm-up

    val registry = SparkEntry.queries
    names.foreach { qn =>
      val fn = registry(qn)
      for (p <- 1 to passes) {
        rows.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the listener bus drain
        println(f"\n==== $qn pass $p: $sec%.3f s, ${rows.size} stages ====")
        println(f"${"stage"}%6s ${"wall_ms"}%8s ${"tasks"}%5s ${"run_ms"}%8s " +
          f"${"cpu_ms"}%8s ${"shR_kb"}%8s ${"shW_kb"}%8s ${"spill"}%6s " +
          f"${"in_kb"}%8s  name")
        rows.sortBy(-_.ms).foreach { r =>
          println(f"${r.id}%6d ${r.ms}%8d ${r.tasks}%5d ${r.runMs}%8d " +
            f"${r.cpuMs}%8d ${r.shRead / 1024}%8d ${r.shWrite / 1024}%8d " +
            f"${r.spill}%6d ${r.input / 1024}%8d  ${r.name}")
        }
        val totSh = rows.map(_.shWrite).sum
        val totRun = rows.map(_.runMs).sum
        val totCpu = rows.map(_.cpuMs).sum
        println(f"[profile] $qn pass $p wall=$sec%.3f s stages=${rows.size} " +
          f"sum_run=${totRun}ms sum_cpu=${totCpu}ms shuffle_write=${totSh / 1024}kb")
      }
    }
    spark.stop()
  }
}
