package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the seed, the op samples and
  * the failure count every workload reports into.
  */
final class Run(val spark: SparkSession, val seed: Long, val work: Path,
                val tracer: Tracer) {
  /** "plain" for an untraced cycle, "traced" for one under the tracer. */
  var phase = "plain"
  /** Off during warm-up: ops still run and are checked, but not sampled. */
  var sampling = false
  private val samples = mutable.LinkedHashMap.empty[(String, String), mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val recalls = mutable.ArrayBuffer.empty[Double]

  def traced: Boolean = phase == "traced"

  def ms(op: String, phase: String = phase): Seq[Double] =
    samples.get((phase, op)).map(_.toSeq).getOrElse(Nil)

  /** Every sample of `op`, traced or not, in the order taken. */
  def allMs(op: String): Seq[Double] = taken.collect { case (o, x) if o == op => x }.toSeq

  private val taken = mutable.ArrayBuffer.empty[(String, Double)]

  private def record(op: String, t0: Long): Unit = if (sampling) {
    val ms = (System.nanoTime() - t0) / 1e6
    samples.getOrElseUpdate((phase, op), mutable.ArrayBuffer.empty) += ms
    taken += op -> ms
  }

  /** Times `f` as one op. An exception counts the op as failed. */
  def timed[A](op: String)(f: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = f
      record(op, t0)
      Some(out)
    } catch {
      case e: Exception =>
        fail(s"$op threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  private var controls = 0

  /** The control job, run after every cycle: a fixed-size parquet write and
    * read-back with a fresh literal. Like the engine's ops it is planned,
    * code-generated, scheduled and does file I/O, but it runs no engine
    * code, so its time moves only with the machine (CPU steal, shared-disk
    * latency). Ops are reported relative to it.
    */
  def control(): Unit = {
    controls += 1
    val dir = work.resolve(s"control-$controls")
    val t0 = System.nanoTime()
    spark.range(0L, 200000L, 1L, 4).selectExpr("id", s"id % ${controls + 6} as m")
      .write.parquet(dir.toString)
    spark.read.parquet(dir.toString).selectExpr("sum(m)").collect()
    record("control", t0)
    Main.deleteTree(dir)
  }

  /** Counts the last op as failed when a check found a problem. */
  def check(op: String, problem: Option[String]): Boolean = {
    problem.foreach(p => fail(s"$op: $p"))
    problem.isEmpty
  }

  private def fail(msg: String): Unit = {
    failed += 1
    if (failed <= 20) System.err.println(s"[perfbench] FAILED $msg")
  }

  /** A fresh directory under the run's work directory. */
  def freshDir(name: String): Path = {
    val p = work.resolve(name)
    Main.deleteTree(p)
    p
  }
}

/** One workload: a set-up the benchmark can repeat, a cycle of ops it runs
  * closed-loop, and the figures it reports at the end.
  */
trait Workload {
  /** Generates the workload's inputs (the benchmark's own work, once). */
  def prepare(run: Run): Unit
  /** Builds the engine-side state over the inputs from scratch: the part
    * of set-up a change to the engine can make faster or slower.
    */
  def setup(run: Run): Unit
  /** How often a run repeats [[setup]]; set-up time is their median. */
  def setupRepeats: Int = 3
  /** SHA-256 of every generated input for `seed`. */
  def inputDigest(seed: Long): String
  /** One closed-loop cycle of ops, each checked against the brute force. */
  def cycle(run: Run): Unit
  /** Runs, unsampled, what set-up left cold. */
  def warmUp(run: Run): Unit = cycle(run)
  /** Names of the main and the side op, as sampled by [[Run.timed]]. */
  def mainOp: String
  def sideOp: String
  /** Bytes the store holds per byte of input the benchmark gave it. */
  def storeBytesPerInputByte(run: Run): Double
  /** Workload-specific per-layer figures of a traced run. */
  def layerExtras(run: Run): Map[String, Double]
  /** Lines describing the workload's sizes and the reference comparison. */
  def report(run: Run): Seq[String]
  def close(): Unit = ()
}

/** The benchmark command:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --traces <dir>
  *
  * Generates the inputs, sets the engine-side state up a few times
  * (reporting the median set-up time), warms up what set-up left cold,
  * then runs cycles closed-loop for the given seconds and prints a
  * human-readable report and, as the last line, one JSON object with the
  * end-to-end metrics (or, with `--trace 1`, the per-layer metrics).
  */
object Main {
  val Workloads: Seq[String] = Seq("ingest_repo", "serve_mixed", "search_large")

  /** Calls whose spans the traced run reports, in pipeline order. */
  val Calls: Seq[String] = Seq("ingest.scan", "text.chunk", "embed.embed",
    "store.write", "http.query", "api.query", "search.topk", "http.add",
    "api.add", "ann.resolve", "ann.probe", "ann.build")

  /** Per-layer figures beyond the per-call counters; a workload that does
    * not exercise a layer reports it as 0.
    */
  val LayerExtras: Seq[String] = Seq("embed.kernel_ns_per_chunk", "store.bytes",
    "store.files", "ingest.files_accepted_ratio", "serve.store_files",
    "serve.add_growth", "ann.rows_scanned_fraction")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts.getOrElse("workload", "")
    require(Workloads.contains(name), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work.resolve("tmp"))

    val cpus = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val run = new Run(spark, seed, work, new Tracer(spark, trace))
    val w: Workload = name match {
      case "ingest_repo" => new IngestRepo
      case "serve_mixed" => new ServeMixed
      case "search_large" => new SearchLarge
    }
    try {
      val p0 = System.nanoTime()
      w.prepare(run)
      val prepareS = (System.nanoTime() - p0) / 1e9
      val setupS = (1 to w.setupRepeats).map { _ =>
        val s0 = System.nanoTime(); w.setup(run); (System.nanoTime() - s0) / 1e9
      }
      // the generator contract: same seed, same bytes; other seed, other bytes
      val d0 = System.nanoTime()
      val digest = w.inputDigest(seed)
      run.attempted += 1
      run.check("generator",
        if (w.inputDigest(seed) != digest) Some("same seed gave different inputs")
        else if (w.inputDigest(seed + 1) == digest) Some("another seed gave the same inputs")
        else None)
      val digestS = (System.nanoTime() - d0) / 1e9

      run.tracer.active = false
      val w0 = System.nanoTime()
      w.warmUp(run)
      run.control()
      val warmS = (System.nanoTime() - w0) / 1e9
      // a traced run alternates untraced and traced cycles, so the two
      // halves see the same machine and JVM state
      run.sampling = true
      val end = System.nanoTime() + (seconds * 1e9).toLong
      var cycles = 0
      while (System.nanoTime() < end) {
        if (trace) {
          run.phase = if (cycles % 2 == 0) "plain" else "traced"
          run.tracer.active = run.traced
        }
        w.cycle(run)
        run.control()
        cycles += 1
      }
      run.sampling = false

      val rssMb = peakRssMb()
      val lines = mutable.ArrayBuffer.empty[String]
      lines += f"workload $name seed $seed: session $sessionS%.2f s, inputs $prepareS%.2f s, " +
        "set-up " + setupS.map(s => f"$s%.2f").mkString("[", ", ", "] s") +
        f", warm-up $warmS%.2f s, $cpus cores"
      lines += f"inputs sha256 $digest (regenerated twice to check the seed contract in $digestS%.2f s)"
      lines ++= w.report(run)
      val plain = Seq(w.mainOp, w.sideOp, "control").map(op => op -> run.ms(op, "plain"))
      plain.foreach { case (op, xs) =>
        if (xs.nonEmpty) {
          lines += f"$op%-12s n=${xs.length}%4d  p50 ${Stats.median(xs)}%9.2f ms  " + (
            if (xs.length < 11) "tail: no percentile has 10 samples beyond it"
            else {
              val (p, t) = Stats.tail(xs)
              f"tail p$p%.1f $t%9.2f ms (highest percentile with 10 samples beyond it)"
            }) + xs.map(x => f"$x%.0f").mkString("\n  samples ms: ", " ", "")
        }
      }
      lines += f"ops attempted ${run.attempted}, failed ${run.failed}, " +
        f"failed_ops_ratio ${run.failed.toDouble / run.attempted}%.4f"

      val metrics: Seq[(String, Double, String)] =
        if (!trace) {
          def p50(name: String) = {
            val xs = run.ms(name, "plain")
            require(xs.nonEmpty, s"no $name op finished within the run")
            Stats.median(xs)
          }
          val control = p50("control")
          Seq(
            ("setup_s", Stats.median(setupS), "s"),
            ("peak_rss_mb", rssMb, "MB"),
            ("ok_ops_ratio", 1.0 - run.failed.toDouble / run.attempted, "ratio"),
            ("main_p50_vs_control", p50(w.mainOp) / control, "ratio"),
            ("side_p50_vs_control", p50(w.sideOp) / control, "ratio"),
            ("store_bytes_per_input_byte", w.storeBytesPerInputByte(run), "ratio"),
            ("recall_at_k", if (run.recalls.isEmpty) 0.0 else run.recalls.sum / run.recalls.length,
              "ratio"))
        } else {
          val layers = layerTable(run.tracer)
          lines += "per-layer medians per call (self = time minus the calls it wraps):"
          lines += f"${"call"}%-12s ${"n"}%5s ${"ms"}%9s ${"self_ms"}%9s ${"jobs"}%5s " +
            f"${"tasks"}%6s ${"cpu_ms"}%9s ${"input_rows"}%11s ${"shuffle_bytes"}%13s"
          Calls.foreach { c =>
            val n = run.tracer.recorded.count(_.name == c)
            if (n > 0) {
              def v(f: String) = layers(s"$c.$f")
              lines += f"$c%-12s $n%5d ${v("ms")}%9.2f ${v("self_ms")}%9.2f ${v("jobs")}%5.0f " +
                f"${v("tasks")}%6.0f ${v("cpu_ms")}%9.2f ${v("input_rows")}%11.0f ${v("shuffle_bytes")}%13.0f"
            } else lines += f"$c%-12s     0 (not exercised by this workload; counters read 0)"
          }
          val overhead = {
            val p = run.ms(w.mainOp, "plain")
            val t = run.ms(w.mainOp, "traced")
            if (p.isEmpty || t.isEmpty) 0.0 else Stats.median(t) - Stats.median(p)
          }
          lines += f"tracing overhead: ${w.mainOp} p50 traced minus untraced = $overhead%.2f ms"
          val spanFile = Paths.get(opts("traces")).toAbsolutePath
            .resolve(s"spans-$name-seed$seed.jsonl")
          run.tracer.write(spanFile)
          lines += s"spans written to $spanFile"
          val extras = LayerExtras.map(_ -> 0.0).toMap ++ w.layerExtras(run) +
            ("trace.overhead_ms" -> overhead)
          extras.toSeq.sortBy(_._1).foreach { case (k, x) => lines += f"$k%-28s $x%.6f" }
          (layers ++ extras).toSeq.sortBy(_._1).map { case (k, x) => (k, x, unitOf(k)) }
        }

      lines.foreach(println)
      val m = metrics.map { case (k, x, u) =>
        s""""$k": {"value": ${jnum(x)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
      println(s"""{"correct": ${run.failed == 0}, "attempted": ${run.attempted}, """ +
        s""""failed": ${run.failed}, "metrics": $m}""")
    } finally {
      w.close()
      spark.stop()
      deleteTree(work)
    }
  }

  /** Median of every counter of every call over the traced spans. Calls
    * the workload never made read 0.
    */
  def layerTable(t: Tracer): Map[String, Double] = {
    val self = t.selfMs
    Calls.flatMap { c =>
      val ss = t.recorded.filter(_.name == c)
      def med(f: Span => Double) = if (ss.isEmpty) 0.0 else Stats.median(ss.map(f))
      Seq(
        s"$c.ms" -> med(_.ms),
        s"$c.self_ms" -> med(s => self(s.id)),
        s"$c.jobs" -> med(_.work.jobs.toDouble),
        s"$c.tasks" -> med(_.work.tasks.toDouble),
        s"$c.cpu_ms" -> med(_.work.cpuNs / 1e6),
        s"$c.input_rows" -> med(_.work.inputRows.toDouble),
        s"$c.shuffle_bytes" -> med(_.work.shuffleBytes.toDouble))
    }.toMap
  }

  def unitOf(metric: String): String = metric.split('.').last match {
    case "ms" | "self_ms" | "cpu_ms" | "overhead_ms" => "ms"
    case "jobs" | "tasks" | "files" | "store_files" => "count"
    case "input_rows" => "rows"
    case "shuffle_bytes" | "bytes" => "bytes"
    case "kernel_ns_per_chunk" => "ns"
    case _ => "ratio"
  }

  private def jnum(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else x.toString

  /** High-water resident set of this process, from /proc. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Sizes of the parquet files under `root`: (bytes, files). */
  def parquetBytes(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val fs = s.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
          .toArray.map(_.asInstanceOf[Path])
        (fs.map(Files.size).sum, fs.length.toLong)
      } finally s.close()
    }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }
}
