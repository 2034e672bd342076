package graft
import java.nio.file.{Files, Paths}
import graft.api.VectorDbServer.jstr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json (the dumped queries' oracles), for the driver's
  * DuckDB compare.
  * Usage: runMain graft.Verify <sfDir> <outDir> [<name>[,<name>...]]
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (dev loop —
    // the driver always passes exactly two args and dumps everything)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    only.foreach(SparkEntry.requireKnown)
    val spark = GraftSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    val dumped = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    dumped.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // after the dump every trained oracle's cache is warm: no retraining
    val oracles = dumped.keys.flatMap { name =>
      try SparkEntry.oracleSql(spark, sfDir, name).map(name -> _)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name oracle failed: ${e.getMessage}")
        None
      }
    }
    val json = oracles
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
