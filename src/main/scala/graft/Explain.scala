package graft

/** Plan-audit main: prints the formatted physical plan of each (or one
  * named) SparkEntry query — the tool for checking that filters push
  * down to the parquet scan, small dims broadcast, top-k plans as
  * TakeOrderedAndProject, and codegen spans stay wide.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    SparkEntry.requireKnown(names)
    val spark = GraftSession("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
