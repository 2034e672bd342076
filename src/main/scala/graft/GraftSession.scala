package graft

import org.apache.spark.sql.SparkSession

/** The one place a main builds its SparkSession, so conf cannot drift
  * between mains (the reference starts every component through one
  * orchestrator, `run_vector_db.py`).
  *
  * Master is `SPARK_GRAFT_MASTER`, else `local[cpus]`, where `cpus` is
  * the CPU count set in the environment, else the JVM's available
  * processors; `cpus` is also the shuffle width. `events.parquet`
  * carries TIMESTAMP(NANOS): without `nanosAsLong` a scan cannot even
  * infer its schema (`SparkEntry.readEvents` converts the nanos Long to
  * an exact micros timestamp, and sets the flag itself for caller-owned
  * sessions).
  */
object GraftSession {
  def apply(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
