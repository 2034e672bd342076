package graft

/** Serve the VectorDb HTTP endpoints (the reference's Flask surface)
  * over a parquet store: `runMain graft.Serve <storeDir> [port]`.
  * Blocks until killed.
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val store = args.headOption.getOrElse("/tmp/graft-store")
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val spark = GraftSession("graft-serve")
    val srv = new api.VectorDbServer(spark, new api.VectorDb(spark, store), port)
    srv.start()
    System.err.println(s"[serve] listening on 127.0.0.1:${srv.boundPort}, store=$store")
    Thread.currentThread().join() // serve until the process is killed
  }
}
