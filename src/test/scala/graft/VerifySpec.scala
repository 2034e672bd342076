package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The query-name filter of every main that takes one: a misspelled name
  * must fail loudly before a session is built, not run nothing (Verify
  * would dump nothing for the oracle compare to pass over) or throw only
  * after a session is up.
  */
class VerifySpec extends AnyFunSuite {

  private val names = "q01_cosine_topk,q01_cosine_topq,no_such_query"
  private val out = Files.createTempDirectory("graft-verify-out")

  Seq[(String, () => Unit)](
    "Verify" -> (() => Verify.main(Array("/nonexistent-sf", out.toString, names))),
    "Bench" -> (() => Bench.main(Array(names))),
    "Explain" -> (() => Explain.main("/nonexistent-sf" +: names.split(",")))
  ).foreach { case (main, run) =>
    test(s"an unknown name in $main's filter fails before a session is built") {
      val before = SparkSession.getDefaultSession
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("unknown query names: " +
        "no_such_query, q01_cosine_topq"))
      assert(SparkSession.getDefaultSession == before)
      assert(before.forall(!_.sparkContext.isStopped))
      assert(Files.list(out).count() == 0)
    }
  }
}
