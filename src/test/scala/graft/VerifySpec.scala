package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Verify's name filter: a misspelled name must fail loudly, not dump
  * nothing for the oracle compare to pass over.
  */
class VerifySpec extends AnyFunSuite {

  test("an unknown name in Verify's filter fails before a session is built") {
    val out = Files.createTempDirectory("graft-verify-out")
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException] {
      Verify.main(Array("/nonexistent-sf", out.toString,
        "q01_cosine_topk,q01_cosine_topq,no_such_query"))
    }
    assert(e.getMessage.contains("unknown query names: " +
      "no_such_query, q01_cosine_topq"))
    assert(SparkSession.getDefaultSession == before)
    assert(before.forall(!_.sparkContext.isStopped))
    assert(Files.list(out).count() == 0)
  }
}
