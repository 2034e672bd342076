package graft

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[GraftSession]], so conf such
  * as the shuffle width and `nanosAsLong` cannot drift between mains, and
  * the one listener in src/main is Bench's recorder. A source scan: no
  * SparkSession needed.
  */
class SessionFactorySpec extends AnyFunSuite {

  /** (file name, occurrence count) of `needle` over src/main's sources. */
  private def hits(needle: String): Seq[(String, Int)] = {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val re = Pattern.quote(needle).r
    files.map(p => p.getFileName.toString -> re.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0)
  }

  test("src/main builds a SparkSession in exactly one place, the factory") {
    assert(hits("SparkSession.builder") == Seq("GraftSession.scala" -> 1))
  }

  test("src/main reads SPARK_GRAFT_CPUS in exactly one place, the factory") {
    assert(hits("SPARK_GRAFT_CPUS") == Seq("GraftSession.scala" -> 1))
  }

  test("src/main has exactly one SparkListener, Bench's recorder") {
    assert(hits("extends SparkListener") == Seq("Bench.scala" -> 1))
  }
}
