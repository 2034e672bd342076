package graft

import org.scalatest.funsuite.AnyFunSuite

/** The README operator catalog is a checked user surface (VERDICT r13
  * item 6): every registered query and every GraftExtensions SQL
  * function must appear in README.md, so adding an operator without
  * cataloguing it fails the build instead of leaving users to read
  * SparkEntry. The query table is kept by hand: add a row for each new
  * query. No SparkSession needed — building the registry runs no query,
  * and the function names come from the extensions' table.
  */
class CatalogSpec extends AnyFunSuite {

  private lazy val readme = {
    val s = scala.io.Source.fromFile("README.md", "UTF-8")
    try s.mkString finally s.close()
  }

  test("every registered query appears in the README catalog") {
    val names = SparkEntry.queries.keySet
    assert(names.size >= 190, s"registry unexpectedly small: ${names.size}")
    val missing = names.filterNot(n => readme.contains(s"`$n`"))
    assert(missing.isEmpty,
      s"queries missing from README catalog (add a row to README.md's " +
        s"query table): ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("the registry holds 250 distinct names and queries is its view") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate registry names: ${names.diff(names.distinct)}")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(names.size == 250, s"registry size ${names.size}")
  }

  test("every GraftExtensions SQL function appears in the README catalog") {
    val fns = GraftExtensions.functions.map(_._1).toSet
    assert(fns.size >= 12, s"extension table unexpectedly small: $fns")
    val missing = fns.filterNot(f => readme.contains(s"`$f`"))
    assert(missing.isEmpty,
      s"SQL functions missing from README catalog: ${missing.toSeq.sorted}")
  }

  test("every registered query appears in SURVEY.md §8 (the coverage " +
    "map is a checked contract, not prose — VERDICT r16/r17)") {
    val survey = {
      val s = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
      try s.mkString finally s.close()
    }
    val sec8 = survey.substring(survey.indexOf("## 8."))
    assert(sec8.length > 1000, "SURVEY.md §8 not found or empty")
    // §8 rows cite queries by bare qNN token (sometimes the full name);
    // require at least the bare token for every registered query
    val names = SparkEntry.queries.keySet
    val tokens = """\bq\d+\b""".r.findAllIn(sec8).toSet
    val missing = names.filterNot { n =>
      tokens.contains(n.takeWhile(c => c != '_')) || sec8.contains(n)
    }
    assert(missing.isEmpty,
      s"queries missing from SURVEY.md §8 coverage map: " +
        s"${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every oracled query name in the catalog is actually registered " +
    "(no stale rows)") {
    val catalogued = """`(q[0-9]+[a-z_0-9]*)`""".r
      .findAllMatchIn(readme).map(_.group(1)).toSet
    val registered = SparkEntry.queries.keySet
    val stale = catalogued -- registered
    assert(stale.isEmpty,
      s"README catalogs unregistered queries (stale rows): ${stale.toSeq.sorted}")
  }
}
