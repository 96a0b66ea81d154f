package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract sanity for the driver-facing registry — no Spark needed. */
class RegistrySpec extends AnyFunSuite {

  test("query names are globally unique (no silent map overwrite)") {
    val all = SparkEntry.registry.flatMap(_.gates).map(_.name)
    val dups = all.groupBy(identity).filter(_._2.size > 1).keySet
    assert(dups.isEmpty, s"duplicate query names: $dups")
    assert(SparkEntry.queries.size == all.size)
  }

  test("every oracle key has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("oracle SQL is DuckDB-shaped (no obvious Spark-isms)") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("`"), s"$name uses backtick quoting")
      assert(sql.trim.toUpperCase.startsWith("SELECT") ||
        sql.trim.toUpperCase.startsWith("WITH"), s"$name is not a query")
    }
  }

  test("MATERIALIZED-hinted oracles carry no WINDOW clause") {
    val hinted = SparkEntry.oracleSql.filter(_._2.contains("AS MATERIALIZED"))
    val windowClause = """(?i)\bWINDOW\s+\w+\s+AS\b""".r
    val windowed = hinted.keys.filter(k => windowClause.findFirstIn(hinted(k)).nonEmpty)
    assert(windowed.isEmpty, s"hint rewrite would touch a window alias: $windowed")
    assert(hinted.size == 27, s"got ${hinted.size} hinted oracles")
  }

  test("headline bench queries all exist") {
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline references unknown queries: $missing")
  }

  test("registry size matches expectation (update when adding queries)") {
    assert(SparkEntry.queries.size == 393, s"got ${SparkEntry.queries.size}")
    assert(SparkEntry.oracleSql.size == 393) // every query oracle-gated
  }
}
