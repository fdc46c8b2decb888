package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.WatDivQueries
import graft.sources.WatDivGen

/** WatDiv template-family queries over the committed deterministic
  * WSDBM-schema slice (reference harness:
  * crux-bench/src/crux/bench/watdiv_crux.clj:88-115 validates per-query
  * result counts; the counts pinned here are cross-checked against the
  * DuckDB oracles in WatDivSql). */
class WatDivSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def run(name: String) = WatDivQueries.all(name)(spark, "unused")

  test("generator is deterministic and matches the committed slice") {
    assert(java.nio.file.Paths.get(WatDivQueries.path)
      .startsWith(java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath),
      s"${WatDivQueries.path} is not in this checkout")
    val committed = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(WatDivQueries.path))
    val regen = WatDivGen.triples()
    assert(committed.size == regen.size)
    assert(committed.get(0) == regen.head && committed.get(committed.size - 1) == regen.last)
  }

  test("watdiv s1: offer star from a constant retailer") {
    val rows = run("watdiv_s1").collect()
    assert(rows.length == 23)
    assert(rows.forall(_.getString(2).length == 5)) // fixed-width price
  }

  test("watdiv s2: user star with two constant properties") {
    val rows = run("watdiv_s2").collect()
    assert(rows.length == 26)
    assert(rows.forall(r => Set("male", "female")(r.getString(1))))
  }

  test("watdiv l1: subscription -> likes -> caption path") {
    assert(run("watdiv_l1").count() == 63)
  }

  test("watdiv l2: likes-const -> livesIn -> parentCountry path") {
    val rows = run("watdiv_l2").collect()
    assert(rows.length == 6)
    assert(rows.forall(_.getString(2).startsWith("Country")))
  }

  test("watdiv f1: product-review snowflake") {
    assert(run("watdiv_f1").count() == 3)
  }

  test("watdiv c1: social hop into commerce star with price range") {
    val rows = run("watdiv_c1").collect()
    assert(rows.length == 157)
    assert(rows.forall(_.getString(3) < "02000"))
  }
}
