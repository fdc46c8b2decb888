package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.LubmQueries

/** LUBM mini-corpus over the reference's own benchmark data
  * (crux-test/test/crux/lubm_test.clj; University0_0.ntriples). Expected
  * values for Q1/Q2 are the reference test's literal assertions
  * (lubm_test.clj:42-67); the other counts are cross-checked against the
  * DuckDB oracles in LubmSql. */
class LubmSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def run(name: String) = {
    ReferenceCorpus.assumeFiles(LubmQueries.path)
    LubmQueries.all(name)(spark, "unused")
  }

  test("lubm q1: graduate students taking GraduateCourse0 (lubm_test.clj:42)") {
    assert(run("lubm_q1").collect().map(_.getString(0)).toSet ==
      Set("GraduateStudent101", "GraduateStudent124",
        "GraduateStudent142", "GraduateStudent44"))
  }

  test("lubm q2: triangular join is empty on the one-department corpus (lubm_test.clj:58)") {
    assert(run("lubm_q2").count() == 0)
  }

  test("lubm q4: associate-professor star join") {
    val rows = run("lubm_q4").collect()
    assert(rows.length == 14)
    assert(rows.forall(_.getString(3).endsWith("@Department0.University0.edu")))
  }

  test("lubm q7: constant-entity teacherOf chain") {
    assert(run("lubm_q7").count() == 59)
  }

  test("lubm q8: membership + email star") {
    val rows = run("lubm_q8").collect()
    assert(rows.length == 532)
    assert(rows.forall(_.getString(1) == "www.Department0.University0.edu"))
  }

  test("lubm q6: single-class scan") {
    assert(run("lubm_q6").count() == 532)
  }

  test("lubm q12: worksFor chain with two class checks") {
    val rows = run("lubm_q12").collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getString(0).startsWith("FullProfessor")))
  }
}
