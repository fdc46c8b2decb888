package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkJobs

/** The size-route helper's contract: the cap+1 clamp, the route
  * decision at and around the cap, the job it does (or does not) run,
  * and which errors decline the route. */
class RouteSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def local(n: Int) = spark.createDataFrame(
    java.util.Arrays.asList((0 until n).map(i => Row(i.toLong)): _*),
    StructType(Seq(StructField("x", LongType))))

  test("the clamp saturates: Long.MaxValue does not wrap") {
    assert(Route.takeN(Long.MaxValue) == Int.MaxValue)
    assert(Route.takeN(Int.MaxValue.toLong) == Int.MaxValue)
    assert(Route.takeN(Int.MaxValue - 2L) == Int.MaxValue - 1)
    assert(Route.takeN(5L) == 6)
    assert(Route.collect(spark.range(0, 7).toDF("x"), Long.MaxValue)
      .map(_.length).contains(7))
    assert(Route.fits(spark.range(0, 7).toDF("x"), Long.MaxValue))
  }

  test("a bound of 0 declines without running a job") {
    val df = spark.range(0, 7).toDF("x")
    val (c, cJobs) = SparkJobs.count(spark)(Route.collect(df, 0L))
    val (f, fJobs) = SparkJobs.count(spark)(Route.fits(df, 0L))
    assert(c.isEmpty && !f)
    assert((cJobs, fJobs) == ((0, 0)))
  }

  test("exactly cap rows routes to the driver, cap+1 rows does not") {
    for (n <- Seq(1, 5, 64)) {
      val df = spark.range(0, n).toDF("x").repartition(3)
      assert(Route.collect(df, n.toLong).map(_.length).contains(n), s"n=$n")
      assert(Route.collect(df, n - 1L).isEmpty, s"n=$n")
      assert(Route.fits(df, n.toLong) && !Route.fits(df, n - 1L), s"n=$n")
    }
  }

  test("a LocalRelation input is collected with zero jobs") {
    val df = local(10)
    val (rows, jobs) = SparkJobs.count(spark)(Route.collect(df, 100L))
    assert(rows.map(_.length).contains(10))
    assert(jobs == 0)
    val (over, overJobs) = SparkJobs.count(spark)(Route.collect(df, 9L))
    assert(over.isEmpty && overJobs == 0)
  }

  test("maxRows reads spark.graft.route.<name>.maxRows, else the default") {
    assert(Route.maxRows(spark, "spec", 42L) == 42L)
    SessionConf.withConf(spark, "spark.graft.route.spec.maxRows" -> " 7 ") {
      assert(Route.maxRows(spark, "spec", 42L) == 7L)
      assert(Route.maxRows(spark, "other", 42L) == 42L)
    }
    SessionConf.withConf(spark, "spark.graft.route.spec.maxRows" -> "lots") {
      assert(Route.maxRows(spark, "spec", 42L) == 42L) // unparseable: default
    }
  }

  test("a non-fatal error declines the route; an interrupt propagates") {
    assert(Route.attempt[Int](throw new IllegalStateException("boom")).isEmpty)
    assert(Route.attempt[Int](throw new ClassCastException("boom")).isEmpty)
    // a failing Spark job inside the driver body declines too
    val bad = spark.range(0, 3).toDF("x")
      .selectExpr("assert_true(x < 0) AS y")
    assert(Route.attempt(Route.collect(bad, 10L)).isEmpty)
    assert(Route.attempt(Some(1)).contains(1))
    assert(Route.attempt(Option.empty[Int]).isEmpty)
    intercept[InterruptedException] {
      Route.attempt[Int](throw new InterruptedException("stop"))
    }
  }
}
