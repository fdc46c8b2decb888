package graft

import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.bitemp.{Bitemp, TxDriver, TxLog}
import graft.sources.SessionConf
import graft.streaming.IngestStream

/** [[Bitemp.asOf]]/[[Bitemp.asOfTime]]'s driver route: over filters on a
  * resident tx state with literal valid time and basis, the winners
  * resolve in memory by entity lookup and return as a LocalRelation.
  * The property pins the route to the same call at
  * `spark.graft.route.tx.maxRows=0` (the distributed aggregate over the
  * same leaf); the pins say which calls run no job and which keep the
  * distributed plan. */
class AsOfRouteSpec extends AnyFunSuite {
  import scala.jdk.CollectionConverters._
  private lazy val spark = SparkTestSession.spark

  private def distributed[A](body: => A): A =
    SessionConf.withConf(spark, "spark.graft.route.tx.maxRows" -> "0")(body)
  private def check(prop: Prop, runs: Int, seed: Long): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(runs).withInitialSeed(seed), prop)
    assert(res.passed, res.status.toString)
  }
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }
  private def routed(df: DataFrame): Boolean = df.queryExecution.analyzed.isInstanceOf[LocalRelation]
  private def aggregates(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case a: Aggregate => a }.isDefined

  private val t0 = LocalDateTime.parse("2021-01-01T00:00:00")
  private def txTimeOf(txId: Long) = t0.plusDays(10).plusHours(txId)

  private val pool = (0 until 14).map(i => s"e$i")
  private val absent = Seq("zz", "e99")

  // versions of 14 entities: vt days 0-4 and tx ids 1-5, so several
  // versions of an entity share a vt; tombstones and live rows with a
  // null content_hash; some rows repeated exactly, as a range restore
  // leaves them in a delta stack
  private val versionsG: Gen[Vector[Bitemp.Version]] = for {
    n <- Gen.choose(0, 60)
    vs <- Gen.listOfN(n, for {
      eid <- Gen.oneOf(pool)
      day <- Gen.choose(0, 4)
      txId <- Gen.choose(1L, 5L)
      kind <- Gen.frequency(3 -> 0, 1 -> 1, 1 -> 2)
      hash <- Gen.oneOf("h1", "h2", "h3")
    } yield Bitemp.Version(eid, t0.plusDays(day.toLong), txTimeOf(txId), txId,
      if (kind == 0) hash else null, tombstone = kind == 1))
    distinct = vs.distinctBy(v => (v.eid, v.vt, v.txId)).toVector
    repeats <- Gen.someOf(distinct)
  } yield distinct ++ repeats

  private val eidsG: Gen[Seq[String]] = Gen.someOf(pool ++ absent).map(_.toSeq)

  private val filterG: Gen[(String, DataFrame => DataFrame)] = Gen.oneOf(
    Gen.const(("none", (d: DataFrame) => d)),
    Gen.oneOf(pool ++ absent).map(e => (s"eid = $e", (d: DataFrame) => d.filter(col("eid") === e))),
    Gen.choose(1, 9).flatMap(k => Gen.pick(k, pool ++ absent)).map(es =>
      (s"eid in ${es.size}", (d: DataFrame) => d.filter(col("eid").isin(es.toSeq: _*)))),
    Gen.choose(11, 16).flatMap(k => Gen.pick(k, pool ++ absent)).map(es =>
      (s"eid in ${es.size}", (d: DataFrame) => d.filter(col("eid").isin(es.toSeq: _*)))),
    for (es <- eidsG; n <- Gen.choose(0L, 5L)) yield (s"eid in ${es.size}, tx_id <= $n",
      (d: DataFrame) => d.filter(col("eid").isin(es: _*)).filter(col("tx_id") <= n)),
    for (a <- Gen.choose(0, 4); b <- Gen.choose(0, 5)) yield (s"vt in [$a, $b)",
      (d: DataFrame) => d.filter(col("vt") >= lit(t0.plusDays(a.toLong)) &&
        col("vt") < lit(t0.plusDays(b.toLong)))),
    for (e <- Gen.oneOf(pool); n <- Gen.choose(1L, 5L)) yield (s"eid = $e or tx_id = $n",
      (d: DataFrame) => d.filter(col("eid") === e || col("tx_id") === n)),
    Gen.oneOf(absent).map(e => (s"absent $e", (d: DataFrame) => d.filter(col("eid") === e))))

  // a vt on a version's vt or between two; a basis by tx id (long or int
  // literal) or by tx time
  private val callG: Gen[(String, DataFrame => DataFrame)] = for {
    day <- Gen.choose(-1, 5)
    hours <- Gen.oneOf(0, 12)
    txId <- Gen.choose(0L, 6L)
    kind <- Gen.choose(0, 2)
  } yield {
    val vt = lit(t0.plusDays(day.toLong).plusHours(hours.toLong))
    kind match {
      case 0 => (s"asOf vt+$day/$hours tx $txId", (d: DataFrame) => Bitemp.asOf(d, vt, lit(txId)))
      case 1 => (s"asOf vt+$day/$hours int tx $txId",
        (d: DataFrame) => Bitemp.asOf(d, vt, lit(txId.toInt)))
      case _ => (s"asOfTime vt+$day/$hours tt $txId",
        (d: DataFrame) => Bitemp.asOfTime(d, vt, lit(txTimeOf(txId))))
    }
  }

  test("as-of over a filtered resident state ≡ the same call at maxRows=0 (property)") {
    check(Prop.forAllNoShrink(versionsG, filterG, callG) {
      case (vs, (fName, f), (cName, call)) =>
        val frame = TxDriver.State.of(vs.iterator).frame(spark)
        val viaRoute = call(f(frame))
        val viaDist = distributed(call(f(frame)))
        val ok = routed(viaRoute) && !routed(viaDist) &&
          viaRoute.schema == viaDist.schema && bag(viaRoute) == bag(viaDist)
        if (!ok) info(s"$fName / $cName over ${vs.size} rows: " +
          s"route ${bag(viaRoute)} vs distributed ${bag(viaDist)}")
        ok
    }, runs = 120, seed = 41L)
  }

  test("perfbench's as-of read over a resident ingest store runs no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_route").toString
    val ops = (0 until 30).map(i =>
      Row("put", s"e${i % 12}", s"h${i % 3}", t0.plusDays((i % 4).toLong), null, null, null, i.toLong))
    (0 until 3).foreach { b =>
      IngestStream.applyToStore(spark, spark.createDataFrame(ops.asJava, TxLog.opSchema), b.toLong,
        s"$dir/state", t0.plusMonths(1).plusHours(b.toLong))
    }
    val eids = (0 until 20).map(i => s"e$i")
    def read(): Map[String, String] =
      Bitemp.asOf(IngestStream.loadState(spark, s"$dir/state").filter(col("eid").isin(eids: _*)),
          lit(t0.plusDays(2)), lit(Long.MaxValue))
        .select("eid", "content_hash").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (got, jobs) = SparkJobs.count(spark)(read())
    assert(jobs == 0, s"$jobs jobs")
    assert(got.nonEmpty && got == distributed(read()))
  }

  test("a rand() filter, a column-valued vt and maxRows=0 keep the distributed plan") {
    val vs = (0 until 20).map(i => Bitemp.Version(s"e${i % 5}", t0.plusDays((i % 3).toLong),
      txTimeOf(i.toLong), i.toLong, s"h$i", tombstone = false))
    val frame = TxDriver.State.of(vs.iterator).frame(spark)
    val vt = lit(t0.plusDays(1))
    val kept: Seq[(String, () => DataFrame)] = Seq(
      "rand() filter" -> (() => Bitemp.asOf(frame.filter(rand() < 2.0), vt, lit(30L))),
      "column vt" -> (() => Bitemp.asOf(frame, col("tt"), lit(30L))),
      "column tx time" -> (() => Bitemp.asOfTime(frame, vt, col("tt"))),
      "maxRows=0" -> (() => distributed(Bitemp.asOf(frame.filter(col("eid") === "e1"), vt,
        lit(30L)))))
    kept.foreach { case (name, df) =>
      val (_, jobs) = SparkJobs.count(spark)(df().collect())
      assert(aggregates(df()) && jobs > 0, s"$name: $jobs jobs")
    }
    val (_, routedJobs) = SparkJobs.count(spark)(
      Bitemp.asOf(frame.filter(col("eid") === "e1"), vt, lit(30L)).collect())
    assert(routedJobs == 0)
  }
}
