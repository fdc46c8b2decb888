package graft

import java.time.LocalDateTime
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.lit
import org.json4s._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.bitemp.{Bitemp, TxLog}
import graft.datalog.QuadSource
import graft.http.GraftNode
import graft.sources.SessionConf

/** [[GraftNode.db]] has two forms: the driver form while the node's state
  * is driver-resident (under the `tx` route's bound) and the distributed
  * form above it. These specs pin the forms equal on random node
  * programs, pin the driver form's in-memory as-of pick to
  * [[Bitemp.asOf]]/[[Bitemp.asOfTime]], and pin which form runs Spark
  * jobs. `spark.graft.route.tx.maxRows=0` forces the distributed form. */
class NodeSnapshotSpec extends AnyFunSuite {
  import NodeSnapshotSpec.Basis
  private lazy val spark = SparkTestSession.spark

  // db()/queryAt read the node's own docs; its external source stays unused
  private def newNode() = new GraftNode(spark, new QuadSource(spark.emptyDataFrame, Map.empty))
  private def distributed[A](body: => A): A =
    SessionConf.withConf(spark, "spark.graft.route.tx.maxRows" -> "0")(body)
  private def check(prop: Prop, runs: Int, seed: Long): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(runs).withInitialSeed(seed), prop)
    assert(res.passed, res.status.toString)
  }

  // ------------------------------------------------------------ as-of pick

  private val t0 = LocalDateTime.parse("2021-01-01T00:00:00")
  private def txTimeOf(txId: Long) = t0.plusDays(10).plusHours(txId)

  // a version state: (eid, vt, tx_id) unique, as every fold leaves it
  private val versionsGen: Gen[List[Bitemp.Version]] = Gen.listOf(for {
    eid <- Gen.oneOf("a", "b", "c")
    day <- Gen.choose(0, 4)
    txId <- Gen.choose(1L, 5L)
    tomb <- Gen.frequency(1 -> true, 3 -> false)
    hash <- Gen.oneOf("h1", "h2", "h3")
  } yield Bitemp.Version(eid, t0.plusDays(day), txTimeOf(txId), txId,
    if (tomb) null else hash, tomb)).map(_.distinctBy(v => (v.eid, v.vt, v.txId)))

  test("asOfLocal ≡ Bitemp.asOf and Bitemp.asOfTime on random version states (property)") {
    import scala.jdk.CollectionConverters._
    val basisGen = for {
      day <- Gen.choose(-1, 5)
      hours <- Gen.oneOf(0, 12) // on a version's vt, and between two
      txId <- Gen.choose(0L, 6L)
    } yield (t0.plusDays(day).plusHours(hours), txId)
    check(Prop.forAllNoShrink(versionsGen, basisGen) { case (vs, (vt, txId)) =>
      val df = spark.createDataFrame(vs.map(v =>
        Row(v.eid, v.vt, v.tt, v.txId, v.contentHash, v.tombstone)).asJava, TxLog.versionSchema)
      def viaSpark(resolved: org.apache.spark.sql.DataFrame) =
        Bitemp.versionsOf(resolved.select(TxLog.versionSchema.fieldNames.map(
          org.apache.spark.sql.functions.col).toSeq: _*).collect()).get.toSet
      viaSpark(Bitemp.asOf(df, lit(vt), lit(txId))) ==
        Bitemp.asOfLocal(vs, vt, Left(txId)).toSet &&
        viaSpark(Bitemp.asOfTime(df, lit(vt), lit(txTimeOf(txId)))) ==
        Bitemp.asOfLocal(vs, vt, Right(txTimeOf(txId))).toSet
    }, runs = 40, seed = 31L)
  }

  // ------------------------------------------------------- node programs

  private val eids = Seq(":a", ":b", "c", "d")
  private val pastVts = (1 to 4).map(d => s"2020-01-0${d}T00:00:00")
  private val futureVt = "2100-01-01T00:00:00"

  private val value: Gen[JValue] = Gen.oneOf(
    Gen.oneOf("x", "y", ":a", ":b").map(JString(_)),
    Gen.choose(-3L, 3L).map(JLong(_)),
    Gen.const(JDouble(2.5)), Gen.oneOf(true, false).map(JBool(_)), Gen.const(JNull))
  private val doc: Gen[JObject] = for {
    eid <- Gen.oneOf(eids)
    name <- Gen.option(Gen.oneOf("x", "y", "z").map(JString(_)))
    mixed <- Gen.option(value)                     // several families per attribute
    ref <- Gen.option(Gen.oneOf(eids).map(JString(_))) // keyword-valued refs
    tags <- Gen.option(Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, value)).map(JArray(_)))
    nested <- Gen.option(Gen.choose(0L, 2L).map(n => JObject("k" -> JLong(n))))
    nil <- Gen.option(Gen.const(JNull))
  } yield JObject(("crux.db/id" -> JString(eid)) :: List(
    name.map("name" -> _), mixed.map("mixed" -> _), ref.map("ref" -> _),
    tags.map("tags" -> _), nested.map("nested" -> _), nil.map("nil" -> _)).flatten)

  private val vtArgs: Gen[List[JValue]] = Gen.frequency(
    3 -> Gen.const(Nil),
    2 -> Gen.oneOf(pastVts).map(vt => List(JString(vt))),
    1 -> Gen.const(List(JString(futureVt))),
    1 -> Gen.oneOf(pastVts.init).map(vt => List(JString(vt), JString(pastVts.last))))
  private val expected: Gen[JValue] = Gen.frequency(1 -> Gen.const(JNull), 2 -> doc)
  private val op: Gen[JValue] = Gen.frequency(
    6 -> (for { d <- doc; vts <- vtArgs } yield JArray(JString("put") :: d :: vts)),
    2 -> (for { e <- Gen.oneOf(eids); vts <- vtArgs.map(_.take(1)) } yield
      JArray(JString("delete") :: JString(e) :: vts)),
    1 -> Gen.oneOf(eids).map(e => JArray(List(JString("evict"), JString(e)))),
    1 -> (for { e <- Gen.oneOf(eids); x <- expected } yield
      JArray(List(JString("match"), JString(e), x))),
    1 -> (for { e <- Gen.oneOf(eids); x <- expected; d <- doc } yield
      JArray(List(JString("cas"), JString(e), x, d))))
  private val tx: Gen[List[JValue]] = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, op))

  private val queries = Seq(
    "{:find [?e ?n] :where [[?e :name ?n]]}",
    "{:find [?e ?t] :where [[?e :tags ?t]]}",
    "{:find [?e ?n] :where [[?e :ref ?r] [?r :name ?n]]}",
    "{:find [?e ?m ?k] :where [[?e :mixed ?m] [?e :nested ?k]]}")

  private def quadBag(src: QuadSource): Map[Seq[Any], Int] =
    src.df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  /** What one snapshot form serves: its quads, its attribute summary and
    * one query's answer. */
  private def served(node: GraftNode, b: Basis, query: String) = {
    val src = node.db(b.validTime, b.txTime, b.txId).asInstanceOf[QuadSource]
    val answer = node.queryAt(query, validTime = b.validTime, txTime = b.txTime,
      txId = b.txId).collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    (quadBag(src), src.attrTypes, src.refAttrs, src.multiAttrs, answer)
  }

  test("driver snapshots ≡ distributed snapshots on random node programs (property)") {
    val program = for {
      n <- Gen.choose(2, 5)
      txs <- Gen.listOfN(n, tx)
      fork <- tx
      pastTx <- Gen.choose(1, n)
      q <- Gen.listOfN(4, Gen.oneOf(queries))
    } yield (txs, fork, pastTx, q)
    check(Prop.forAllNoShrink(program) { case (txs, forkOps, pastTx, qs) =>
      val viaDriver = newNode()
      val viaDist = newNode()
      val driverInfos = txs.map(viaDriver.submitTx)
      val distInfos = distributed(txs.map(viaDist.submitTx))
      assert(driverInfos.map(_.committed) == distInfos.map(_.committed))
      // each node's own tx time for the past tx-time basis; the rest of a
      // basis is the same value on both nodes
      val bases = Seq[(GraftNode => Basis, String)](
        (_ => Basis(), qs(0)),
        (_ => Basis(txId = Some(pastTx.toLong)), qs(1)),
        (node => Basis(txTime = Some((if (node eq viaDriver) driverInfos else distInfos)(pastTx - 1).txTime)), qs(2)),
        (_ => Basis(validTime = Some(LocalDateTime.parse(pastVts(2)))), qs(3)))
      bases.foreach { case (basis, query) =>
        val d = served(viaDriver, basis(viaDriver), query)
        val x = distributed(served(viaDist, basis(viaDist), query))
        assert(d == x, s"basis ${basis(viaDriver)}")
      }
      val forkD = viaDriver.withTx(forkOps)
      val forkX = distributed(viaDist.withTx(forkOps))
      assert(forkD.isDefined == forkX.isDefined)
      forkD.zip(forkX).foreach { case (fd, fx) =>
        assert(served(fd, Basis(), qs(0)) == distributed(served(fx, Basis(), qs(0))), "fork")
      }
      true
    }, runs = 6, seed = 57L)
  }

  test("driver entityHistory and entityTx ≡ the same calls at maxRows=0 on random node programs (property)") {
    // one call: entity, sort order, corrections, docs, vt bounds, a tx
    // basis (none, a tx id or a tx time of the n-th tx) and a valid time
    val call = for {
      eid <- Gen.oneOf(eids)
      asc <- Gen.oneOf(true, false)
      corrections <- Gen.oneOf(true, false)
      withDocs <- Gen.oneOf(true, false)
      start <- Gen.option(Gen.oneOf(pastVts))
      end <- Gen.option(Gen.oneOf(pastVts :+ futureVt))
      basis <- Gen.oneOf("none", "tx-id", "tx-time")
      nth <- Gen.choose(1, 5)
      vt <- Gen.option(Gen.oneOf(pastVts :+ futureVt))
    } yield (eid, asc, corrections, withDocs, start.map(LocalDateTime.parse),
      end.map(LocalDateTime.parse), basis, nth, vt.map(LocalDateTime.parse))
    // the same put twice at one past valid time: two corrections of one
    // (eid, vt), so a history with corrections holds a (vt, tx_id) tie
    val correction = for { d <- doc; vt <- Gen.oneOf(pastVts) } yield
      List[JValue](JArray(List(JString("put"), d, JString(vt))))
    val program = for {
      n <- Gen.choose(2, 5)
      txs <- Gen.listOfN(n, tx)
      fix <- correction
      calls <- Gen.listOfN(6, call)
    } yield (txs :+ fix :+ fix, calls)
    check(Prop.forAllNoShrink(program) { case (txs, calls) =>
      val node = newNode()
      val infos = txs.map(node.submitTx)
      // every entity's whole history, newest first with corrections: the
      // call whose order rests on the (vt, tx_id) tie-break
      val sweep = eids.map(e => (e, false, true, false, None, None, "none", 1, None))
      (sweep ++ calls).foreach { case (eid, asc, corrections, withDocs, start, end, basis, nth, vt) =>
        val info = infos(math.min(nth, infos.size) - 1)
        val txId = if (basis == "tx-id") Some(info.txId) else None
        val txTime = if (basis == "tx-time") Some(info.txTime) else None
        def history() = node.entityHistory(eid, asc, corrections, withDocs, start, end,
          txTime, txId).collect().toSeq.map(_.toSeq)
        def entity() = node.entityTx(eid, vt, txTime, txId).map(_.toSeq)
        val what = s"$eid asc=$asc corrections=$corrections docs=$withDocs vt=[$start, $end) " +
          s"$basis of tx $nth at $vt"
        assert(history() == distributed(history()), s"history $what")
        assert(entity() == distributed(entity()), s"entityTx $what")
      }
      true
    }, runs = 10, seed = 61L)
  }

  test("per-attribute snapshot leaves ≡ the distributed snapshot on random node programs (property)") {
    // every put also gives its entity a long :score, so one attribute is
    // surely long-valued; :nil holds nil facts only
    val scored = tx.flatMap(ops => Gen.listOfN(ops.size, Gen.choose(-3L, 3L)).map(_.zip(ops).map {
      case (n, JArray(JString("put") :: (d: JObject) :: vts)) =>
        JArray(JString("put") :: JObject(d.obj :+ ("score" -> JLong(n))) :: vts)
      case (_, other) => other
    }))
    val shapes = Seq[(String, Seq[Any])](
      "{:find [?e ?x] :where [[?e :nil ?x]]}" -> Nil,
      "{:find [?e] :in [?n] :where [[?e :name ?n]]}" -> Seq("x"),
      "{:find [?e ?r] :in [[?r ...]] :where [[?e :ref ?r]]}" -> Seq(Seq(":a", "c")),
      "{:find [?e ?n] :where [[?e :name ?n] (not [?e :score 0])]}" -> Nil,
      "{:find [?e] :where [[?e :score ?s] (not-join [?e] [?e :ref ?r] [?r :name \"x\"])]}" -> Nil,
      "{:find [?e ?s] :where [[?e :score ?s] (or [?e :name \"x\"] [?e :ref \"c\"])]}" -> Nil,
      "{:find [?e ?s] :where [[?e :score ?s] [(> ?s 0)] [(<= ?s 2)]]}" -> Nil,
      "{:find [?e ?a ?b] :where [[?e :tags ?a] [?e :tags ?b]]}" -> Nil,
      "{:find [?e ?s ?n] :where [[?e :score ?s] [?e :name ?n]]}" -> Nil,
      "{:find [(pull ?e [*])] :where [[?e :score _]]}" -> Nil)
    val program = for {
      n <- Gen.choose(2, 5)
      txs <- Gen.listOfN(n, scored)
      pastTx <- Gen.choose(1, n)
    } yield (txs, pastTx)
    check(Prop.forAllNoShrink(program) { case (txs, pastTx) =>
      val node = newNode()
      val infos = txs.map(node.submitTx)
      Seq(Basis(), Basis(txId = Some(infos(pastTx - 1).txId)),
          Basis(validTime = Some(LocalDateTime.parse(pastVts(2))))).foreach { b =>
        shapes.foreach { case (query, args) =>
          def answer() = scala.util.Try(node.queryAt(query, args, b.validTime, b.txTime, b.txId)
            .collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap)
            .toEither.left.map(_.getMessage)
          assert(answer() == distributed(answer()), s"$query at $b")
        }
      }
      true
    }, runs = 6, seed = 67L)
  }

  test("a pull bound by an attribute the snapshot does not hold is empty in both forms") {
    val node = newNode()
    node.submitTx(List(JArray(List(JString("put"),
      JObject("crux.db/id" -> JString(":a"), "name" -> JString("x"))))))
    val queries = Seq(
      "{:find [(pull ?e [*])] :where [[?e :score _]]}",
      "{:find [?n (pull ?e [:name])] :where [[?e :name ?n] [?e :score _]]}",
      "{:find [(pull ?r [*])] :where [[?e :ref ?r]]}",
      "{:find [(count ?e) (pull ?e [*])] :where [[?e :score _]]}")
    // latest: no doc has :score or :ref; a valid time before the put: the
    // snapshot holds no attribute at all
    Seq(None, Some(LocalDateTime.parse("2000-01-01T00:00:00"))).foreach { vt =>
      queries.foreach { query =>
        def answer() = node.queryAt(query, Nil, vt, None, None).collect().toSeq
        assert(answer().isEmpty, s"$query at $vt")
        assert(distributed(answer()).isEmpty, s"$query at $vt, distributed")
      }
    }
    // the pull still reads a held attribute
    assert(node.queryAt("{:find [(pull ?e [:name])] :where [[?e :name _]]}", Nil, None, None, None)
      .collect().map(_.getStruct(0).getString(0)).toSeq == Seq("x"))
  }

  // ------------------------------------------------------------- job counts

  private def put(id: String, n: Long): JValue =
    JArray(List(JString("put"), JObject("crux.db/id" -> JString(id), "n" -> JLong(n),
      "tier" -> JString(if (n % 2 == 0) "even" else "odd"))))

  test("under the tx bound db() and a put-only submitTx run no Spark job; at maxRows=0 both stay distributed") {
    val node = newNode()
    node.submitTx((1 to 50).map(i => put(s"e$i", i.toLong)).toList)
    val (info, txJobs) = SparkJobs.count(spark)(node.submitTx(List(put("e1", 100L), put("e51", 51L))))
    assert(txJobs == 0, "a put-only tx under the bound")
    val (_, dbJobs) = SparkJobs.count(spark)(node.db())
    assert(dbJobs == 0, "db() over resident state")
    val (_, pastJobs) = SparkJobs.count(spark)(node.db(txTime = Some(info.txTime)))
    assert(pastJobs == 0, "db() at a past tx-time over resident state")

    val over = newNode()
    distributed {
      over.submitTx((1 to 50).map(i => put(s"e$i", i.toLong)).toList)
      val (_, overTxJobs) = SparkJobs.count(spark)(over.submitTx(List(put("e1", 100L))))
      assert(overTxJobs > 0, "maxRows=0 keeps the distributed tx path")
      val (_, overDbJobs) = SparkJobs.count(spark)(over.db())
      assert(overDbJobs > 0, "maxRows=0 keeps the distributed snapshot")
    }
  }

  test("under the tx bound entityHistory and entityTx run no Spark job; at maxRows=0 history stays distributed") {
    val node = newNode()
    node.submitTx((1 to 20).map(i => put(s"e$i", i.toLong)).toList)
    node.submitTx(List(put("e1", 100L)))
    Seq(false, true).foreach { withDocs =>
      val (rows, jobs) = SparkJobs.count(spark)(node.entityHistory("e1", sortAsc = true,
        withCorrections = false, withDocs = withDocs, startVt = None, endVt = None).collect())
      assert(jobs == 0 && rows.length == 2, s"history with docs=$withDocs: $jobs jobs")
    }
    val (doc, txJobs) = SparkJobs.count(spark)(node.entityDoc("e1", None, None, None))
    assert(txJobs == 0 && doc.isDefined, "entityTx + doc over resident state")
    val (_, distJobs) = SparkJobs.count(spark)(distributed(node.entityHistory("e1",
      sortAsc = true, withCorrections = false, withDocs = false, startVt = None,
      endVt = None).collect()))
    assert(distJobs > 0, "maxRows=0 keeps the distributed history")
  }

  test("a two-attribute :in query over a resident db() plans without a shuffle") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val node = newNode()
    node.submitTx((1 to 200).map(i => put(s"e$i", i.toLong)).toList)
    val df = node.queryAt("{:find [?e ?n] :in [?t] :where [[?e :tier ?t] [?e :n ?n]]}", Seq("even"))
    assert(df.collect().length == 100)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect { case s: ShuffleExchangeLike => s } ++ p.collect {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => shuffles(q.plan)
      }.flatten
    assert(shuffles(plan).isEmpty, s"shuffle exchange in\n$plan")
  }

  test("a scalar :in over a resident db() is a filter: no broadcast of a literal relation") {
    import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val node = newNode()
    node.submitTx((1 to 200).map(i => put(s"e$i", i.toLong)).toList)
    val df = node.queryAt("{:find [?e ?n] :in [?t] :where [[?e :tier ?t] [?e :n ?n]]}", Seq("even"))
    assert(df.collect().length == 100)
    def literalBroadcasts(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case b: BroadcastExchangeExec if b.child.collectFirst { case l: LocalTableScanExec => l }.isDefined => b
    } ++ p.collect {
      case a: AdaptiveSparkPlanExec => literalBroadcasts(a.finalPhysicalPlan)
      case q: QueryStageExec => literalBroadcasts(q.plan)
    }.flatten
    assert(literalBroadcasts(df.queryExecution.executedPlan).isEmpty,
      s"literal relation broadcast in\n${df.queryExecution.executedPlan}")
  }

  test("node_mixed's query and a three-attribute join over a resident db() run one job, with no broadcast and no exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeLike}
    val node = newNode()
    node.submitTx((1 to 200).map(i => JArray(List(JString("put"), JObject("crux.db/id" -> JString(s"e$i"),
      "n" -> JLong(i), "m" -> JLong(-i), "tier" -> JString(if (i % 2 == 0) "even" else "odd"))))).toList)
    def exchanges(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case e: BroadcastExchangeExec => e
      case e: ShuffleExchangeLike => e
    } ++ p.collect {
      case a: AdaptiveSparkPlanExec => exchanges(a.finalPhysicalPlan)
      case q: QueryStageExec => exchanges(q.plan)
    }.flatten
    Seq("{:find [?e ?s] :in [?t] :where [[?e :tier ?t] [?e :n ?s]]}",
      "{:find [?e ?s ?m] :in [?t] :where [[?e :tier ?t] [?e :n ?s] [?e :m ?m]]}").foreach { query =>
      val (rows, jobs) = SparkJobs.count(spark)(node.queryAt(query, Seq("even")).collect())
      assert(rows.length == 100 && jobs == 1, s"$jobs jobs for $query")
      val df = node.queryAt(query, Seq("odd"))
      assert(df.collect().length == 100)
      assert(exchanges(df.queryExecution.executedPlan).isEmpty,
        s"exchange in\n${df.queryExecution.executedPlan}")
    }
  }

  test("oneStageJoins hints only equi-joins between one-slice resident leaves") {
    import org.apache.spark.sql.{DataFrame, ResidentRelation}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("eid", StringType), StructField("value", LongType)))
    val rows = (1 to 3).map(i => Row(s"e$i", i.toLong))
    def leaf(rowCount: Long) = ResidentRelation(spark, rows, schema, rowCount)(rows.iterator)
    def hints(df: DataFrame) = ResidentRelation.oneStageJoins(df).queryExecution.analyzed
      .collect { case j: Join => j.hint }
    val right = leaf(3).withColumnRenamed("value", "other")
    assert(hints(leaf(3).join(right, "eid")).forall(_ != JoinHint.NONE), "two one-slice leaves")
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .withColumnRenamed("value", "other")
    assert(hints(leaf(3).join(local, "eid")) == Seq(JoinHint.NONE), "a LocalRelation side")
    val sliced = leaf(ResidentRelation.RowsPerSlice.toLong * 4).withColumnRenamed("value", "other")
    assert(hints(leaf(3).join(sliced, "eid")) == Seq(JoinHint.NONE), "a multi-slice leaf")
    assert(hints(leaf(3).crossJoin(right.withColumnRenamed("eid", "e2"))) == Seq(JoinHint.NONE),
      "a cross join")
  }

  test("a state that is not driver-resident takes the distributed snapshot with no extra pull") {
    val node = newNode()
    node.submitTx((1 to 20).map(i => put(s"e$i", i.toLong)).toList)
    val dir = java.nio.file.Files.createTempDirectory("graft-snapshot").toString
    node.currentVersions.write.parquet(s"$dir/versions")
    // parquet versions beside a resident doc store: the route is declined
    // on the state's plan alone, so the default conf runs exactly the
    // jobs of the forced distributed form
    val loaded = newNode()
    loaded.loadState(spark.read.parquet(s"$dir/versions"), node.currentDocs)
    val (viaDefault, defaultJobs) = SparkJobs.count(spark)(loaded.db())
    val (viaDist, distJobs) = SparkJobs.count(spark)(distributed(loaded.db()))
    assert(defaultJobs == distJobs)
    assert(quadBag(viaDefault.asInstanceOf[QuadSource]) == quadBag(viaDist.asInstanceOf[QuadSource]))
    assert(quadBag(viaDefault.asInstanceOf[QuadSource]) == quadBag(node.db().asInstanceOf[QuadSource]))
  }
}

object NodeSnapshotSpec {
  private final case class Basis(validTime: Option[LocalDateTime] = None,
      txTime: Option[LocalDateTime] = None, txId: Option[Long] = None)
}
