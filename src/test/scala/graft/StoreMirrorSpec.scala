package graft

import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.bitemp.{Bitemp, TxLog}
import graft.sources.SessionConf
import graft.streaming.IngestStream

/** The ingest store's resident mirror against its distributed form:
  * `IngestStream.applyToStore`, `loadState` and `loadView` under the
  * default `tx` route bound (driver fold, frames from the mirror) and
  * under `spark.graft.route.tx.maxRows=0` (the parquet plans) must give
  * the same rows, write the same durable store, and keep the rules the
  * mirror adds: frames never change after a commit, a failed batch leaves
  * the committed state, a recreated store is read fresh. The job-count
  * specs pin what the mirror saves. */
class StoreMirrorSpec extends AnyFunSuite {
  import scala.jdk.CollectionConverters._
  private lazy val spark = SparkTestSession.spark

  private def distributed[A](body: => A): A =
    SessionConf.withConf(spark, "spark.graft.route.tx.maxRows" -> "0")(body)
  private def check(prop: Prop, runs: Int, seed: Long): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(runs).withInitialSeed(seed), prop)
    assert(res.passed, res.status.toString)
  }
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def opsDf(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, TxLog.opSchema)
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }
  private def quietly[A](body: => A): A =
    Console.withErr(new java.io.PrintStream(new java.io.ByteArrayOutputStream()))(body)

  private val t0 = LocalDateTime.parse("2025-01-01T00:00")
  private val past = LocalDateTime.parse("2020-01-01T00:00")
  private val future = LocalDateTime.parse("2030-01-01T00:00")
  private val latest = LocalDateTime.parse("2099-01-01T00:00")
  private def txTime(b: Long) = t0.plusHours(b)
  private def put(eid: String, h: String, vt: LocalDateTime, seq: Long) =
    Row("put", eid, h, vt, null, null, null, seq)
  private val checkFree = Some(TxLog.TxShape(hasChecks = false, hasEvict = false, hasRanged = true))

  private val sumView = IngestStream.ViewDef("type_sums", keys = Seq("content_hash"),
    measures = Seq("n" -> lit(1L), "total" -> col("eid").cast("long")))
  private lazy val dim = spark.createDataFrame(
    Seq(Row("1", "x"), Row("2", "y"), Row("3", "x"), Row("5", "z")).asJava,
    StructType(Seq(StructField("eid", StringType), StructField("seg", StringType))))
  private lazy val joinView = IngestStream.ViewDef("seg_counts",
    keys = Seq("content_hash", "seg"), rows = s => s.join(broadcast(dim), Seq("eid")))
  private def allViews = Seq(IngestStream.typeCountsView, sumView, joinView)

  /** One store: its state and view dirs. */
  private final case class Store(base: String) {
    val state = s"$base/state"; val view = s"$base/view"
    def apply(batch: Long, ops: Seq[Row], txShape: Option[TxLog.TxShape],
        views: Seq[IngestStream.ViewDef], compactEvery: Int = 16, flushEvery: Int = 1,
        sinks: Seq[(DataFrame, Long) => Unit] = Nil): Unit =
      IngestStream.applyToStore(spark, opsDf(ops), batch, state, txTime(batch),
        secondarySinks = sinks, compactEvery = compactEvery, matViewDir = Some(view),
        txShape = txShape, views = views, viewFlushEvery = flushEvery)
    def stateRows: Map[Seq[Any], Int] = bag(IngestStream.loadState(spark, state))
    /** The current manifest's dirs read straight from parquet. */
    def diskRows: Map[Seq[Any], Int] = IngestStream.currentManifest(state)
      .map(m => (m.base.toSeq ++ m.deltas).map(d => s"$state/$d")).filter(_.nonEmpty)
      .fold(Map.empty[Seq[Any], Int])(dirs =>
        bag(spark.read.schema(TxLog.versionSchema).parquet(dirs: _*)))
    def viewRows(v: IngestStream.ViewDef, catchUp: Boolean): Option[Map[Seq[Any], Int]] =
      quietly(IngestStream.loadView(spark, view, v.name,
        catchUp = if (catchUp) Some((state, v)) else None)).map(bag)
  }

  /** A view recomputed from the store's latest state. */
  private def recomputed(v: IngestStream.ViewDef, state: DataFrame): Map[Seq[Any], Int] =
    bag(IngestStream.computeView(v, Bitemp.asOfTime(state, lit(latest), lit(latest))))

  // ------------------------------------------------------------ programs

  private val eidG = Gen.oneOf("1", "2", "3", "4", "5", "6")
  private val hashG = Gen.oneOf("A", "B", "C")
  // past, now (null: the tx time) and future valid times
  private val vtG: Gen[LocalDateTime] = Gen.oneOf(
    Gen.choose(0, 3).map(d => past.plusDays(d.toLong)), Gen.const(null: LocalDateTime),
    Gen.choose(0, 3).map(d => future.plusDays(d.toLong)))

  private def opG(checks: Boolean): Gen[Long => Row] = {
    val writes = Seq(
      5 -> (for (e <- eidG; h <- hashG; vt <- vtG) yield (s: Long) => put(e, h, vt, s)),
      2 -> (for (e <- eidG; h <- hashG; d <- Gen.choose(0, 3); len <- Gen.choose(1, 2))
        yield (s: Long) => Row("put", e, h, past.plusDays(d.toLong),
          past.plusDays((d + len).toLong), null, null, s)),
      2 -> (for (e <- eidG; vt <- vtG) yield (s: Long) =>
        Row("delete", e, null, vt, null, null, null, s)))
    val withChecks = Seq(
      1 -> eidG.map(e => (s: Long) => Row("evict", e, null, null, null, null, null, s)),
      1 -> (for (e <- eidG; x <- Gen.option(hashG)) yield (s: Long) =>
        Row("match", e, null, null, null, null, x.orNull, s)),
      1 -> (for (e <- eidG; h <- hashG; x <- Gen.option(hashG)) yield (s: Long) =>
        Row("cas", e, h, null, null, null, x.orNull, s)))
    Gen.frequency((if (checks) writes ++ withChecks else writes): _*)
  }

  private final case class Program(batches: List[List[Row]], checks: Boolean,
      compactEvery: Int, flushEvery: Int, bases: List[(LocalDateTime, Long)])

  private val programG: Gen[Program] = for {
    checks <- Gen.oneOf(true, false)
    n <- Gen.choose(3, 5)
    batches <- Gen.listOfN(n, Gen.choose(1, 5).flatMap(k => Gen.listOfN(k, opG(checks))))
    compactEvery <- Gen.oneOf(2, 3)
    flushEvery <- Gen.oneOf(1, 3)
    bases <- Gen.listOfN(2, for (vt <- vtG; tx <- Gen.choose(0L, n.toLong))
      yield (Option(vt).getOrElse(latest), tx))
  } yield Program(batches.map(_.zipWithIndex.map { case (f, i) => f(i.toLong) }),
    checks, compactEvery, flushEvery, bases)

  test("resident mirror ≡ distributed form on random multi-batch programs (property)") {
    check(Prop.forAllNoShrink(programG) { p =>
      val a = Store(tmp("graft_mirror_a")); val b = Store(tmp("graft_mirror_b"))
      val shape = if (p.checks) None else checkFree
      p.batches.zipWithIndex.foreach { case (ops, i) =>
        a.apply(i.toLong, ops, shape, allViews, p.compactEvery, p.flushEvery)
        distributed(b.apply(i.toLong, ops, shape, allViews, p.compactEvery, p.flushEvery))
        val (sa, sb) = (a.stateRows, distributed(b.stateRows))
        assert(sa == sb, s"state after batch $i")
        assert(a.diskRows == sa, s"disk vs mirror after batch $i")
        allViews.foreach { v =>
          Seq(true, false).foreach { c =>
            assert(a.viewRows(v, c) == distributed(b.viewRows(v, c)),
              s"view ${v.name} catchUp=$c after batch $i")
          }
        }
        assert(a.viewRows(IngestStream.typeCountsView, catchUp = true).getOrElse(Map.empty) ==
          recomputed(IngestStream.typeCountsView, IngestStream.loadState(spark, a.state)))
        assert(quietly(IngestStream.loadTypeCounts(spark, a.view)).map(bag) ==
          distributed(quietly(IngestStream.loadTypeCounts(spark, b.view)).map(bag)))
        p.bases.foreach { case (vt, tx) =>
          def asOf(st: DataFrame) = bag(Bitemp.asOf(st, lit(vt), lit(tx)))
          assert(asOf(IngestStream.loadState(spark, a.state)) ==
            distributed(asOf(IngestStream.loadState(spark, b.state))), s"as-of ($vt, $tx)")
        }
      }
      // the default side really ran on the mirror: its frame reads no file
      val m = IngestStream.currentManifest(a.state).get
      assert(m.epoch.isDefined)
      assert(IngestStream.loadState(spark, a.state).inputFiles.isEmpty)
      true
    }, runs = 6, seed = 17L)
  }

  test("a batch at a nanosecond tx time reads as the microsecond one the store keeps") {
    // the default stream clock stamps nanosecond digits; Spark keeps micros
    val at = LocalDateTime.parse("2025-01-01T00:00:00.000000500")
    def reads(): (Map[Seq[Any], Int], Map[Seq[Any], Int]) = {
      val state = tmp("graft_mirror_nanos")
      IngestStream.applyToStore(spark, opsDf(Seq(put("1", "A", null, 0))), 0, state, at,
        matViewDir = None)
      val st = IngestStream.loadState(spark, state).filter(col("eid") === "1")
      (bag(Bitemp.asOf(st, lit(t0), lit(Long.MaxValue))), bag(Bitemp.asOfTime(st, lit(t0), lit(t0))))
    }
    val (asOf, asOfTime) = reads()
    val stored = distributed(reads())
    assert(stored._1 == Map(Seq("1", t0, t0, 0L, "A", false) -> 1))
    assert(asOf == stored._1 && asOfTime == stored._2)
  }

  test("a match sees only the writes its own tx made before it") {
    // seq 1 expects "A"; the same tx's seq 2 put of "B" at the match's
    // basis vt comes after the match, so it is no candidate and the tx
    // commits
    val batches = Seq(
      Seq(put("1", "A", past, 0)),
      Seq(Row("match", "1", null, null, null, past, "A", 1L), put("1", "B", past, 2)))
    val a = Store(tmp("graft_mirror_seq_a")); val b = Store(tmp("graft_mirror_seq_b"))
    batches.zipWithIndex.foreach { case (ops, i) =>
      a.apply(i.toLong, ops, None, Nil)
      distributed(b.apply(i.toLong, ops, None, Nil))
    }
    val st = IngestStream.loadState(spark, a.state)
    assert(bag(Bitemp.asOf(st, lit(latest), lit(Long.MaxValue))).keySet.map(_(4)) == Set("B"))
    assert(a.stateRows == distributed(b.stateRows))
  }

  test("a frame taken before a commit keeps the pre-commit rows") {
    Seq(false, true).foreach { off =>
      def mode[A](body: => A): A = if (off) distributed(body) else body
      val s = Store(tmp("graft_mirror_stale"))
      mode(s.apply(0, Seq(put("1", "A", past, 0), put("2", "B", past, 1)), checkFree,
        Seq(IngestStream.typeCountsView), compactEvery = 2))
      val frame = mode(IngestStream.loadState(spark, s.state))
      val view = mode(IngestStream.loadView(spark, s.view, "type_counts")).get
      val (rows0, view0) = (bag(frame), bag(view))
      // the next commit compacts: a new base replaces the delta stack
      mode(s.apply(1, Seq(put("1", "B", past.plusDays(1), 0), put("3", "C", past, 1)),
        checkFree, Seq(IngestStream.typeCountsView), compactEvery = 2))
      assert(bag(frame) == rows0, s"off=$off")
      assert(bag(view) == view0, s"off=$off")
      assert(mode(s.stateRows) != rows0)
    }
  }

  test("a batch whose sink throws leaves the committed state; re-applying it matches a clean run") {
    val batches = Seq(
      Seq(put("1", "A", past, 0), put("2", "A", past, 1), put("3", "B", past, 2)),
      Seq(put("1", "B", past.plusDays(1), 0), Row("delete", "2", null, past.plusDays(1), null, null, null, 1L)),
      Seq(put("4", "C", null, 0), put("3", "A", future, 1)))
    val clean = Store(tmp("graft_mirror_clean"))
    batches.zipWithIndex.foreach { case (ops, i) =>
      clean.apply(i.toLong, ops, checkFree, Seq(IngestStream.typeCountsView, sumView))
    }
    val crashed = Store(tmp("graft_mirror_crash"))
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    val sink: (DataFrame, Long) => Unit = (_, tx) =>
      if (tx == 1L && armed.getAndSet(false)) throw new IllegalStateException("sink down")
    def run(i: Int) = crashed.apply(i.toLong, batches(i), checkFree,
      Seq(IngestStream.typeCountsView, sumView), sinks = Seq(sink))
    run(0)
    val before = crashed.stateRows
    intercept[IllegalStateException](run(1))
    assert(IngestStream.committedTx(crashed.state).contains(0L))
    assert(crashed.stateRows == before)
    run(1); run(2)
    assert(crashed.stateRows == clean.stateRows)
    Seq(IngestStream.typeCountsView, sumView).foreach { v =>
      assert(crashed.viewRows(v, catchUp = false) == clean.viewRows(v, catchUp = false), v.name)
    }
  }

  test("a store deleted and rebuilt at the same path with the same tx ids is read fresh") {
    val s = Store(tmp("graft_mirror_recreate"))
    def build(hashes: Seq[String]): Unit = hashes.zipWithIndex.foreach { case (h, i) =>
      s.apply(i.toLong, Seq(put(s"${i + 1}", h, past, 0), put(s"${i + 4}", "A", past, 1)),
        checkFree, Seq(sumView))
    }
    build(Seq("A", "B", "C"))
    assert(s.stateRows.nonEmpty && IngestStream.loadView(spark, s.view, "type_sums").isDefined)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s.base))
    build(Seq("B", "B", "A"))
    val fresh = Store(tmp("graft_mirror_recreate_ref"))
    Seq("B", "B", "A").zipWithIndex.foreach { case (h, i) =>
      fresh.apply(i.toLong, Seq(put(s"${i + 1}", h, past, 0), put(s"${i + 4}", "A", past, 1)),
        checkFree, Seq(sumView))
    }
    assert(s.stateRows == fresh.stateRows)
    // loadView without catchUp folds by the measures its _viewmeta names:
    // the rebuilt view dir must have the sidecar again
    val view = IngestStream.loadView(spark, s.view, "type_sums").get
    assert(bag(view.select("content_hash", "n", "total")) ==
      recomputed(sumView, IngestStream.loadState(spark, s.state)))
  }

  test("job counts: mirror reads run no job, a check-free batch with one flushed view at most 3") {
    def counts(s: Store): (Int, Int, Int) = {
      (0 until 2).foreach(i => s.apply(i.toLong,
        Seq(put(s"${i + 1}", "A", past, 0), put(s"${i + 5}", "B", null, 1)), checkFree,
        Seq(IngestStream.typeCountsView)))
      val view = SparkJobs.count(spark)(
        IngestStream.loadView(spark, s.view, "type_counts").get.collect())._2
      val frame = SparkJobs.count(spark)(IngestStream.loadState(spark, s.state))._2
      val batch = SparkJobs.count(spark)(s.apply(2,
        Seq(put("1", "B", past.plusDays(1), 0), put("9", "A", null, 1)), checkFree,
        Seq(IngestStream.typeCountsView)))._2
      (view, frame, batch)
    }
    val (view, frame, batch) = counts(Store(tmp("graft_mirror_jobs")))
    assert(view == 0 && frame == 0 && batch <= 3, s"view=$view frame=$frame batch=$batch")
    // the distributed form keeps its plans: a view read scans parquet, a
    // batch folds and writes through its shuffles
    val (dView, dFrame, dBatch) = distributed(counts(Store(tmp("graft_mirror_jobs_off"))))
    info(s"jobs (view read, state frame, batch): mirror ($view, $frame, $batch), " +
      s"distributed ($dView, $dFrame, $dBatch)")
    assert(dView >= 1 && dFrame == 0 && dBatch > 3, s"view=$dView frame=$dFrame batch=$dBatch")
  }

  test("distributed delta writes keep the fold's reduce parallel and land one file per delta") {
    import org.apache.spark.scheduler._
    val s = Store(tmp("graft_mirror_width"))
    val described = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val reduceTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => described.put(e.stageInfo.stageId, d))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        val isFoldWrite = Option(described.get(info.stageId)).exists(_.endsWith("delta fold+write"))
        val readsShuffle = info.taskMetrics != null &&
          info.taskMetrics.shuffleReadMetrics.recordsRead > 0 &&
          info.taskMetrics.shuffleWriteMetrics.recordsWritten > 0
        if (isFoldWrite && readsShuffle) reduceTasks.add(info.numTasks)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try distributed(SessionConf.withBatchScale(spark, 4) {
      (0 until 3).foreach(i => s.apply(i.toLong,
        (0 until 8).map(k => put(s"${i * 8 + k}", "A", past, k.toLong)), checkFree,
        Seq(IngestStream.typeCountsView)))
    }) finally {
      SparkJobs.count(spark)(()) // drains the listener bus
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(!reduceTasks.isEmpty && reduceTasks.asScala.forall(_ > 1), reduceTasks.toString)
    val deltas = new java.io.File(s.state).listFiles().filter(_.getName.startsWith("delta-"))
    assert(deltas.nonEmpty)
    deltas.foreach { d =>
      val files = d.listFiles().count(f => f.getName.startsWith("part-"))
      assert(files <= 1, s"${d.getName}: $files data files")
    }
  }
}
