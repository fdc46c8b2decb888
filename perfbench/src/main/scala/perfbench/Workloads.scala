package perfbench

import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import graft.bitemp.{Bitemp, TxLog}
import graft.datalog.{Ast, Planner, TableSource}
import graft.http.GraftNode
import graft.streaming.IngestStream
import perfbench.Gen._
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Latencies and op counts of one set of timed steps. */
final class Recorder {
  val reads = ArrayBuffer.empty[Double]
  val writes = ArrayBuffer.empty[Double]
  val steps = ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  var wallS = 0.0
  /** Op rows of committed writes. */
  var committedOps = 0L

  private def timed[A](into: ArrayBuffer[Double])(f: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try { val a = f; into += (System.nanoTime() - t0) / 1e6; Some(a) }
    catch { case NonFatal(e) =>
      failed += 1
      System.err.println(s"perfbench: op failed: $e")
      None
    }
  }
  def read[A](f: => A): Option[A] = timed(reads)(f)
  def write[A](f: => A): Option[A] = timed(writes)(f)
}

/** One workload: its setup on a fresh session, one closed-loop step, the
  * correctness check of everything it read, and the per-layer figures only
  * it can give. */
trait Workload {
  def setup(spark: SparkSession): Unit
  def step(t: Tracer, r: Recorder): Unit
  /** Wrong answers found; empty when every checked output was right. */
  def verify(): Seq[String]
  /** Per-layer figures read from the workload's own state after the run. */
  def layers(t: Tracer): Map[String, Double] = Map.empty
  /** End-to-end figures beyond the bounded metrics, for the run report. */
  def report(rec: Recorder): Seq[(String, Double)] = Nil
}

/** A Datalog read with the call split at the layer boundaries: parse,
  * compile (the compiled-plan cache sits behind it) and execution. A plan
  * object seen before is a cache hit; a plan's first execution records its
  * Catalyst phase times. */
final class TracedDatalog {
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())
  def remember(df: DataFrame): Unit = seen.add(df)

  def read(t: Tracer, edn: String)(compile: => DataFrame): Array[Row] = {
    t.span("datalog.parse")(Ast.parse(edn))
    val df = t.span("datalog.compile")(compile)
    val hit = !seen.add(df)
    t.cacheHit(t.currentOp) = hit
    val rows = t.span("spark.exec")(df.collect())
    if (!hit) {
      val ph = df.queryExecution.tracker.phases
      t.phasesMs(t.currentOp) = Seq("analysis", "optimization", "planning")
        .map(p => p -> ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)).toMap
    }
    rows
  }
}

object Rows {
  /** A result row as comparable text: doubles to cents (the catalog's money
    * columns have two decimals, so any summation order rounds alike). */
  def text(r: Row): String = r.toSeq.map {
    case d: Double => f"$d%.2f"
    case n: java.lang.Number => n.longValue.toString
    case null => "nil"
    case x => x.toString
  }.mkString("|")
  def set(rows: Array[Row]): Vector[String] = rows.map(text).distinct.sorted.toVector
}

/** dl_hot and dl_cold: parameterized Datalog served by `GraftNode.q` over
  * the TPC-H-shaped catalog. */
final class DatalogWorkload(hot: Boolean, seed: Long, dataDir: String) extends Workload {
  private var spark: SparkSession = _
  private var node: GraftNode = _
  private val dl = new TracedDatalog
  private val draws = if (hot) Gen.dlHot(seed) else Gen.dlCold(seed)
  private val results = ArrayBuffer.empty[(DlRead, Vector[String])]

  def setup(s: SparkSession): Unit = {
    spark = s
    node = new GraftNode(s, TableSource.tpch(s, dataDir))
    // dl_hot warms up by preloading its whole working set; dl_cold runs
    // each template once, on arguments outside the seeded draws
    val warm = new java.util.SplittableRandom(-1L)
    val first =
      if (hot) Gen.hotSet(seed)
      else templates.indices.map(i => DlRead(i, templates(i).draw(warm)))
    first.foreach { r =>
      val edn = templates(r.template).edn
      node.q(edn, r.args: _*)
      if (hot) dl.remember(node.query(edn, r.args))
    }
  }

  def step(t: Tracer, rec: Recorder): Unit = {
    val r = draws.next()
    val tpl = templates(r.template)
    rec.read(t.op("dl_read") {
      if (t.tracing) dl.read(t, tpl.edn)(node.query(tpl.edn, r.args))
      else node.q(tpl.edn, r.args: _*)
    }).foreach(rows => results += ((r, Rows.set(rows))))
  }

  /** A seeded sample of the served reads against plain Spark SQL over the
    * same parquet files. */
  def verify(): Seq[String] = {
    Seq("customer", "orders").foreach(n =>
      spark.read.parquet(s"$dataDir/$n.parquet").createOrReplaceTempView(n))
    val rnd = new scala.util.Random(seed)
    val sample = rnd.shuffle(results.indices.toVector).take(8)
    sample.flatMap { i =>
      val (r, got) = results(i)
      val tpl = templates(r.template)
      val want = Rows.set(spark.sql(tpl.sql(r.args)).collect())
      if (got == want) None
      else Some(s"${tpl.name}${r.args.mkString("(", ",", ")")}: got ${got.take(5)} want ${want.take(5)}")
    } ++ (if (results.isEmpty) Seq("no read completed") else Nil)
  }
}

/** node_mixed: a GraftNode taking transactions between bitemporal reads. */
final class NodeWorkload(seed: Long, dataDir: String) extends Workload {
  private var spark: SparkSession = _
  private var node: GraftNode = _
  private val dl = new TracedDatalog
  private val model = new NodeModel
  private var steps: Iterator[NodeStep] = _
  private val checks = ArrayBuffer.empty[() => Option[String]]
  private val outcomes = ArrayBuffer.empty[(NodeStep, Boolean, Boolean)] // step, committed, traced
  val query = "{:find [?e ?s] :in [?t] :where [[?e :tier ?t] [?e :score ?s]]}"

  private def docJson(d: Doc): JValue = JObject("crux.db/id" -> JString(d.id),
    "name" -> JString(d.name), "tier" -> JString(d.tier), "score" -> JLong(d.score))
  private def opJson(op: TxOp): JValue = op match {
    case Put(d, None) => JArray(List(JString("put"), docJson(d)))
    case Put(d, Some(vt)) => JArray(List(JString("put"), docJson(d), JString(vt.toString)))
    case Delete(id) => JArray(List(JString("delete"), JString(id)))
    case Match(id, e) => JArray(List(JString("match"), JString(id), e.map(docJson).getOrElse(JNull)))
    case Cas(id, o, n) =>
      JArray(List(JString("cas"), JString(id), o.map(docJson).getOrElse(JNull), docJson(n)))
  }

  def setup(s: SparkSession): Unit = {
    spark = s
    node = new GraftNode(s, TableSource.tpch(s, dataDir))
    val preload = Gen.nodePreload(seed)
    require(model.apply(1L, preload))
    require(node.submitTx(preload.map(opJson).toList).committed, "preload tx aborted")
    // warm-up: one of each read, checked like the timed ones
    val t = new Tracer(s.sparkContext, on = false)
    checkTier(queryAt(t, Tiers(0), None), Tiers(0), 1L)
    checkTier(queryAt(t, Tiers(1), Some(1L)), Tiers(1), 1L)
    checkHistory(history(t, entityId(0)), entityId(0), 1L)
    steps = Gen.nodeSteps(seed, model)
  }

  private def queryAt(t: Tracer, tier: String, txId: Option[Long]): Array[Row] =
    if (!t.tracing) node.queryAt(query, Seq(tier), txId = txId).collect()
    else {
      val db = t.span("http.db_snapshot")(node.db(txId = txId))
      dl.read(t, query)(Planner.q(spark, db, query, tier))
    }

  private def history(t: Tracer, id: String): Array[Row] =
    t.span("http.history")(node.entityHistory(id, sortAsc = true, withCorrections = false,
      withDocs = false, startVt = None, endVt = None).collect())

  private def checkTier(rows: Array[Row], tier: String, basis: Long): Unit = checks += { () =>
    val got = rows.map(r => (r.getString(0), r.getLong(1))).toSet
    val want = model.tierScores(tier, basis)
    if (got == want) None
    else Some(s"tier $tier at tx $basis: ${got.size} rows, ${(got diff want).size} unexpected, " +
      s"${(want diff got).size} missing")
  }
  private def checkHistory(rows: Array[Row], id: String, basis: Long): Unit = checks += { () =>
    val got = rows.map(_.getAs[Long]("tx_id")).toVector
    val want = model.historyTxIds(id, basis)
    if (got == want) None else Some(s"history of $id at tx $basis: got $got want $want")
  }

  def step(t: Tracer, rec: Recorder): Unit = {
    val s = steps.next()
    rec.write(t.op("node_tx") {
      t.span("http.submit_tx")(node.submitTx(s.ops.map(opJson).toList))
    }).foreach { info =>
      outcomes += ((s, info.committed, t.tracing))
      if (info.committed) rec.committedOps += s.ops.size
      if (info.txId != s.txId) checks += (() => Some(s"tx id ${info.txId}, model expected ${s.txId}"))
    }
    rec.read(t.op("node_q_latest")(queryAt(t, s.latestTier, None)))
      .foreach(checkTier(_, s.latestTier, s.txId))
    rec.read(t.op("node_q_past")(queryAt(t, s.pastTier, Some(s.pastTxId))))
      .foreach(checkTier(_, s.pastTier, s.pastTxId))
    rec.read(t.op("node_history")(history(t, s.historyOf)))
      .foreach(checkHistory(_, s.historyOf, s.txId))
  }

  /** Every read against the model, each tx's commit against the model's
    * prediction, and the version count after the run. */
  def verify(): Seq[String] = {
    val wrongCommits = outcomes.collect { case (s, committed, _) if committed == s.expectAbort =>
      s"tx ${s.txId}: committed=$committed, model expected abort=${s.expectAbort}"
    }
    val aborted = node.txLogEntries.count(!_._1.committed)
    val abortCheck =
      if (aborted == model.abortCount) Nil
      else Seq(s"aborted txs: node $aborted, model ${model.abortCount}")
    val rows = node.currentVersions.count()
    val rowCheck =
      if (rows == model.versionCount) Nil else Seq(s"version rows: node $rows, model ${model.versionCount}")
    checks.flatMap(_()).toSeq ++ wrongCommits ++ abortCheck ++ rowCheck
  }

  override def layers(t: Tracer): Map[String, Double] = {
    val rows = node.currentVersions.count().toDouble
    val entities = node.currentVersions.select("eid").distinct().count().toDouble
    Map("http.aborted_txs" -> outcomes.count { case (_, c, traced) => traced && !c }.toDouble,
      "bitemp.version_rows" -> rows,
      "bitemp.versions_per_entity" -> rows / math.max(1.0, entities))
  }

  override def report(u: Recorder): Seq[(String, Double)] =
    Seq("aborted_txs" -> outcomes.count(!_._2).toDouble)
}

/** stream_ingest: one micro-batch per `IngestStream.applyToStore` call with
  * the type-counts view maintained, each commit followed by a view read and
  * as-of lookups over the committed state. */
final class StreamWorkload(seed: Long, dataDir: String, workDir: java.nio.file.Path,
    batchSize: Int, warmBatches: Int, compactEvery: Int) extends Workload {
  private var spark: SparkSession = _
  private var stateDir: String = _
  private var viewDir: String = _
  private var batches: Iterator[StreamBatch] = _
  private val model = new StreamModel
  private val checks = ArrayBuffer.empty[() => Option[String]]
  private var userBytes = 0L
  // traced-run bookkeeping, read between steps
  private var maxDepth = 0
  private var compactions = 0
  private val filesScanned = ArrayBuffer.empty[Int]
  private var bytesWritten = 0L
  private var tracedUserBytes = 0L
  private val seenFiles = scala.collection.mutable.HashSet.empty[String]

  private val txBase = LocalDateTime.parse("2025-01-01T00:00")
  private val shape = Some(TxLog.TxShape(hasChecks = false, hasEvict = false, hasRanged = false))

  def setup(s: SparkSession): Unit = {
    spark = s
    val events = s.read.parquet(s"$dataDir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type").collect()
      .map(r => Event(r.getLong(0), r.getAs[LocalDateTime](1), r.getLong(2), r.getString(3)))
      .sortBy(_.eventId).toVector
    val dir = java.nio.file.Files.createTempDirectory(workDir, "stream-")
    stateDir = dir.resolve("state").toString
    viewDir = dir.resolve("view").toString
    batches = Gen.streamBatches(events, seed, batchSize)
    (0 until warmBatches).foreach { _ =>
      val b = batches.next()
      commit(b)
      model.apply(b.txId, b.ops)
      userBytes += opBytes(b.ops)
    }
  }

  private def opBytes(ops: Vector[StreamOp]): Long =
    ops.map(o => Seq(o.op, o.eid, Option(o.contentHash).getOrElse(""), o.vt.toString, o.seq.toString)
      .map(_.length + 1).sum.toLong).sum

  private def commit(b: StreamBatch): Unit = {
    import scala.jdk.CollectionConverters._
    val rows = b.ops.map(o => Row(o.op, o.eid, o.contentHash, o.vt, null, null, null, o.seq))
    val df = spark.createDataFrame(rows.asJava, TxLog.opSchema)
    IngestStream.applyToStore(spark, df, b.txId, stateDir, txBase.plusMinutes(b.txId),
      compactEvery = compactEvery, matViewDir = Some(viewDir), txShape = shape)
  }

  private def viewRead(): Map[String, Long] =
    IngestStream.loadView(spark, viewDir, "type_counts").get.collect()
      .map(r => r.getAs[String]("content_hash") -> r.getAs[Long]("n")).toMap

  private def asOfRead(eids: Vector[String], vt: LocalDateTime): Map[String, String] =
    Bitemp.asOf(IngestStream.loadState(spark, stateDir).filter(col("eid").isin(eids: _*)),
        lit(vt), lit(Long.MaxValue))
      .select("eid", "content_hash").collect().map(r => r.getString(0) -> r.getString(1)).toMap

  def step(t: Tracer, rec: Recorder): Unit = {
    val b = batches.next()
    val label = s"graft-tx-${b.txId}"
    rec.write(t.op("stream_batch", Some(label))(t.span("streaming.batch")(commit(b)))).foreach { _ =>
      model.apply(b.txId, b.ops)
      userBytes += opBytes(b.ops)
      rec.committedOps += b.ops.size
      if (t.tracing) { tracedUserBytes += opBytes(b.ops); afterTracedCommit(b.txId) }
    }
    rec.read(t.op("stream_view_read")(t.span("streaming.view_read")(viewRead()))).foreach { got =>
      checks += (() => {
        val want = model.typeCounts(b.txId)
        if (got == want) None else Some(s"view after tx ${b.txId}: got $got want $want")
      })
    }
    b.lookupVts.foreach { vt =>
      rec.read(t.op("stream_asof_read")(t.span("streaming.asof_read")(asOfRead(b.lookupEids, vt))))
        .foreach { got =>
          checks += (() => {
            val want = b.lookupEids.flatMap(e => model.asOf(e, vt, b.txId).map(e -> _)).toMap
            if (got == want) None else Some(s"as-of $vt after tx ${b.txId}: got $got want $want")
          })
        }
    }
  }

  /** Delta-stack depth, compactions, files a state scan opens, and bytes
    * written, read from the store between traced steps. */
  private def afterTracedCommit(txId: Long): Unit = {
    IngestStream.currentManifest(stateDir).foreach { m =>
      maxDepth = math.max(maxDepth, m.deltas.size)
      if (m.base.contains(s"base-$txId")) compactions += 1
      filesScanned += (m.base.toSeq ++ m.deltas).map(d => dataFiles(new java.io.File(s"$stateDir/$d")).size).sum
    }
    Seq(stateDir, viewDir).foreach { d =>
      dataFiles(new java.io.File(d)).foreach { f =>
        if (seenFiles.add(f.getPath)) bytesWritten += f.length
      }
    }
  }

  private def dataFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  /** Final view and state against an independent latest-per-entity fold of
    * every generated op, plus every in-loop read. */
  def verify(): Seq[String] = {
    val view = viewRead()
    val viewCheck = if (view == model.typeCounts(Long.MaxValue)) Nil
      else Seq(s"final view: got $view want ${model.typeCounts(Long.MaxValue)}")
    val latest = Bitemp.asOf(IngestStream.loadState(spark, stateDir), lit(LatestVt), lit(Long.MaxValue))
      .select("eid", "content_hash").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val want = model.latest
    val stateCheck = if (latest == want) Nil
      else Seq(s"final state: ${latest.size} live entities, want ${want.size}; " +
        s"${latest.count { case (k, v) => !want.get(k).contains(v) }} differ")
    checks.flatMap(_()).toSeq ++ viewCheck ++ stateCheck
  }

  private def diskBytes: Long =
    Seq(stateDir, viewDir).flatMap(d => dataFiles(new java.io.File(d))).map(_.length).sum

  override def layers(t: Tracer): Map[String, Double] = Map(
    "streaming.delta_depth_max" -> maxDepth.toDouble,
    "streaming.compactions" -> compactions.toDouble,
    "streaming.state_files_scanned" ->
      (if (filesScanned.isEmpty) 0.0 else filesScanned.sum.toDouble / filesScanned.size),
    "streaming.write_amp" -> bytesWritten.toDouble / math.max(1L, tracedUserBytes),
    "streaming.bytes_per_user_byte" -> diskBytes.toDouble / math.max(1L, userBytes))

  override def report(u: Recorder): Seq[(String, Double)] =
    Seq("bytes_per_user_byte" -> diskBytes.toDouble / math.max(1L, userBytes))
}
