package graft.http

import org.apache.spark.sql.{DataFrame, ResidentRelation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s._
import graft.bitemp.{Bitemp, TxDriver, TxLog}
import graft.datalog.{FactSource, Planner}

/** The node behind the HTTP surface: a content-addressed document store +
  * bitemporal version index + Datalog source, i.e. the pieces
  * `crux.api/ICruxAPI` ties together for `crux-http-server`
  * (crux-http-server/src/crux/http_server.clj:447-451 builds the handler
  * around a started node).
  *
  * State is two stores, exactly the reference's split
  * (doc-store + tx-log/index, SURVEY §1.1):
  *
  *  - `versions` — eid/vt/tt/tx_id/content_hash/tombstone (TxLog schema)
  *  - the doc store — content_hash → canonical doc JSON
  *
  * Writes go through [[TxLog.applyTx]] — the same single-writer fold as
  * batch/stream ingest, so HTTP `submit-tx` has identical semantics to the
  * other two ingest paths. Tx metadata (id, time, committed) is driver-side
  * bookkeeping, like the reference's tx-log consumer position.
  *
  * Up to the `tx` size route's bound (`spark.graft.route.tx.maxRows`,
  * default 2^17 rows) the state lives in driver memory: the tx fold
  * leaves `versions` a [[org.apache.spark.sql.ResidentRelation]] holding
  * its versions by entity by reference, and the doc store is a driver map
  * of docs parsed once when stored. Put-only txs, [[db]] snapshots,
  * [[entityTx]] and [[entityHistory]] read that memory and run no Spark
  * job; a snapshot serves each attribute from a leaf of the same kind,
  * so its joins run in one stage with no exchange. Above the bound,
  * and for a state loaded from files, both are distributed DataFrames:
  * txs union and checkpoint the doc store, snapshots resolve with a
  * distributed plan, and no read collects a whole table to the driver —
  * entity resolution filters to one eid before resolving; query results
  * stream out through `toLocalIterator` in the server (crux's open-q
  * cursor re-expressed).
  */
final class GraftNode(val spark: SparkSession, val source: FactSource,
    sqlDir: Option[String] = None,
    /** Engine `:fn-allow-list` (query_fn_allowlist_test.clj): when set,
      * non-built-in query fns resolve only if their symbol, bare name or
      * namespace is listed; None leaves the registry open. */
    fnAllowList: Option[Seq[String]] = None) {

  @volatile private var versions: DataFrame = TxLog.emptyState(spark)
  @volatile private var docs: GraftNode.DocStore =
    GraftNode.DocStore.resident(spark, Map.empty)

  final case class TxInfo(txId: Long, txTime: java.time.LocalDateTime, committed: Boolean)
  private val txs = new java.util.concurrent.CopyOnWriteArrayList[TxInfo]()
  private val txIdGen = new java.util.concurrent.atomic.AtomicLong(0L)
  /** ops rows kept per tx for /tx-log?with-ops=true (the reference reads
    * these back off the log itself, kafka.clj/standalone). */
  private val txOps = new java.util.concurrent.ConcurrentHashMap[Long, JValue]()

  /** Pre-load the version index + doc store (e.g. from parquet) — the
    * "node started over an existing tx-log" case. */
  def loadState(v: DataFrame, d: DataFrame): Unit =
    load(v, GraftNode.DocStore.of(d))

  private def load(v: DataFrame, d: GraftNode.DocStore): Unit = synchronized {
    versions = v
    docs = d
    val top = TxDriver.resident(v).map(_.latest).getOrElse {
      val r = v.agg(max("tx_id"), max("tt")).head()
      if (r.isNullAt(0)) None else Some((r.getLong(0), r.getAs[java.time.LocalDateTime](1)))
    }
    top.foreach { case (id, tt) =>
      txIdGen.set(id)
      txs.add(TxInfo(id, tt, committed = true))
    }
  }

  def currentVersions: DataFrame = versions
  def currentDocs: DataFrame = docs.frame

  // ------------------------------------------------------------------ tx

  /** Submit a transaction: ops as parsed JSON
    * `[["put", {"crux.db/id": …, …}, valid-time?, end-valid-time?], …]`
    * (crux-http-server/src/crux/http_server.clj:75-92 JSON decoder;
    * op conformance crux-core/src/crux/tx/conform.clj). Applies
    * synchronously — `await-tx` is then trivially satisfied, matching the
    * reference's single-node behavior where submit+await is the common
    * pattern. Returns (txId, txTime, committed). */
  def submitTx(ops: List[JValue]): TxInfo = submitTxAt(ops, None)

  /** [[submitTx]] with a default valid-time for ops that don't carry one
    * — speculative forks inherit the forked db's valid-time basis
    * (fork_test.clj:91: a with-tx put on a future db lands at the db's
    * valid time, not "now"). */
  def submitTxAt(ops: List[JValue], defaultVt: Option[java.time.LocalDateTime]): TxInfo = synchronized {
    // parse first: a refused op list takes no tx id
    val parsed = ops.zipWithIndex.map { case (op, seq) => parseOp(op, seq) }
    val txId = txIdGen.incrementAndGet()
    val txTime = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
    val newDocs = parsed.collect { case (_, Some((hash, doc))) => (hash, doc) }.distinct
    if (newDocs.nonEmpty) docs = docs.add(newDocs)
    var opRows = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(parsed.map(_._1)).asJava, TxLog.opSchema)
    defaultVt.foreach { vt =>
      opRows = opRows
        .withColumn("start_vt", coalesce(col("start_vt"), lit(vt)))
        .withColumn("at_vt", coalesce(col("at_vt"), lit(vt)))
    }
    // the op list is driver-parsed JSON — its kind mix is known without a
    // cluster probe job (TxLog.TxShape doc)
    val rows = parsed.map(_._1)
    val shape = TxLog.TxShape(
      hasChecks = rows.exists(r => r.getString(0) == "match" || r.getString(0) == "cas"),
      hasEvict = rows.exists(_.getString(0) == "evict"),
      hasRanged = rows.exists(r =>
        Set("put", "delete", "cas")(r.getString(0)) && !r.isNullAt(4)))
    val (next, aborted) = TxLog.applyTx(versions, opRows, txId, txTime, Some(shape))
    if (!aborted) versions = next // applyTx checkpoints eagerly
    val info = TxInfo(txId, txTime, committed = !aborted)
    txs.add(info)
    txOps.put(txId, JArray(ops))
    info
  }

  /** Speculative fork — the reference's `crux/with-tx`
    * (crux-core/src/crux/fork.clj): apply ops to a COPY of this node's
    * state at an optional (tx-time/tx-id) basis and return the forked
    * node, leaving this node untouched. Returns None when the speculative
    * tx aborts (failed match — with-tx returns nil, fork_test.clj:42).
    * `validTime` is the forked db's valid-time basis: ops without an
    * explicit valid time land there. State DataFrames are immutable, so
    * the fork is O(1) — no data copy; a resident state at a tx basis is
    * filtered in driver memory. */
  def withTx(ops: List[JValue],
      validTime: Option[java.time.LocalDateTime] = None,
      txTime: Option[java.time.LocalDateTime] = None,
      txId: Option[Long] = None): Option[GraftNode] = {
    val base = TxDriver.resident(versions).fold(GraftNode.knownAt(versions, txId, txTime))(
      _.filter(GraftNode.knownAt(txId, txTime)).frame(spark))
    val fork = new GraftNode(spark, source, sqlDir, fnAllowList)
    fork.load(base, docs)
    val info = fork.submitTxAt(ops, validTime)
    if (info.committed) Some(fork) else None
  }

  /** Doc-store garbage collection after evicts: drop content rows no live
    * version references. The reference hard-deletes an evicted entity's
    * docs from the doc store and replaces them with `:crux.db/evicted?`
    * markers (tx.clj:135-147, index_store.clj:993-1047 — eviction is the
    * one op that reaches into the content-addressed store); the columnar
    * analogue is one semi-join of docs against the distinct referenced
    * hashes. Returns the number of content rows dropped. Runs as an
    * explicit maintenance call (crux runs it inside the evict tx; a
    * 100 TB store wants it batched off the write path). */
  def gcDocs(): Long = synchronized {
    val (kept, dropped) = docs.retain(
      versions.select(col("content_hash")).filter(col("content_hash").isNotNull).distinct())
    docs = kept
    dropped
  }

  /** One tx op → (TxLog op row, optional new doc). */
  private def parseOp(op: JValue, seq: Int): (Row, Option[(String, String)]) = {
    def ts(j: JValue): java.time.LocalDateTime = j match {
      case JString(s) => java.time.LocalDateTime.parse(s)
      case other => throw new IllegalArgumentException(s"expected timestamp string, got $other")
    }
    // a doc headed for the store: (hash, canonical JSON). Its integer
    // facts are Longs, so one outside the Long range is refused here
    // rather than wrapped when the doc is exploded to quads; nested
    // objects are opaque JSON values and keep their integers as written
    def stored(doc: JObject): (String, String) = {
      def inRange(v: JValue): Unit = v match {
        case JInt(n) if !n.isValidLong => throw new IllegalArgumentException(
          s"integer $n is outside the 64-bit range a fact value holds")
        case JArray(items) => items.foreach(inRange)
        case _ => ()
      }
      doc.obj.foreach { case (_, v) => inRange(v) }
      val json = Json.render(canonical(doc))
      (sha256(json), json)
    }
    op match {
      case JArray(JString("put") :: (doc: JObject) :: rest) =>
        val eid = eidOf(doc)
        val (hash, json) = stored(doc)
        val (svt, evt) = rest match {
          case Nil => (null, null)
          case vt :: Nil => (ts(vt), null)
          case vt :: end :: Nil => (ts(vt), ts(end))
          case o => throw new IllegalArgumentException(s"put takes at most 2 valid-times, got $o")
        }
        (Row("put", eid, hash, svt, evt, null, null, seq.toLong), Some(hash -> json))
      case JArray(JString("delete") :: eid :: rest) =>
        val (svt, evt) = rest match {
          case Nil => (null, null)
          case vt :: Nil => (ts(vt), null)
          case vt :: end :: Nil => (ts(vt), ts(end))
          case o => throw new IllegalArgumentException(s"delete takes at most 2 valid-times, got $o")
        }
        (Row("delete", eidStr(eid), null, svt, evt, null, null, seq.toLong), None)
      case JArray(JString("match") :: eid :: rest) =>
        // ["match", eid, doc-or-null, at-valid-time?]
        val (expected, atVt) = rest match {
          case (doc: JObject) :: Nil => (Some(doc), null)
          case (doc: JObject) :: vt :: Nil => (Some(doc), ts(vt))
          case JNull :: Nil => (None, null)
          case JNull :: vt :: Nil => (None, ts(vt))
          case o => throw new IllegalArgumentException(s"match needs doc-or-null [at-vt], got $o")
        }
        val hash = expected.map(d => sha256(Json.render(canonical(d)))).orNull
        (Row("match", eidStr(eid), null, null, null, atVt, hash, seq.toLong), None)
      case JArray(JString("cas") :: eid :: oldDoc :: (newDoc: JObject) :: rest) =>
        val atVt = rest match { case Nil => null; case vt :: Nil => ts(vt)
          case o => throw new IllegalArgumentException(s"cas takes one at-vt, got $o") }
        val expHash = oldDoc match {
          case d: JObject => sha256(Json.render(canonical(d)))
          case JNull => null
          case o => throw new IllegalArgumentException(s"cas old-doc must be doc or null, got $o")
        }
        val (hash, json) = stored(newDoc)
        (Row("cas", eidStr(eid), hash, null, null, atVt, expHash, seq.toLong),
          Some(hash -> json))
      case JArray(JString("evict") :: eid :: Nil) =>
        (Row("evict", eidStr(eid), null, null, null, null, null, seq.toLong), None)
      case other => throw new IllegalArgumentException(s"unsupported tx-op $other")
    }
  }

  private def eidOf(doc: JObject): String =
    doc.obj.collectFirst { case ("crux.db/id", v) => eidStr(v) }
      .getOrElse(throw new IllegalArgumentException("put doc needs crux.db/id"))
  /** Canonical eid key. Integral ids normalize to the same key whatever
    * their width — (int 10), (short 10) and (long 10) are one entity
    * (tx_test.clj:1202 #1043, :828 #1398: the codec coerces int/short/byte
    * ids to long) — while a floating id keeps its point ("10.0" ≠ "10",
    * as Clojure's = distinguishes 10 and 10.0). */
  private def eidStr(j: JValue): String = j match {
    case JString(s) => s
    case JLong(l) => l.toString
    case JInt(i) => i.toString
    case JDouble(x) => x.toString
    case JDecimal(x) => x.toString
    case other => throw new IllegalArgumentException(s"bad eid $other")
  }
  /** Canonical doc form: sorted keys, so content hashes are stable
    * (the reference hashes the Nippy bytes of the sorted doc map). */
  private def canonical(doc: JObject): JObject =
    JObject(doc.obj.sortBy(_._1).map { case (k, v) => k -> (v match {
      case o: JObject => canonical(o)
      case other => other
    })})
  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def latestCompletedTx: Option[TxInfo] = {
    val it = txs.iterator(); var last: Option[TxInfo] = None
    while (it.hasNext) { val t = it.next(); if (t.committed) last = Some(t) }
    last
  }
  def latestSubmittedTx: Option[TxInfo] =
    if (txs.isEmpty) None else Some(txs.get(txs.size - 1))
  def txCommitted(txId: Long): Option[Boolean] = {
    val it = txs.iterator()
    while (it.hasNext) { val t = it.next(); if (t.txId == txId) return Some(t.committed) }
    None
  }
  def txLogEntries: Seq[(TxInfo, Option[JValue])] = {
    val it = txs.iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[(TxInfo, Option[JValue])]
    while (it.hasNext) { val t = it.next(); buf += ((t, Option(txOps.get(t.txId)))) }
    buf.toSeq
  }

  // ---------------------------------------------------------------- reads

  /** Resolve one entity's doc at a (valid-time, tx-time/tx-id) basis —
    * crux.api/entity: entity-tx resolution + doc-store fetch. */
  def entityTx(eid: String, validTime: Option[java.time.LocalDateTime],
      txTime: Option[java.time.LocalDateTime], txId: Option[Long]): Option[Row] = {
    val vt = validTime.getOrElse(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC))
    val basis = GraftNode.basisOf(txTime, txId)
    // over a resident state the as-of resolves by entity lookup in
    // driver memory and the collect runs no job (Bitemp.asOf)
    val one = versions.filter(col("eid") === eid)
    val resolved = basis match {
      case Left(id) => Bitemp.asOf(one, lit(vt), lit(id))
      case Right(tt) => Bitemp.asOfTime(one, lit(vt), lit(tt))
    }
    resolved.limit(1).collect().headOption
  }

  def entityDoc(eid: String, validTime: Option[java.time.LocalDateTime],
      txTime: Option[java.time.LocalDateTime], txId: Option[Long]): Option[JValue] =
    entityTx(eid, validTime, txTime, txId).flatMap { row =>
      docs.lookup(row.getAs[String]("content_hash")).map(Json.parse(_))
    }

  /** Entity history rows (+docs when asked) — crux.api/entity-history.
    * An optional tx basis (id or time) restricts to versions KNOWN at
    * that point on the transaction axis (api_test.clj:292 queries
    * history at earlier db bases). Over a resident state (and, with docs,
    * a resident doc store) the history resolves in driver memory
    * ([[Bitemp.historyLocal]]) and returns as a LocalRelation of its
    * rows; any other state runs [[Bitemp.history]]. */
  def entityHistory(eid: String, sortAsc: Boolean, withCorrections: Boolean,
      withDocs: Boolean,
      startVt: Option[java.time.LocalDateTime], endVt: Option[java.time.LocalDateTime],
      txTime: Option[java.time.LocalDateTime] = None, txId: Option[Long] = None): DataFrame = {
    val (state, store) = (versions, docs)
    val resident = for {
      st <- TxDriver.resident(state)
      byHash <- if (withDocs) store.resident else Some(Map.empty[String, GraftNode.Doc])
      h <- graft.sources.Route.attempt(Some(Bitemp.historyLocal(
        st.byEid.getOrElse(eid, Vector.empty).filter(GraftNode.knownAt(txId, txTime)),
        sortAsc, withCorrections, startVt, endVt)))
    } yield {
      import scala.jdk.CollectionConverters._
      if (!withDocs) spark.createDataFrame(h.map(_.toRow).asJava, TxLog.versionSchema)
      else spark.createDataFrame(h.map(v => Row(v.eid, v.vt, v.tt, v.txId, v.tombstone,
        byHash.get(v.contentHash).map(_.json).orNull)).asJava, GraftNode.HistoryDocsSchema)
    }
    resident.getOrElse {
      val h = Bitemp.history(GraftNode.knownAt(state.filter(col("eid") === eid), txId, txTime),
        sortAsc = sortAsc, withCorrections = withCorrections,
        vtStart = startVt.map(lit(_)), vtEnd = endVt.map(lit(_)))
      if (withDocs) {
        val sort =
          if (sortAsc) Seq(col("vt").asc, col("tx_id").asc)
          else Seq(col("vt").desc, col("tx_id").desc)
        h.join(store.frame, Seq("content_hash"), "left")
          .select((Bitemp.metaCols.map(col) :+ col("doc")): _*)
          .orderBy(sort: _*)
      } else h
    }
  }

  /** Datalog query → DataFrame (find-var column names preserved). */
  def query(edn: String, args: Seq[Any]): DataFrame =
    Planner.withFnAllowList(fnAllowList) {
      Planner.q(spark, source, edn, args: _*)
    }

  // ------------------------------------------------- eager q + lifecycle
  private val jobGroup = s"graft-node-${GraftNode.nodeIds.incrementAndGet()}"
  // one Spark job group PER q() invocation (suffixing the node group):
  // a query hitting its :timeout must cancel only its own jobs, not every
  // concurrent query on the node — only close() kills them all
  private val qCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private val liveQueryGroups =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  @volatile private var closed = false

  /** Eager `api/q` analogue: plans via [[query]], runs the collect inside
    * this node's Spark job group on a worker thread, and
    *
    *  - honors the query map's `:timeout` ms by cancelling the group and
    *    throwing `TimeoutException` (query.clj's `q` timeout,
    *    query_test.clj:3384 test-query-with-timeout-419);
    *  - aborts with `InterruptedException` when [[close]] cancels the
    *    group mid-flight (query_test.clj:3671
    *    closing-node-interrupts-open-snapshots).
    *
    * Cancellation is Spark-native (`cancelJobGroup` with
    * interruptOnCancel), so at cluster scale a timed-out query releases
    * its executors instead of running to completion unobserved. */
  /** Query-state registry (active/recent/slowest — node.clj:190-197); a
    * low slow-threshold default (vs the reference's 1 min) so realistic
    * interactive queries register, keeping the threshold-GATED semantics
    * an operator expects from the slowest ring. Specs that assert ring
    * membership must issue a deliberately slow query (a sleeping scalar
    * fn), not rely on JVM warmth — a hot cached query finishes under any
    * meaningful threshold. */
  val queryTracker = new QueryTracker(QueryTracker.Options(
    slowQueriesMinThreshold = java.time.Duration.ofMillis(100)))

  def q(edn: String, args: Any*): Array[Row] = {
    if (closed) throw new IllegalStateException("node is closed")
    val qid = queryTracker.started(edn)
    try {
      val out = q0(edn, args: _*)
      queryTracker.finished(qid, None)
      out
    } catch { case e: Throwable =>
      queryTracker.finished(qid, Some(e.toString)); throw e
    }
  }

  private def q0(edn: String, args: Any*): Array[Row] =
    collectWithGroup(query(edn, args), graft.datalog.Ast.parse(edn).timeoutMs)

  /** Collect `df` under this node's cancellable job-group discipline,
    * honoring an optional timeout — the `:timeout` machinery, shared by
    * the eager [[q]] path and the HTTP wire (which otherwise streams
    * lazily and would never consult the timeout at all). */
  private[http] def collectWithGroup(df: DataFrame,
      timeoutMs: Option[Long]): Array[Row] = {
    val sc = spark.sparkContext
    val group = s"$jobGroup-q-${qCounter.incrementAndGet()}"
    liveQueryGroups.add(group)
    // close() may have raced between the `closed` check above and the
    // registration — re-check so the group can't outlive the node
    if (closed) { liveQueryGroups.remove(group)
      throw new IllegalStateException("node is closed") }
    val done = new java.util.concurrent.CompletableFuture[Array[Row]]()
    val t = new Thread(() => {
      sc.setJobGroup(group, s"graft q", interruptOnCancel = true)
      try done.complete(df.collect())
      catch { case e: Throwable => done.completeExceptionally(e) }
      finally sc.clearJobGroup()
    }, group)
    t.setDaemon(true)
    t.start()
    try timeoutMs match {
      case Some(ms) => done.get(ms, java.util.concurrent.TimeUnit.MILLISECONDS)
      case None => done.get()
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        sc.cancelJobGroup(group)
        throw new java.util.concurrent.TimeoutException(
          s"query timed out after ${timeoutMs.get} ms")
      case e: java.util.concurrent.ExecutionException =>
        if (closed) throw new InterruptedException("node closed during query")
        throw e.getCause
    } finally liveQueryGroups.remove(group)
  }

  /** Close the node: reject new queries and cancel this node's in-flight
    * Spark jobs (open cursors/snapshots abort, as the reference's
    * node-close interrupts open snapshots). The shared SparkSession is
    * NOT stopped — nodes are tenants of it. */
  def close(): Unit = {
    closed = true
    // ...AndFutureJobs: a query between planning and its first job
    // submission must still die, not sneak in after close. Every q() runs
    // in its own per-invocation group (so :timeout stays per-query);
    // close cancels each live one plus the node-level group.
    spark.sparkContext.cancelJobGroupAndFutureJobs(jobGroup)
    liveQueryGroups.forEach(g =>
      spark.sparkContext.cancelJobGroupAndFutureJobs(g))
  }

  /** Datalog source over this node's OWN document store at a bitemporal
    * snapshot — the reference's `(api/db node vt tt)` handle that `api/q`
    * runs against (crux-core/src/crux/api.clj:24-110): resolve the
    * version index as-of, join the content-addressed docs, explode the
    * doc JSON into EAV quads (arrays become one fact per element — crux
    * cardinality-many; JSON null is a nil-valued fact; nested objects are
    * carried as their canonical JSON string, an opaque value). Attribute
    * type families come from one per-attribute summary of the quads (the
    * analogue of the reference's attribute stats); an attribute holding
    * several families binds tagged/Mixed.
    *
    * Scale: while the node's state is driver-resident — `versions` the
    * resident relation the `tx` route leaves, within its bound
    * (`spark.graft.route.tx.maxRows`, default 2^17 rows), and the doc
    * store a driver map — the snapshot is built in driver memory with no
    * Spark job from each doc's facts, parsed once when the doc was
    * stored. Its facts are grouped by attribute once; each single-family
    * attribute a query names is its own one-partition
    * [[org.apache.spark.sql.ResidentRelation]] of `(eid, value)`, so
    * attribute joins run in one stage with no exchange and no broadcast
    * ([[org.apache.spark.sql.ResidentRelation.oneStageJoins]]). The rest
    * read the whole quads, one more such leaf built on first use. Any
    * other state takes the distributed form, decided without a job: the
    * resolve is a distributed aggregate, doc→quad explosion a distributed
    * flatMap (never a driver collect) checkpointed once per handle, and
    * only the per-ATTRIBUTE family summary (#attrs rows) reaches the
    * driver. */
  def db(validTime: Option[java.time.LocalDateTime] = None,
      txTime: Option[java.time.LocalDateTime] = None,
      txId: Option[Long] = None): graft.datalog.FactSource = {
    // NodeOutOfSyncException analogue (api_test.clj:359, issue 546): a
    // tx basis past the last INDEXED tx cannot be served consistently.
    // Aborted txs still advance the index (the reference's await-tx
    // completes on them), so the bound is the last submitted-and-indexed
    // tx, not the last committed one (test-query-and-match queries at an
    // aborted tx's basis).
    val latest = latestSubmittedTx
    txTime.foreach { tt =>
      require(latest.exists(!_.txTime.isBefore(tt)),
        s"node out of sync: requested tx-time $tt is after " +
          s"latest completed ${latest.map(_.txTime).getOrElse("none")}")
    }
    txId.foreach { id =>
      require(latest.exists(_.txId >= id),
        s"node out of sync: requested tx-id $id is after " +
          s"latest completed ${latest.map(_.txId).getOrElse("none")}")
    }
    val vt = validTime.getOrElse(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC))
    val basis = GraftNode.basisOf(txTime, txId)
    val (state, store) = (versions, docs)
    residentDb(state, store, vt, basis)
      .getOrElse(distributedDb(state, store.frame, vt, basis))
  }

  /** [[db]]'s driver form; None (no job run) unless the state is
    * driver-resident, and None on any non-fatal error in its body. */
  private def residentDb(state: DataFrame, store: GraftNode.DocStore,
      vt: java.time.LocalDateTime,
      basis: Either[Long, java.time.LocalDateTime]): Option[graft.datalog.QuadSource] =
    for {
      byHash <- store.resident
      st <- TxDriver.resident(state)
      src <- graft.sources.Route.attempt {
        val byAttr = Bitemp.asOfLocal(st.byEid.values.view.flatten, vt, basis).toVector.flatMap { v =>
          byHash.get(v.contentHash).toSeq.flatMap(_.facts.map { case (a, s, n, d, b) =>
            (v.eid, a, s, n, d, b) })
        }.groupBy(_._2)
        // a leaf of `quads` in the quad columns `cols`, named `names`
        def leaf(value: AnyRef, quads: Iterable[GraftNode.Quad], cols: Seq[Int], names: Seq[String]) =
          ResidentRelation(spark, value, StructType(cols.zip(names).map { case (i, n) =>
            GraftNode.QuadSchema(i).copy(name = n) }), quads.size)(
            quads.iterator.map(q => Row.fromSeq(cols.map(GraftNode.quadValues(q)))))
        import GraftNode.QuadCols
        Some(GraftNode.snapshot(leaf(byAttr, byAttr.values.flatten, QuadCols.indices, QuadCols),
          GraftNode.AttrFamily.of(byAttr), (a, vcol) =>
            Some(leaf(byAttr(a), byAttr(a), Seq(0, QuadCols.indexOf(vcol)), Seq("eid", "value")))))
      }
    } yield src

  /** [[db]]'s distributed form. */
  private def distributedDb(state: DataFrame, docFrame: DataFrame,
      vt: java.time.LocalDateTime,
      basis: Either[Long, java.time.LocalDateTime]): graft.datalog.QuadSource = {
    import spark.implicits._
    val resolved = basis match {
      case Left(id) => Bitemp.asOf(state, lit(vt), lit(id))
      case Right(tt) => Bitemp.asOfTime(state, lit(vt), lit(tt))
    }
    val withDocs = resolved.filter(!col("tombstone"))
      .select(col("eid"), col("content_hash"))
      .join(docFrame, Seq("content_hash"))
      .select(col("eid"), col("doc")).as[(String, String)]
    val quads = withDocs.flatMap { case (eid, doc) => GraftNode.docQuads(eid, doc) }
      .toDF(GraftNode.QuadCols: _*)
      // materialize the snapshot once: every attribute frame of every
      // query against this db handle scans the checkpointed quads
      // instead of re-running resolve + JSON parse per frame (the
      // reference's db is likewise a handle over materialized indexes)
      .localCheckpoint(true)
    val perEA = quads.groupBy("a", "e").agg(
      count(col("v_str")).as("ns"), count(col("v_num")).as("nn"),
      count(col("v_dbl")).as("nd"), count(col("v_bool")).as("nb"),
      count(when(col("v_str").startsWith(":"), 1)).as("nkw"),
      count(lit(1)).as("npe"))
    val fams = perEA.groupBy("a").agg(
      sum("ns").as("strs"), sum("nn").as("longs"), sum("nd").as("doubles"),
      sum("nb").as("bools"), sum("nkw").as("keywords"), max("npe").as("maxPerEntity"))
      .as[GraftNode.AttrFamily].collect()
    GraftNode.snapshot(quads, fams.toSeq)
  }

  /** `api/q` against [[db]] — query the node's ingested documents at a
    * bitemporal snapshot. */
  def queryAt(edn: String, args: Seq[Any] = Nil,
      validTime: Option[java.time.LocalDateTime] = None,
      txTime: Option[java.time.LocalDateTime] = None,
      txId: Option[Long] = None): DataFrame =
    Planner.withFnAllowList(fnAllowList) {
      Planner.q(spark, db(validTime, txTime, txId), edn, args: _*)
    }

  /** SQL query → DataFrame — the SQL-over-wire surface. The reference
    * serves SQL via crux-sql's Calcite/Avatica JDBC server
    * (crux-sql/src/crux/calcite.clj:495-527); here the same catalog that
    * backs [[graft.sql.SqlSurface]] (incl. the VALIDTIME/TRANSACTIONTIME/
    * TRANSACTIONID prefixes) is exposed over HTTP. Like the reference
    * when the SQL module isn't on the classpath, a node constructed
    * without a SQL catalog rejects the request. */
  def sql(sqlText: String): DataFrame = sqlDir match {
    case Some(dir) => graft.sql.SqlSurface.query(spark, dir, sqlText)
    case None => throw new IllegalArgumentException(
      "SQL module not configured on this node")
  }

  /** SQL with positional `?` parameters — the prepared-statement arm of
    * the wire surface (crux-sql serves it through Avatica's
    * PreparedStatement path, crux-sql/src/crux/calcite.clj:495-527). */
  def sqlPrepared(sqlText: String, args: Array[Any]): DataFrame = sqlDir match {
    case Some(dir) => graft.sql.SqlSurface.query(spark, dir, sqlText, args)
    case None => throw new IllegalArgumentException(
      "SQL module not configured on this node")
  }

  /** Catalog table names for the wire-metadata requests (getTables). */
  def sqlTableNames: Seq[String] = sqlDir match {
    case Some(_) => graft.sources.Tables.all
    case None => Seq.empty
  }

  def sqlTableSchema(table: String): org.apache.spark.sql.types.StructType =
    sqlDir match {
      case Some(dir) => graft.sources.Tables.load(spark, dir, table).schema
      case None => new org.apache.spark.sql.types.StructType()
    }

  /** attr → rough count of values indexed, crux.api/attribute-stats
    * (the reference keeps these as index meta; here one aggregation over
    * the source's attribute frames — see operators/Stats for the HLL
    * variant used at scale). */
  def attributeStats(attrs: Seq[String]): Map[String, Long] = {
    if (attrs.isEmpty) return Map.empty
    val counted = attrs.map(a => source.attr(a).agg(count(lit(1)).as("n"))
      .select(lit(a).as("a"), col("n")))
      .reduce(_ unionByName _)
    counted.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }
}

object GraftNode {
  private val nodeIds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** One EAV fact of a snapshot: entity, attribute and the value in the
    * column of its family (all value columns null for a nil fact). */
  private[http] type Quad = (String, String, String, Option[Long], Option[Double], Option[Boolean])
  private[http] val QuadCols: Seq[String] = Seq("e", "a", "v_str", "v_num", "v_dbl", "v_bool")
  /** A quad's [[QuadCols]] values, null for an absent value. */
  private def quadValues(q: Quad): Seq[Any] =
    Seq(q._1, q._2, q._3, q._4.getOrElse(null), q._5.getOrElse(null), q._6.getOrElse(null))
  private val QuadSchema = {
    import org.apache.spark.sql.types._
    StructType(QuadCols.zip(Seq(StringType, StringType, StringType, LongType, DoubleType,
      BooleanType)).map { case (c, t) => StructField(c, t) })
  }
  /** Columns of a history with docs. */
  private val HistoryDocsSchema = org.apache.spark.sql.types.StructType(
    TxLog.versionSchema.filter(_.name != "content_hash") :+
      org.apache.spark.sql.types.StructField("doc", org.apache.spark.sql.types.StringType))

  /** A quad without its entity: attribute and value columns. */
  private[http] type Fact = (String, String, Option[Long], Option[Double], Option[Boolean])

  /** One stored doc's facts — the explode both [[GraftNode.db]] forms
    * run: a fact per top-level field, one per element of an array, a
    * nested object as its canonical JSON string. */
  private[http] def docFacts(doc: String): Seq[Fact] = {
    def rows(a: String, v: JValue): Seq[Fact] = v match {
      case JArray(items) => items.flatMap(rows(a, _))
      case JString(s) => Seq((a, s, None, None, None))
      case JInt(n) => Seq((a, null, Some(n.toLong), None, None))
      case JLong(n) => Seq((a, null, Some(n), None, None))
      case JDouble(d) => Seq((a, null, None, Some(d), None))
      case JDecimal(d) => Seq((a, null, None, Some(d.toDouble), None))
      case JBool(b) => Seq((a, null, None, None, Some(b)))
      case JNull | JNothing => Seq((a, null, None, None, None))
      case other => Seq((a, Json.render(other), None, None, None))
    }
    Json.parse(doc) match {
      case JObject(fields) => fields.flatMap { case (a, v) => rows(a, v) }
      case _ => Nil
    }
  }

  /** One stored doc's quads: its facts under entity `eid`. */
  private[http] def docQuads(eid: String, doc: String): Seq[Quad] =
    docFacts(doc).map { case (a, s, n, d, b) => (eid, a, s, n, d, b) }

  /** A resident doc: its canonical JSON, and its facts parsed once. */
  private[http] final class Doc(val json: String) {
    lazy val facts: Seq[Fact] = docFacts(json)
  }

  /** A tx basis as [[Bitemp.asOfLocal]] takes it: a tx id wins over a tx
    * time; neither is the latest tx. */
  private def basisOf(txTime: Option[java.time.LocalDateTime],
      txId: Option[Long]): Either[Long, java.time.LocalDateTime] = (txTime, txId) match {
    case (_, Some(id)) => Left(id)
    case (Some(tt), _) => Right(tt)
    case _ => Left(Long.MaxValue)
  }

  /** Whether a version is known at an optional tx id and tx time. */
  private def knownAt(txId: Option[Long], txTime: Option[java.time.LocalDateTime])(
      v: Bitemp.Version): Boolean =
    txId.forall(v.txId <= _) && txTime.forall(tt => !v.tt.isAfter(tt))

  /** `versions` restricted to the rows known at an optional tx id and tx
    * time. */
  private def knownAt(versions: DataFrame, txId: Option[Long],
      txTime: Option[java.time.LocalDateTime]): DataFrame = {
    val byId = txId.fold(versions)(id => versions.filter(col("tx_id") <= id))
    txTime.fold(byId)(tt => byId.filter(col("tt") <= tt))
  }

  /** One attribute's value families over a snapshot's quads: facts per
    * value column, keyword strings, and the most facts one entity holds.
    * Both [[GraftNode.db]] forms fill it; [[snapshot]] reads it. */
  private[http] final case class AttrFamily(a: String, strs: Long, longs: Long, doubles: Long,
      bools: Long, keywords: Long, maxPerEntity: Long)

  private[http] object AttrFamily {
    /** The summary of driver-side quads grouped by attribute. */
    def of(byAttr: Map[String, Seq[Quad]]): Seq[AttrFamily] =
      byAttr.iterator.map { case (a, qs) =>
        AttrFamily(a, qs.count(_._3 != null), qs.count(_._4.isDefined),
          qs.count(_._5.isDefined), qs.count(_._6.isDefined),
          qs.count(q => q._3 != null && q._3.startsWith(":")),
          qs.groupBy(_._1).valuesIterator.map(_.size.toLong).max)
      }.toSeq
  }

  /** The snapshot's Datalog source: quads (built on first use), `leaf`, and
    * the attribute types, reference and cardinality-many attributes of `fams`. */
  private[http] def snapshot(quads: => DataFrame, fams: Seq[AttrFamily],
      leaf: (String, String) => Option[DataFrame] = (_, _) => None): graft.datalog.QuadSource = {
    val attrTypes = fams.map { f =>
      val present = Seq("v_str" -> f.strs, "v_num" -> f.longs,
        "v_dbl" -> f.doubles, "v_bool" -> f.bools).filter(_._2 > 0).map(_._1)
      f.a -> (present match {
        case Seq(one) => one
        case Seq() => "v_str" // nil-only facts
        case _ => graft.datalog.QuadSource.Mixed
      })
    }.toMap
    // an attribute whose every value is a keyword MAY reference entities —
    // the reference follows any pull-join value that resolves to an
    // entity (pull.clj); joins on non-entity keywords simply find nothing
    val refAttrs = fams.collect { case f if f.keywords > 0 && f.keywords == f.strs &&
      f.longs + f.doubles + f.bools == 0 => f.a }.toSet
    val multiAttrs = fams.collect { case f if f.maxPerEntity > 1 => f.a }.toSet
    new graft.datalog.QuadSource(quads, attrTypes, refAttrs = refAttrs, multiAttrs = multiAttrs,
      leaf = leaf)
  }

  /** The node's content-addressed doc store. `resident` (hash → doc in
    * driver memory) while it fits the `tx` route's bound, so a tx adds
    * docs and a snapshot reads their facts with no job; `frame` is then a
    * LocalRelation built on first use. Otherwise `frame` alone, the
    * distributed form. Immutable, so a fork shares it. */
  private[http] final class DocStore private (spark: SparkSession,
      val resident: Option[Map[String, Doc]], distributed: DataFrame) {

    lazy val frame: DataFrame = resident match {
      case Some(byHash) =>
        import spark.implicits._
        byHash.iterator.map { case (h, d) => (h, d.json) }.toSeq.toDF("content_hash", "doc")
      case None => distributed
    }

    def lookup(hash: String): Option[String] = resident match {
      case Some(byHash) => byHash.get(hash).map(_.json)
      case None => frame.filter(col("content_hash") === hash).limit(1).collect()
        .headOption.map(_.getAs[String]("doc"))
    }

    /** This store plus `docs`: still resident while the union fits the
      * bound (each new doc's facts parsed here, once), else the
      * distributed union, deduped and checkpointed. */
    def add(docs: Seq[(String, String)]): DocStore =
      resident.map(byHash => byHash ++ docs.iterator.filterNot(d => byHash.contains(d._1))
        .map { case (h, json) => val d = new Doc(json); d.facts; h -> d })
        .filter(_.size <= TxDriver.maxRows(spark)) match {
        case Some(byHash) => DocStore.resident(spark, byHash)
        case None =>
          import spark.implicits._
          new DocStore(spark, None, frame.unionByName(docs.toDF("content_hash", "doc"))
            .distinct().localCheckpoint(true))
      }

    /** Keep only the docs whose hash is in `live`; returns the new store
      * and how many docs it dropped. A resident store pulls its kept
      * docs (at most its own size) back to the driver. */
    def retain(live: DataFrame): (DocStore, Long) = {
      val kept = frame.join(live, Seq("content_hash"), "left_semi")
      resident match {
        case Some(byHash) =>
          val next = kept.collect().map(r => r.getString(0) -> byHash(r.getString(0))).toMap
          (DocStore.resident(spark, next), (byHash.size - next.size).toLong)
        case None =>
          val before = frame.count()
          val cp = kept.localCheckpoint(true)
          (new DocStore(spark, None, cp), before - cp.count())
      }
    }
  }

  private[http] object DocStore {
    def resident(spark: SparkSession, byHash: Map[String, Doc]): DocStore =
      new DocStore(spark, Some(byHash), null)

    /** A loaded doc frame: resident when it is a LocalRelation within the
      * bound (read with no job), else kept as the distributed form. */
    def of(d: DataFrame): DocStore = {
      val spark = d.sparkSession
      val pulled = if (!d.isLocal) None else graft.sources.Route.collect(
        d.select(col("content_hash"), col("doc")), TxDriver.maxRows(spark))
      pulled.fold(new DocStore(spark, None, d))(rows => resident(spark,
        rows.iterator.filter(!_.isNullAt(0)).map(r => r.getString(0) -> new Doc(r.getString(1))).toMap))
    }
  }
}
