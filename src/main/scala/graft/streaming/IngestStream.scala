package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.bitemp.{TxDriver, TxLog}
import graft.sources.Route

/** Typed rows for [[IngestStream.sessions]] (flatMapGroupsWithState). */
final case class SessionEvent(user_id: Long, tst: java.sql.Timestamp, ts_us: Long, v_scaled: Long)
final case class SessionState(start_us: Long, end_us: Long, n: Long, total_scaled: Long)
final case class SessionRow(user_id: Long, start_us: Long, end_us: Long, n_events: Long, total_scaled: Long)

/** Streaming ingestion (SURVEY §2.9): the reference's sequential indexer —
  * a strictly ordered fold of tx events into index state
  * (crux-core/src/crux/tx.clj:266-391) — re-expressed as Structured
  * Streaming `foreachBatch` with ONE writer: micro-batch id = tx id, ops
  * within a batch applied through [[TxLog.applyTxParts]] in batch order.
  *
  * State is a versioned parquet "index store": `base-<tx>/` full
  * snapshots plus `delta-<tx>/` per-batch appends, named by `commit-<tx>`
  * manifest files (highest id = current). A manifest holds `base=`,
  * `deltas=` and `epoch=` lines; the epoch is a random id the store's
  * first commit writes and every later commit carries, so a store
  * deleted and recreated at the same path is a different store. A batch
  * appends ONLY its delta (the versions table is append-only outside
  * eviction — `TxLog.resolvedHistory` supersedes by max tx_id), so the
  * per-batch write cost is O(batch), not O(total history). Every
  * `compactEvery` batches — and on any evict — the store compacts into a
  * fresh base dir.
  *
  * The parquet store is the durable log. Beside it the writer keeps a
  * driver-resident mirror of the committed state ([[StoreMirror]]): the
  * version rows and each maintained view's folded rows, for as long as
  * the store fits the `tx` size route's bound
  * (`spark.graft.route.tx.maxRows`, default 2^17 rows). Under the bound a
  * batch applies in memory ([[graft.bitemp.TxDriver]]'s `State.applyTx`,
  * the one in-memory tx the node runs too, over the distributed path's
  * per-entity fold) and writes its parquet from the driver rows, and
  * [[loadState]]/[[loadView]] answer from the mirror without listing or
  * scanning parquet. Over the bound, with the
  * bound at 0, for a store another writer commits to, or in a JVM that
  * did not write the store, every call runs the distributed parquet
  * plans.
  *
  * Crash safety follows the reference's checkpoint protocol
  * (crux-core/src/crux/checkpoint.clj:94-113, same shape as
  * [[graft.bitemp.Checkpoint]]): data dirs land first, then the manifest
  * is moved into place atomically; the live state is NEVER deleted before
  * its replacement's manifest is committed, and stale dirs are pruned
  * only after commit. All filesystem access goes through the Hadoop
  * `FileSystem` of the state path, so the store may live on HDFS/S3/local
  * alike.
  */
object IngestStream {

  /** What a commit manifest names: the base snapshot dir (if any), the
    * delta dirs layered over it in tx order, and the store's `epoch` — a
    * random id the store's first commit writes and every later commit
    * carries (None for a manifest written before epochs existed). */
  final case class StateManifest(txId: Long, base: Option[String], deltas: Seq[String],
      epoch: Option[String] = None)

  private val CommitFile = "commit-(\\d+)".r

  private def hfs(dir: String, conf: org.apache.hadoop.conf.Configuration =
      new org.apache.hadoop.conf.Configuration()): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)

  /** Decode a Kafka-shaped frame (the columns `readStream.format("kafka")`
    * yields: binary key/value + topic/partition/offset/timestamp) into
    * [[TxLog.opSchema]] op rows. The record value is a JSON op document —
    * the reference serializes tx ops onto its Kafka tx-log the same way
    * (nippy-encoded there; crux-kafka/src/crux/kafka.clj:170-190) — and
    * the Kafka offset supplies the intra-tx seq when the document carries
    * none, preserving in-partition submit order. */
  def decodeKafkaOps(kafka: DataFrame): DataFrame =
    kafka.select(
        from_json(col("value").cast("string"), TxLog.opSchema).as("o"),
        col("offset"))
      .select(col("o.op"), col("o.eid"), col("o.content_hash"),
        col("o.start_vt"), col("o.end_vt"), col("o.at_vt"),
        col("o.expected_hash"),
        coalesce(col("o.seq"), col("offset")).as("seq"))

  /** Kafka tx-log constructor behind the same API as [[start]] — the
    * reference's primary tx-log transport (crux-kafka/src/crux/kafka.clj:
    * 219-247 creates the single-partition tx-topic; one partition == one
    * total order, which is exactly the single-writer contract [[start]]
    * assumes). No broker exists in this sandbox, so the decode plan is
    * exercised by StreamingSpec over a Kafka-shaped frame; against a real
    * cluster this is `readStream.format("kafka")` verbatim. */
  def startKafka(spark: SparkSession, brokers: String, topic: String,
      stateDir: String, checkpointDir: String,
      txTime: Long => java.time.LocalDateTime =
        _ => java.time.LocalDateTime.now(java.time.Clock.systemUTC()),
      secondarySinks: Seq[(DataFrame, Long) => Unit] = Nil,
      compactEvery: Int = 16): StreamingQuery = {
    val kafka = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
    start(spark, decodeKafkaOps(kafka), stateDir, checkpointDir,
      txTime, secondarySinks, compactEvery)
  }

  /** Start the single-writer ingest: `opsStream` rows follow
    * [[TxLog.opSchema]] (including intra-tx seq); each micro-batch
    * commits as one transaction.
    *
    * @param secondarySinks replayed per committed tx with (ops, txId) —
    *   the reference's secondary-index hook (crux-core/src/crux/tx.clj:
    *   400-410; the Lucene module plugs in exactly here,
    *   crux-lucene/src/crux/lucene.clj:193-260)
    * @param compactEvery fold the delta stack into a fresh base snapshot
    *   once it reaches this many layers (readers union base + deltas, so
    *   the stack depth is a scan-fanout knob, not a correctness one)
    */
  def start(spark: SparkSession, opsStream: DataFrame, stateDir: String,
      checkpointDir: String,
      txTime: Long => java.time.LocalDateTime =
        _ => java.time.LocalDateTime.now(java.time.Clock.systemUTC()),
      secondarySinks: Seq[(DataFrame, Long) => Unit] = Nil,
      compactEvery: Int = 16,
      matViewDir: Option[String] = None,
      txShape: Option[TxLog.TxShape] = None,
      views: Seq[ViewDef] = Seq(typeCountsView),
      txPartitions: Option[Int] = None,
      viewCompactEvery: Int = 8,
      viewFlushEvery: Int = 1): StreamingQuery = {
    opsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (ops: DataFrame, batchId: Long) =>
        val sp = ops.sparkSession
        // declaring txPartitions asserts the feed is interactive-sized:
        // shuffles get the declared static partition count AND adaptive
        // execution turns OFF for the batch body — AQE runs inside
        // foreachBatch (the engine only disables it for the streaming
        // plan itself), and its per-query-stage jobs + replanning
        // dominate a small tx's wall time. A 100 TB feed leaves
        // txPartitions unset and keeps the session defaults (AQE
        // coalesce/skew handling earn their keep at that size).
        def run(): Unit = applyToStore(sp, ops, batchId, stateDir,
          txTime(batchId), secondarySinks, compactEvery, matViewDir,
          txShape, views, viewCompactEvery, viewFlushEvery)
        txPartitions match {
          case Some(n) => graft.sources.SessionConf.withBatchScale(sp, n)(run())
          case None => run()
        }
      }
      .start()
  }

  /** Apply ONE transaction's ops to the state store: replay guard, fold,
    * delta/base write, secondary sinks, matview maintenance, manifest
    * commit, prune. This is the foreachBatch body of [[start]], factored
    * out so non-Spark-source transports — the JDBC polling subscription
    * ([[graft.sources.JdbcLog.subscribe]]), the reference's
    * handle-polling-subscription shape (crux-jdbc/src/crux/jdbc.clj:
    * 152-154) — drive the SAME sequential indexer. Idempotent per txId
    * (the commit manifest is the replay guard).
    *
    * While the store's mirror is resident and the batch's ops fit the
    * `tx` route bound, the batch folds in driver memory and writes its
    * parquet from the driver rows ([[applyResident]]); otherwise it runs
    * the distributed plan ([[applyDistributed]]). Both write the same
    * layout. */
  def applyToStore(sp: SparkSession, ops: DataFrame, batchId: Long,
      stateDir: String, txTimeOfBatch: java.time.LocalDateTime,
      secondarySinks: Seq[(DataFrame, Long) => Unit] = Nil,
      compactEvery: Int = 16,
      matViewDir: Option[String] = None,
      txShape: Option[TxLog.TxShape] = None,
      views: Seq[ViewDef] = Seq(typeCountsView),
      viewCompactEvery: Int = 8,
      viewFlushEvery: Int = 1): Unit = {
        // all state IO rides the session Hadoop conf (incl. this replay
        // guard) so HDFS/S3 credentials configured on the session apply
        val conf = sp.sessionState.newHadoopConf()
        // replay guard: if a commit manifest already covers this batch (we
        // crashed between the state commit and Spark's checkpoint commit),
        // re-applying would duplicate version rows — idempotent skip
        val cur = currentManifest(stateDir, conf)
        if (cur.exists(_.txId >= batchId)) ()
        else {
          val fs = hfs(stateDir, conf)
          // the store's identity: minted by its first commit, carried by
          // every later one (a store recreated at the same path gets a new
          // one, so no memo of the old store can answer for it)
          val epoch = cur.flatMap(_.epoch).getOrElse(java.util.UUID.randomUUID().toString)
          // _viewmeta (measures + owning state dir) exists from the FIRST
          // tx, not the first flush — a group-committed stream may run
          // many txs before any flush, and readers need the sidecar to
          // detect (or auto-resolve) the unflushed tail. Once written for
          // this store epoch the mirror remembers it, so the exists()
          // probe is not paid per tx.
          val metaKnown = StoreMirror.metaWritten(sp, stateDir, epoch)
          val viewDirs = matViewDir.toSeq.flatMap(vd => views.map(v => (vd, v)))
          viewDirs.foreach { case (vd, v) =>
            val dir = s"$vd/${v.name}"
            if (!metaKnown(dir)) writeViewMeta(hfs(vd, conf),
              new org.apache.hadoop.fs.Path(dir), v.measures.map(_._1), stateDir)
          }
          // GROUP COMMIT for the views: flush only when a view's span
          // since its last committed flush reaches viewFlushEvery txs, or
          // the tx evicts (evict destroys journal rows a later flush
          // would need — flush before destroying). Skipped flushes lose
          // nothing: the state journal re-derives any span's delta at the
          // next flush, and [[loadView]]'s catch-up keeps readers exact
          // in between. viewFlushEvery trades per-tx write constants
          // against catch-up span size — at 1 (default) every tx flushes.
          def flushDue(aborted: Boolean, hasEvict: Boolean): Boolean =
            !aborted && matViewDir.exists { vd =>
              hasEvict || viewFlushEvery <= 1 ||
                views.exists(v => batchId + 1 -
                  viewIds(hfs(vd, conf), s"$vd/${v.name}", None).highWater > viewFlushEvery)
            }
          val routed = StoreMirror.forWrite(sp, stateDir, cur, storedState(sp, stateDir, cur))
            .flatMap(snap => Route.attempt(applyResident(sp, ops, batchId, txTimeOfBatch,
              stateDir, cur, snap, compactEvery, matViewDir, txShape, views,
              viewCompactEvery, flushDue, conf)))
          val (next, after, cleanup) = routed match {
            case Some((m, snap)) => (m, Some(snap), () => ())
            case None =>
              val (m, c) = applyDistributed(sp, ops, batchId, txTimeOfBatch, stateDir,
                cur, compactEvery, matViewDir, txShape, views, viewCompactEvery, flushDue)
              (m, None, c)
          }
          // sinks run BEFORE the manifest commit: the commit marker is the
          // replay guard, so a crash between the two replays the batch into
          // the (idempotent) sinks — at-least-once delivery, matching the
          // reference's secondary-index contract (tx.clj:400-410 indexes
          // secondaries inside the same tx before the tx is marked done)
          secondarySinks.foreach(sink => sink(ops, batchId))
          val committed = next.copy(epoch = Some(epoch))
          commitManifest(stateDir, committed, conf)
          // the mirror advances only once the commit is durable
          StoreMirror.committed(sp, stateDir, committed, after.map(_.at(committed)),
            viewDirs.map { case (vd, v) => s"$vd/${v.name}" }.toSet)
          pruneStale(fs, stateDir, conf)
          // delta landed + sinks ran: drop this tx's cached frames so
          // block-manager entries stay flat across a long-running stream
          cleanup()
        }
  }

  /** Label the per-tx jobs (Spark UI / profiling attribution). */
  private def labeled[A](sp: SparkSession, batchId: Long, what: String)(f: => A): A = {
    sp.sparkContext.setJobDescription(s"graft-tx-$batchId $what")
    try f finally sp.sparkContext.setJobDescription(null)
  }

  /** The batch on the resident mirror: the ops are pulled in one bounded
    * collect ([[TxDriver.opsOf]]), applied to the mirror's state by
    * [[TxDriver.State.applyTx]], and the delta — or on compaction/evict
    * the base — is written from the driver rows in one job. Each flushed
    * view aggregates its in-memory signed rows in one job and writes the
    * collected delta in one more. Returns the manifest to commit and the
    * snapshot that matches it; None sends the batch to
    * [[applyDistributed]]: ops over the bound, a null `seq` or `eid`, an
    * op kind applyTx does not model, or ops a declared `txShape` rules
    * out (the check-free fold would ignore them). */
  private def applyResident(sp: SparkSession, ops: DataFrame, batchId: Long,
      txTime: java.time.LocalDateTime, stateDir: String, cur: Option[StateManifest],
      snap: StoreMirror.Snapshot, compactEvery: Int, matViewDir: Option[String],
      txShape: Option[TxLog.TxShape], views: Seq[ViewDef], viewCompactEvery: Int,
      flushDue: (Boolean, Boolean) => Boolean,
      conf: org.apache.hadoop.conf.Configuration)
      : Option[(StateManifest, StoreMirror.Snapshot)] = {
    val bound = TxDriver.maxRows(sp)
    for {
      txOps <- TxDriver.opsOf(ops, bound)
      if txShape.forall(sh =>
        (sh.hasChecks || !txOps.exists(o => o.op == "match" || o.op == "cas")) &&
          (sh.hasEvict || !txOps.exists(_.op == "evict")))
    } yield {
      val hasEvict = txShape.fold(txOps.exists(_.op == "evict"))(_.hasEvict)
      val applied = snap.state.applyTx(txOps, batchId, txTime)
      val a = applied.getOrElse(TxDriver.Applied(snap.state, Map.empty, Set.empty))
      def write(dir: String, rows: Iterator[org.apache.spark.sql.Row]): Unit =
        StoreMirror.single(sp, rows.toSeq, TxLog.versionSchema)
          .write.mode("overwrite").parquet(s"$stateDir/$dir")
      val viewsOf = matViewDir.filter(_ => flushDue(applied.isEmpty, hasEvict)).map { vd =>
        () => labeled(sp, batchId, "view maintenance")(maintainResident(sp, vd, views,
          batchId, snap, StoreMirror.Folded(snap.state, a.emitted, a.evicted,
            txOps.iterator.map(_.eid).toSet),
          viewCompactEvery, bound, conf))
      }
      val (next, state, vs) = commitBatch(sp, batchId, cur, compactEvery,
        applied.isEmpty, hasEvict, viewsOf)(
        kept = a.state,
        compact = { dir =>
          // the distributed compaction's dropDuplicates("eid", "vt", "tx_id")
          // of the repeated rows a range restore re-emits
          val c = TxDriver.State(a.state.byEid.map { case (e, hist) =>
            e -> hist.distinctBy(v => (v.vt, v.txId)) })
          write(dir, c.rows); c
        },
        append = { dir =>
          write(dir, a.emitted.valuesIterator.flatMap(_.iterator.map(_.toRow)))
          a.state
        })
      val (viewRows, declined) = vs.getOrElse((snap.views, snap.declinedViews))
      (next, new StoreMirror.Snapshot(None, state, viewRows, declined))
    }
  }

  /** One ingest batch's commit policy, for both routes: an aborted batch
    * advances the tx id over the same data dirs (the state is `kept`);
    * an evict, or a delta stack that reaches `compactEvery`, compacts
    * into a fresh `base-<tx>` dir (`compact` writes it; the old dirs stay
    * live until the manifest commits); any other batch appends its
    * `delta-<tx>` dir (`append`). When views flush this batch, the state
    * write runs on a pool thread beside `views` (the two share only the
    * batch's fold) and is joined even when the views fail, so no write
    * outlives the call. Returns the manifest to commit, the state
    * writer's value and the views'. */
  private def commitBatch[S, V](sp: SparkSession, batchId: Long, cur: Option[StateManifest],
      compactEvery: Int, aborted: Boolean, hasEvict: Boolean, views: Option[() => V])(
      kept: => S, compact: String => S, append: String => S): (StateManifest, S, Option[V]) = {
    val (base, deltas) = (cur.flatMap(_.base), cur.toSeq.flatMap(_.deltas))
    def writeState(): (StateManifest, S) =
      if (aborted) (StateManifest(batchId, base, deltas), kept)
      else if (hasEvict || cur.exists(_.deltas.size + 1 >= compactEvery)) {
        val dir = s"base-$batchId"
        (StateManifest(batchId, Some(dir), Nil),
          labeled(sp, batchId, "state compact+fold")(compact(dir)))
      } else {
        val dir = s"delta-$batchId"
        (StateManifest(batchId, base, deltas :+ dir),
          labeled(sp, batchId, "delta fold+write")(append(dir)))
      }
    views match {
      case None =>
        val (m, st) = writeState()
        (m, st, None)
      case Some(run) =>
        val stateF = forked(sp)(writeState())
        val viewsT = scala.util.Try(run())
        val (m, st) = scala.concurrent.Await.result(stateF, scala.concurrent.duration.Duration.Inf)
        (m, st, Some(viewsT.get))
    }
  }

  /** Run `f` on a pool thread under the caller's job group, so its jobs
    * are attributed and cancelled with the caller's (a pool thread keeps
    * the local properties of whichever thread created it). */
  private def forked[A](sp: SparkSession)(f: => A): scala.concurrent.Future[A] = {
    val sc = sp.sparkContext
    val keys = Seq("spark.jobGroup.id", "spark.job.interruptOnCancel", "spark.scheduler.pool")
    val props = keys.map(k => k -> sc.getLocalProperty(k))
    scala.concurrent.Future {
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try f finally keys.foreach(sc.setLocalProperty(_, null))
    }(scala.concurrent.ExecutionContext.global)
  }

  /** The batch's distributed plan: the touched-history fold over the
    * committed parquet stack, the delta or base write, and the views'
    * span deltas. Returns the manifest to commit and the cleanup to run
    * after it. */
  private def applyDistributed(sp: SparkSession, ops: DataFrame, batchId: Long,
      txTimeOfBatch: java.time.LocalDateTime, stateDir: String,
      cur: Option[StateManifest], compactEvery: Int, matViewDir: Option[String],
      txShape: Option[TxLog.TxShape], views: Seq[ViewDef], viewCompactEvery: Int,
      flushDue: (Boolean, Boolean) => Boolean): (StateManifest, () => Unit) = {
    val current = storedState(sp, stateDir, cur)
    // ops carry their own intra-tx seq (opSchema) — no global-window
    // renumbering; a single unpartitioned sort would serialize at scale
    // a producer whose op mix is fixed (pure put/delete feeds are
    // the norm) declares it once and every batch skips the
    // shape-probe job — same contract as TxLog.TxShape for
    // interactive txs
    // Check-free batches (the declared norm: pure put/delete/evict
    // feeds) take the ONE-SHUFFLE fold ([[TxLog.applyPutDeleteTxs]],
    // differential-spec'd against the sequential path) instead of
    // the join+window tx plan — at micro-batch latency the
    // scheduler round-trips of the multi-shuffle plan dominate, and
    // a check-free tx can never abort so the eager precondition
    // machinery buys nothing. The touched-eid resolve for the
    // matviews is passed as a LAZY plan: it executes inside the
    // view write's single action, only when a view is maintained.
    val parts = txShape match {
      case Some(sh) if !sh.hasChecks =>
        // ONE state scan per batch: the touched entities' history is
        // cached LAZILY and feeds BOTH the fold (as its pruned
        // state) and the matviews' before-resolve — the first
        // action (the delta write) fills the cache as a side
        // effect, the view write reads the cached rows. (An eager
        // localCheckpoint here would spend a whole extra job per tx
        // just materializing; persist on the SAME DataFrame object
        // is a guaranteed cache hit for every later consumer.)
        // no .distinct() on the broadcast side: a left_semi probe
        // tolerates duplicate build rows, and the distinct was one
        // whole shuffle+job per tx just to shrink an already-tiny
        // broadcast
        val histTouched = current.join(
            broadcast(ops.select(col("eid"))),
            Seq("eid"), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val (newRows, evictEids) = TxLog.applyPutDeleteTxs(
          histTouched, Seq((batchId, txTimeOfBatch, ops)),
          stateIsPruned = true)
        TxLog.TxParts(newRows, evictEids, sh.hasEvict, aborted = false,
          cleanup = () => { histTouched.unpersist(); () },
          resolvedTouched = histTouched)
      case _ =>
        TxLog.applyTxParts(current, ops, batchId, txTimeOfBatch, txShape)
    }
    val delta = parts.newRows
    // When views flush this tx, the state write and the view
    // maintenance both derive from the cached fold (histTouched + ops)
    // and run concurrently ([[commitBatch]]): the block manager's
    // per-block locks compute each partition exactly once even with both
    // jobs racing for it. Both complete before the manifest commits (a
    // committed vdelta with an uncommitted manifest is handled by
    // maintainViews' replay skip).
    val wantViews = flushDue(parts.aborted, parts.hasEvict)
    val deltaCached =
      if (wantViews)
        delta.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else delta
    val viewsOf = matViewDir.filter(_ => wantViews).map { vd =>
      () => labeled(sp, batchId, "view maintenance") {
        // per-view span source: a view whose high-water is exactly
        // the previous tx rides the tx's own cached frames (zero
        // extra store scans); a lagging view (group-committed span,
        // or a crash between two views' writes) rebuilds its span
        // from the journal
        val signedFor: Long => DataFrame = fromTx =>
          if (fromTx == batchId - 1)
            signedFromFrames(parts.resolvedTouched, deltaCached,
              parts.evictEids, parts.hasEvict)
          else
            signedFromJournal(current.unionByName(deltaCached), fromTx,
              parts.evictEids, parts.hasEvict)
        maintainViews(sp, vd, views, batchId, signedFor, viewCompactEvery)
      }
    }
    // evict emptiness is driver-known (TxParts.hasEvict) — no extra job
    // to decide compaction
    val (next, _, _) = commitBatch(sp, batchId, cur, compactEvery,
      parts.aborted, parts.hasEvict, viewsOf)(
      kept = (),
      compact = { dir =>
        val pruned =
          if (parts.hasEvict)
            current.join(broadcast(parts.evictEids), Seq("eid"), "left_anti")
          else current
        pruned.unionByName(deltaCached)
          .dropDuplicates("eid", "vt", "tx_id") // restore-row dups
          .write.mode("overwrite").parquet(s"$stateDir/$dir")
      },
      // ONE file per delta — every later tx's state scan opens the whole
      // delta stack, so file fanout is the read-side constant that
      // compounds. The fold's reduce keeps its declared parallelism:
      // repartition(1) caps the file count after a shuffle boundary (a
      // coalesce(1) here would run the reduce itself in one task)
      append = dir => deltaCached.repartition(1).write.mode("overwrite")
        .parquet(s"$stateDir/$dir"))
    (next, () => { if (wantViews) deltaCached.unpersist(); parts.cleanup() })
  }

  /** One incrementally-maintained materialized view over the CURRENT
    * snapshot (resolved version rows: latest non-tombstone fact per eid),
    * declared in the signed-delta (weighted multiset) normal form classic
    * IVM uses: `rows` is a ROW-LEVEL transform of snapshot rows (it may
    * join STATIC dimension tables, derive columns, or filter — anything
    * that maps each input row independently and preserves every column it
    * doesn't touch), `keys` are the view's grouping columns, and each
    * measure is an expression summed per key, with the required count
    * measure `n` (expression `lit(1L)`) as the liveness witness — a key
    * whose `n` folds to 0 has left the view.
    *
    * Structuring views this way is what makes maintenance a SINGLE
    * aggregation pass: each touched entity's before-image flows through
    * `rows` with weight −1 and its after-image with weight +1, and
    * `sum(weight × measure)` per key IS the view delta — algebraically
    * identical to `agg(after) − agg(before)` for count/sum (and avg as
    * sum÷count at read time), without computing two aggregates whose
    * shared resolve the optimizer can't dedup (column pruning
    * specializes each branch's copy, defeating exchange reuse).
    *
    * `rows` must keep the `_sign` weight column intact (a join or
    * withColumn does so naturally; a select must carry it through). */
  final case class ViewDef(name: String, keys: Seq[String],
      measures: Seq[(String, Column)] = Seq("n" -> lit(1L)),
      rows: DataFrame => DataFrame = identity) {
    require(measures.map(_._1).contains("n"),
      s"view $name: measures must include the count measure 'n'")
  }

  /** Apply a view definition to a full snapshot — the recompute the
    * incremental maintenance must agree with (spec'd + oracle-gated). */
  def computeView(v: ViewDef, snapshot: DataFrame): DataFrame = {
    val aggs = v.measures.map { case (m, e) => sum(e).as(m) }
    v.rows(snapshot).groupBy(v.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The default view: live entity count per content_hash — the "how many
    * docs of each type" dashboard query, answered without the version log. */
  val typeCountsView: ViewDef = ViewDef("type_counts", keys = Seq("content_hash"))

  /** The (vt, tt) basis both signed-delta paths resolve at: past every
    * valid and transaction time the store holds. */
  private val SignedBasis = java.time.LocalDateTime.parse("2099-01-01T00:00")

  /** DUAL-WINNER resolve → SIGNED delta rows, from membership-tagged
    * version rows: one groupBy picks each touched entity's before- and
    * after-winner (`max_by(vt, tx_id)` per side, exactly
    * [[graft.bitemp.Bitemp.asOfTime]]'s resolution — max_by ignores rows
    * whose membership-masked ordering is null), then each winner explodes
    * into its after-image at weight +1 and its before-image at weight −1
    * (dead/evicted/tombstone sides drop out). Every view folds its delta
    * in ONE aggregation pass — sum(_sign × measure) per key ≡
    * agg(after) − agg(before). This is deliberately NOT a union of two
    * aggregates: column pruning would specialize each branch's copy of
    * the winners subplan (before-only vs after-only columns), the
    * branches' exchanges stop being equal, and exchange reuse can't dedup
    * the resolve. */
  private def winnersToSigned(tagged: DataFrame, payload: Seq[String]): DataFrame = {
    val basis = lit(SignedBasis)
    val stc = struct(payload.map(col): _*)
    val ord = struct(col("vt"), col("tx_id"))
    val winners = tagged
      .filter(col("vt") <= basis && col("tt") <= basis)
      .groupBy(col("eid")).agg(
        max_by(when(col("_b"), stc), when(col("_b"), ord)).as("_before"),
        max_by(when(col("_a"), stc), when(col("_a"), ord)).as("_after"))
    winners
      .select(explode(array(
          struct(lit(1L).as("_sign"), col("_after").as("_p")),
          struct(lit(-1L).as("_sign"), col("_before").as("_p")))).as("sp"))
      .filter(col("sp._p").isNotNull && !col("sp._p.tombstone"))
      .select(col("sp._sign").as("_sign") +:
        payload.map(c => col("sp._p").getField(c).as(c)): _*)
  }

  /** Signed span delta (fromTx, now] built from explicit before/after
    * FRAMES — the single-tx fast path: `resolvedBefore` is the tx's own
    * cached touched-history resolve (zero extra store scans), `deltaRows`
    * the tx's cached fold output. Valid only when the view's high-water
    * is exactly the previous tx. */
  private def signedFromFrames(resolvedBefore: DataFrame, deltaRows: DataFrame,
      evictEids: DataFrame, hasEvict: Boolean): DataFrame = {
    val payload = resolvedBefore.columns.toSeq
    val beforeTagged =
      if (hasEvict)
        resolvedBefore.join(broadcast(evictEids.withColumn("_ev", lit(true))),
            Seq("eid"), "left")
          .withColumn("_b", lit(true)).withColumn("_a", col("_ev").isNull)
          .drop("_ev")
      else resolvedBefore.withColumn("_b", lit(true)).withColumn("_a", lit(true))
    val tagged = beforeTagged.unionByName(
      deltaRows.withColumn("_b", lit(false)).withColumn("_a", lit(true)))
    winnersToSigned(tagged, payload)
  }

  /** Signed span delta (fromTx, now] built from the state JOURNAL — the
    * version stack is a complete log (every row carries its `tx_id`), so
    * any view delta over any tx span is recomputable from it: touched
    * entities are those with a row in the span, before-membership is
    * `tx_id <= fromTx`, after-membership everything surviving `evictEids`.
    * This is what makes GROUP-COMMIT view maintenance safe: skipped
    * flushes lose no information, a later flush (or a read-time catch-up)
    * derives the span's exact delta from the journal. Evict is the one
    * destructive exception — it removes journal rows — so evict txs force
    * a flush and a catch-up span never crosses one. */
  private def signedFromJournal(stack: DataFrame, fromTx: Long,
      evictEids: DataFrame, hasEvict: Boolean): DataFrame = {
    val payload = stack.columns.toSeq
    // evicted eids may have NO journal row in the span (evict removes
    // rows, it doesn't write them) — they are touched all the same, their
    // before-image must flow out at weight −1. A span from the journal's
    // origin (fromTx < 0, e.g. a never-flushed view's read-time catch-up)
    // touches every entity by definition, so the prune would be a
    // pass-through costing a distinct + broadcast join — skip it.
    val hist =
      if (fromTx < 0 && !hasEvict) stack
      else {
        val spanEids = stack.filter(col("tx_id") > fromTx).select("eid")
        val touched = (if (hasEvict) spanEids.unionByName(evictEids.select("eid"))
          else spanEids).distinct()
        stack.join(broadcast(touched), Seq("eid"), "left_semi")
      }
    val tagged =
      if (hasEvict)
        hist.join(broadcast(evictEids.withColumn("_ev", lit(true))),
            Seq("eid"), "left")
          .withColumn("_b", col("tx_id") <= fromTx)
          .withColumn("_a", col("_ev").isNull)
          .drop("_ev")
      else hist.withColumn("_b", col("tx_id") <= fromTx)
        .withColumn("_a", lit(true))
    winnersToSigned(tagged, payload)
  }

  /** One view's delta aggregate over a signed span. */
  private def viewDelta(v: ViewDef, signed: DataFrame): DataFrame = {
    val aggs = v.measures.map { case (m, e) => sum(col("_sign") * e).as(m) }
    v.rows(signed).groupBy(v.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Flush every view's span delta up to `txId`.
    *
    * O(span touched) per flush, not O(store): `signedFor(fromTx)` hands
    * each view the signed weighted rows of its span (fromTx, txId] — the
    * caller picks the cached single-tx fast path or the journal rebuild.
    * A full recompute per flush would re-resolve the entire store — the
    * thing that stops scaling first; equivalence of the maintained views
    * with that recompute is pinned by StreamingSpec and the
    * `stream_matview` / `stream_matview_join` / `stream_matview_sum`
    * oracle gates.
    *
    * Storage is a per-view DELTA LOG mirroring the state store's own
    * base/delta discipline: each flush appends only `vdelta-<txId>` — its
    * O(span touched keys) signed delta aggregate, ONE write action per
    * view, never a merged-view rewrite — and every `compactEvery` deltas
    * the stack folds into a `vbase-<txId>` snapshot (deltas the base
    * subsumes are pruned; the 2 newest bases are kept, mirroring
    * [[pruneStale]]). [[loadView]] merges base + trailing deltas at read
    * time — O(view keys + compactEvery × span touched keys), independent
    * of history length.
    *
    * Crash safety: a dir counts as committed only when the parquet
    * committer's `_SUCCESS` marker is present; a torn dir (crash mid-
    * write) is deleted and recomputed. If a replayed batch finds its own
    * COMMITTED `vdelta-<txId>` (a crash landed between the view write
    * and the manifest commit — or between the manifest commit and
    * Spark's checkpoint commit), maintenance SKIPS the recompute: at
    * replay time the store may already reflect the post-tx state, so a
    * recomputed delta would be ~zero. All view IO rides the same Hadoop
    * `FileSystem` as the state manifests, so `viewDir` may live on
    * HDFS/S3/local alike. */
  private def maintainViews(sp: SparkSession, viewDir: String,
      views: Seq[ViewDef], txId: Long, signedFor: Long => DataFrame,
      compactEvery: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val conf = sp.sessionState.newHadoopConf()
    val fs = hfs(viewDir, conf)
    // each view's delta write (and occasional compaction) touches only
    // its own directory and resolves its own span from shared CACHED
    // inputs — the per-view work is independent, so multi-view
    // maintenance runs the writes concurrently (same discipline as the
    // LSH stream's durable appends: all complete before this tx's
    // manifest commits)
    def maintainOne(v: ViewDef): Unit = {
      val dir = s"$viewDir/${v.name}"
      val target = new Path(s"$dir/vdelta-$txId")
      val alreadyCommitted = committedDir(fs, target)
      if (!alreadyCommitted) {
        // per-view span: each view's delta covers (its OWN high-water,
        // txId] — views normally move in lockstep, but a crash between
        // two views' writes leaves one behind, and its next flush must
        // cover the wider span (the journal builder makes that exact)
        val deltaAgg = viewDelta(v, signedFor(viewIds(fs, dir, None).highWater))
        // a dir without _SUCCESS is a torn write from a crash — the guard
        // must NOT trust it as this tx's delta (ADVICE r7)
        if (fs.exists(target)) fs.delete(target, true)
        // one file per vdelta, capped after the aggregate's shuffle
        deltaAgg.repartition(1).write.mode("overwrite").parquet(target.toString)
      }
      // compaction: fold the committed delta stack into a fresh base once
      // it is compactEvery deep (read-side merge fanout knob, not a
      // correctness one — loadView unions whatever stack exists)
      val deltaIds = listCommitted(fs, dir, "vdelta-")
      if (deltaIds.size >= compactEvery)
        compactView(fs, dir, txId, deltaIds,
          loadView(sp, viewDir, v.name, beforeTx = Some(txId + 1)).map(_.repartition(1)))
    }
    if (views.size <= 1) views.foreach(maintainOne)
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Await.result(
        Future.sequence(views.map(v => forked(sp)(maintainOne(v)))), Duration.Inf)
      ()
    }
  }

  /** Fold a view's committed delta stack into `vbase-<txId>` (written
    * from `merged`, the view's state through txId): a torn base is
    * cleared first; once the base lands the deltas it subsumes go, and
    * the 2 newest bases stay (the older is a concurrent reader's grace
    * window). */
  private def compactView(fs: org.apache.hadoop.fs.FileSystem, dir: String, txId: Long,
      deltaIds: Seq[Long], merged: => Option[DataFrame]): Unit = {
    import org.apache.hadoop.fs.Path
    val basePath = new Path(s"$dir/vbase-$txId")
    if (fs.exists(basePath)) fs.delete(basePath, true) // torn compaction
    merged.foreach { m =>
      m.write.mode("overwrite").parquet(basePath.toString)
      deltaIds.filter(_ <= txId).foreach(id =>
        fs.delete(new Path(s"$dir/vdelta-$id"), true))
      listCommitted(fs, dir, "vbase-").sorted.dropRight(2).foreach(id =>
        fs.delete(new Path(s"$dir/vbase-$id"), true))
    }
  }

  /** [[maintainViews]] on the resident mirror: each view's span delta is
    * [[viewDelta]] over the batch's in-memory signed rows
    * ([[StoreMirror.Folded.signed]]), collected in one job and written
    * from the driver rows in one more; the view's mirror folds the same
    * rows in (and writes the base from its rows on compaction). A view
    * whose mirror is missing or stale is re-seeded from its stored stack
    * once; one whose measures the merge does not know is declined for the
    * store epoch and keeps only its files. Crash handling is
    * maintainViews': a committed `vdelta-<txId>` is trusted, a torn one
    * replaced. Returns the views' rows and the declined view dirs. */
  private def maintainResident(sp: SparkSession, viewDir: String, views: Seq[ViewDef],
      txId: Long, snap: StoreMirror.Snapshot, f: StoreMirror.Folded, compactEvery: Int,
      bound: Long, conf: org.apache.hadoop.conf.Configuration)
      : (Map[String, StoreMirror.ViewRows], Set[String]) = {
    import org.apache.hadoop.fs.Path
    val fs = hfs(viewDir, conf)
    views.foldLeft((snap.views, snap.declinedViews)) { case ((vs, declined), v) =>
      val dir = s"$viewDir/${v.name}"
      val measures = v.measures.map(_._1)
      val ids0 = viewIds(fs, dir, None)
      val target = new Path(s"$dir/vdelta-$txId")
      val merged: Option[StoreMirror.ViewRows] =
        if (committedDir(fs, target)) None
        else {
          val signed = StoreMirror.single(sp,
            f.signed(ids0.highWater, txId, SignedBasis), StoreMirror.signedSchema)
          val agg = viewDelta(v, signed)
          val rows = agg.collect()
          if (fs.exists(target)) fs.delete(target, true)
          StoreMirror.single(sp, rows.toSeq, agg.schema)
            .write.mode("overwrite").parquet(target.toString)
          val prior =
            if (declined(dir)) None
            else if (ids0 == StoreMirror.ViewIds(None, Nil))
              Some(StoreMirror.emptyView(ids0, agg.schema, measures))
            else vs.get(dir).filter(vr => vr.ids == ids0 && vr.measures == measures)
          prior.flatMap(_.merge(rows, agg.schema,
            StoreMirror.ViewIds(ids0.base, ids0.deltas :+ txId)))
        }
      val deltaIds = listCommitted(fs, dir, "vdelta-")
      val compacted =
        if (deltaIds.size < compactEvery) merged
        else {
          compactView(fs, dir, txId, deltaIds, merged match {
            case Some(vr) => Some(vr.frame(sp).coalesce(1))
            case None => loadView(sp, viewDir, v.name, beforeTx = Some(txId + 1))
                .map(_.repartition(1))
          })
          merged.map(vr => vr.copy(ids = StoreMirror.ViewIds(Some(txId), Nil),
            rows = vr.rows.filter { case (_, ms) => vr.liveMeasures(ms) }))
        }
      val ids1 = viewIds(fs, dir, None)
      val now = compacted.filter(_.ids == ids1).orElse(
        if (declined(dir)) None
        else StoreMirror.seedView(ids1, storedView(sp, dir, ids1, measures), measures, bound))
      now match {
        case Some(vr) => (vs.updated(dir, vr), declined)
        case None => (vs - dir, declined + dir)
      }
    }
  }

  /** The committed ids [[loadView]] folds for `dir` (those below
    * `beforeTx`, if given). */
  private def viewIds(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      beforeTx: Option[Long]): StoreMirror.ViewIds = {
    def keep(ids: Seq[Long]) = ids.filter(id => beforeTx.forall(id < _))
    val baseId = keep(listCommitted(fs, dir, "vbase-")).sorted.lastOption
    StoreMirror.ViewIds(baseId,
      keep(listCommitted(fs, dir, "vdelta-")).filter(id => baseId.forall(id > _)).sorted)
  }

  /** A view's stored stack folded per key (every key, `n` = 0 included). */
  private def storedView(sp: SparkSession, dir: String, ids: StoreMirror.ViewIds,
      measures: Seq[String]): DataFrame =
    foldMeasures(sp.read.parquet((ids.base.map(b => s"$dir/vbase-$b").toSeq ++
      ids.deltas.map(d => s"$dir/vdelta-$d")): _*), measures)

  /** Sum each measure per key (every non-measure column is a key). */
  private def foldMeasures(stack: DataFrame, measures: Seq[String]): DataFrame = {
    val keys = stack.columns.filterNot(c => measures.contains(c))
    val sums = measures.map(m => sum(col(m)).as(m))
    stack.groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
  }

  /** `true` iff the dir's parquet write committed (its `_SUCCESS` marker
    * landed) — a bare-existence probe would trust torn writes. */
  private def committedDir(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))

  /** Ids of committed `<prefix><id>` dirs under `dir`. */
  private def listCommitted(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      prefix: String): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath)
      .filter(p => committedDir(fs, p))
      .map(_.getName.stripPrefix(prefix).toLong)
  }

  /** The view's measure columns AND its owning state dir, persisted once
    * per view as a `_viewmeta` sidecar: measures let the read path fold
    * the delta log without the ViewDef, and the state dir is what lets a
    * reader DETECT a group-committed view's unflushed tail (compare the
    * view's flushed high-water against the store's committed tx) —
    * without it a `loadView` call missing `catchUp` would silently return
    * a stale view under `viewFlushEvery` > 1 (r8 ADVICE). Written at
    * stream start (first tx), not first flush, so the staleness probe
    * exists even before any flush has happened. The writer skips the
    * exists() probe once its store's mirror records the sidecar for the
    * store epoch ([[StoreMirror.metaWritten]]), so a view dir recreated
    * with a new store always gets its sidecar. */
  private def writeViewMeta(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, measures: Seq[String],
      stateDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "_viewmeta")
    if (!fs.exists(p)) {
      fs.mkdirs(dir)
      // write-then-rename: readers consult the sidecar on every load, so
      // a racing reader must see either no file (defaults) or the whole
      // file — never a partial one it would silently parse as "no
      // measures, no state_dir" and mis-fold a sum-shaped view
      val tmp = new org.apache.hadoop.fs.Path(dir, "._viewmeta.tmp")
      val out = fs.create(tmp, true)
      try out.write(
        s"measures=${measures.mkString(",")}\nstate_dir=$stateDir\n"
          .getBytes("UTF-8"))
      finally out.close()
      if (!fs.rename(tmp, p)) fs.delete(tmp, false) // lost a benign race
    }
  }

  /** (measure columns, owning state dir if recorded). */
  private def readViewMeta(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): (Seq[String], Option[String]) = {
    val p = new org.apache.hadoop.fs.Path(dir, "_viewmeta")
    if (!fs.exists(p)) (Seq("n"), None)
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val kv = text.linesIterator.flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> v); case _ => None
      }).toMap
      (kv.get("measures").map(_.split(",").toSeq.filter(_.nonEmpty))
          .getOrElse(Seq("n")),
        kv.get("state_dir").filter(_.nonEmpty))
    }
  }

  /** Latest committed state of a maintained view (optionally as of
    * strictly before `beforeTx`): the newest base + the trailing deltas
    * folded by summing each measure per key, dead keys (`n` = 0)
    * dropped. One scan over O(view + compactEvery × touched) rows.
    *
    * While the owning store's mirror is resident, matches the store's
    * current manifest, and holds this view folded at exactly its
    * committed `vbase-`/`vdelta-` ids, the read is served from the
    * mirror instead: a LocalRelation copied from the mirror's immutable
    * rows, so collecting it runs no job, and a later commit never changes
    * a frame already handed out. A `beforeTx` that cuts off committed
    * txs, a view the mirror does not hold (another writer, a fresh JVM, a
    * measure type the mirror's merge does not know), or
    * `spark.graft.route.tx.maxRows` = 0 reads the parquet stack as
    * described here.
    *
    * With `catchUp = Some((stateDir, viewDef))` the read is exact even
    * under group-committed maintenance (`viewFlushEvery` > 1): if the
    * state store's committed tx is past the view's flushed high-water,
    * the unflushed span's delta is derived from the state journal
    * ([[signedFromJournal]] — O(span touched), bounded by
    * viewFlushEvery) and folded in. Evict txs always flush, so a
    * catch-up span never crosses one. */
  def loadView(sp: SparkSession, viewDir: String, name: String,
      beforeTx: Option[Long] = None,
      catchUp: Option[(String, ViewDef)] = None): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val conf = sp.sessionState.newHadoopConf()
    val fs = hfs(viewDir, conf)
    val dir = s"$viewDir/$name"
    val ids = viewIds(fs, dir, beforeTx)
    val dirs = ids.base.map(b => s"$dir/vbase-$b").toSeq ++
      ids.deltas.map(d => s"$dir/vdelta-$d")
    val hw = ids.highWater
    val (metaMeasures, metaStateDir) = readViewMeta(fs, new Path(dir))
    val measures = catchUp.map(_._2.measures.map(_._1)).getOrElse(metaMeasures)
    // the owning store and its newest manifest, read once: the catch-up
    // bound, the staleness probe and the mirror check all use it
    val owner = catchUp.map(_._1).orElse(metaStateDir)
      .map(sd => sd -> currentManifest(sd, conf))
    val committed = owner.flatMap(_._2)
      .map(m => beforeTx.map(b => math.min(m.txId, b - 1)).getOrElse(m.txId))
    // staleness guard (r8 ADVICE): a reader that asked for the view
    // WITHOUT catchUp under group-committed maintenance gets a result
    // missing the unflushed tail — the _viewmeta's owning state dir makes
    // that detectable, so say it loudly instead of silently serving stale
    if (catchUp.isEmpty) for ((sd, _) <- owner; t <- committed if t > hw) {
      // scalastyle:off println
      Console.err.println(
        s"loadView($name): flushed through tx $hw but the owning store " +
          s"($sd) has committed tx $t - the result is missing the " +
          "unflushed tail; pass catchUp = Some((stateDir, viewDef)) " +
          "for an exact read")
      // scalastyle:on println
    }
    val tailTo = catchUp.flatMap(_ => committed.filter(_ > hw))
    residentView(sp, dir, ids, measures, beforeTx, owner, catchUp.map(_._2), tailTo)
      .orElse {
        val tail: Option[DataFrame] = for ((stateDir, v) <- catchUp; bound <- tailTo) yield {
          val stack0 = loadState(sp, stateDir)
          val stack = if (beforeTx.isDefined)
            stack0.filter(col("tx_id") <= bound) else stack0
          viewDelta(v, signedFromJournal(stack, hw,
            stack.select("eid").limit(0), hasEvict = false))
        }
        val stored =
          if (dirs.isEmpty) None else Some(sp.read.parquet(dirs: _*))
        val stack = (stored, tail) match {
          case (Some(s), Some(t)) => Some(s.unionByName(t))
          case (s, t) => s.orElse(t)
        }
        stack.map(foldMeasures(_, measures).filter(col("n") =!= 0))
      }
  }

  /** [[loadView]] from the owning store's resident mirror: served when
    * the store's snapshot matches its current manifest, the view's rows
    * were folded at exactly the committed `ids`, and `beforeTx` cuts
    * nothing off. The frame is built from the snapshot's immutable rows
    * (no job); a catch-up tail folds the unflushed span's in-memory
    * signed rows in through one aggregate job. */
  private def residentView(sp: SparkSession, dir: String, ids: StoreMirror.ViewIds,
      measures: Seq[String], beforeTx: Option[Long],
      owner: Option[(String, Option[StateManifest])], v: Option[ViewDef],
      tailTo: Option[Long]): Option[DataFrame] =
    for {
      (stateDir, cur) <- owner
      m <- cur if beforeTx.forall(_ > m.txId)
      snap <- StoreMirror.resident(sp, stateDir, cur)
      vr <- snap.views.get(dir) if vr.ids == ids && vr.measures == measures
      folded <- (v, tailTo) match {
        case (Some(view), Some(_)) => Route.attempt {
          val span = StoreMirror.Folded(snap.state, Map.empty, Set.empty, Set.empty)
          val agg = viewDelta(view, StoreMirror.single(sp,
            span.signed(ids.highWater, Long.MaxValue, SignedBasis), StoreMirror.signedSchema))
          vr.merge(agg.collect(), agg.schema, vr.ids)
        }
        case _ => Some(vr)
      }
    } yield folded.frame(sp)

  /** Latest [[typeCountsView]] state (back-compat name). Unlike the
    * generic [[loadView]] — which cannot reconstruct an arbitrary
    * ViewDef's `rows` transform, so it can only WARN about an unflushed
    * tail — the type-counts view's definition is statically known, so
    * this read catches up AUTOMATICALLY: the owning state dir comes from
    * the explicit argument or the `_viewmeta` sidecar, and the journal
    * rebuild makes the read exact under any `viewFlushEvery`. */
  def loadTypeCounts(sp: SparkSession, viewDir: String,
      beforeTx: Option[Long] = None,
      catchUpStateDir: Option[String] = None): Option[DataFrame] = {
    val fs = hfs(viewDir, sp.sessionState.newHadoopConf())
    val metaDir = readViewMeta(fs,
      new org.apache.hadoop.fs.Path(s"$viewDir/type_counts"))._2
    loadView(sp, viewDir, "type_counts", beforeTx,
      catchUp = catchUpStateDir.orElse(metaDir).map(d => (d, typeCountsView)))
  }

  /** Write `commit-<tx>` naming the state's dirs and the store's epoch;
    * the rename is the atomic commit point (data dirs already landed; old
    * manifests and dirs are untouched until [[pruneStale]] runs AFTER
    * this returns). */
  private def commitManifest(stateDir: String, m: StateManifest,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = hfs(stateDir, conf)
    fs.mkdirs(new Path(stateDir))
    val tmp = new Path(stateDir, s"commit-${m.txId}.tmp")
    val out = fs.create(tmp, true)
    try out.write(
      (s"base=${m.base.getOrElse("")}\ndeltas=${m.deltas.mkString(",")}\n" +
        m.epoch.fold("")(e => s"epoch=$e\n")).getBytes("UTF-8"))
    finally out.close()
    val dst = new Path(stateDir, s"commit-${m.txId}")
    require(fs.rename(tmp, dst), s"state commit failed: rename $tmp -> $dst")
  }

  /** Drop manifests older than the 2 newest, and any data dir none of the
    * surviving manifests reference. Runs only after a successful commit;
    * a crash here just leaves garbage for the next prune. */
  private def pruneStale(fs: org.apache.hadoop.fs.FileSystem, stateDir: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(stateDir)
    if (!fs.exists(root)) return
    val entries = fs.listStatus(root).toSeq
    val commits = entries.flatMap(_.getPath.getName match {
      case CommitFile(id) => Some(id.toLong); case _ => None
    }).sorted
    val keepIds = commits.takeRight(2).toSet
    val live: Set[String] = keepIds.flatMap(id =>
      readManifest(stateDir, id, conf).toSeq.flatMap(m => m.base.toSeq ++ m.deltas))
    entries.foreach { st =>
      val n = st.getPath.getName
      n match {
        case CommitFile(id) if !keepIds.contains(id.toLong) =>
          fs.delete(st.getPath, false); ()
        case _ if (n.startsWith("base-") || n.startsWith("delta-")) && !live.contains(n) =>
          fs.delete(st.getPath, true); ()
        case _ if n.startsWith("commit-") && n.endsWith(".tmp") =>
          fs.delete(st.getPath, false); () // torn manifest from a crash
        case _ => ()
      }
    }
  }

  private def readManifest(stateDir: String, txId: Long,
      conf: org.apache.hadoop.conf.Configuration): Option[StateManifest] = {
    import org.apache.hadoop.fs.Path
    val fs = hfs(stateDir, conf)
    val p = new Path(stateDir, s"commit-$txId")
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val kv = text.linesIterator.flatMap { line =>
      line.split("=", 2) match {
        case Array(k, v) => Some(k -> v); case _ => None
      }
    }.toMap
    Some(StateManifest(txId,
      kv.get("base").filter(_.nonEmpty),
      kv.get("deltas").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      kv.get("epoch").filter(_.nonEmpty)))
  }

  /** The newest committed manifest, if any. */
  def currentManifest(stateDir: String,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()): Option[StateManifest] = {
    import org.apache.hadoop.fs.Path
    val fs = hfs(stateDir, conf)
    val root = new Path(stateDir)
    if (!fs.exists(root)) return None
    val ids = fs.listStatus(root).flatMap(_.getPath.getName match {
      case CommitFile(id) => Some(id.toLong); case _ => None
    })
    if (ids.isEmpty) None else readManifest(stateDir, ids.max, conf)
  }

  /** Highest committed tx id per the manifest, if any. */
  def committedTx(stateDir: String,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()): Option[Long] =
    currentManifest(stateDir, conf).map(_.txId)

  /** Block until the indexer has committed `txId` (the reference's
    * `await-tx`/`sync`, crux-core/src/crux/api.clj:24-91 — re-expressed as
    * commit-marker polling, SURVEY §2.9). Returns the latest committed tx.
    * Throws on timeout. */
  def awaitTx(stateDir: String, txId: Long, timeoutMs: Long = 60000,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()): Long = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      committedTx(stateDir, conf) match {
        case Some(latest) if latest >= txId => return latest
        case _ => ()
      }
      Thread.sleep(50)
    }
    throw new java.util.concurrent.TimeoutException(s"tx $txId not indexed within ${timeoutMs}ms")
  }

  /** The committed versions table: the rows of the manifest's base +
    * delta dirs ([[TxLog.resolvedHistory]] tolerates the superseded rows
    * across layers by design).
    *
    * While this JVM's writer keeps the store's mirror resident
    * ([[StoreMirror]]: the store fits the session's `tx` route bound and
    * its current manifest, epoch included, is the one the mirror was built
    * for) the frame is the `tx` route's resident leaf over the mirror's
    * immutable [[graft.bitemp.TxDriver.State]]: no parquet listing, no
    * scan, and no copy to build it. [[graft.bitemp.Bitemp.asOf]] and
    * `asOfTime` over it — `loadState(...).filter(col("eid").isin(...))`
    * or unfiltered — resolve in driver memory by entity lookup and run no
    * job; any other plan over it scans the leaf in one job. Otherwise —
    * another writer, a fresh JVM, an over-bound store, or
    * `spark.graft.route.tx.maxRows` = 0 — it is one parquet scan of the
    * manifest's dirs. Either frame keeps the rows of the commit it was
    * built at: the leaf holds the snapshot's state by reference, and the
    * scan's dirs stay until the prune after the next commit but one. */
  def loadState(spark: SparkSession, stateDir: String): DataFrame = {
    val cur = currentManifest(stateDir, spark.sessionState.newHadoopConf())
    StoreMirror.resident(spark, stateDir, cur).fold(storedState(spark, stateDir, cur))(
      _.state.frame(spark))
  }

  /** [[loadState]]'s parquet form: one scan of `cur`'s dirs. */
  private def storedState(spark: SparkSession, stateDir: String,
      cur: Option[StateManifest]): DataFrame =
    cur match {
      case Some(m) =>
        val dirs = (m.base.toSeq ++ m.deltas).map(d => s"$stateDir/$d")
        if (dirs.isEmpty) TxLog.emptyState(spark)
        else spark.read.schema(TxLog.versionSchema).parquet(dirs: _*)
      case None => TxLog.emptyState(spark)
    }

  /** Batch-probe the events parquet's actual schema — the stream schema must
    * come from the file, not a hardcoded StructType: in r5 a hardcoded
    * LongType ts silently read µs timestamps as if they were ns and shrank
    * every event time 1000×. Probing delegates to [[graft.sources.Tables
    * .readEventsRaw]] so the nanos-as-long fallback stays in one place. */
  private def probeEventsSchema(
      spark: SparkSession, path: String): org.apache.spark.sql.types.StructType =
    graft.sources.Tables.readEventsRaw(spark, path).schema

  /** ts normalization for the probed schema: a `ts_us` micros-long column
    * from either physical encoding (long = nanos → DIV 1000; timestamp →
    * unix_micros under the session's UTC timezone). */
  private def withTsMicros(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts_us", expr("ts DIV 1000"))
      case _ =>
        df.withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    }

  /** Run `f` with `spark.sql.shuffle.partitions` temporarily set to
    * `statePartitions`: a stateful streaming query's state store shards by
    * the shuffle partition count, and every partition pays per-batch
    * state-file commit overhead regardless of row volume — so stateful
    * gates size it to active-key cardinality, not to the session's
    * scan-side parallelism (a 100 TB run sizes it up with the key space). */
  private def withStatePartitions[A](spark: SparkSession, statePartitions: Int)(f: => A): A =
    graft.sources.SessionConf.withConf(spark,
      "spark.sql.shuffle.partitions" -> statePartitions.toString)(f)

  /** Windowed streaming aggregation over the events stream (the stream-
    * query side Spark adds on top of the reference's ingest-only model):
    * tumbling-window counts per event type, complete mode.
    *
    * @param statePartitions aggregation-state partitions — see
    *   [[withStatePartitions]] (the fixture has ~30 day×type windows). */
  def windowedCounts(spark: SparkSession, eventsPath: String,
      statePartitions: Int = 8): DataFrame = {
    // file streams need a directory source; stage single files via symlink
    val src = new java.io.File(eventsPath)
    val eventsDir =
      if (src.isDirectory) eventsPath
      else {
        val d = java.nio.file.Files.createTempDirectory("graft_stream_src")
        java.nio.file.Files.createSymbolicLink(
          d.resolve(src.getName), src.toPath.toAbsolutePath)
        d.toString
      }
    val schema = probeEventsSchema(spark, eventsPath)
    val stream = withTsMicros(spark.readStream.schema(schema).parquet(eventsDir))
      .withColumn("ts", expr("CAST(timestamp_micros(ts_us) AS TIMESTAMP_NTZ)"))
    val agg = stream
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
    val name = "windowed_counts_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitions) {
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
      q.stop()
    }
    spark.table(name)
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("total"))
  }

  /** Streaming exact dedup (r5): the incremental arm of [[graft.operators
    * .Dedup]] — new documents stream in, `dropDuplicates` keeps the first
    * arrival per (source, content-fingerprint) in the state store, and the
    * surviving stream appends to the sink. Per-source survivor counts are
    * aggregated on the sink table (one stateful op per query — chaining
    * dedup into a complete-mode agg is a multi-stateful-operator shape
    * Spark restricts). Keyed on (source, md5(lower(text))) so the output
    * SET is arrival-order invariant — a cross-source duplicate keeps one
    * row per source rather than racing on which source arrived first. At
    * scale the state store shards by key; add a watermark on an event-time
    * column to expire state when the dedup window is bounded.
    *
    * @param statePartitions dedup-state partitions — see
    *   [[withStatePartitions]] (the fixture dedups ~5k fingerprints). */
  def dedupStream(spark: SparkSession, docsPath: String,
      statePartitions: Int = 8): DataFrame = {
    val src = new java.io.File(docsPath)
    val docsDir =
      if (src.isDirectory) docsPath
      else {
        val d = java.nio.file.Files.createTempDirectory("graft_dedup_src")
        java.nio.file.Files.createSymbolicLink(
          d.resolve(src.getName), src.toPath.toAbsolutePath)
        d.toString
      }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    val deduped = spark.readStream.schema(schema).parquet(docsDir)
      .select(col("source"), md5(lower(col("text"))).as("fp"))
      .dropDuplicates("source", "fp")
    val name = "stream_dedup_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitions) {
      val q = deduped.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
      q.stop()
    }
    spark.table(name).groupBy(col("source")).agg(count(lit(1)).as("n_unique"))
  }

  /** Incremental MinHash-LSH near-dup detection over a document stream
    * (r6) — the streaming arm of [[graft.operators.Dedup.minhashLshPairs]]:
    * per micro-batch, shingle + sign the ARRIVING docs only, probe the
    * accumulated band-key index for cross-batch candidates (plus
    * intra-batch pairs), verify exact Jaccard against the accumulated
    * shingle postings, then append this batch's keys/shingles to the
    * index and the verified pairs to the output.
    *
    * Scale shape: each batch's work is O(batch × collision rate) — the
    * corpus is NEVER rescanned (earlier docs participate only through the
    * band-key index join and the per-candidate posting lookups, both
    * equi-joins on keys the index is partitioned by). The band index and
    * shingle postings live as CACHED frames across batches — each batch
    * unions its own persisted delta in and leaves it cached, so the probe
    * joins read the accumulated index from executor memory, never from a
    * per-batch parquet round-trip (the r6/r7 constant). The parquet dirs
    * remain the durable posting lists a persistent dedup service keeps:
    * appends are O(batch) and share one job per batch (band-key and
    * shingle rows in one merged dir, r10), and a restart reseeds the
    * cache from them once. Every `checkpointEvery` batches the accumulated frames are
    * localCheckpoint'd so lineage depth stays bounded on a long-running
    * stream. The union over batches provably equals the batch pair set
    * (a pair is found when its later member arrives).
    *
    * Returns the complete verified pair set after draining the stream —
    * identical to the batch operator's answer on the same corpus.
    *
    * @param maxCandidatesPerBatch cap on the RAW band-collision rows a
    *   batch may pull to the driver for the in-process verify (a pair
    *   counts once per colliding band, so this trips up to `bands`×
    *   earlier than a distinct-pair cap would); a batch over the cap
    *   spills its verify to the distributed exact-Jaccard path instead
    *   of failing.
    * @param batchPartitions per-batch shuffle/task parallelism — the
    *   arriving micro-batch is orders of magnitude smaller than the
    *   session's scan-side parallelism, so its shingle kernel, minhash
    *   aggregation and verify-spill shuffles size their stages to the
    *   batch (a 100 TB feed sizes up with its batch volume).
    * @param maxDriverKeyRows size route for the PROBE: while the
    *   accumulated band-key rows (docs × bands — orders smaller than the
    *   postings) fit this cap, the index lives in a driver hash map and
    *   candidate generation is one tiny collect + driver lookups; above
    *   it (or after a restart reseed) the probe is the distributed
    *   broadcast join over the executor-cached index, which both modes
    *   maintain. 0 forces the distributed path (the differential spec's
    *   lever). */
  /** Memoized arrival staging per (session, corpus path, chunking): the
    * staged chunk files are the stream's read-only INPUT artifact (a
    * production feed arrives already chunked — the operator under test
    * is the incremental index/probe/verify, not the fixture-to-arrival
    * conversion), so repeated runs share one staging — the same policy
    * as the ingest gates' `stageOpsByBucket`. Each run still gets fresh
    * index/pairs/checkpoint dirs. */
  private val lshStageCache =
    new graft.sources.SessionCache[(SparkSession, String, Int), String]

  /** Drop the staged chunks for a corpus whose parquet was rewritten in
    * place under a live session — the same hazard hook as
    * [[graft.sources.Tables.invalidate]]; without it a re-run would
    * silently stream the OLD corpus from the memoized staging. */
  def invalidateStagedChunks(spark: SparkSession, docsPath: String): Unit =
    lshStageCache.invalidateIf(k => (k._1 eq spark) && k._2 == docsPath)

  private def lshStageChunks(spark: SparkSession, docsPath: String,
      nChunks: Int): String =
    lshStageCache.getOrBuild((spark, docsPath, nChunks))(
      stageChunksInto(spark, docsPath, nChunks,
        java.nio.file.Files.createTempDirectory("graft_lsh_stage").toString))

  /** Stage the corpus as `nChunks` arrival batches under `base/in` —
    * all IO through the Hadoop FileSystem resolved from the path, so a
    * durable `stateDir` staging target may live on any scheme. One
    * scan+write (partitionBy), not one filtered pass per chunk; strictly
    * increasing mtimes pin FileStreamSource's arrival order. IDEMPOTENT:
    * if `base/in` already holds all chunk files (a restarted process
    * reusing a durable stateDir), it is returned as-is — the stream
    * checkpoint under the same stateDir references exactly these file
    * paths, so re-staging would orphan the checkpoint. */
  private def stageChunksInto(spark: SparkSession, docsPath: String,
      nChunks: Int, base: String): String = {
    import org.apache.hadoop.fs.Path
    val inDir = s"$base/in"
    val fs = new Path(inDir).getFileSystem(spark.sessionState.newHadoopConf())
    val chunkPaths = (0 until nChunks).map(i => new Path(s"$inDir/b$i.parquet"))
    // the marker records WHAT was staged: silently reusing chunks staged
    // from a different corpus or chunking against an existing stream
    // checkpoint would process wrong (or no) data — mismatches must be
    // loud, and a marker-less partial staging is re-staged from scratch
    val marker = new Path(inDir, "_staged")
    val stamp = s"$docsPath\t$nChunks"
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val seen = try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](4096)
        var r = in.read(chunk)
        while (r >= 0) { buf.write(chunk, 0, r); r = in.read(chunk) }
        new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
      if (seen != stamp) sys.error(
        s"lshDedupStream: state dir was staged for '$seen' but this run wants " +
          s"'$stamp' - a stream checkpoint only replays the paths it saw; " +
          "use a fresh stateDir for a different corpus or chunking")
      if (chunkPaths.forall(fs.exists)) return inDir
    }
    fs.mkdirs(new Path(inDir))
    spark.read.parquet(docsPath)
      .withColumn("b", pmod(col("doc_id"), lit(nChunks)))
      .coalesce(1).write.partitionBy("b").mode("overwrite")
      .parquet(s"$base/stage")
    val now = System.currentTimeMillis()
    (0 until nChunks).foreach { i =>
      val stagedDir = new Path(s"$base/stage/b=$i")
      val part = (try fs.listStatus(stagedDir) catch {
        case _: java.io.FileNotFoundException =>
          Array.empty[org.apache.hadoop.fs.FileStatus]
      }).map(_.getPath)
        .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"lshDedupStream: staged chunk $i is empty " +
          s"(no doc_id has residue $i mod $nChunks)"))
      val dst = chunkPaths(i)
      if (fs.exists(dst)) fs.delete(dst, false) // torn prior staging
      if (!fs.rename(part, dst)) sys.error(s"staging rename failed: $part -> $dst")
      fs.setTimes(dst, now + i * 1000L, -1)
    }
    fs.delete(new Path(s"$base/stage"), true)
    val os = fs.create(marker, true)
    try os.write(stamp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    inDir
  }

  /** @param maxDriverPostingRows bound on the driver verify's postings
    *   pull (candidate docs' shingle rows): a batch whose candidate set
    *   is cap-sized but whose member docs are pathologically long could
    *   otherwise pressure driver heap through the verify collect even
    *   though every other pull is bounded (r10 VERDICT #2). Over the
    *   bound, the batch's verify spills to the distributed exact-Jaccard
    *   over the candidate-filtered postings — same pairs, one extra
    *   shuffle round.
    * @param stateDir durable-state root (postings/pairs/stream
    *   checkpoint AND the staged arrival chunks, so a restarted PROCESS
    *   reusing the same stateDir finds the exact file paths its stream
    *   checkpoint references). Any Hadoop-FS scheme (HDFS/S3/local/mock)
    *   — all state IO resolves its FileSystem from the path; null
    *   (default) = a fresh local temp dir (session-scoped staging). */
  def lshDedupStream(spark: SparkSession, docsPath: String, tau: Double = 0.5,
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      nChunks: Int = 3, checkpointEvery: Int = 8,
      maxCandidatesPerBatch: Int = 1000000,
      batchPartitions: Int = 8,
      maxDriverKeyRows: Long = 2000000L,
      maxDriverPostingRows: Long = 10000000L,
      stateDir: String = null): DataFrame = {
    import graft.operators.Dedup
    val base = Option(stateDir).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_lsh_stream").toString)
    // durable state ⇒ durable staging: the chunks live under stateDir
    // (idempotently reused on restart — the checkpoint references these
    // exact paths); temp-state runs keep the session-memoized staging
    val inDir =
      if (stateDir == null) lshStageChunks(spark, docsPath, nChunks)
      else stageChunksInto(spark, docsPath, nChunks, base)
    // band-key rows and shingle postings share ONE durable append dir
    // (r10): they are written per batch for the same reason at the same
    // point, and separate dirs cost a second parquet job wall + commit
    // per micro-batch. Key rows carry shingle=null, shingle rows carry
    // band/key=null; the restart reseed splits them with two filters.
    val postDir = s"$base/post"; val pairsDir = s"$base/pairs"
    val docs = spark.read.parquet(docsPath)
    val rowsPerBand = numHashes / bands
    // accumulated index state, held on the driver between batches; the
    // delta frames it unions stay persisted (their blocks ARE the index),
    // tracked in `pinned` so the drain can release every block at the end
    var idxCache: Option[DataFrame] = None
    var shCache: Option[DataFrame] = None
    // size-routed probe (r10, the graph/rules/union-find discipline): the
    // band-key relation is docs × bands rows — ~6 orders smaller than the
    // shingle postings — so while its accumulated size fits
    // maxDriverKeyRows the index lives in a driver hash map and each
    // batch's candidate generation is pure driver CPU over ONE collected
    // key delta (replacing the broadcast-build + limit-collect job pair
    // per batch). Crossing the cap, or a restart reseed, switches to the
    // distributed broadcast-join probe over the executor-cached index —
    // which both modes maintain, so the switch is a flag flip, not a
    // rebuild. Verify is IDENTICAL in both modes (same driver exact-
    // Jaccard, same spill); a differential spec pins path equality.
    val driverIdx = new java.util.HashMap[(Int, Long), java.util.ArrayList[Long]]()
    var driverKeyRows = 0L
    var driverMode = maxDriverKeyRows > 0
    val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream.option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        def lbl[A](what: String)(f: => A): A = {
          sp.sparkContext.setJobDescription(s"graft-lsh-$batchId $what")
          try f finally sp.sparkContext.setJobDescription(null)
        }
        // batch-sized execution: AQE stays ON inside foreachBatch (the
        // engine only disables it for the streaming plan itself), and for
        // these hand-hinted micro-batch plans its stage-by-stage
        // execution turns every action into a chain of per-stage jobs
        // with replanning between them — pure scheduling latency at this
        // size. Joins are already broadcast-hinted and partition counts
        // hand-sized, so switch it off for the batch body.
        graft.sources.SessionConf.withBatchScale(sp, batchPartitions) {
        // the shingle/minhash kernel is the batch's CPU (64 hash evals per
        // shingle row, computed in the partial agg = map side): spread it
        // across ALL cores; only the downstream shuffles/joins are sized
        // to the batch via batchPartitions
        val shB = Dedup.shingles(batch, k).persist(lvl)
        val keysB = Dedup.bandKeyRows(
          Dedup.minhashSignatures(shB, numHashes), bands, rowsPerBand)
          .persist(lvl)
        pinned += shB; pinned += keysB
        // restart reseed: cache empty but durable postings exist (a prior
        // run's appends) — one read, then cached for the rest of the run.
        // The driver band-key map does not survive a restart; the reseeded
        // run probes distributed (conservative — correct at any size).
        // The existence probe rides the Hadoop FileSystem resolved from
        // the path like every other state IO here — a java.io.File probe
        // was the one local-FS assumption on a state path (r10 VERDICT
        // #7; SchemeFsSpec pins the mock:// round trip).
        val postPath = new org.apache.hadoop.fs.Path(postDir)
        if (idxCache.isEmpty &&
            postPath.getFileSystem(sp.sessionState.newHadoopConf()).exists(postPath)) {
          // only batches STRICTLY BEFORE the current one are committed:
          // the engine replays the first uncommitted batch, and its
          // pre-crash append may have landed — reseeding it would put the
          // replayed batch's postings in the index TWICE (the batch body
          // unions its own delta), silently skewing the shuffle-verify's
          // intersection counts. batch_id is stamped on every append
          // exactly for this filter (r11).
          // schema tolerance: a postings dir written before the attempt
          // column existed (or with mixed files) reads attempt as
          // missing/null — treat those rows as one shared attempt rather
          // than crashing or null-dropping them through the semi-join
          val post0raw = sp.read.parquet(postDir)
          val post0 = (if (post0raw.columns.contains("attempt"))
              post0raw.withColumn("attempt", coalesce(col("attempt"), lit("")))
            else post0raw.withColumn("attempt", lit("")))
            .filter(col("batch_id") < batchId)
          // one append per batch: a batch that crashed and replayed in an
          // EARLIER cycle left its (deterministic, identical) append
          // twice under the same batch_id — keep the attempt with the
          // most rows (a torn attempt, possible only in the committer's
          // narrow partial-commit window, is a strict subset of the
          // complete one; ties are identical). One map-side-combined agg
          // + a broadcast semi-join — NOT a full-row distinct, which
          // would shuffle the entire accumulated postings on restart.
          val pickW = org.apache.spark.sql.expressions.Window
            .partitionBy(col("batch_id")).orderBy(col("_n").desc, col("attempt"))
          val bestAttempt = post0.groupBy(col("batch_id"), col("attempt"))
            .agg(count(lit(1)).as("_n"))
            .withColumn("_r", row_number().over(pickW))
            .filter(col("_r") === 1).select(col("batch_id"), col("attempt"))
          val post = post0.join(broadcast(bestAttempt), Seq("batch_id", "attempt"),
            "left_semi")
          idxCache = Some(post.filter(col("shingle").isNull)
            .select(col("doc_id"), col("band"), col("key")).persist(lvl))
          shCache = Some(post.filter(col("shingle").isNotNull)
            .select(col("doc_id"), col("shingle")).persist(lvl))
          pinned ++= idxCache; pinned ++= shCache
          driverMode = false; driverIdx.clear()
        }
        // the keys/shingle postings appends depend only on this batch's
        // kernels, not on the probe — launch them now so the write wall
        // overlaps the probe/verify phases (job descriptions are
        // thread-local, so each future keeps its own label; the cache
        // lock makes a racing first materialization compute-once). Both
        // complete before foreachBatch returns (await below), so the
        // engine's offset commit still implies durable postings.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val appendPost = Future(lbl("postings append")(
          keysB.select(col("doc_id"), col("band"), col("key"),
              lit(null).cast("string").as("shingle"))
            .unionByName(shB.select(col("doc_id"),
              lit(null).cast("int").as("band"),
              lit(null).cast("long").as("key"), col("shingle")))
            // batch_id + attempt make a crashed-then-replayed batch's
            // duplicate (or torn) append excludable at reseed (see the
            // reseed filter above); the attempt id is one UUID per
            // append invocation
            .withColumn("batch_id", lit(batchId))
            .withColumn("attempt",
              lit(java.util.UUID.randomUUID().toString))
            .coalesce(4).write.mode("append").parquet(postDir)))
        // if the probe/verify below fails, don't leave the detached
        // append job racing the query's teardown — drain it (its own
        // failure is secondary to the primary exception) before rethrow
        def drainAppendsOn[A](body: => A): A =
          try body catch {
            case t: Throwable =>
              try Await.ready(appendPost, Duration.Inf)
              catch { case _: Throwable => () }
              throw t
          }
        drainAppendsOn {
        // candidates: new keys vs (index ∪ new keys); normalize pair
        // order so cross-batch pairs compare like the batch operator.
        // Size-routed (r10): while the accumulated band-key rows fit
        // maxDriverKeyRows, the index is a driver hash map and candidate
        // generation is ONE collect of this batch's (tiny) key delta +
        // driver lookups — no broadcast-build job, no probe-join job.
        // Above the cap (or after a restart reseed) the probe is the
        // distributed broadcast join over the executor-cached index.
        // Left = over-cap candidate DF routed to the distributed verify;
        // Right = distinct driver-resident candidate pairs.
        val allKeys = idxCache.map(_.unionByName(keysB)).getOrElse(keysB)
        val shAll = shCache.map(_.unionByName(shB)).getOrElse(shB)
        // one-wave bounded collect: every driver pull in this operator
        // rides a limit (driver memory bounded by construction — r8
        // ADVICE class), and one wave over every cached partition (each
        // locally limited) beats the default 1→4→16 incremental
        // collect's scheduling waves at micro-batch sizes
        def limitCollect(df: DataFrame, n: Int, what: String): Array[org.apache.spark.sql.Row] = {
          val prevInitParts = sp.conf.getOption("spark.sql.limit.initialNumPartitions")
          sp.conf.set("spark.sql.limit.initialNumPartitions", "1000000")
          try lbl(what)(df.limit(n).collect())
          finally prevInitParts match {
            case Some(v) => sp.conf.set("spark.sql.limit.initialNumPartitions", v)
            case None => sp.conf.unset("spark.sql.limit.initialNumPartitions")
          }
        }
        // foreachBatch plans run with AQE OFF, so every join here is
        // hinted explicitly — without the hints the probe and verify
        // sort-merge-shuffle the ENTIRE accumulated index/postings per
        // batch (the r6/r7 5 s constant); with them each batch is ONE
        // pass over the cached index. The RAW collision rows (a pair
        // appears once per colliding band) are pulled to the driver and
        // deduped into a HashSet there: a per-batch `.distinct()` would
        // cost a shuffle plus a multi-job incremental CollectLimit every
        // batch — and the drain's final `.distinct()` (replay guard)
        // already owns cross-batch dedup. The cap applies to raw
        // (band-duplicated) rows, so it trips up to `bands`× earlier than
        // a distinct-pair cap — conservative: the over-cap route is the
        // distributed verify, which is correct either way.
        def candRawDf(): DataFrame = broadcast(keysB.as("a"))
          .join(allKeys.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.doc_id") =!= col("b.doc_id"))
          .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
        def distributedProbe(): Either[DataFrame, Seq[(Long, Long)]] = {
          val df = candRawDf()
          val candRows = limitCollect(df, maxCandidatesPerBatch + 1, "probe")
          if (candRows.length > maxCandidatesPerBatch) Left(df.distinct())
          else Right(candRows.iterator
            .map(r => (r.getLong(0), r.getLong(1))).toSet.toSeq)
        }
        val cand: Either[DataFrame, Seq[(Long, Long)]] = if (!driverMode) distributedProbe() else {
          // the key-delta pull is limit-bounded too: a batch whose key
          // rows exceed the remaining driver budget must flip to the
          // distributed probe WITHOUT first materializing an unbounded
          // Row array on the driver (the cap check used to run after an
          // uncapped collect)
          val remaining = math.min(maxDriverKeyRows - driverKeyRows,
            Int.MaxValue - 1L).toInt
          val keyRows = limitCollect(keysB, remaining + 1, "keys collect")
          if (keyRows.length > remaining) {
            // over budget: discard the partial pull; the executor-cached
            // index (allKeys) is already current, so the switch is a
            // flag flip + map release
            driverMode = false; driverIdx.clear()
            distributedProbe()
          } else {
            driverKeyRows += keyRows.length
            // insert the batch's keys FIRST so lookups see the accumulated
            // index AND intra-batch colliders; the HashSet dedupes the
            // double discovery (a pair found from both ends)
            keyRows.foreach { r =>
              driverIdx.computeIfAbsent((r.getInt(1), r.getLong(2)),
                _ => new java.util.ArrayList[Long]()).add(r.getLong(0))
            }
            // the candidate set is capped DURING generation: a too-hot
            // bucket must route to the distributed verify after at most
            // cap+1 insertions, not OOM the driver building the full
            // quadratic set first
            val set = new java.util.HashSet[(Long, Long)]()
            var overCap = false
            val it = keyRows.iterator
            while (it.hasNext && !overCap) {
              val r = it.next()
              val d = r.getLong(0)
              val ds = driverIdx.get((r.getInt(1), r.getLong(2)))
              var i = 0
              while (i < ds.size() && !overCap) {
                val o = ds.get(i)
                if (o != d) { set.add(if (o < d) (o, d) else (d, o)); () }
                if (set.size() > maxCandidatesPerBatch) overCap = true
                i += 1
              }
            }
            // over-cap: the driver set already proved it — go straight
            // to the distributed candidate DF, no re-collect
            if (overCap) Left(candRawDf().distinct())
            else {
              import scala.jdk.CollectionConverters._
              Right(set.asScala.toSeq)
            }
          }
        }
        // exact-Jaccard verify ON THE DRIVER: the candidate pair list is
        // already driver-local (the LocalRelation design above — bounded
        // by maxCandidatesPerBatch with a graceful spillover), so the
        // per-pair set intersections are O(candidates × doc-shingles)
        // driver CPU, and the only cluster work left is ONE semi-join
        // collect of the candidate docs' postings. A batch whose
        // candidates EXCEED the cap (banding collisions too hot for a
        // driver verify — the first thing a 100 TB corpus with long docs
        // would trip) routes through the distributed exact-Jaccard verify
        // instead ([[graft.operators.Dedup.jaccardOfPairs]] — shuffle-
        // shaped, no broadcast of the oversized candidate set): same
        // pairs, same arithmetic, ~5 extra jobs — a cost, not a crash.
        val pairs = cand match {
          case Left(candDf) =>
            // scalastyle:off println
            Console.err.println(
              s"lshDedupStream: batch $batchId exceeded $maxCandidatesPerBatch candidate " +
                "pairs - spilling verify to the distributed exact-Jaccard path " +
                "(check banding parameters for this corpus)")
            // scalastyle:on println
            lbl("verify spill")(
              graft.operators.Dedup.jaccardOfPairs(shAll, candDf, tau))
          // a Right never exceeds the cap: both probe modes route an
          // over-cap candidate set to Left during generation
          case Right(candPairs) =>
          import sp.implicits._
          val candDocIds: Seq[Long] = candPairs.iterator
            .flatMap(p => Iterator(p._1, p._2))
            .toSet.toSeq
          val candDocs = candDocIds.toDF("doc_id")
          // candidate docs' postings, pre-filtered on the executors (ONE
          // broadcast semi-join pass over the cached postings)
          val shCandDf = shAll.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("shingle"))
          // the postings pull is limit-bounded like every other driver
          // pull here (r10 VERDICT #2): the candidate COUNT cap doesn't
          // bound per-doc shingle volume, so a batch of cap-sized
          // candidates over mega-docs could still blow the driver heap.
          // Over the bound, verify spills to the distributed exact
          // Jaccard over the already-filtered postings — same pairs.
          val postCap = math.min(math.max(maxDriverPostingRows, 0L),
            Int.MaxValue - 2L).toInt
          val postRows = limitCollect(shCandDf, postCap + 1, "postings collect")
          if (postRows.length > postCap) {
            // scalastyle:off println
            Console.err.println(
              s"lshDedupStream: batch $batchId candidate postings exceeded " +
                s"$maxDriverPostingRows rows - spilling verify to the " +
                "distributed exact-Jaccard path")
            // scalastyle:on println
            // shuffle-shaped verify (NOT jaccardOfPairsSmall — that
            // broadcasts the postings side, which just proved oversized)
            lbl("verify spill (postings)")(
              Dedup.jaccardOfPairs(shCandDf, candPairs.toDF("d1", "d2"), tau))
          } else {
          val postings = new scala.collection.mutable.HashMap[Long, scala.collection.mutable.HashSet[String]]
          postRows.foreach { r =>
              postings.getOrElseUpdate(r.getLong(0),
                new scala.collection.mutable.HashSet[String]) += r.getString(1)
            }
          val verified = candPairs.iterator.flatMap { case (d1, d2) =>
            val (s1, s2) = (postings.get(d1), postings.get(d2))
            if (s1.isEmpty || s2.isEmpty) Iterator.empty
            else {
              val (a, b) = (s1.get, s2.get)
              val (small, big) = if (a.size <= b.size) (a, b) else (b, a)
              val c = small.count(big)
              // same arithmetic as jaccardOfPairs: |∩| / (sz1+sz2−|∩|)
              val j = c.toDouble / (a.size + b.size - c)
              if (c > 0 && j >= tau) Iterator((d1, d2, j)) else Iterator.empty
            }
          }.toSeq
          verified.toDF("d1", "d2", "jaccard")
          }
        }
        // pairs are driver-local (tiny) — one file; the merged postings
        // append (4 writer tasks — a single task would serialize the
        // batch's whole parquet encode) was launched before the probe and
        // has been overlapping it; await both so the offset commit
        // implies durability
        Await.result(Future.sequence(Seq(
          Future(lbl("pairs write")(
            pairs.coalesce(1).write.mode("append").parquet(pairsDir))),
          appendPost)), Duration.Inf)
        // fold the batch's (still-persisted) delta into the live index
        idxCache = Some(allKeys); shCache = Some(shAll)
        if (batchId % checkpointEvery == (checkpointEvery - 1)) {
          idxCache = idxCache.map(_.localCheckpoint())
          shCache = shCache.map(_.localCheckpoint())
          // checkpoint blocks live on the checkpoint RDD, which plain
          // unpersist never reaches — track them so the end-of-drain
          // release (SessionCache.release) can free them too (r13)
          pinned ++= idxCache; pinned ++= shCache; ()
        }
        }
        }
      }
      .start()
    q.awaitTermination()
    // a pair is emitted once, by its later-arriving member's batch;
    // distinct guards the replayed-batch edge. The result reads the
    // durable pairs parquet, so it does NOT depend on the index blocks —
    // release them before returning (SessionCache.release: covers both
    // the persisted deltas and the localCheckpoint'd fold frames, r13)
    pinned.foreach(graft.sources.SessionCache.release)
    spark.read.parquet(pairsDir).distinct()
  }

  /** Stream-stream inner join (r6): clicks joined to same-user purchases
    * arriving within `windowMinutes` — the attribution-join shape (click →
    * conversion) that every event pipeline runs, and the one streaming
    * join Spark executes with BOUNDED state: watermarks on both sides plus
    * the time-range join condition let the state store evict a click once
    * the purchase-side watermark passes click_ts + window (and vice
    * versa), so state is O(events in the window), not O(stream). Inner
    * rows emit as soon as both sides arrive (append mode) — the watermark
    * only governs eviction, not emission, so a finite input yields the
    * complete join without sentinel batches.
    *
    * @param statePartitions join state-store partitions — the stateful
    *   shuffle pays per-partition-per-batch state-file overhead, so size
    *   to active-key cardinality like [[sessions]] (150 users in the
    *   fixture; a 100 TB run sizes up). */
  def streamJoin(spark: SparkSession, eventsPath: String,
      windowMinutes: Int = 30, statePartitions: Int = 8): DataFrame = {
    val src = new java.io.File(eventsPath)
    val eventsDir =
      if (src.isDirectory) eventsPath
      else {
        val d = java.nio.file.Files.createTempDirectory("graft_sjoin_src")
        java.nio.file.Files.createSymbolicLink(
          d.resolve(src.getName), src.toPath.toAbsolutePath)
        d.toString
      }
    val schema = probeEventsSchema(spark, eventsPath)
    // watermark columns must be TIMESTAMP (not NTZ) — ride micros-longs
    // through timestamp_micros under the session's UTC timezone and only
    // cast to NTZ in the final projection
    def side(tpe: String, prefix: String): DataFrame =
      withTsMicros(spark.readStream.schema(schema).parquet(eventsDir))
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"),
          expr("timestamp_micros(ts_us)").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    val joined = side("click", "click").join(side("purchase", "purchase"),
      col("click_user") === col("purchase_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
    val name = "stream_join_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // inner-join rows emit in the batch where both sides arrive; the
    // trailing NO-DATA micro-batch only applies the advanced watermark to
    // EVICT state — it contributes no output rows, and on a drained finite
    // input the state is dropped with the query anyway, so skip it (a
    // full extra state-store load/commit round per partition per store)
    graft.sources.SessionConf.withConf(spark,
      "spark.sql.shuffle.partitions" -> statePartitions.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      val q = joined.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
      q.stop()
    }
    spark.table(name).select(col("click_user").as("user_id"),
      col("click_id"), col("purchase_id"),
      col("click_ts").cast("timestamp_ntz").as("click_ts"),
      col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"))
  }

  /** Event-time sessionization with custom state: per-user sessions split
    * at a `gapMinutes` inactivity gap, via `KeyValueGroupedDataset
    * .flatMapGroupsWithState` + event-time timeout — the custom-state
    * stream operator Spark adds over the reference's ingest-only streaming
    * model (SURVEY §2.9: crux has no stream-query operators).
    *
    * Mechanics: the watermark (0s delay) advances per micro-batch; open
    * sessions set a timeout at session-end + gap and flush when the
    * watermark passes it. ONE far-future sentinel row is staged alongside
    * the real data — the whole finite input lands in a single data batch
    * (watermark 0 during it drops nothing), the watermark then jumps to
    * the sentinel's event time, and the engine's single trailing NO-DATA
    * micro-batch fires every open session's timeout. Two micro-batches
    * total; the r8 shape (one file per batch + two sentinel batches) paid
    * two extra full state-store load/commit rounds for the same output
    * (the r8→r9 stream_sessions regression). Money-style sums ride scaled
    * longs (decimal(18,4) × 10⁴) so results are exact and order-free.
    *
    * @param statePartitions number of state-store partitions for the
    *   stateful query — size to active-key cardinality (the state store
    *   pays per-partition-per-batch file overhead; 8 suits the test
    *   corpus's 150 users, a 100 TB run sizes up). */
  def sessions(spark: SparkSession, eventsPath: String, gapMinutes: Int = 30,
      statePartitions: Int = 8): DataFrame = {
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L

    val schema = probeEventsSchema(spark, eventsPath)
    val tsIsLong = schema("ts").dataType == org.apache.spark.sql.types.LongType

    // stage dir: the real file + one far-future sentinel (same physical ts
    // encoding as the fixture so one stream schema reads both)
    val d = java.nio.file.Files.createTempDirectory("graft_sessions_src")
    val src = new java.io.File(eventsPath)
    java.nio.file.Files.createSymbolicLink(
      d.resolve("0_" + src.getName), src.toPath.toAbsolutePath)
    val farFutureUs = 4102444800L * 1000000L // 2100-01-01
    locally {
      val tmp = d.resolve("sentinel_tmp").toString
      val base = Seq((-1L, -1L, "sentinel", 0.0, ""))
        .toDF("event_id", "user_id", "event_type", "value", "props")
      val withTs =
        if (tsIsLong) base.withColumn("ts", lit(farFutureUs * 1000L))
        else base.withColumn("ts",
          expr(s"CAST(timestamp_micros(${farFutureUs}L) AS TIMESTAMP_NTZ)"))
      withTs.select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(d.toFile, "1_sentinel.parquet").toPath)
      ()
    }

    val stream = withTsMicros(spark.readStream.schema(schema)
        .parquet(d.toString))
      .withColumn("tst", expr("timestamp_micros(ts_us)"))
      .withWatermark("tst", "0 seconds")
      .select(col("user_id"), col("tst"), col("ts_us"),
        (col("value").cast("decimal(18,4)") * 10000).cast("long").as("v_scaled"))
      .as[SessionEvent]

    val out = stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get; state.remove()
            Iterator(SessionRow(uid, s.start_us, s.end_us, s.n, s.total_scaled))
          } else {
            val evs = it.toArray.sortBy(_.ts_us)
            val closed = scala.collection.mutable.ListBuffer[SessionRow]()
            var cur = state.getOption
            evs.foreach { e =>
              cur match {
                case Some(s) if e.ts_us <= s.end_us + gapUs =>
                  cur = Some(SessionState(s.start_us, math.max(s.end_us, e.ts_us),
                    s.n + 1, s.total_scaled + e.v_scaled))
                case Some(s) =>
                  closed += SessionRow(uid, s.start_us, s.end_us, s.n, s.total_scaled)
                  cur = Some(SessionState(e.ts_us, e.ts_us, 1, e.v_scaled))
                case None =>
                  cur = Some(SessionState(e.ts_us, e.ts_us, 1, e.v_scaled))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end_us / 1000 + gapMinutes * 60000L + 1000)
            }
            closed.iterator
          }
      }

    val name = "sessions_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // the trailing no-data batch IS the drain mechanism here — force it on
    // (streamJoin and friends turn it off; this query needs exactly one)
    graft.sources.SessionConf.withConf(spark,
      "spark.sql.shuffle.partitions" -> statePartitions.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "true") {
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
      q.stop()
    }
    spark.table(name).filter(col("user_id") >= 0)
      .select(col("user_id"),
        expr("CAST(timestamp_micros(start_us) AS TIMESTAMP_NTZ)").as("session_start"),
        expr("CAST(timestamp_micros(end_us) AS TIMESTAMP_NTZ)").as("session_end"),
        col("n_events"),
        (col("total_scaled").cast("decimal(38,4)") / 10000).cast("double").as("total"))
  }
}
