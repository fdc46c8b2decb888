package graft.bitemp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Transactional ingest: put/delete (with valid-time ranges), match/cas,
  * evict — the batch re-expression of the reference's sequential indexer
  * (crux-core/src/crux/tx.clj:59-227, SURVEY §2.9).
  *
  * State schema (`versions`): eid, vt, tt, tx_id, content_hash (null ⇒
  * tombstone, mirroring the nil-id tombstone of crux.tx:81), tombstone.
  *
  * Ops schema: op ('put'|'delete'|'match'|'cas'|'evict'), eid,
  * content_hash (new doc hash; null for delete), start_vt, end_vt,
  * at_vt (match/cas basis), expected_hash (match/cas), seq (intra-tx order).
  *
  * Txs apply strictly in order (`applyBatch` folds `applyTx`), matching the
  * reference's single-writer fold; within a tx, ops are vectorized with
  * last-op-wins per (eid, vt), and each op's valid-range cap/overwrite also
  * sees the CONTENT rows of earlier same-tx ops (sequential semantics for
  * range interactions — space_tutorial's retroactive corrections). The one
  * remaining documented deviation: a cap never reads another op's cap row,
  * and no-end overwrite runs anchor on the pre-tx snapshot only.
  *
  * Scale: a batch of plain puts/deletes reduces to a pure `unionByName`
  * (no shuffle, no driver loop); only valid-RANGE ops and match/cas need
  * joins against resolved history. In Structured Streaming this is the
  * `foreachBatch` body with tx_id = batch watermark (SURVEY §2.9).
  */
object TxLog {

  val versionSchema: StructType = StructType(Seq(
    StructField("eid", StringType),
    StructField("vt", TimestampNTZType),
    StructField("tt", TimestampNTZType),
    StructField("tx_id", LongType),
    StructField("content_hash", StringType),
    StructField("tombstone", BooleanType)))

  val opSchema: StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("eid", StringType),
    StructField("content_hash", StringType),
    StructField("start_vt", TimestampNTZType),
    StructField("end_vt", TimestampNTZType),
    StructField("at_vt", TimestampNTZType),
    StructField("expected_hash", StringType),
    StructField("seq", LongType)))

  def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), versionSchema)

  /** Resolved history: latest correction per (eid, vt) — tombstones kept
    * (they are history entries; only `asOf` hides them). */
  def resolvedHistory(state: DataFrame): DataFrame =
    state.groupBy(col("eid"), col("vt"))
      .agg(max_by(struct(state.columns.map(col): _*), col("tx_id")).as("_r"))
      .select("_r.*")

  /** Driver-known op mix of a transaction — whether it carries match/cas
    * preconditions, evicts, and valid-RANGE writes (non-null end_vt). The
    * reference's tx-log record names every op's type explicitly
    * (tx.clj:59-79), so a submitter that built the op list can pass the
    * mix down and skip the one-row shape-probe job [[applyTxParts]]
    * otherwise runs; at interactive-tx latency every job counts. */
  final case class TxShape(hasChecks: Boolean, hasEvict: Boolean, hasRanged: Boolean)

  /** One transaction's effect: delta rows, evicted eids (with a
    * driver-known emptiness flag so consumers can skip the anti-join
    * entirely), whether a match/cas precondition aborted it, and a
    * `cleanup` the consumer MUST call once `newRows` is materialized —
    * it drops the tx's cached op list from the block manager (per-tx
    * caches would otherwise accumulate across a long sequential batch). */
  /** `resolvedTouched` is the CACHED resolved pre-tx history of the tx's
    * touched entities (the same frame every internal branch joins
    * against) — consumers that maintain derived state (the streaming
    * matviews) read it instead of re-scanning the full store; it is only
    * valid until `cleanup()` runs. */
  final case class TxParts(newRows: DataFrame, evictEids: DataFrame,
      hasEvict: Boolean, aborted: Boolean, cleanup: () => Unit = () => (),
      resolvedTouched: DataFrame = null)

  /** Apply one transaction. Returns (newState, aborted). The new state is
    * EAGERLY localCheckpoint-ed — every sequential consumer checkpoints
    * per tx anyway (lineage would grow unboundedly otherwise), and doing
    * it here lets the per-tx ops cache be dropped immediately instead of
    * accumulating in the block manager for the session's lifetime.
    *
    * NOTE (r6): checkpointing only the DELTA and returning
    * `state union delta` — O(|tx|) materialization per tx instead of
    * O(state) — was tried and REVERTED: a localCheckpoint LogicalRDD
    * pins origin constraints, and once one rides in the state union any
    * later ranged tx dies in Catalyst's UnionBase.rewriteConstraints
    * (AttributeMap key-not-found), the same landmine the ops cache
    * comment below documents. Stripping constraints via
    * createDataFrame(cp.rdd, schema) works but pays Row↔InternalRow
    * conversion on every later scan of the delta. The O(state) copy per
    * SEQUENTIAL tx is acceptable because the high-volume paths don't
    * take it: put/delete runs fold through [[applyPutDeleteTxs]] (one
    * pass per run) and the streaming indexer commits O(delta) parquet
    * manifests; only interactive cas/match txs land here. */
  def applyTx(state: DataFrame, ops: DataFrame, txId: Long,
      txTime: java.time.LocalDateTime,
      shapeHint: Option[TxShape] = None): (DataFrame, Boolean) = {
    // Bounded all-driver route FIRST (r16, VERDICT #4): while state and
    // ops both fit spark.graft.route.tx.maxRows, the fold runs in memory
    // through the SAME TxLogFold.foldEntity the distributed path uses
    // and the new state is a LocalRelation — the next tx's collects are
    // then job-free. Over the bound (or conf-disabled): unchanged path.
    TxDriver.tryApplyTx(state, ops, txId, txTime) match {
      case Some(res) => return res
      case None => ()
    }
    // Eager precondition (its own small action, early return on abort).
    // Riding the check inside the checkpoint action as a broadcast flag
    // was measured (tools.ProfileCas, since removed: `git show
    // 0ac7475:src/main/scala/graft/tools/ProfileCas.scala`) and gained
    // nothing for committing txs while aborting txs paid a wasted state
    // materialization.
    val p = applyTxParts(state, ops, txId, txTime, shapeHint)
    try {
      // the anti-join stays even when the tx has no evicts (same
      // constraint-barrier role as the one inside applyTxParts): a
      // checkpointed state is a LogicalRDD pinning origin constraints,
      // and as a BARE union child those constraints hit the same
      // UnionBase.rewriteConstraints AttributeMap crash on the next
      // ranged tx — r6 tried skipping it for the driver-known-empty
      // case and BitempSpec's range suite went red
      if (p.aborted) (state, true)
      else (state.join(broadcast(p.evictEids), Seq("eid"), "left_anti")
        .unionByName(p.newRows).localCheckpoint(true), false)
    } finally p.cleanup()
  }

  /** Like [[applyTx]] but returns the tx's effect as [[TxParts]] instead
    * of a rebuilt state. The state is
    * APPEND-ONLY outside eviction — `resolvedHistory` picks the max-tx_id
    * row per (eid, vt), so appending the delta supersedes without
    * rewriting — which is what lets the streaming indexer commit a delta
    * directory per batch instead of rewriting the whole versions table
    * (crux appends to its KV indexes the same way, tx.clj:266-391). */
  def applyTxParts(state: DataFrame, opsPlan: DataFrame, txId: Long,
      txTime: java.time.LocalDateTime,
      shapeHint: Option[TxShape] = None): TxParts = {
    val txTs = lit(txTime)
    // A transaction's op list is DATA — the reference materializes it in
    // the tx log before indexing (tx.clj:266-391) — not a lazy view.
    // Callers often derive ops from snapshot queries (cas over an as-of
    // read), and the plan below references `ops` from every branch
    // (precondition check, writes, evict, both range branches), so an
    // unmaterialized plan would re-run the deriving query once per
    // consumer. Caching bounds that at O(|tx|) rows; the shape probe just
    // below is the materializing action when no shapeHint rides in (with
    // a hint the first consumer job fills the cache). (cache, not
    // localCheckpoint: a checkpoint's LogicalRDD pins origin constraints
    // that break union constraint rewriting in the range branch.)
    val ops = opsPlan.cache()
    // One tiny aggregation over the materialized op list tells the driver
    // which branches this tx actually needs — a put-only tx then skips
    // the precondition job, the evict anti-join, and the whole
    // range-cap/restore subplan (several shuffles each). At local[32]
    // sequential-tx latency is job-count-bound, so pruning plans matters
    // more than pruning rows. (Merging this with the precondition into
    // one cross-joined action was tried in r6 and is SLOWER: the non-equi
    // precondition join then anchors the whole job, and AQE does not
    // prune its resolved-state leg for check-free txs.)
    val (hasChecks, hasEvict, hasRanged) = shapeHint match {
      case Some(h) =>
        // submitter-declared mix — no probe job; the FIRST consumer's job
        // fills the ops cache, later branches read it (lazy fill keeps the
        // O(|tx|) bound, it just moves the compute into an existing job)
        (h.hasChecks, h.hasEvict, h.hasRanged)
      case None =>
        val shape = ops.agg(
          count(when(col("op").isin("match", "cas"), 1)),
          count(when(col("op") === "evict", 1)),
          count(when(col("op").isin("put", "delete", "cas") &&
            col("end_vt").isNotNull, 1))).head()
        (shape.getLong(0) > 0, shape.getLong(1) > 0, shape.getLong(2) > 0)
    }
    // Only this tx's entities ever matter: every consumer of `resolved`
    // below joins on the tx's own eids, so restrict the resolve to the
    // touched entities (left_semi, same shape as the fold path's :327) —
    // untouched history never shuffles, keeping per-tx cost O(touched)
    // instead of O(total state) (tx.clj applies per-entity too).
    val touchedEids = ops.select(col("eid")).distinct()
    val resolved = resolvedHistory(
      state.join(broadcast(touchedEids), Seq("eid"), "left_semi")).cache()
    try {
      // --- match / cas precondition: resolved hash at basis must equal
      // expected (null-safe; nil==nil matches), tx.clj:100-130. Ops apply
      // sequentially in the reference, so a match mid-tx sees the CONTENT
      // rows of EARLIER same-tx ops (query_test.clj:1912 "match sees
      // interim state through the transaction") — same candidate model as
      // the range-restore path below (cap/overwrite rows stay invisible).
      // DOCUMENTED DEVIATION: the candidates carry each earlier op's
      // START-vt content row only, not the row a range op's end-vt cap
      // restores — a match whose basis_vt falls at/after an earlier
      // same-tx range op's end_vt sees that op's NEW content, where the
      // reference's sequential apply would see the pre-op version the cap
      // restores. Range-put followed by a same-tx match at/after its end
      // is a vanishingly rare shape; pinned by "match after same-tx
      // range put" in BitempSpec so a behavior change is deliberate.
      val checks = ops.filter(col("op").isin("match", "cas"))
        .select(col("eid"), coalesce(col("at_vt"), col("start_vt"), txTs).as("basis_vt"),
          col("expected_hash"), col("seq"))
      // one 1-row action: true iff any precondition fails
      val aborted = hasChecks && {
        val txWrites = ops.filter(col("op").isin("put", "delete", "cas"))
          .select(col("eid"),
            when(col("op") === "cas", coalesce(col("at_vt"), col("start_vt"), txTs))
              .otherwise(coalesce(col("start_vt"), txTs)).as("vt"),
            lit(txId).as("tx_id"),
            when(col("op") === "delete", lit(null: String))
              .otherwise(col("content_hash")).as("content_hash"),
            col("seq").as("cand_seq"))
        val cands = resolved
          .select(col("eid"), col("vt"), col("tx_id"), col("content_hash"),
            lit(-1L).as("cand_seq"))
          .unionByName(txWrites)
        val visible = checks.as("c")
          .join(cands.as("h"), col("c.eid") === col("h.eid") &&
            col("h.vt") <= col("basis_vt") && col("h.cand_seq") < col("c.seq"), "left")
          .groupBy(col("c.eid"), col("basis_vt"), col("c.seq"), col("expected_hash"))
          .agg(max_by(struct(col("h.content_hash").as("ch")),
            struct(col("h.vt"), col("h.tx_id"), col("h.cand_seq"))).as("_v"))
          .select(col("expected_hash"), col("_v.ch").as("visible_hash"))
        visible.filter(!(col("expected_hash") <=> col("visible_hash")))
          .limit(1).count() > 0L
      }
      if (aborted)
        return TxParts(emptyState(state.sparkSession),
          emptyState(state.sparkSession).select("eid"), hasEvict = false,
          aborted = true, cleanup = () => {
            ops.unpersist(); resolved.unpersist(); ()
          },
          resolvedTouched = resolved)

      // --- evict: hard-delete every version of the entity
      // (tx.clj:135-147, index_store.clj:993-1047)
      val evictEids = ops.filter(col("op") === "evict").select(col("eid"))

      // cas becomes a put at its basis valid-time (no end)
      val writes = ops.filter(col("op").isin("put", "delete", "cas"))
        .withColumn("start_vt",
          when(col("op") === "cas", coalesce(col("at_vt"), col("start_vt"), txTs))
            .otherwise(coalesce(col("start_vt"), txTs)))
        .withColumn("content_hash", when(col("op") === "delete", lit(null: String)).otherwise(col("content_hash")))
        .select(col("eid"), col("content_hash"), col("start_vt"), col("end_vt"), col("seq"))

      val noEnd = writes.filter(col("end_vt").isNull)
      val withEnd = writes.filter(col("end_vt").isNotNull && col("end_vt") =!= col("start_vt"))

      // --- rows for ops without end-vt (put-delete-etxs, no-end branch):
      // the start row, plus overwrite of the contiguous future run of
      // versions identical to the one visible at start-vt
      val startRowsNoEnd = noEnd.select(col("eid"), col("start_vt").as("vt"), col("content_hash"), col("seq"))

      // Single-pass plan (r6): one eid join, then ONE window
      // partition (op id) ordered by (hvt, htx) carries BOTH the running
      // "version visible at start-vt" (last_value ignoreNulls over rows
      // ≤ start) and the running "a differing future version was seen"
      // flag — so the whole visible-at-start + contiguous-run computation
      // is one shuffle+sort instead of the previous
      // groupBy + join-back + second window (4 shuffles, and at local
      // concurrency each AQE stage is a scheduler round-trip; this
      // subplan dominated interactive cas-tx latency, BENCH r5→r6).
      val futureNoEnd = noEnd.as("w")
        .join(resolved.as("h"), col("w.eid") === col("h.eid"), "inner")
        .select(col("w.eid").as("eid"), col("w.start_vt").as("start_vt"),
          col("w.content_hash").as("new_hash"), col("w.seq").as("seq"),
          col("h.vt").as("hvt"), col("h.tt").as("htt"), col("h.tx_id").as("htx"),
          col("h.content_hash").as("hhash"))
      val overwriteNoEnd = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("eid"), col("start_vt"), col("seq"))
          .orderBy(col("hvt"), col("htx"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        // visible-at-start rides forward to every later row; ties on vt
        // break by tx_id via the orderBy (same (hvt, htx) order the old
        // max_by used)
        val vis = last(when(col("hvt") <= col("start_vt"),
          struct(col("htt"), col("htx"), col("hhash"))), ignoreNulls = true).over(w)
        futureNoEnd
          .withColumn("_vis", vis)
          .withColumn("_same", col("hvt") > col("start_vt") &&
            col("_vis.htt") <=> col("htt") && col("_vis.htx") <=> col("htx") &&
            col("_vis.hhash") <=> col("hhash"))
          .withColumn("_broken", max(when(col("hvt") > col("start_vt") && !col("_same"), 1)
            .otherwise(0)).over(w))
          .filter(col("_same") && col("_broken") === 0)
          .select(col("eid"), col("hvt").as("vt"), col("new_hash").as("content_hash"), col("seq"))
      }

      // --- rows for ops with end-vt (put-delete-etxs, end branch):
      // new content at start plus every existing vt in (start, end), and a
      // restore row at end-vt copying the version visible there (original
      // tt/tx_id/hash preserved!), or a tombstone if none existed.
      // Restore/overwrite candidates include the CONTENT rows written by
      // EARLIER ops of this same tx (cand_seq < seq): ops apply
      // sequentially in the reference, so a range ending where an earlier
      // op's range starts must restore that op's doc, not pre-tx history
      // (space_tutorial_test.clj's neptune corrections exercise this).
      // Caps that would need to read another op's CAP row (cascaded
      // overlapping ranges within one tx) remain unsupported — documented.
      // The whole end-vt subplan (two joins, a window, a groupBy, an
      // anti-join) is pruned when the tx carries no range ops — the
      // overwhelmingly common case, and sequential-tx latency is
      // stage-count-bound at local concurrency.
      val assembled: DataFrame = if (!hasRanged)
        startRowsNoEnd.unionByName(overwriteNoEnd)
          .select(col("eid"), col("vt"), txTs.as("tt"), lit(txId).as("tx_id"),
            col("content_hash"), col("content_hash").isNull.as("tombstone"), col("seq"))
      else {
      val startRowsEnd = withEnd.select(col("eid"), col("start_vt").as("vt"), col("content_hash"), col("seq"))
      val txContentRows = startRowsNoEnd.unionByName(overwriteNoEnd).unionByName(startRowsEnd)
      val restoreCands = resolved
        .select(col("eid"), col("vt"), col("tt"), col("tx_id"),
          col("content_hash"), col("tombstone"), lit(-1L).as("cand_seq"))
        .unionByName(txContentRows.select(col("eid"), col("vt"), txTs.as("tt"),
          lit(txId).as("tx_id"), col("content_hash"),
          col("content_hash").isNull.as("tombstone"), col("seq").as("cand_seq")))
      val histForEnd = withEnd.as("w")
        .join(restoreCands.as("h"),
          col("w.eid") === col("h.eid") && col("h.cand_seq") < col("w.seq"), "left")
        .select(col("w.eid").as("eid"), col("w.start_vt").as("start_vt"), col("w.end_vt").as("end_vt"),
          col("w.content_hash").as("new_hash"), col("w.seq").as("seq"),
          col("h.vt").as("hvt"), col("h.tt").as("htt"), col("h.tx_id").as("htx"),
          col("h.content_hash").as("hhash"), col("h.tombstone").as("htomb"),
          col("h.cand_seq").as("cand_seq"))
      val overwriteEnd = histForEnd
        .filter(col("hvt") > col("start_vt") && col("hvt") < col("end_vt"))
        .select(col("eid"), col("hvt").as("vt"), col("new_hash").as("content_hash"), col("seq"))
      val restoreEnd = histForEnd.filter(col("hvt") <= col("end_vt"))
        .groupBy(col("eid"), col("end_vt"), col("seq"))
        // same-vt tie order: (vt, tx_id, op-seq) — this tx's rows carry the
        // highest tx_id, and among them the latest earlier op wins
        .agg(max_by(struct(col("htt"), col("htx"), col("hhash"), col("htomb")),
          struct(col("hvt"), col("htx"), col("cand_seq"))).as("_v"))
        .select(col("eid"), col("end_vt").as("vt"), col("seq"),
          col("_v.htt").as("r_tt"), col("_v.htx").as("r_tx"),
          col("_v.hhash").as("r_hash"), col("_v.htomb").as("r_tomb"))
      val noRestoreSource = withEnd.join(restoreEnd,
          withEnd("eid") === restoreEnd("eid") && restoreEnd("vt") === withEnd("end_vt"), "left_anti")
        .select(col("eid"), col("end_vt").as("vt"), lit(null: String).as("content_hash"), col("seq"))

      // assemble: current-tx rows get (txTime, txId); restore rows keep
      // their original (tt, tx_id)
      val curRows = startRowsNoEnd.unionByName(overwriteNoEnd)
        .unionByName(startRowsEnd).unionByName(overwriteEnd).unionByName(noRestoreSource)
        .select(col("eid"), col("vt"), txTs.as("tt"), lit(txId).as("tx_id"),
          col("content_hash"), col("content_hash").isNull.as("tombstone"), col("seq"))
      val restRows = restoreEnd
        .select(col("eid"), col("vt"), col("r_tt").as("tt"), col("r_tx").as("tx_id"),
          col("r_hash").as("content_hash"), col("r_tomb").as("tombstone"), col("seq"))
      curRows.unionByName(restRows)
      }

      // last op in the tx wins per (eid, vt)
      val newRows = assembled
        .groupBy(col("eid"), col("vt"))
        .agg(max_by(struct(col("tt"), col("tx_id"), col("content_hash"), col("tombstone")), col("seq")).as("_r"))
        .select(col("eid"), col("vt"), col("_r.tt").as("tt"), col("_r.tx_id").as("tx_id"),
          col("_r.content_hash").as("content_hash"), col("_r.tombstone").as("tombstone"))

      // evict wins over the SAME tx's writes regardless of op order
      // (tx_test.clj:1235 test-put-evict-in-same-transaction-1337; the
      // reference's evict drops every version of the eid including ones
      // written by this very tx — even a later re-put, its known #1337
      // wart, which we match)
      // NOTE: the anti-join stays even when the tx has no evicts — beyond
      // semantics it acts as a constraint barrier: unioning the bare
      // Aggregate into the state trips a Catalyst union-constraint
      // rewrite bug (AttributeMap "key not found" in
      // UnionBase.rewriteConstraints) on the range branch's nested union.
      val kept = newRows.join(broadcast(evictEids), Seq("eid"), "left_anti")
      TxParts(kept, evictEids, hasEvict, aborted = false,
        cleanup = () => { ops.unpersist(); resolved.unpersist(); () },
        resolvedTouched = resolved)
    } catch {
      case t: Throwable =>
        ops.unpersist(); resolved.unpersist()
        throw t
    }
  }

  /** Fold a sequence of txs in order; aborted txs leave state unchanged
    * (the reference's commit/abort, tx.clj:266-391).
    *
    * Scale shape: maximal runs of consecutive put/delete/evict-only txs
    * (which can never abort) are applied in ONE distributed pass by
    * [[applyPutDeleteTxs]] — a per-entity fold behind a single groupByKey
    * shuffle of the touched entities' history, so a 1000-tx batch of puts
    * costs one shuffle, not 1000 sequential full-history aggregations.
    * Only txs carrying match/cas (whose abort decision is global to the
    * tx) take the sequential per-tx path. Each segment is
    * localCheckpoint-ed so lineage doesn't grow unboundedly. */
  def applyBatch(state: DataFrame,
      txs: Seq[(Long, java.time.LocalDateTime, DataFrame)]): DataFrame = {
    if (txs.isEmpty) return state
    // Bounded all-driver route (r16, VERDICT #4): one tagged-union job
    // pulls every tx's op list (the same single-job discipline as the
    // classify pass below), the txs fold sequentially in memory —
    // semantically applyBatchSeq, the differential oracle itself — and
    // the state returns as a LocalRelation. Over the bound: unchanged.
    TxDriver.tryApplyBatch(state, txs) match {
      case Some(ns) => return ns
      case None => ()
    }
    // classify each tx by the op kinds it contains — ONE distinct job over
    // the union of (txIdx, op), not one job per tx (a 1000-tx batch would
    // otherwise pay 1000 scheduler round-trips before any work)
    val kindPairs = txs.zipWithIndex
      .map { case ((_, _, ops), i) => ops.select(lit(i).as("i"), col("op"),
        (col("op").isin("put", "delete", "cas") && col("end_vt").isNotNull).as("r")) }
      .reduce(_ unionByName _)
      .distinct().collect().map(r => (r.getInt(0), r.getString(1), r.getBoolean(2)))
    val kinds: IndexedSeq[Set[String]] = {
      val grouped = kindPairs.groupBy(_._1)
      (0 until txs.length).map(i =>
        grouped.getOrElse(i, Array.empty).map(_._2).toSet)
    }
    val ranged: IndexedSeq[Boolean] = {
      val grouped = kindPairs.groupBy(_._1)
      (0 until txs.length).map(i =>
        grouped.getOrElse(i, Array.empty).exists(_._3))
    }
    val fast = kinds.map(k => !(k.contains("match") || k.contains("cas")))
    // fold maximal fast runs in one pass each; sequential path otherwise
    var st = state
    var i = 0
    while (i < txs.length) {
      if (fast(i)) {
        var j = i
        while (j < txs.length && fast(j)) j += 1
        // tx op lists are DATA, often derived from queries (the
        // applyTxParts ops-cache rationale): the fold reads each plan
        // several times (touched distinct, hist-union input, evict
        // filter), so cache for the run and release after the eager
        // checkpoint below has consumed everything
        val run = txs.slice(i, j).map { case (id, t, ops) => (id, t, ops.cache()) }
        try {
          val (newRows, evictEids) = applyPutDeleteTxs(st, run)
          val hasEvict = (i until j).exists(k => kinds(k).contains("evict"))
          val kept =
            if (hasEvict) st.join(broadcast(evictEids), Seq("eid"), "left_anti")
            else st
          st = kept.unionByName(newRows).localCheckpoint(true)
        } finally run.foreach(_._3.unpersist(false))
        i = j
      } else {
        val (txId, txTime, ops) = txs(i)
        // applyTx checkpoints the new state eagerly — no second checkpoint;
        // the classify pass above already knows this tx's shape, so the
        // per-tx probe job is skipped too
        val (next, _) = applyTx(st, ops, txId, txTime,
          Some(TxShape(hasChecks = true,
            hasEvict = kinds(i).contains("evict"), hasRanged = ranged(i))))
        st = next
        i += 1
      }
    }
    st
  }

  /** The round-1 sequential fold (one applyTx + localCheckpoint per tx),
    * kept as the differential-test oracle for [[applyBatch]]'s fast path. */
  private[graft] def applyBatchSeq(state: DataFrame,
      txs: Seq[(Long, java.time.LocalDateTime, DataFrame)]): DataFrame =
    txs.foldLeft(state) { case (st, (txId, txTime, ops)) =>
      applyTx(st, ops, txId, txTime)._1 // applyTx checkpoints eagerly
    }

  /** Apply a run of put/delete/evict-only txs in ONE distributed pass.
    * Returns (newRows delta, evicted eids); the caller composes
    * `state.antiJoin(evicted) union newRows`.
    *
    * Mechanics: the touched entities' history rows (left_semi on the ops'
    * eids — untouched entities never shuffle) and the op rows groupByKey
    * on eid; [[TxLogFold.foldEntity]] replays the txs per entity in
    * memory with semantics identical to [[applyTxParts]] (verified by the
    * differential spec): per tx, op rows are computed against the pre-tx
    * resolved snapshot with last-op-wins per vt, then merged. Per-entity
    * memory is bounded by that entity's version count — the same bound
    * the reference's entity-history index carries (index_store.clj). */
  /** @param broadcastTouched force a broadcast of the touched-eid list
    *   into the history semi-join. Leave false on batch paths — AQE picks
    *   the join side from runtime sizes there, and a million-entity tx
    *   batch must NOT be forced driver-side. Streaming-rooted plans run
    *   with AQE off (Spark disables it), so the per-batch indexer passes
    *   true: one micro-batch's eid list is bounded by the batch size. */
  /** @param stateIsPruned the caller already restricted `state` to the
    *   txs' touched entities (e.g. the streaming indexer shares one
    *   pruned-and-cached history frame between the fold and its matview
    *   maintenance) — skips the semi-join and its broadcast build. */
  def applyPutDeleteTxs(state: DataFrame,
      txs: Seq[(Long, java.time.LocalDateTime, DataFrame)],
      broadcastTouched: Boolean = false,
      stateIsPruned: Boolean = false): (DataFrame, DataFrame) = {
    val opsAll = txs.map { case (txId, txTime, ops) =>
      ops.filter(col("op").isin("put", "delete", "evict"))
        .select(
          col("eid"), lit(1).as("kind"),
          when(col("op") === "evict", lit(null).cast(TimestampNTZType))
            .otherwise(coalesce(col("start_vt"), lit(txTime))).as("vt"),
          lit(txTime).cast(TimestampNTZType).as("tt"),
          lit(txId).as("txId"),
          when(col("op") === "delete", lit(null: String))
            .otherwise(col("content_hash")).as("hash"),
          lit(false).as("tomb"),
          col("op"),
          col("end_vt").as("endVt"),
          col("seq"))
    }.reduce(_ unionByName _)
    foldOps(state, opsAll, broadcastTouched, stateIsPruned)
  }

  /** [[applyPutDeleteTxs]] with tx id/time taken from `tx_id`/`tx_time`
    * COLUMNS of one ops frame instead of a Seq of per-tx frames — the
    * log-replay shape: a thousand-tx catch-up is one scan feeding one
    * fold, not a thousand-branch union plan (each branch re-filtering the
    * log). Fold semantics are identical: [[TxLogFold.foldEntity]] orders
    * by (txId, seq) per entity either way. */
  def applyPutDeleteTxsFrame(state: DataFrame, opsWithTx: DataFrame,
      broadcastTouched: Boolean = false): (DataFrame, DataFrame) = {
    val opsAll = opsWithTx.filter(col("op").isin("put", "delete", "evict"))
      .select(
        col("eid"), lit(1).as("kind"),
        when(col("op") === "evict", lit(null).cast(TimestampNTZType))
          .otherwise(coalesce(col("start_vt"),
            col("tx_time").cast(TimestampNTZType))).as("vt"),
        col("tx_time").cast(TimestampNTZType).as("tt"),
        col("tx_id").as("txId"),
        when(col("op") === "delete", lit(null: String))
          .otherwise(col("content_hash")).as("hash"),
        lit(false).as("tomb"),
        col("op"),
        col("end_vt").as("endVt"),
        col("seq"))
    foldOps(state, opsAll, broadcastTouched, stateIsPruned = false)
  }

  private def foldOps(state: DataFrame, opsAll: DataFrame,
      broadcastTouched: Boolean, stateIsPruned: Boolean): (DataFrame, DataFrame) = {
    val spark = state.sparkSession
    import spark.implicits._
    val touched0 = opsAll.select("eid").distinct()
    val touched = if (broadcastTouched) broadcast(touched0) else touched0
    val hist = (if (stateIsPruned) state
        else state.join(touched, Seq("eid"), "left_semi"))
      .select(col("eid"), lit(0).as("kind"), col("vt"), col("tt"),
        col("tx_id").as("txId"), col("content_hash").as("hash"),
        col("tombstone").as("tomb"), lit("").as("op"),
        lit(null).cast(TimestampNTZType).as("endVt"), lit(0L).as("seq"))
    val newRows = hist.unionByName(opsAll).as[FoldIn]
      .groupByKey(_.eid)
      .flatMapGroups((_: String, it: Iterator[FoldIn]) => TxLogFold.foldEntity(it))
      .toDF()
      .select(col("eid"), col("vt"), col("tt"), col("txId").as("tx_id"),
        col("hash").as("content_hash"), col("tomb").as("tombstone"))
    val evictEids = opsAll.filter(col("op") === "evict").select("eid").distinct()
    (newRows, evictEids)
  }

  /** A transaction function (tx.clj:149-227): runs against the in-flight
    * resolved snapshot (latest non-tombstone fact per entity as of the tx)
    * and returns op rows to splice in at the fn op's position. The fn body
    * is a Scala closure registered by name — the re-expression of the
    * reference's stored-Clojure `:crux.db/fn` docs (SURVEY §2.10). */
  type TxFn = (DataFrame, String) => DataFrame

  /** Apply a tx whose ops may include ("fn", fnName, argString in
    * content_hash/expected_hash columns): fn ops evaluate SEQUENTIALLY in
    * op order, and each sees the in-flight state — the pre-tx snapshot
    * plus the content rows of every earlier op in this tx (reference
    * semantics: the fn's db comes from the InFlightTx that already
    * indexed prior same-tx events, tx.clj:200-202 +
    * tx_test.clj:713 `tx-fn-sees-in-tx-query-results`). Emitted ops
    * splice in at the fn op's position, sub-ordered by their own seq.
    * Fns may emit further fn ops (legal in the reference,
    * tx.clj:198-200): expansion repeats to a round cap. An unknown fn
    * name, a nesting overflow, or a throwing fn body ABORTS the tx
    * (tx.clj:149-227 — errors abort, they don't kill the indexer). */
  /** Control-flow marker for EXPECTED tx-fn failures (unknown fn name,
    * throwing fn body): these abort the tx. Infrastructure errors (Spark,
    * IO) propagate — the reference's indexer aborts the tx on fn errors
    * but does not swallow engine failures (tx.clj:149-227). */
  private final class TxFnAbort(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  def applyTxWithFns(state: DataFrame, ops: DataFrame, txId: Long,
      txTime: java.time.LocalDateTime, fns: Map[String, TxFn],
      maxFnDepth: Int = 10): (DataFrame, Boolean) = {
    var current = ops
    // per-op NESTING depth (not a global round counter): a fn may legally
    // emit any breadth of fn ops at its own depth+1 — the reference guards
    // recursion depth only, so a wide fan-out must not exhaust the budget
    // (each round consumes one fn op and emissions strictly deepen, so
    // termination is the depth cap itself)
    var depthOf: Map[Long, Int] = Map.empty.withDefaultValue(0)
    try {
      def remainingFnOps() = current.filter(col("op") === "fn")
        .select(col("eid"), col("content_hash"), col("seq")).collect()
        .sortBy(_.getLong(2))
      var fnOps = remainingFnOps()
      if (fnOps.isEmpty) return applyTx(state, current, txId, txTime)
      val txTs = lit(txTime)
      // in-flight state visible to the fn at `beforeSeq`: pre-tx history
      // plus earlier same-tx content rows (the same start-vt candidate
      // model the match precondition uses)
      def interimSnapshot(beforeSeq: Long): DataFrame = {
        val writes = current
          .filter(col("op").isin("put", "delete", "cas") && col("seq") < beforeSeq)
          .select(col("eid"),
            when(col("op") === "cas", coalesce(col("at_vt"), col("start_vt"), txTs))
              .otherwise(coalesce(col("start_vt"), txTs)).as("vt"),
            txTs.as("tt"), lit(txId).as("tx_id"),
            when(col("op") === "delete", lit(null: String))
              .otherwise(col("content_hash")).as("content_hash"),
            (col("op") === "delete").as("tombstone"))
        Bitemp.asOfTime(resolvedHistory(state.unionByName(writes)), txTs, txTs)
      }
      while (fnOps.nonEmpty) {
        // evaluate the LOWEST-seq fn only, so later fns (and this fn's
        // emitted ops) see its effects next round; splice emitted ops at
        // the fn's position, sub-ordered by their own seq, then DENSELY
        // RENUMBER — a (outer, inner) sort + row_number, never
        // multiplicative scaling (which overflows Long at nesting depth
        // ≥ 3 and corrupts last-op-wins ordering)
        val r = fnOps.head
        if (depthOf(r.getLong(2)) >= maxFnDepth)
          return (state, true) // runaway RECURSION: abort
        val expanded = {
          val fnName = r.getString(0); val arg = r.getString(1); val seq = r.getLong(2)
          val fn = fns.getOrElse(fnName,
            throw new TxFnAbort(s"unknown tx fn $fnName"))
          val emitted =
            try fn(interimSnapshot(seq), arg)
            catch { case scala.util.control.NonFatal(e) =>
              throw new TxFnAbort(s"tx fn $fnName threw", e) }
          Seq(emitted.withColumn("_outer", lit(seq)).withColumn("_inner", col("seq")))
        }
        val direct = current
          .filter(col("op") =!= "fn" || col("seq") =!= r.getLong(2))
          .withColumn("_outer", col("seq")).withColumn("_inner", lit(Long.MinValue))
        val combined = expanded.foldLeft(direct)(_ unionByName _)
        // renumber on the driver: the combined op list is bounded by one
        // tx's op count and is about to be folded into applyTx anyway; a
        // Window.orderBy with no partitionBy here would be a dishonest
        // single-partition sort stage (VERDICT r2 "What's wrong" #3)
        val schema = combined.schema
        val oIdx = schema.fieldIndex("_outer"); val iIdx = schema.fieldIndex("_inner")
        val sIdx = schema.fieldIndex("seq")
        val sorted = combined.collect()
          .sortBy(r => (r.getLong(oIdx), r.getLong(iIdx)))
        // re-key per-op depths to the new dense seqs: a spliced (emitted)
        // row inherits its emitter's depth + 1, a direct row keeps its own
        depthOf = sorted.zipWithIndex.map { case (r, i) =>
          val emitted = r.getLong(iIdx) != Long.MinValue
          val oldDepth = depthOf(r.getLong(if (emitted) oIdx else sIdx))
          (i + 1).toLong -> (if (emitted) oldDepth + 1 else oldDepth)
        }.toMap.withDefaultValue(0)
        val renumbered = sorted.zipWithIndex.map { case (r, i) =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(sIdx, (i + 1).toLong))
          }
        current = combined.sparkSession
          .createDataFrame(java.util.Arrays.asList(renumbered: _*), schema)
          .drop("_outer", "_inner")
        fnOps = remainingFnOps()
      }
      applyTx(state, current, txId, txTime)
    } catch {
      case _: TxFnAbort => (state, true) // expected fn failure aborts this tx only
    }
  }
}

/** One fold-input row for [[TxLog.applyPutDeleteTxs]]: an existing history
  * row (kind=0; vt/tt/txId/hash/tomb populated) or a tx op row (kind=1;
  * vt=coalesced start_vt, tt=txTime, txId=tx id, hash=content hash —
  * already nulled for deletes — plus op/endVt/seq). Timestamps ride as
  * LocalDateTime ⇔ TIMESTAMP_NTZ via the product encoder. */
private[graft] final case class FoldIn(
    eid: String, kind: Int,
    vt: Option[java.time.LocalDateTime],
    tt: Option[java.time.LocalDateTime],
    txId: Long,
    hash: Option[String],
    tomb: Boolean,
    op: String,
    endVt: Option[java.time.LocalDateTime],
    seq: Long)

/** One new version row emitted by the fold (the delta). */
private[graft] final case class FoldOut(
    eid: String, vt: java.time.LocalDateTime, tt: java.time.LocalDateTime,
    txId: Long, hash: Option[String], tomb: Boolean)

private[graft] object TxLogFold {
  import java.time.LocalDateTime

  private final case class Ver(tt: LocalDateTime, txId: Long,
      hash: Option[String], tomb: Boolean)

  private implicit val ldtOrd: Ordering[LocalDateTime] = _ compareTo _

  /** Replay one entity's ops (all txs of a put/delete/evict segment) over
    * its resolved history, in memory. Semantics mirror
    * [[TxLog.applyTxParts]] exactly — per tx: op rows are computed
    * against the pre-tx resolved snapshot PLUS earlier same-tx CONTENT
    * rows (crux applies ops sequentially), combined last-op-wins per vt
    * by seq, then merged;
    * evict clears all earlier rows AND the same tx's writes regardless of
    * op order (tx_test.clj:1235 #1337 — matching applyTxParts' anti-join
    * of the tx's own delta). The differential spec checks this against
    * the sequential applyTx fold on randomized op programs. */
  def foldEntity(rows: Iterator[FoldIn]): Iterator[FoldOut] = {
    val all = rows.toArray
    val eid = all.head.eid
    // resolved snapshot: latest correction (max tx_id) per vt
    val resolved = scala.collection.mutable.TreeMap.empty[LocalDateTime, Ver]
    all.filter(_.kind == 0).groupBy(_.vt.get).foreach { case (vt, rs) =>
      val w = rs.maxBy(_.txId)
      resolved(vt) = Ver(w.tt.get, w.txId, w.hash, w.tomb)
    }
    val emitted = scala.collection.mutable.ArrayBuffer.empty[FoldOut]
    val ops = all.filter(_.kind == 1).sortBy(r => (r.txId, r.seq))
    var i = 0
    while (i < ops.length) {
      val txId = ops(i).txId
      var j = i
      while (j < ops.length && ops(j).txId == txId) j += 1
      val txOps = ops.slice(i, j)
      i = j
      var evicted = false
      // Mirrors applyTxParts' candidate model EXACTLY: emissions are a
      // seq-tagged LIST (the sequential path's `assembled` union) with
      // last-op-wins per vt resolved at tx end, and ranged ops read an
      // IMMUTABLE candidate set — pre-tx resolved history (cand_seq -1)
      // plus earlier same-tx CONTENT rows (start rows + no-end overwrite
      // runs; `txContentRows`). Range-overwrite and cap rows are
      // provenance copies, NOT candidates — the earlier keyed-map form
      // let a later op's cap/overwrite DESTROY an earlier op's content
      // row as a candidate, diverging from the sequential oracle on
      // overlapping same-tx ranges (r9 review).
      val txEmits = scala.collection.mutable.ArrayBuffer.empty[(FoldOut, Long)]
      val txCands = scala.collection.mutable.ArrayBuffer.empty[(LocalDateTime, Ver)]
      // pre-tx history is immutable for the tx's duration (resolved only
      // updates at the flush below) — snapshot once, not per ranged op
      lazy val preTxCands: Seq[(LocalDateTime, Ver, Long)] =
        resolved.iterator.map { case (vt, v) => (vt, v, -1L) }.toSeq
      def preAt(v: LocalDateTime): Option[Ver] =
        resolved.rangeTo(v).lastOption.map(_._2)
      txOps.foreach { o =>
        o.op match {
          case "evict" => evicted = true
          case "put" | "delete" =>
            val s = o.vt.get
            val txTt = o.tt.get
            val h = o.hash
            val curVer = Ver(txTt, txId, h, h.isEmpty)
            o.endVt match {
              case None =>
                // start row + overwrite of the contiguous future run of
                // versions identical to the one visible at start (pre-tx
                // history only — futureNoEnd joins `resolved`, not the
                // tx's own rows)
                txEmits += ((FoldOut(eid, s, txTt, txId, h, h.isEmpty), o.seq))
                txCands += ((s, curVer))
                preAt(s).foreach { vis =>
                  var stop = false
                  resolved.rangeFrom(s).iterator
                    .filter(_._1.compareTo(s) > 0)
                    .foreach { case (hvt, hv) =>
                      if (!stop) {
                        if (hv.tt == vis.tt && hv.txId == vis.txId && hv.hash == vis.hash) {
                          txEmits += ((FoldOut(eid, hvt, txTt, txId, h, h.isEmpty), o.seq))
                          txCands += ((hvt, curVer))
                        } else stop = true
                      }
                    }
                }
              case Some(e) if e != s =>
                // candidates this op may read: all pre-tx history + the
                // EARLIER same-tx content rows appended so far (seq order
                // makes "earlier" implicit). Snapshot BEFORE this op's
                // own rows land (crux reads once per op, then writes).
                val cands: Seq[(LocalDateTime, Ver, Long)] = preTxCands ++
                  txCands.iterator.zipWithIndex.map { case ((vt, v), i) => (vt, v, i.toLong) }
                // start row, overwrite at every candidate vt in (s, e),
                // and a restore at e copying the version visible there
                // (original tt/tx_id/hash preserved — provenance)
                txEmits += ((FoldOut(eid, s, txTt, txId, h, h.isEmpty), o.seq))
                txCands += ((s, curVer))
                cands.iterator.map(_._1)
                  .filter(vt => vt.compareTo(s) > 0 && vt.compareTo(e) < 0)
                  .toSet.foreach { vt: LocalDateTime =>
                    txEmits += ((FoldOut(eid, vt, txTt, txId, h, h.isEmpty), o.seq))
                  }
                // same-vt tie order as restoreEnd: (vt, tx_id, cand order)
                val capVer = cands.iterator.filter(_._1.compareTo(e) <= 0)
                  .maxByOption { case (vt, v, ci) => (vt, v.txId, ci) }
                capVer match {
                  case Some((_, vis, _)) =>
                    txEmits += ((FoldOut(eid, e, vis.tt, vis.txId, vis.hash, vis.tomb), o.seq))
                  case None =>
                    txEmits += ((FoldOut(eid, e, txTt, txId, None, true), o.seq))
                }
              case _ => () // end == start: contributes nothing (applyTx filters it)
            }
          case _ => () // match/cas/fn never reach the fold
        }
      }
      if (evicted) { emitted.clear(); resolved.clear(); txEmits.clear() }
      // last op in the tx wins per vt (newRows' max_by(seq)); insertion
      // order within equal seq can't happen (one op emits distinct vts)
      txEmits.groupBy(_._1.vt).toSeq.sortBy(_._1)
        .map { case (_, rs) => rs.maxBy(_._2)._1 }
        .foreach { r =>
          emitted += r
          if (resolved.get(r.vt).forall(_.txId <= r.txId))
            resolved(r.vt) = Ver(r.tt, r.txId, r.hash, r.tomb)
        }
    }
    emitted.iterator
  }
}
