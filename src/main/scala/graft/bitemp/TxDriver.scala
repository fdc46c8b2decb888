package graft.bitemp

import java.time.LocalDateTime
import org.apache.spark.sql.{Column, DataFrame, ResidentRelation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType, TimestampNTZType}
import graft.sources.Route

/** Bounded ALL-DRIVER route for the INTERACTIVE transaction paths
  * ([[TxLog.applyTx]] and [[TxLog.applyBatch]]) — r15 VERDICT #4, the
  * same size-route pattern as the graph fixpoints and the suffix-index
  * probe: at interactive op counts the sequential tx fold is pure
  * scheduler latency (ingest_cas measured 16 jobs over 6 SQL execs for
  * three txs of ≤ 16k ops), so while BOTH the current state and the
  * batch's op list fit [[DefaultTxDriverRows]] (conf
  * `spark.graft.route.tx.maxRows`, 0 disables), the whole fold runs in
  * memory and the new state returns as a [[ResidentRelation]] over a
  * [[State]] — the next tx, a node snapshot, an entity history or an
  * as-of read ([[tryAsOf]]) reads that value by reference, with no
  * collect and no job.
  *
  * [[State.applyTx]] is the ONE in-memory tx application: the node route
  * ([[tryApplyTx]]), the batch route ([[tryApplyBatch]], a fold of it
  * over the batch's txs) and the ingest store's mirror
  * (`graft.streaming.IngestStream`) all call it. Its per-entity fold is
  * the same [[TxLogFold.foldEntity]] the distributed groupByKey fold runs
  * (the one implementation the randomized differential specs pin against
  * the sequential applyTx oracle); it only adds the match/cas
  * precondition in its in-memory form — an exact mirror of
  * [[TxLog.applyTxParts]]' candidate model: resolved pre-tx history
  * (cand_seq −1) plus EARLIER same-tx writes (cand_seq < check seq),
  * visible = max by (vt, tx_id, cand_seq) at the basis, abort iff any
  * expected hash differs null-safely. TxLogFoldSpec pins the route ≡ the
  * conf-disabled distributed path on randomized cas/evict/range
  * programs.
  *
  * Any other state (a LocalRelation handed in, or a small distributed
  * one) is pulled into a [[State]] once, by one bounded collect. A
  * 100 TB state (or a bulk tx) is over the bound and takes the unchanged
  * distributed paths; so does an op list with a null `seq`, a state row
  * with a null key column ([[Bitemp.versionsOf]]), and any call whose
  * driver body fails non-fatally.
  */
private[graft] object TxDriver {

  /** State rows AND batch op rows must EACH fit this bound to route
    * driver-side. ~128k version rows ≈ a few tens of MB of driver heap —
    * the repo's bounded-artifact budget. Conf:
    * `spark.graft.route.tx.maxRows` (0 disables — the differential
    * spec's lever). */
  private[graft] val DefaultTxDriverRows: Long = 1L << 17

  /** The route's bound in `spark`'s session. */
  private[graft] def maxRows(spark: SparkSession): Long =
    Route.maxRows(spark, "tx", DefaultTxDriverRows)

  private def bound(df: DataFrame): Long = maxRows(df.sparkSession)

  private[graft] final case class OpRow(op: String, eid: String, hash: Option[String],
      startVt: Option[LocalDateTime], endVt: Option[LocalDateTime],
      atVt: Option[LocalDateTime], expected: Option[String], seq: Long)

  /** The op kinds [[State.applyTx]] models as [[TxLog.applyTxParts]]
    * does; any other kind declines the route. */
  private val modelledOps = Set("put", "delete", "cas", "match", "evict")

  private def opt[A](r: Row, i: Int): Option[A] =
    if (r.isNullAt(i)) None else Some(r.getAs[A](i))

  /** None when any op row has a null `seq` (the distributed join drops
    * such rows, so the route declines rather than guess an order), a null
    * `eid`, or an op kind outside [[modelledOps]]. */
  private def opRowsOf(rows: Array[Row], schema: StructType): Option[Array[OpRow]] = {
    val (iOp, iEid, iH, iS, iE, iA, iX, iQ) = (schema.fieldIndex("op"),
      schema.fieldIndex("eid"), schema.fieldIndex("content_hash"),
      schema.fieldIndex("start_vt"), schema.fieldIndex("end_vt"),
      schema.fieldIndex("at_vt"), schema.fieldIndex("expected_hash"),
      schema.fieldIndex("seq"))
    if (rows.exists(r => r.isNullAt(iQ) || r.isNullAt(iEid) ||
        !modelledOps.contains(r.getString(iOp)))) None
    else Some(rows.map(r => OpRow(r.getString(iOp), r.getString(iEid),
      opt[String](r, iH), opt[LocalDateTime](r, iS), opt[LocalDateTime](r, iE),
      opt[LocalDateTime](r, iA), opt[String](r, iX), r.getLong(iQ))))
  }

  private implicit val ldtOrd: Ordering[LocalDateTime] = _ compareTo _

  /** One tx applied to a [[State]]: the state after it, the version rows
    * it emitted by entity, and the entities it evicted. */
  private[graft] final case class Applied(state: State,
      emitted: Map[String, Vector[Bitemp.Version]], evicted: Set[String])

  /** A driver-resident version state: its rows by entity and their
    * count. Immutable; a [[ResidentRelation]] state frame holds it by
    * reference. */
  private[graft] final class State(val byEid: Map[String, Vector[Bitemp.Version]],
      val size: Long) {
    def frame(spark: SparkSession): DataFrame =
      ResidentRelation(spark, this, TxLog.versionSchema, size)(rows)

    /** The versions as `TxLog.versionSchema` rows. */
    def rows: Iterator[Row] = byEid.valuesIterator.flatMap(_.iterator.map(_.toRow))

    def filter(p: Bitemp.Version => Boolean): State =
      State.of(byEid.valuesIterator.flatMap(_.iterator.filter(p)))

    /** The greatest tx id and the greatest tx time; None when empty. */
    def latest: Option[(Long, LocalDateTime)] =
      if (size == 0) None
      else Some((byEid.valuesIterator.flatMap(_.iterator.map(_.txId)).max,
        byEid.valuesIterator.flatMap(_.iterator.map(_.tt)).max))

    /** Apply ONE transaction — [[TxLog.applyTx]]'s eager path in memory:
      * the match/cas precondition first, then the fold, then the
      * evict-wins merge. The tx time is truncated to the microseconds
      * Spark stores (the distributed fold's `lit(txTime)`), so a resident
      * state reads as a stored one. None on a match/cas abort. */
    def applyTx(ops: Array[OpRow], txId: Long, txTime: LocalDateTime): Option[Applied] = {
      val tt = micros(txTime)
      def history(eid: String) = byEid.getOrElse(eid, Vector.empty)
      // a write's valid time (cas writes at its basis) and hash
      def vtOf(o: OpRow) =
        (if (o.op == "cas") o.atVt.orElse(o.startVt) else o.startVt).getOrElse(tt)
      def hashOf(o: OpRow) = if (o.op == "delete") None else o.hash
      def isWrite(o: OpRow) = o.op == "put" || o.op == "delete" || o.op == "cas"
      lazy val writes = ops.filter(isWrite)
      // candidates = resolved pre-tx history (cand_seq −1) + EARLIER
      // same-tx writes — applyTxParts' exact model, including the
      // documented deviation (range caps are not candidates)
      val aborted = ops.exists { c =>
        (c.op == "match" || c.op == "cas") && {
          val basis = c.atVt.orElse(c.startVt).getOrElse(tt)
          val resolved = history(c.eid).groupBy(_.vt).iterator.map { case (vt, vs) =>
            val w = vs.maxBy(_.txId)
            (vt, w.txId, -1L, Option(w.contentHash))
          }
          val earlier = writes.iterator.filter(w => w.eid == c.eid && w.seq < c.seq)
            .map(w => (vtOf(w), txId, w.seq, hashOf(w)))
          val visible = (resolved ++ earlier).filter(t => !t._1.isAfter(basis))
            .maxByOption(t => (t._1, t._2, t._3)).flatMap(_._4)
          c.expected != visible // null-safe: None == None passes
        }
      }
      if (aborted) None
      else {
        // the fold: identical FoldIn rows to applyPutDeleteTxs' op mapping
        // (cas → put at its basis vt, delete → null hash, evict → no vt),
        // run through the ONE shared foldEntity implementation
        val foldOps = ops.collect {
          case o if o.op == "evict" =>
            FoldIn(o.eid, 1, None, Some(tt), txId, None, tomb = false, "evict", None, o.seq)
          case o if isWrite(o) =>
            FoldIn(o.eid, 1, Some(vtOf(o)), Some(tt), txId, hashOf(o), tomb = false,
              if (o.op == "cas") "put" else o.op, o.endVt, o.seq)
        }
        val emitted = foldOps.groupBy(_.eid).map { case (eid, eops) =>
          val hist = history(eid).iterator.map(v => FoldIn(eid, 0, Some(v.vt), Some(v.tt),
            v.txId, Option(v.contentHash), v.tombstone, "", None, 0L))
          eid -> TxLogFold.foldEntity(hist ++ eops.iterator).map(r =>
            Bitemp.Version(r.eid, r.vt, r.tt, r.txId, r.hash.orNull, r.tomb)).toVector
        }.filter(_._2.nonEmpty)
        // evict wins over the same tx's writes (foldEntity already emits
        // nothing for an evicted entity); dropping the eid's rows IS the
        // distributed path's anti-join
        val evicted = ops.iterator.filter(_.op == "evict").map(_.eid).toSet
        val kept = evicted.foldLeft((byEid, size)) { case ((m, n), e) =>
          (m - e, n - m.get(e).fold(0)(_.size))
        }
        val (next, n) = emitted.foldLeft(kept) { case ((m, n), (e, vs)) =>
          (m.updated(e, m.getOrElse(e, Vector.empty) ++ vs), n + vs.size)
        }
        Some(Applied(new State(next, n), emitted, evicted))
      }
    }
  }

  private[graft] object State {
    def of(versions: Iterator[Bitemp.Version]): State = apply(versions.toVector.groupBy(_.eid))

    def apply(byEid: Map[String, Vector[Bitemp.Version]]): State =
      new State(byEid, byEid.valuesIterator.map(_.size.toLong).sum)
  }

  /** The [[State]] `state` holds by reference, within its session's bound;
    * None for any other frame. Runs nothing. */
  private[graft] def resident(state: DataFrame): Option[State] =
    ResidentRelation.valueOf(state).collect { case s: State if s.size <= bound(state) => s }

  /** [[Bitemp.asOf]] (`basis` Left, a tx id) and [[Bitemp.asOfTime]]
    * (Right, a tx time) in driver memory: when `versions` is
    * deterministic filters over a resident [[State]] within the bound, and
    * the valid time and the basis are literals of the compared columns'
    * types (a `TIMESTAMP_NTZ` vt and tx time, a long or int tx id), the
    * candidates are the filters' `eid` keys looked up by entity (every row
    * without a key), each re-checked against the whole filter condition,
    * and [[Bitemp.asOfLocal]] picks the winners. They return as a
    * LocalRelation in `schema` (the distributed result's), so collecting
    * them runs no job. None → the distributed plan. */
  private[bitemp] def tryAsOf(versions: DataFrame, validTime: Column,
      basis: Either[Column, Column], schema: StructType): Option[DataFrame] = {
    val b = bound(versions)
    Route.attempt(for {
      f <- ResidentRelation.filtered(versions) if b > 0
      st <- Some(f.value).collect { case s: State if s.size <= b => s }
      vt <- ntzLiteral(validTime)
      known <- basis match {
        case Left(id) => ResidentRelation.literalOf(id).collect {
          case (n: Long, LongType) => Left(n)
          case (n: Int, IntegerType) => Left(n.toLong)
        }
        case Right(tt) => ntzLiteral(tt).map(Right(_))
      }
    } yield {
      val test = f.test
      val candidates = f.keys("eid").fold(st.byEid.valuesIterator.flatten)(
        _.iterator.flatMap(st.byEid.getOrElse(_, Vector.empty)))
      val winners = Bitemp.asOfLocal(candidates.filter(v => test(v.toRow)).toVector, vt, known)
      import scala.jdk.CollectionConverters._
      versions.sparkSession.createDataFrame(winners.map(_.toRow).toSeq.asJava, schema)
    })
  }

  private def ntzLiteral(c: Column): Option[LocalDateTime] =
    ResidentRelation.literalOf(c).collect { case (t: LocalDateTime, TimestampNTZType) => t }

  /** `state` as a [[State]] within `b` rows: the resident value itself,
    * or any other frame pulled once by one bounded collect. */
  private[graft] def stateOf(state: DataFrame, b: Long): Option[State] =
    ResidentRelation.valueOf(state) match {
      case Some(s: State) => Some(s).filter(_.size <= b)
      case _ => Route.collect(state.select(TxLog.versionSchema.fieldNames.map(col).toSeq: _*), b)
        .flatMap(Bitemp.versionsOf).map(vs => State.of(vs.iterator))
    }

  /** One tx's op list within `b` rows, by one bounded collect; None over
    * the bound or when [[opRowsOf]] declines it. */
  private[graft] def opsOf(ops: DataFrame, b: Long): Option[Array[OpRow]] =
    Route.collect(ops.select(TxLog.opSchema.fieldNames.map(col).toSeq: _*), b)
      .flatMap(opRowsOf(_, TxLog.opSchema))

  /** A tx time at the microsecond precision Spark stores. */
  private def micros(t: LocalDateTime): LocalDateTime =
    t.truncatedTo(java.time.temporal.ChronoUnit.MICROS)

  /** [[TxLog.applyTx]]'s driver route: Some((newState, aborted)) when
    * both the state and the tx fit the bound, None → distributed path. */
  private[bitemp] def tryApplyTx(state: DataFrame, ops: DataFrame,
      txId: Long, txTime: LocalDateTime): Option[(DataFrame, Boolean)] = {
    val b = bound(state)
    Route.attempt(for {
      txOps <- opsOf(ops, b)
      st <- stateOf(state, b)
    } yield st.applyTx(txOps, txId, txTime)
      .fold((state, true))(a => (a.state.frame(state.sparkSession), false)))
  }

  /** [[TxLog.applyBatch]]'s driver route: the WHOLE batch's op lists are
    * pulled in ONE bounded union job (tagged by tx index — the same
    * single-job discipline as applyBatch's classify pass) and the txs
    * fold sequentially in memory — semantically [[TxLog.applyBatchSeq]],
    * the differential oracle itself. */
  private[bitemp] def tryApplyBatch(state: DataFrame,
      txs: Seq[(Long, LocalDateTime, DataFrame)]): Option[DataFrame] = {
    val b = bound(state)
    Route.attempt {
      val tagged = txs.zipWithIndex.map { case ((_, _, ops), i) =>
        ops.select(lit(i).as("_i") +:
          TxLog.opSchema.fieldNames.map(col).toSeq: _*)
      }.reduce(_ unionByName _)
      val taggedSchema = StructType(StructField("_i", IntegerType) +: TxLog.opSchema.fields)
      for {
        opRows <- Route.collect(tagged, b)
        txOps <- opRowsOf(opRows, taggedSchema)
        st <- stateOf(state, b)
      } yield {
        val byTx = opRows.map(_.getInt(0)).zip(txOps).groupMap(_._1)(_._2)
        // aborted txs leave state unchanged (applyBatch contract)
        txs.zipWithIndex.foldLeft(st) { case (s, ((txId, txTime, _), i)) =>
          s.applyTx(byTx.getOrElse(i, Array.empty[OpRow]), txId, txTime).fold(s)(_.state)
        }.frame(state.sparkSession)
      }
    }
  }
}
