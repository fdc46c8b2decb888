package graft.bitemp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The bitemporal core: point-in-time snapshot resolution and entity history.
  *
  * Data model (SURVEY §1.1): a `versions` DataFrame mirrors the reference's
  * entity index `EntityTx [eid vt tt tx-id content-hash]`
  * (crux-core/src/crux/codec.clj:809) —
  *
  *   eid: string        entity id (canonical form)
  *   vt: timestamp_ntz  valid-time start
  *   tt: timestamp_ntz  transaction-time
  *   tx_id: long        total order of transactions
  *   tombstone: boolean deletes are tombstone rows, content-hash nil in the
  *                      reference (crux-core/src/crux/tx.clj:81)
  *   + either a `content_hash` pointing into a docs table, or inline payload
  *     columns — the resolver is agnostic to payload.
  *
  * Semantics of `asOf` follow `entity-as-of`
  * (crux-core/src/crux/kv/index_store.clj:746-795): for each entity, the
  * version with the greatest (vt, tx_id) among those with vt ≤ VT and
  * tx ≤ basis wins; a winning tombstone hides the entity.
  *
  * Spark-first design: the resolver is an aggregation, not a window.
  * `max_by(struct(*), struct(vt, tx_id))` gets partial (map-side)
  * aggregation and AQE skew handling for free — one shuffle on eid, with
  * combiners, vs a window function's full sort-per-partition and no partial
  * aggregation. At 100 TB that is the difference between shuffling every
  * version ever written and shuffling one candidate row per (entity ×
  * map-partition).
  */
object Bitemp {
  val metaCols: Seq[String] = Seq("eid", "vt", "tt", "tx_id", "tombstone")

  /** Resolve the current-facts snapshot at (validTime, txId basis).
    *
    * Returns one row per live entity, same schema as `versions`.
    *
    * Under the `tx` route bound, when `versions` is deterministic filters
    * over a driver-resident tx state (a [[TxDriver]] state frame, or an
    * ingest store's `loadState`) and `validTime` and `maxTxId` are
    * literals, the snapshot resolves in driver memory: the filters'
    * `eid = …` / `eid IN (…)` keys are looked up by entity, and the
    * winners come back as a LocalRelation, so collecting them runs no job
    * ([[TxDriver.tryAsOf]]). Any other input runs the aggregate below.
    */
  def asOf(versions: DataFrame, validTime: Column, maxTxId: Column): DataFrame =
    resolve(versions, validTime, Left(maxTxId))

  /** As-of by transaction *time* instead of tx-id (the reference resolves a
    * tx-time basis to a tx-id first, crux-core/src/crux/query.clj:1931-1952;
    * here tt ≤ TT directly, equivalent for a monotonic log). Routes in
    * driver memory as [[asOf]] does. */
  def asOfTime(versions: DataFrame, validTime: Column, txTime: Column): DataFrame =
    resolve(versions, validTime, Right(txTime))

  private def resolve(versions: DataFrame, validTime: Column,
      basis: Either[Column, Column]): DataFrame = {
    val payload = versions.columns.toSeq
    val known = basis.fold(col("tx_id") <= _, col("tt") <= _)
    val resolved = versions
      .filter(col("vt") <= validTime && known)
      .groupBy(col("eid"))
      .agg(max_by(struct(payload.map(col): _*), struct(col("vt"), col("tx_id"))).as("_r"))
      .select("_r.*")
      .filter(!col("tombstone"))
    TxDriver.tryAsOf(versions, validTime, basis, resolved.schema).getOrElse(resolved)
  }

  /** One row of a driver-resident version state (the TxLog version
    * schema); `contentHash` may be null. */
  final case class Version(eid: String, vt: java.time.LocalDateTime,
      tt: java.time.LocalDateTime, txId: Long, contentHash: String,
      tombstone: Boolean) {
    /** This version as a row in `TxLog.versionSchema` column order. */
    def toRow: org.apache.spark.sql.Row =
      org.apache.spark.sql.Row(eid, vt, tt, txId, contentHash, tombstone)
  }

  private val versionKeyCols = Seq(0, 1, 2, 3, 5) // all but content_hash

  /** Version-schema rows (column order of `TxLog.versionSchema`) as
    * [[Version]]s; None when a row has a null eid, vt, tt, tx_id or
    * tombstone, which the distributed resolvers read by SQL null rules
    * that [[asOfLocal]] does not model. */
  def versionsOf(rows: Array[org.apache.spark.sql.Row]): Option[Array[Version]] =
    if (rows.exists(r => versionKeyCols.exists(r.isNullAt))) None
    else Some(rows.map(r => Version(r.getString(0), r.getAs[java.time.LocalDateTime](1),
      r.getAs[java.time.LocalDateTime](2), r.getLong(3), r.getString(4), r.getBoolean(5))))

  /** The driver twin of [[asOf]] (`basis` Left(maxTxId)) and [[asOfTime]]
    * (Right(txTime)) over resident versions: per entity the greatest
    * (vt, tx_id) among rows with vt ≤ validTime and tx_id ≤ maxTxId (or
    * tt ≤ txTime); a winning tombstone hides the entity. */
  def asOfLocal(versions: Iterable[Version], validTime: java.time.LocalDateTime,
      basis: Either[Long, java.time.LocalDateTime]): Iterable[Version] = {
    val known: Version => Boolean = basis match {
      case Left(maxTxId) => _.txId <= maxTxId
      case Right(txTime) => !_.tt.isAfter(txTime)
    }
    val best = scala.collection.mutable.HashMap.empty[String, Version]
    versions.foreach { v =>
      if (!v.vt.isAfter(validTime) && known(v)) best.get(v.eid) match {
        case Some(w) if { val c = v.vt.compareTo(w.vt); c < 0 || (c == 0 && v.txId <= w.txId) } => ()
        case _ => best.update(v.eid, v)
      }
    }
    best.values.filter(!_.tombstone)
  }

  /** The driver twin of [[history]] (and of the [[TxLog.resolvedHistory]]
    * it runs) over resident versions: the rows with vtStart ≤ vt < vtEnd;
    * without corrections only the greatest tx_id per (eid, vt); ordered
    * by eid, then (vt, tx_id) ascending or descending. */
  def historyLocal(versions: Iterable[Version], sortAsc: Boolean, withCorrections: Boolean,
      vtStart: Option[java.time.LocalDateTime],
      vtEnd: Option[java.time.LocalDateTime]): Seq[Version] = {
    val inRange = versions.iterator.filter(v =>
      vtStart.forall(b => !v.vt.isBefore(b)) && vtEnd.forall(v.vt.isBefore)).toSeq
    val corrected =
      if (withCorrections) inRange
      else inRange.groupBy(v => (v.eid, v.vt)).valuesIterator.map(_.maxBy(_.txId)).toSeq
    implicit val vtOrd: Ordering[java.time.LocalDateTime] = _ compareTo _
    val byVt = Ordering[(java.time.LocalDateTime, Long)]
    corrected.sortBy(v => (v.eid, (v.vt, v.txId)))(
      Ordering.Tuple2(Ordering.String, if (sortAsc) byVt else byVt.reverse))
  }

  /** Entity history (crux-core/src/crux/kv/index_store.clj:524-554; API
    * crux-core/src/crux/query.clj:1859-1887).
    *
    * @param withCorrections when false, only the latest assertion per
    *   valid-time survives (partition-by vt + last, index_store.clj:537-538)
    * @param sortAsc order by valid-time asc/desc (tx_id breaks ties)
    * @param vtStart/vtEnd/ttStart/ttEnd optional basis range bounds
    */
  def history(
      versions: DataFrame,
      sortAsc: Boolean = true,
      withCorrections: Boolean = false,
      vtStart: Option[Column] = None,
      vtEnd: Option[Column] = None,
      ttStart: Option[Column] = None,
      ttEnd: Option[Column] = None): DataFrame = {
    var df = versions
    vtStart.foreach(b => df = df.filter(col("vt") >= b))
    vtEnd.foreach(b => df = df.filter(col("vt") < b))
    ttStart.foreach(b => df = df.filter(col("tt") >= b))
    ttEnd.foreach(b => df = df.filter(col("tt") < b))
    // latest correction per (eid, vt) — the ONE resolution implementation
    // (aggregation, not a window, for the same partial-agg scale reasons
    // as asOf); a tie-break change must hit snapshot and history alike
    val corrected = if (withCorrections) df else TxLog.resolvedHistory(df)
    val ord =
      if (sortAsc) Seq(col("eid"), col("vt").asc, col("tx_id").asc)
      else Seq(col("eid"), col("vt").desc, col("tx_id").desc)
    corrected.orderBy(ord: _*)
  }

  /** Speculative basis (`with-tx`, crux-core/src/crux/query.clj:1896-1913 /
    * crux-core/src/crux/fork.clj): union extra in-memory rows *before*
    * resolution; the resolver then treats them as the newest versions. */
  def withSpeculative(versions: DataFrame, speculative: DataFrame): DataFrame =
    versions.unionByName(speculative, allowMissingColumns = true)

  /** Valid-time interval view: turn point versions into [vt, vt_end) rows —
    * the classic bitemporal table view, handy for interval joins and for
    * oracle SQL. Window is per-entity ordered scan (history-shaped work,
    * SURVEY §2.5). */
  def intervals(versions: DataFrame): DataFrame = {
    val w = Window.partitionBy("eid").orderBy(col("vt").asc, col("tx_id").asc)
    versions.withColumn("vt_end", lead(col("vt"), 1).over(w))
  }
}
