package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

/** The seeded workload generator. Everything here is pure: the same seed
  * gives the same op sequence, and nothing touches Spark. The program under
  * test only ever sees the values generated here. */
object Gen {
  /** The compiled-plan cache's default capacity (`spark.graft.queryCacheSize`).
    * The two Datalog workloads are sized against it: dl_hot's distinct
    * (template, args) pairs stay well under it, dl_cold's outnumber it
    * more than tenfold. */
  val PlanCacheCap = 256
  val HotArgsPerTemplate = 2

  // ---------------------------------------------------------------- Datalog

  /** A parameterized Datalog template, with the plain Spark SQL that must
    * return the same rows for the same arguments. */
  final case class Template(name: String, edn: String, sql: Vector[Any] => String,
      draw: SplittableRandom => Vector[Any])

  final case class DlRead(template: Int, args: Vector[Any])

  private def ts(t: LocalDateTime): String = s"TIMESTAMP_NTZ '$t'"

  val templates: Vector[Template] = Vector(
    Template("point",
      """{:find [?name ?bal ?seg] :in [?ck]
        | :where [[?c :c_custkey ?ck] [?c :c_name ?name] [?c :c_acctbal ?bal]
        |         [?c :c_mktsegment ?seg]]}""".stripMargin,
      a => s"SELECT c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = ${a(0)}",
      r => Vector(r.nextLong(Catalog.Customers))),
    Template("order_customer",
      """{:find [?name ?seg ?tp] :in [?ok]
        | :where [[?o :o_orderkey ?ok] [?o :o_custkey ?ck] [?o :o_totalprice ?tp]
        |         [?c :c_custkey ?ck] [?c :c_name ?name] [?c :c_mktsegment ?seg]]}""".stripMargin,
      a => "SELECT c.c_name, c.c_mktsegment, o.o_totalprice FROM orders o " +
        s"JOIN customer c ON c.c_custkey = o.o_custkey WHERE o.o_orderkey = ${a(0)}",
      r => Vector(r.nextLong(Catalog.Orders))),
    Template("agg_in",
      """{:find [?st (count ?o) (sum ?tp)] :in [?ck]
        | :where [[?o :o_custkey ?ck] [?o :o_orderstatus ?st] [?o :o_totalprice ?tp]]}""".stripMargin,
      a => "SELECT o_orderstatus, count(*), sum(o_totalprice) FROM orders " +
        s"WHERE o_custkey = ${a(0)} GROUP BY o_orderstatus",
      r => Vector(r.nextLong(Catalog.Customers))),
    Template("date_range",
      """{:find [(count ?o) (sum ?tp)] :in [?lo ?hi]
        | :where [[?o :o_orderdate ?d] [(>= ?d ?lo)] [(< ?d ?hi)]
        |         [?o :o_totalprice ?tp]]}""".stripMargin,
      a => "SELECT count(*), sum(o_totalprice) FROM orders " +
        s"WHERE o_orderdate >= ${ts(a(0).asInstanceOf[LocalDateTime])} " +
        s"AND o_orderdate < ${ts(a(1).asInstanceOf[LocalDateTime])}",
      r => {
        val width = Vector(7L, 30L, 91L)(r.nextInt(3))
        val lo = Catalog.FirstOrderDay.plusDays(r.nextLong(Catalog.OrderDays - 91L))
        Vector(lo, lo.plusDays(width))
      }),
    Template("not_join",
      """{:find [?ok] :in [?ck]
        | :where [[?o :o_custkey ?ck] [?o :o_orderkey ?ok]
        |         (not [?o :o_orderstatus "F"])]}""".stripMargin,
      a => s"SELECT o_orderkey FROM orders WHERE o_custkey = ${a(0)} AND o_orderstatus <> 'F'",
      r => Vector(r.nextLong(Catalog.Customers))))

  /** dl_hot's working set: a few seeded arguments per template. */
  def hotSet(seed: Long): Vector[DlRead] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    templates.indices.toVector.flatMap { t =>
      Iterator.continually(templates(t).draw(r)).distinct.take(HotArgsPerTemplate)
        .map(DlRead(t, _)).toVector
    }
  }

  /** Templates in a fixed rotation, so every seed sees the same mix; each
    * template's argument is Zipf-drawn from its hot arguments. */
  def dlHot(seed: Long): Iterator[DlRead] = {
    val hot = hotSet(seed).groupBy(_.template)
    val r = new SplittableRandom(seed)
    val zipf = new Zipf(HotArgsPerTemplate, 1.0)
    Iterator.from(0).map { i =>
      val t = i % templates.size
      hot(t)(zipf.sample(r))
    }
  }

  /** The same rotation, arguments drawn uniformly over the full key domains. */
  def dlCold(seed: Long): Iterator[DlRead] = {
    val r = new SplittableRandom(seed)
    Iterator.from(0).map { i =>
      val t = i % templates.size
      DlRead(t, templates(t).draw(r))
    }
  }

  /** Zipf(n, s) over ranks 0..n-1, rank 0 the most frequent. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = cdf.indexWhere(u < _)
      if (i < 0) n - 1 else i
    }
  }

  // ------------------------------------------------------------ node_mixed

  val Tiers: Vector[String] = Vector("bronze", "silver", "gold", "platinum")
  val NodeEntities = 2000
  val PastVt: LocalDateTime = LocalDateTime.parse("2020-01-01T00:00")

  final case class Doc(id: String, name: String, tier: String, score: Long)

  sealed trait TxOp { def id: String }
  final case class Put(doc: Doc, vt: Option[LocalDateTime]) extends TxOp { def id: String = doc.id }
  final case class Delete(id: String) extends TxOp
  final case class Match(id: String, expected: Option[Doc]) extends TxOp
  final case class Cas(id: String, old: Option[Doc], next: Doc) extends TxOp

  /** One node_mixed step: a transaction, then three reads. `expectAbort` is
    * the generator's own prediction of whether the tx's check op fails. */
  final case class NodeStep(txId: Long, ops: Vector[TxOp], expectAbort: Boolean,
      latestTier: String, pastTier: String, pastTxId: Long, historyOf: String)

  def entityId(i: Int): String = f"u$i%04d"

  private def freshDoc(r: SplittableRandom, id: String): Doc =
    Doc(id, s"name-${r.nextInt(100000)}", Tiers(r.nextInt(Tiers.size)), r.nextLong(1000000L))

  /** The preload transaction (tx 1): every entity of the pool, put at now. */
  def nodePreload(seed: Long): Vector[TxOp] = {
    val r = new SplittableRandom(seed ^ 0x9e10adL)
    (0 until NodeEntities).map(i => Put(freshDoc(r, entityId(i)), None): TxOp).toVector
  }

  /** node_mixed steps after the preload, with the model they were generated
    * against. Each tx touches distinct entities: one check op first (every
    * fourth step's check is built to fail, alternating match and cas), six
    * puts at now, two puts at past valid times and one delete. */
  def nodeSteps(seed: Long, model: NodeModel): Iterator[NodeStep] = {
    val r = new SplittableRandom(seed)
    Iterator.from(0).map { i =>
      val txId = model.lastTx + 1
      val ids = Iterator.continually(entityId(r.nextInt(NodeEntities))).distinct.take(10).toVector
      val abort = i % 4 == 3
      val cur = model.current(ids(0), model.lastTx)
      val isMatch = if (abort) (i / 4) % 2 == 0 else i % 2 == 0
      val check: TxOp =
        if (isMatch) Match(ids(0), if (abort) Some(wrong(cur, ids(0))) else cur)
        else Cas(ids(0), if (abort) Some(wrong(cur, ids(0))) else cur, freshDoc(r, ids(0)))
      val puts = ids.slice(1, 7).map(id => Put(freshDoc(r, id), None))
      val past = ids.slice(7, 9).map(id =>
        Put(freshDoc(r, id), Some(PastVt.plusMinutes(r.nextLong(60L * 24 * 365)))))
      val ops: Vector[TxOp] = (check +: puts) ++ past :+ Delete(ids(9))
      val committed = model.apply(txId, ops)
      require(committed == !abort, s"generator model disagrees with its own plan at tx $txId")
      NodeStep(txId, ops, abort,
        latestTier = Tiers(r.nextInt(Tiers.size)), pastTier = Tiers(r.nextInt(Tiers.size)),
        pastTxId = 1L + r.nextLong(txId), historyOf = ids(1 + r.nextInt(9)))
    }
  }

  /** A doc that differs from the current one, so a check against it fails. */
  private def wrong(cur: Option[Doc], id: String): Doc =
    cur.map(d => d.copy(score = d.score + 1)).getOrElse(Doc(id, "absent", Tiers(0), -1L))

  // --------------------------------------------------------- stream_ingest

  /** A valid time after every event: the as-of lookup of the latest state. */
  val LatestVt: LocalDateTime = LocalDateTime.parse("2099-01-01T00:00")

  final case class Event(eventId: Long, ts: LocalDateTime, userId: Long, eventType: String)
  /** One op row of a micro-batch: a put of the event type, or a delete for
    * an `error` event, at the event's time as valid time. */
  final case class StreamOp(op: String, eid: String, contentHash: String,
      vt: LocalDateTime, seq: Long)
  /** A batch and the two as-of lookups its reader makes after the commit:
    * a few of the batch's entities at a past valid time, and at the latest. */
  final case class StreamBatch(txId: Long, ops: Vector[StreamOp],
      lookupEids: Vector[String], lookupVts: Vector[LocalDateTime])

  /** Micro-batches of seeded event draws (one op per entity per batch),
    * each with the as-of lookups its reader makes after the commit. */
  def streamBatches(events: IndexedSeq[Event], seed: Long, batchSize: Int,
      lookups: Int = 4): Iterator[StreamBatch] = {
    val r = new SplittableRandom(seed)
    Iterator.from(0).map { b =>
      val drawn = Iterator.continually(events(r.nextInt(events.size)))
        .take(batchSize).toVector
      val ops = drawn.groupBy(_.userId).values.map(_.head).toVector.sortBy(_.eventId)
        .zipWithIndex.map { case (e, i) =>
          if (e.eventType == "error") StreamOp("delete", e.userId.toString, null, e.ts, i.toLong)
          else StreamOp("put", e.userId.toString, e.eventType, e.ts, i.toLong)
        }
      val eids = Vector.fill(lookups)(ops(r.nextInt(ops.size)).eid).distinct
      StreamBatch(b.toLong, ops, eids, Vector(events(r.nextInt(events.size)).ts, LatestVt))
    }
  }
}

/** The generator's model of node_mixed: every committed version of every
  * entity. Valid times are ordered keys — a past valid time by its instant,
  * a put at now after every past time and in tx order. */
final class NodeModel {
  import Gen._
  private final case class Version(txId: Long, vtKey: Long, doc: Option[Doc])
  private val versions = scala.collection.mutable.HashMap.empty[String, Vector[Version]]
  private var last = 0L
  private var aborts = 0

  def lastTx: Long = last
  def abortCount: Int = aborts

  private def vtKey(txId: Long, vt: Option[LocalDateTime]): Long = vt match {
    case Some(t) => t.toEpochSecond(java.time.ZoneOffset.UTC)
    case None => Long.MaxValue / 2 + txId
  }

  /** Current doc at valid time now, as known at `basisTx`. */
  def current(id: String, basisTx: Long): Option[Doc] =
    versions.getOrElse(id, Vector.empty).filter(_.txId <= basisTx)
      .maxByOption(v => (v.vtKey, v.txId)).flatMap(_.doc)

  /** Apply a tx; returns whether it committed. */
  def apply(txId: Long, ops: Vector[TxOp]): Boolean = {
    require(txId == last + 1, s"tx $txId out of order")
    last = txId
    val ok = ops.forall {
      case Match(id, exp) => current(id, txId - 1) == exp
      case Cas(id, old, _) => current(id, txId - 1) == old
      case _ => true
    }
    if (!ok) aborts += 1
    else ops.foreach { op =>
      val v = op match {
        case Put(d, vt) => Version(txId, vtKey(txId, vt), Some(d))
        case Delete(id) => Version(txId, vtKey(txId, None), None)
        case Cas(_, _, next) => Version(txId, vtKey(txId, None), Some(next))
        case m: Match => null
      }
      if (v != null) versions(op.id) = versions.getOrElse(op.id, Vector.empty) :+ v
    }
    ok
  }

  /** (id, score) of every live entity of `tier` at now, as of `basisTx`. */
  def tierScores(tier: String, basisTx: Long): Set[(String, Long)] =
    versions.keysIterator.flatMap(id => current(id, basisTx))
      .filter(_.tier == tier).map(d => (d.id, d.score)).toSet

  /** Tx ids of an entity's history as known at `basisTx`, latest assertion
    * per valid time, in valid-time order. */
  def historyTxIds(id: String, basisTx: Long): Vector[Long] =
    versions.getOrElse(id, Vector.empty).filter(_.txId <= basisTx).groupBy(_.vtKey).values
      .map(_.maxBy(_.txId)).toVector.sortBy(v => (v.vtKey, v.txId)).map(_.txId)

  def versionCount: Int = versions.valuesIterator.map(_.size).sum
}

/** The generator's model of stream_ingest: every committed op per entity. */
final class StreamModel {
  import Gen._
  private val ops = scala.collection.mutable.HashMap.empty[String, Vector[(LocalDateTime, Long, StreamOp)]]

  def apply(txId: Long, batch: Vector[StreamOp]): Unit =
    batch.foreach(o => ops(o.eid) = ops.getOrElse(o.eid, Vector.empty) :+ ((o.vt, txId, o)))

  private def winner(eid: String, vt: Option[LocalDateTime], basisTx: Long): Option[StreamOp] =
    ops.getOrElse(eid, Vector.empty).filter(x => x._2 <= basisTx && vt.forall(!x._1.isAfter(_)))
      .maxByOption(x => (x._1, x._2)).map(_._3)

  /** Content hash of `eid` as of valid time `vt` and tx `basisTx` (None:
    * absent or deleted). */
  def asOf(eid: String, vt: LocalDateTime, basisTx: Long): Option[String] =
    winner(eid, Some(vt), basisTx).filter(_.op == "put").map(_.contentHash)

  /** Live entities per content hash as of tx `basisTx`: the type-counts view. */
  def typeCounts(basisTx: Long): Map[String, Long] =
    ops.keysIterator.flatMap(winner(_, None, basisTx)).filter(_.op == "put")
      .toSeq.groupBy(_.contentHash).map { case (k, v) => k -> v.size.toLong }

  /** Latest content hash per live entity. */
  def latest: Map[String, String] =
    ops.keysIterator.flatMap(e => winner(e, None, Long.MaxValue).filter(_.op == "put").map(e -> _.contentHash)).toMap
}
