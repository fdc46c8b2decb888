package graft.streaming

import java.time.LocalDateTime
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.bitemp.{Bitemp, TxDriver, TxLog}
import graft.sources.{Route, SessionCache}
import IngestStream.StateManifest

/** The driver-resident mirror of an ingest store's committed state — the
  * node-local index store Crux serves reads from, kept beside the parquet
  * log that stays the durable copy.
  *
  * One [[Snapshot]] per store holds the version rows of the committed
  * stack as a [[TxDriver.State]] (the value the `tx` route's resident
  * leaf holds, so `loadState` is that leaf and an as-of read over it
  * resolves in memory) and, per maintained view, its folded rows. It is
  * used while the store fits the `tx` route bound
  * (`spark.graft.route.tx.maxRows`) of the calling session; `0` turns it
  * off for that session. A batch applies to the mirror through
  * [[TxDriver.State.applyTx]], the one in-memory tx the node runs too.
  *
  * The mirror is correct or absent:
  *  - a snapshot answers only for the manifest it was built for,
  *    including the manifest's `epoch` (a random id the store's first
  *    commit writes and every later commit carries), so a store deleted
  *    and recreated at the same path is never answered from the old one;
  *  - a snapshot is immutable: a state frame holds it by reference, and
  *    a view frame copies its rows;
  *  - only the writer seeds it (one bounded pull per store epoch); any
  *    decline — over the bound, a commit this JVM did not make — is
  *    remembered for the epoch, and the store runs its distributed plans.
  *
  * Entries are held per SparkContext (every session of a context shares
  * them; each call checks its own session's bound) through
  * [[SessionCache]], so a stopped context's mirrors are swept.
  */
private[streaming] object StoreMirror {

  /** Cap on mirrored stores per context (oldest dropped first). */
  private val MaxStores = 64

  /** Committed ids of a view dir: the newest `vbase-` and the `vdelta-`s
    * above it, sorted — what [[IngestStream.loadView]] folds. */
  final case class ViewIds(base: Option[Long], deltas: Seq[Long]) {
    def highWater: Long = (base.toSeq ++ deltas).foldLeft(-1L)(math.max)
  }

  /** One view's folded rows in [[IngestStream.loadView]]'s output form:
    * `schema` is the key columns then `measures` (each a long sum);
    * `rows` maps the key values to the measure values (null = no
    * non-null input). Keys whose `n` folds to 0 stay until a compaction
    * drops them, exactly as the view's delta log keeps them. */
  final case class ViewRows(ids: ViewIds, schema: StructType, measures: Seq[String],
      rows: Map[Seq[Any], Vector[Any]]) {
    private def nKey = measures.indexOf("n")

    /** Whether a key is in the view: its `n` is non-null and non-zero. */
    def liveMeasures(ms: Vector[Any]): Boolean = ms(nKey) != null && ms(nKey) != 0L

    def live: Iterator[Row] = rows.iterator.collect {
      case (k, ms) if liveMeasures(ms) => Row.fromSeq(k ++ ms)
    }

    def frame(spark: SparkSession): DataFrame = local(spark, live.toSeq, schema)

    /** These rows plus a delta aggregate with the same columns; None when
      * the delta does not have them. */
    def merge(delta: Array[Row], deltaSchema: StructType, to: ViewIds): Option[ViewRows] =
      if (deltaSchema.fieldNames.toSeq != schema.fieldNames.toSeq ||
          !mergeable(deltaSchema, measures)) None
      else {
        val nk = schema.size - measures.size
        Some(copy(ids = to, rows = delta.foldLeft(rows) { (acc, r) =>
          val k = r.toSeq.take(nk)
          val d = r.toSeq.drop(nk).toVector
          acc.updated(k, acc.get(k).fold(d)(_.zip(d).map {
            case (null, b) => b
            case (a, null) => a
            case (a, b) => a.asInstanceOf[Long] + b.asInstanceOf[Long]
          }))
        }))
      }
  }

  /** Whether the per-key measure merge knows `schema`: long measures and
    * keys whose values compare by equality as Spark groups them (no
    * floating, binary or collection keys). */
  def mergeable(schema: StructType, measures: Seq[String]): Boolean =
    measures.forall(m => schema.fieldNames.contains(m) && schema(m).dataType == LongType) &&
      schema.fields.filterNot(f => measures.contains(f.name)).forall(f => f.dataType match {
        case StringType | LongType | IntegerType | ShortType | ByteType | BooleanType |
            DateType | TimestampType | TimestampNTZType | _: DecimalType => true
        case _ => false
      })

  private def nullable(schema: StructType): StructType =
    StructType(schema.fields.map(_.copy(nullable = true)))

  /** An empty view at `ids` over a delta aggregate's schema (all fields
    * nullable, as a parquet read yields them). */
  def emptyView(ids: ViewIds, deltaSchema: StructType, measures: Seq[String]): ViewRows =
    ViewRows(ids, nullable(deltaSchema), measures, Map.empty)

  /** A view's rows seeded from its stored stack (one bounded pull). */
  def seedView(ids: ViewIds, stored: => DataFrame, measures: Seq[String],
      bound: Long): Option[ViewRows] =
    if (ids.base.isEmpty && ids.deltas.isEmpty) None
    else {
      val df = stored
      if (!mergeable(df.schema, measures)) None
      else Route.collect(df, bound).map { rows =>
        val nk = df.schema.size - measures.size
        ViewRows(ids, nullable(df.schema), measures,
          rows.iterator.map(r => r.toSeq.take(nk) -> r.toSeq.drop(nk).toVector).toMap)
      }
    }

  /** The committed state of one store: the manifest it matches (None for a
    * store with no commit yet), its version rows as a [[TxDriver.State]],
    * its maintained views by view dir, and the view dirs that declined the
    * mirror. */
  final class Snapshot(val manifest: Option[StateManifest], val state: TxDriver.State,
      val views: Map[String, ViewRows], val declinedViews: Set[String]) {

    def at(m: StateManifest): Snapshot = new Snapshot(Some(m), state, views, declinedViews)
  }

  /** A LocalRelation over `rows` (the data is copied in): collecting it
    * runs no job. */
  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** [[local]] as one partition: an aggregate over it needs no shuffle
    * and runs as one single-task job, and a write lands one file. */
  def single(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    local(spark, rows, schema).coalesce(1)

  /** What this JVM knows of one store epoch: its snapshot, or None once
    * the mirror declined it; and the view dirs whose `_viewmeta` sidecar
    * is known to be written. */
  private final case class Slot(epoch: String, snap: Option[Snapshot],
      metaWritten: Set[String])

  private final class Cell { @volatile var slot: Option[Slot] = None }

  private val cells = new SessionCache[(SparkContext, String), Cell]

  private def cell(spark: SparkSession, stateDir: String): Cell =
    cells.getOrBuild((spark.sparkContext, stateDir), MaxStores)(new Cell)

  /** The store's slot, if this JVM's writer made one. */
  private def slot(spark: SparkSession, stateDir: String): Option[Slot] =
    cells.get((spark.sparkContext, stateDir)).flatMap(_.slot)

  /** The snapshot that answers reads of `cur`, if any: the resident one
    * built for exactly this manifest (epoch included), within `spark`'s
    * bound. No job, no filesystem access. */
  def resident(spark: SparkSession, stateDir: String,
      cur: Option[StateManifest]): Option[Snapshot] = {
    val bound = TxDriver.maxRows(spark)
    for {
      m <- cur if bound > 0
      e <- m.epoch
      s <- slot(spark, stateDir) if s.epoch == e
      snap <- s.snap if snap.manifest.contains(m) && snap.state.size <= bound
    } yield snap
  }

  /** View dirs whose `_viewmeta` is known written for this store epoch. */
  def metaWritten(spark: SparkSession, stateDir: String, epoch: String): Set[String] =
    if (TxDriver.maxRows(spark) <= 0) Set.empty
    else slot(spark, stateDir).filter(_.epoch == epoch).fold(Set.empty[String])(_.metaWritten)

  /** The snapshot a writer folds its next batch over: the resident one,
    * an empty one for a store with no commit, or one seeded from the
    * committed stack `stored` by one bounded pull. None — remembered for
    * the epoch — when the store is over the bound or was committed by
    * another writer; a manifest without an epoch is never mirrored. */
  def forWrite(spark: SparkSession, stateDir: String, cur: Option[StateManifest],
      stored: => DataFrame): Option[Snapshot] = {
    val bound = TxDriver.maxRows(spark)
    if (bound <= 0) None
    else cur match {
      case None => Some(new Snapshot(None, TxDriver.State(Map.empty), Map.empty, Set.empty))
      case Some(m) => m.epoch.flatMap { e =>
        val c = cell(spark, stateDir)
        c.slot match {
          case Some(s) if s.epoch == e =>
            val hit = s.snap.filter(_.manifest.contains(m))
            if (hit.isEmpty) c.slot = Some(s.copy(snap = None))
            hit.filter(_.state.size <= bound)
          case _ =>
            val seeded = Route.attempt(TxDriver.stateOf(stored, bound))
              .map(new Snapshot(Some(m), _, Map.empty, Set.empty))
            c.slot = Some(Slot(e, seeded, Set.empty))
            seeded
        }
      }
    }
  }

  /** Record a committed batch: `after` (built for the committed manifest)
    * becomes the store's snapshot, or the store is declined for the epoch
    * when the batch ran its distributed plan; `meta` view dirs now have
    * their sidecar. Called only after the manifest commit returned. */
  def committed(spark: SparkSession, stateDir: String, m: StateManifest,
      after: Option[Snapshot], meta: Set[String]): Unit =
    if (TxDriver.maxRows(spark) > 0) m.epoch.foreach { e =>
      val c = cell(spark, stateDir)
      val known = c.slot.filter(_.epoch == e).fold(Set.empty[String])(_.metaWritten)
      c.slot = Some(Slot(e, after, known ++ meta))
    }

  /** One batch applied to the `before` state in memory: the rows it
    * emitted by entity, the entities it evicted and those its ops name —
    * what the view delta's [[signed]] rows read. */
  final case class Folded(before: TxDriver.State, emitted: Map[String, Vector[Bitemp.Version]],
      evicted: Set[String], opEids: Set[String]) {
    /** Signed before/after rows of the span (fromTx, this batch] for the
      * view delta: per touched entity its winner before the span (rows
      * with tx_id ≤ fromTx) at −1 and after the batch at +1, resolved by
      * [[Bitemp.asOfLocal]] at the basis the distributed
      * `winnersToSigned` uses; tombstone and evicted sides drop out. A
      * span of exactly this batch touches the batch's entities; a wider
      * one every entity with a row in the span. */
    def signed(fromTx: Long, txId: Long, basis: LocalDateTime): Seq[Row] = {
      val touched: Iterable[String] =
        if (fromTx >= txId - 1) opEids
        else opEids ++ before.byEid.iterator.collect {
          case (e, vs) if vs.exists(_.txId > fromTx) => e
        } ++ emitted.keysIterator
      def winner(vs: Iterable[Bitemp.Version]): Option[Bitemp.Version] =
        Bitemp.asOfLocal(vs, basis, Right(basis)).headOption
      touched.iterator.flatMap { eid =>
        val stack = before.byEid.getOrElse(eid, Vector.empty) ++
          emitted.getOrElse(eid, Vector.empty)
        val after = if (evicted(eid)) None else winner(stack)
        // a one-batch span's before side is the pre-batch rows alone (a
        // range restore re-emits an older tx id, which is not "before")
        val prior = winner(if (fromTx >= txId - 1) before.byEid.getOrElse(eid, Vector.empty)
          else stack.filter(_.txId <= fromTx))
        after.map(v => Row.fromSeq(1L +: v.toRow.toSeq)).iterator ++
          prior.map(v => Row.fromSeq(-1L +: v.toRow.toSeq)).iterator
      }.toSeq
    }
  }

  /** Schema of [[Folded.signed]]'s rows: `_sign` then the version columns. */
  val signedSchema: StructType =
    StructType(StructField("_sign", LongType, nullable = false) +: TxLog.versionSchema.fields)
}
