package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.sources.Route

/** Iterative graph analytics on DataFrames. The reference has no graph
  * module; recursive Datalog rules cover reachability-style queries
  * (Planner's semi-naive fixpoint), and this adds the numeric-iteration
  * family — PageRank first — in the same determinism discipline as the
  * rest of the engine.
  *
  * ALL-INTEGER PageRank: ranks are picorank units (1e12 = total mass 1).
  * Each iteration is
  *
  *   contrib(e) = rank(src) div outdeg(src)
  *   rank'(v)   = (15·1e12) div (100·n)  +  (85 · Σ incoming contrib) div 100
  *
  * — floor division and integer sums only, so the result is bit-identical
  * at ANY parallelism (a double PageRank depends on the order incoming
  * contributions are added, which varies per shuffle) and replicates
  * exactly in an unrolled SQL oracle. The usual float PageRank differs
  * from this by < n·ulp-per-iter; what training-pipeline consumers need
  * (stable ordering, reproducible runs) is exactly what the integer form
  * guarantees.
  *
  * EXECUTION, size-routed (the GraphX lesson — iterative fixpoints don't
  * fit per-round Catalyst planning): while the edge set fits the driver
  * ([[DefaultDriverEdgeLimit]]), the rounds run as array loops over a
  * memoized dense-indexed edge snapshot, with no job per round. Above it
  * the rounds run as DataFrame shuffle joins against the
  * hash(src)-partitioned edge table — the web-scale plan, where the node
  * state is cluster-resident too. Both routes compute the identical
  * integer recurrence (differential-spec-pinned).
  */
object Graph {

  /** The driver route's bound (r15): when the EDGE set fits the driver
    * (≤ 4M (int, int) pairs after dense id indexing ≈ tens of MB — the
    * same bounded-artifact budget as a broadcast join's build side), the
    * rounds run as plain array loops with ZERO jobs per round; a round
    * that is a Spark job pays a task wave per round — pure scheduling
    * latency at interactive graph sizes (measured: 5 rounds ≈ 1.2 s of
    * the pagerank gate's 1.9 s at 1.2M edges). The node index is built
    * from the edges in hand, so nodes ≤ 2 × edges. Route `graph.edges`:
    * 0 forces the DataFrame shuffle-join rounds. */
  private[graft] val DefaultDriverEdgeLimit: Long = 1L << 22

  /** Dense-indexed driver copy of an edge frame: first-seen node order,
    * id → index, and int edge endpoint arrays. */
  private[operators] final class DriverGraph(
      val nodeIds: Array[Any],
      val index: java.util.HashMap[Any, Integer],
      val srcA: Array[Int],
      val dstA: Array[Int])

  /** Memo of driver snapshots per (session, canonicalized edge plan,
    * edge limit): the gates' memoized edge artifacts (checkpoint leaves —
    * plan equality is RDD identity) hit the cache across calls; ad-hoc
    * frames just rebuild. `None` (over the bound, cached too — the
    * answer is a property of the same immutable plan AND limit) routes
    * the caller to the DataFrame rounds. The limit is part of the key
    * (r15 ADVICE): a snapshot cached under the default bound must not be
    * replayed for a caller with a tighter driver-memory bound, nor a
    * None cached under a tight bound force default-limit calls off the
    * driver route forever. */
  private type DgKey = (org.apache.spark.sql.SparkSession,
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long)
  private val dgCache = new graft.sources.SessionCache[DgKey, Option[DriverGraph]]

  /** Bounded driver snapshot of `eRaw` under the `graph.edges` route.
    * The route probe is [[Route.fits]] (r15 VERDICT #8): each partition
    * counts at most limit+1 rows, so an over-bound plan learns its route
    * after one early-exiting pass, not a full count scan, and the
    * parallel collect stays guarded by it (a `limit(n).collect()` would
    * funnel the whole edge set through ONE GlobalLimit task — measured
    * as most of the gate's residual wall at 1.2M edges). The memo holds
    * 64 snapshots: ad-hoc plans (a fresh checkpoint per call) never
    * repeat as keys, so a long-lived serving session must not
    * accumulate them. A failed build is not memoized; the caller's
    * [[Route.attempt]] sends it to the DataFrame rounds. */
  private def driverGraph(eRaw: DataFrame): Option[DriverGraph] = {
    val limit = Route.maxRows(eRaw.sparkSession, "graph.edges", DefaultDriverEdgeLimit)
    if (limit <= 0) return None
    val key = (eRaw.sparkSession, eRaw.queryExecution.analyzed.canonicalized, limit)
    dgCache.getOrBuild(key, maxEntries = 64) {
      if (!Route.fits(eRaw, limit)) None
      else {
        val arr = eRaw.collect()
        val index = new java.util.LinkedHashMap[Any, Integer]()
        arr.foreach { r =>
          if (!index.containsKey(r.get(0))) index.put(r.get(0), index.size())
          if (!index.containsKey(r.get(1))) index.put(r.get(1), index.size())
        }
        import scala.jdk.CollectionConverters._
        val nodeIds = index.keySet().iterator().asScala.toArray
        val lookup = new java.util.HashMap[Any, Integer](index)
        val m = arr.length
        val srcA = new Array[Int](m)
        val dstA = new Array[Int](m)
        var j = 0
        while (j < m) {
          srcA(j) = lookup.get(arr(j).get(0)).intValue()
          dstA(j) = lookup.get(arr(j).get(1)).intValue()
          j += 1
        }
        Some(new DriverGraph(nodeIds, lookup, srcA, dstA))
      }
    }
  }

  /** @param edges directed edges (`srcCol`, `dstCol`); dangling nodes
    *   (no outlinks) simply contribute nothing, the standard simplified
    *   treatment. Returns (id, rank_pico). */
  def pageRank(edges: DataFrame, iters: Int = 5,
      srcCol: String = "src", dstCol: String = "dst",
      /** skip the dedup shuffle when the caller's edge artifact is
        * already distinct (a memoized build — see the gate file) */
      assumeDistinct: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    val eSel = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val eRaw = if (assumeDistinct) eSel else eSel.distinct()
    val idType = eSel.schema("src").dataType
    // driver route (r15): one bounded collect straight off the (memoized)
    // edge artifact replaces the per-call repartition + checkpoint +
    // degree shuffle the distributed rounds need
    Route.attempt {
      driverGraph(eRaw).map { dg =>
        require(dg.srcA.nonEmpty, "pageRank needs a non-empty edge set")
        import scala.jdk.CollectionConverters._
        val nV = dg.nodeIds.length
        val m = dg.srcA.length
        val degA = new Array[Long](nV)
        var j = 0
        while (j < m) { degA(dg.srcA(j)) += 1L; j += 1 }
        val base = (15L * 1000000000000L) / (100L * nV)
        val init = 1000000000000L / nV
        var ranks = Array.fill(nV)(init)
        val emit = new Array[Long](nV)
        val contrib = new Array[Long](nV)
        for (_ <- 0 until iters) {
          var v = 0
          while (v < nV) {
            emit(v) = if (degA(v) > 0) ranks(v) / degA(v) else 0L
            contrib(v) = 0L
            v += 1
          }
          j = 0
          while (j < m) { contrib(dg.dstA(j)) += emit(dg.srcA(j)); j += 1 }
          ranks = Array.tabulate(nV)(v2 => base + 85L * contrib(v2) / 100L)
        }
        spark.createDataFrame(
          dg.nodeIds.zipWithIndex.map { case (id, i) => Row(id, ranks(i)) }
            .toList.asJava,
          StructType(Seq(StructField("id", idType),
            StructField("rank_pico", LongType))))
      }
    } match {
      case Some(out) => return out
      case None => ()
    }
    // per-round DataFrame shuffle joins over a hash(src) layout that every
    // round reuses (an AQE-coalesced checkpoint would freeze 2-3
    // partitions); the degree rides the materialized edge table so each
    // round is one edge-stream pass + a node-keyed aggregate
    val par = spark.sparkContext.defaultParallelism
    val e = eRaw.repartition(par, col("src")).localCheckpoint(true)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val eDeg = e.join(deg, "src").localCheckpoint(true)
    val nodesDf = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    val n = nodesDf.count()
    require(n > 0, "pageRank needs a non-empty edge set")
    val base = (15L * 1000000000000L) / (100L * n)
    var ranks = nodesDf.withColumn("r", lit(1000000000000L / n))
    for (_ <- 0 until iters) {
      val contribs = eDeg.join(ranks, eDeg("src") === ranks("id"))
        .select(col("dst").as("id"), expr("r div d").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("c"))
      val next = nodesDf.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr(s"(85 * coalesce(c, 0L)) div 100")).as("r"))
        // materialize each round: the plan would otherwise nest `iters`
        // joins deep and re-execute every prior round per action
        .localCheckpoint(true)
      // the superseded round's checkpoint blocks are dead (r13
      // uniformity: release, not unpersist — checkpoint RDD blocks);
      // round 1's predecessor is a lazy plan, for which this is a no-op
      graft.sources.SessionCache.release(ranks)
      ranks = next
    }
    val out = ranks.select(col("id"), col("r").as("rank_pico"))
    // nodesDf stays alive at iters = 0: the returned frame is then the
    // lazy init plan OVER the nodesDf checkpoint, which has no lineage
    // to recompute from (review catch — releasing it made the result
    // throw 'Checkpoint block not found' on first action)
    graft.sources.SessionCache.release(
      if (iters > 0) Seq(eDeg, nodesDf, e) else Seq(eDeg, e))
    out
  }

  /** Unweighted single-source shortest path (hop distance), `iters`
    * rounds of min-propagation — reaches everything within `iters` hops;
    * unreached nodes are absent from the result. Distances are integers,
    * so like [[pageRank]] the result is exact at any parallelism and the
    * oracle replays the identical recurrence unrolled.
    *
    * Size-routed like [[pageRank]]: array-loop rounds over the driver
    * edge snapshot, else DataFrame shuffle-join rounds. (This is
    * the bounded-hop form; the Datalog planner's semi-naive fixpoint is
    * the run-to-convergence reachability path.) */
  def shortestPaths(edges: DataFrame, sourceId: String, iters: Int = 6,
      srcCol: String = "src", dstCol: String = "dst",
      assumeDistinct: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    val eSel = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val eRaw = if (assumeDistinct) eSel else eSel.distinct()
    // coerce the source id to the edge column's JVM type: the driver
    // route's index lookup uses Java equality (a String "5" key never
    // matches java.lang.Long edge endpoints — it would silently return
    // only the source row), and typing the seed row by idType keeps the
    // DataFrame rounds' join/union free of implicit casts too
    val idType = eSel.schema("src").dataType
    val source: Any = idType match {
      case org.apache.spark.sql.types.StringType => sourceId
      case LongType => java.lang.Long.valueOf(sourceId.trim)
      case org.apache.spark.sql.types.IntegerType => java.lang.Integer.valueOf(sourceId.trim)
      case org.apache.spark.sql.types.ShortType => java.lang.Short.valueOf(sourceId.trim)
      case other => throw new IllegalArgumentException(
        s"shortestPaths: unsupported node id type $other for sourceId '$sourceId'")
    }
    val distSchema = StructType(Seq(
      StructField("id", idType), StructField("d", LongType)))
    // driver route (r15): one bounded collect off the raw artifact
    // replaces the repartition + checkpoint layout pass
    Route.attempt {
      driverGraph(eRaw).map { dg =>
        import scala.jdk.CollectionConverters._
        val srcIdx: Integer = dg.index.get(source)
        val nV = dg.nodeIds.length
        val dist = new Array[Long](nV)
        java.util.Arrays.fill(dist, Long.MaxValue)
        if (srcIdx != null) dist(srcIdx.intValue()) = 0L
        for (_ <- 0 until iters) {
          val next = dist.clone()
          var j = 0
          while (j < dg.srcA.length) {
            val ds = dist(dg.srcA(j))
            if (ds != Long.MaxValue && ds + 1L < next(dg.dstA(j)))
              next(dg.dstA(j)) = ds + 1L
            j += 1
          }
          System.arraycopy(next, 0, dist, 0, nV)
        }
        val rows = scala.collection.mutable.ArrayBuffer[Row]()
        // the source row is present even when the source is not an edge
        // endpoint (matching the seeded distance table)
        if (srcIdx == null) rows += Row(source, 0L)
        var v = 0
        while (v < nV) {
          if (dist(v) != Long.MaxValue) rows += Row(dg.nodeIds(v), dist(v))
          v += 1
        }
        spark.createDataFrame(rows.toList.asJava, distSchema)
      }
    } match {
      case Some(out) => return out
      case None => ()
    }
    val e = eRaw
      .repartition(spark.sparkContext.defaultParallelism, col("src"))
      .localCheckpoint(true)
    var dist = spark.createDataFrame(
      java.util.List.of(Row(source, 0L)), distSchema)
    for (_ <- 0 until iters) {
      val stepped = e.join(dist, e("src") === dist("id"))
        .select(col("dst").as("id"), (col("d") + 1).as("d"))
      val next = dist.unionByName(stepped)
        .groupBy(col("id")).agg(min(col("d")).as("d"))
        .localCheckpoint(true)
      graft.sources.SessionCache.release(dist) // superseded round (r13)
      dist = next
    }
    graft.sources.SessionCache.release(e)
    dist
  }

  /** Total order on node ids for the driver min-label rounds; only the
    * standard id types qualify — anything else takes the DataFrame
    * rounds, whose `min` carries Spark's own ordering. */
  private def idOrdering(sample: Any): Option[Ordering[Any]] = sample match {
    // UTF-8 BYTE order, not String's UTF-16 compareTo: Spark's min() on
    // StringType compares UTF8String bytes, and the two differ for
    // non-BMP code points (surrogates sort below U+E000..U+FFFF in
    // UTF-16 but above them in UTF-8) — the driver and cluster paths
    // must pick the same component representative
    case _: String => Some(Ordering.comparatorToOrdering(
      (x: Any, y: Any) => java.util.Arrays.compareUnsigned(
        x.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8))))
    case _: java.lang.Long => Some(Ordering.by(_.asInstanceOf[java.lang.Long].longValue()))
    case _: java.lang.Integer => Some(Ordering.by(_.asInstanceOf[java.lang.Integer].intValue()))
    case _ => None
  }

  /** Bounded-round min-label connected components: every node starts
    * labelled with its own id and takes the minimum of its neighbours'
    * labels each round — after `iters` ≥ graph diameter the labels are
    * the components' minimum ids. Pass a SYMMETRIC edge set for
    * undirected components (propagation follows edge direction). Exact
    * by the same argument as [[shortestPaths]]: min over ids is
    * order-free, so the bounded recurrence replays identically in an
    * unrolled oracle whether or not it has converged.
    * ([[graft.operators.Dedup.connectedComponents]] is the
    * run-to-convergence variant used by the dedup pipeline; this is the
    * fixed-cost form a scheduled graph job wants — `iters` scans,
    * known in advance.) Size-routed like [[pageRank]], with the extra
    * constraint that labels ARE ids: the driver route needs a
    * driver-side id ordering, so exotic id types stay on the DataFrame
    * rounds. Driver labels are positions in the sorted node array, so
    * "min label" is "min id". */
  def minLabelComponents(edges: DataFrame, iters: Int = 8,
      srcCol: String = "src", dstCol: String = "dst",
      assumeDistinct: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    val eSel = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val eRaw = if (assumeDistinct) eSel else eSel.distinct()
    val idType = eSel.schema("src").dataType
    // an id type with no driver-side total order must prevent the driver
    // collect, not just discard its result (r15 ADVICE)
    val idOrderable = idType match {
      case org.apache.spark.sql.types.StringType | LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    // driver route (r15): one bounded collect off the raw artifact
    // replaces the repartition + checkpoint layout pass
    Route.attempt {
      if (!idOrderable) None
      else driverGraph(eRaw).filter(_.nodeIds.nonEmpty).flatMap { dg =>
        idOrdering(dg.nodeIds(0)).map(ord => (dg, ord))
      }.map { case (dg, ord) =>
        import scala.jdk.CollectionConverters._
        // relabel in sorted-id space so "min label" is "min id"
        val nodeIds = dg.nodeIds.sorted(ord)
        val sortedIdx = new java.util.HashMap[Any, Integer](nodeIds.length * 2)
        nodeIds.zipWithIndex.foreach { case (id, i) => sortedIdx.put(id, i) }
        // remap the cached first-seen-indexed endpoints once
        val remap = new Array[Int](dg.nodeIds.length)
        var v = 0
        while (v < dg.nodeIds.length) {
          remap(v) = sortedIdx.get(dg.nodeIds(v)).intValue()
          v += 1
        }
        val m = dg.srcA.length
        var lab = Array.tabulate(nodeIds.length)(_.toLong)
        for (_ <- 0 until iters) {
          val next = lab.clone()
          var j = 0
          while (j < m) {
            val l = lab(remap(dg.srcA(j)))
            if (l < next(remap(dg.dstA(j)))) next(remap(dg.dstA(j))) = l
            j += 1
          }
          lab = next
        }
        spark.createDataFrame(
          nodeIds.zipWithIndex.map { case (id, i) =>
            Row(id, nodeIds(lab(i).toInt))
          }.toList.asJava,
          StructType(Seq(StructField("id", idType),
            StructField("lab", idType))))
      }
    } match {
      case Some(out) => return out
      case None => ()
    }
    val e = eRaw
      .repartition(spark.sparkContext.defaultParallelism, col("src"))
      .localCheckpoint(true)
    val nodesDf = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    var lab = nodesDf.withColumn("lab", col("id"))
    for (_ <- 0 until iters) {
      val incoming = e.join(lab, e("src") === lab("id"))
        .select(col("dst").as("id"), col("lab"))
      val next = lab.unionByName(incoming)
        .groupBy(col("id")).agg(min(col("lab")).as("lab"))
        .localCheckpoint(true)
      graft.sources.SessionCache.release(lab) // superseded round (r13)
      lab = next
    }
    // same iters = 0 guard as pageRank: the init labels plan is lazy
    // over the nodesDf checkpoint
    graft.sources.SessionCache.release(
      if (iters > 0) Seq(nodesDf, e) else Seq(e))
    lab
  }

  /** Total triangle count over an undirected graph (input edges may
    * carry both directions and duplicates; self-loops are dropped) — the
    * degree-ordered "forward" algorithm (Schank & Wagner 2005): orient
    * every edge from its lower-(degree, id) endpoint to the higher, so
    * each triangle is counted exactly once at its lowest-rank vertex and
    * — the scale property — every vertex's out-degree is O(√m) even on
    * power-law graphs, bounding the wedge join that a naive 3-way
    * self-join lets explode on hub vertices. Two equi-joins + one count;
    * exact integers, so any implementation (the oracle uses the naive
    * id-ordered 3-join) must produce the identical number. */
  def triangleCount(edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      /** input is already distinct, self-loop-free and oriented
        * srcCol < dstCol (the memoized gate artifact's invariant) —
        * skips the canonicalize shuffle + checkpoint, the same contract
        * as the siblings' assumeDistinct */
      assumeCanonical: Boolean = false): DataFrame = {
    val und = if (assumeCanonical)
      edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    else edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    // all-driver route (r15): a canonical edge set within the driver
    // bound counts its triangles with the same degree-ordered forward
    // algorithm in memory — the count is orientation-invariant, so any
    // consistent total order (here (degree, dense index)) yields the
    // identical exact integer. One bounded pull replaces the two-join
    // wedge plan's shuffles.
    Route.attempt {
      driverGraph(und).map { dg =>
        val nV = dg.nodeIds.length
        val m = dg.srcA.length
        val ea = dg.srcA
        val eb = dg.dstA
        val deg = new Array[Int](nV)
        var j = 0
        while (j < m) {
          deg(ea(j)) += 1; deg(eb(j)) += 1
          j += 1
        }
        // orient low-(deg, idx) → high; build sorted out-adjacency
        def before(u: Int, v: Int): Boolean =
          deg(u) < deg(v) || (deg(u) == deg(v) && u < v)
        val outDeg = new Array[Int](nV)
        j = 0
        while (j < m) {
          if (before(ea(j), eb(j))) outDeg(ea(j)) += 1 else outDeg(eb(j)) += 1
          j += 1
        }
        val adj = Array.tabulate(nV)(v => new Array[Int](outDeg(v)))
        val fill = new Array[Int](nV)
        j = 0
        while (j < m) {
          val (s, t) = if (before(ea(j), eb(j))) (ea(j), eb(j)) else (eb(j), ea(j))
          adj(s)(fill(s)) = t; fill(s) += 1
          j += 1
        }
        var v = 0
        while (v < nV) { java.util.Arrays.sort(adj(v)); v += 1 }
        var count = 0L
        j = 0
        while (j < m) {
          val (s, t) = if (before(ea(j), eb(j))) (ea(j), eb(j)) else (eb(j), ea(j))
          val (as, at) = (adj(s), adj(t))
          var (p, q) = (0, 0)
          while (p < as.length && q < at.length) {
            if (as(p) == at(q)) { count += 1L; p += 1; q += 1 }
            else if (as(p) < at(q)) p += 1
            else q += 1
          }
          j += 1
        }
        import scala.jdk.CollectionConverters._
        // the canonicalize checkpoint (when this call built one) is
        // consumed — the count is in hand
        if (!assumeCanonical) graft.sources.SessionCache.release(und)
        und.sparkSession.createDataFrame(
          List(Row(count)).asJava,
          StructType(Seq(StructField("n_triangles", LongType, nullable = false))))
      }
    } match {
      case Some(out) => return out
      case None => ()
    }
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // orient a→b iff rank(a) < rank(b), rank = (degree, id)
    val ranked = und
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
    val dir = ranked.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("s"), col("b").as("t")))
        .otherwise(struct(col("b").as("s"), col("a").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    val wedges = dir.as("e1").join(dir.as("e2"), col("e1.s") === col("e2.s") &&
        col("e1.t") < col("e2.t"))
      .select(col("e1.t").as("a"), col("e2.t").as("b"))
    // a wedge closes iff its endpoints are an edge; wedge endpoints are
    // already value-ordered, so the canonical (a < b) edge set closes it
    // with a pure EQUI-join (an either-orientation OR-join would plan as
    // a nested loop)
    val closed = wedges.join(und, Seq("a", "b"), "left_semi")
    closed.agg(count(lit(1)).as("n_triangles"))
  }
}
