package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Tpch
import graft.datalog.{Planner, TableSource}

/** Physical-plan shape assertions — the properties that decide whether
  * these operators survive a 100 TB cluster, pinned so a regression in
  * plan quality fails CI even while results stay correct:
  *
  *   - filters reach the parquet scan (PushedFilters)
  *   - projections prune the scan schema (ReadSchema)
  *   - dimension joins broadcast instead of shuffling both sides
  *   - no accidental cartesian products in the join cascades
  *   - the hot aggregation paths stay inside WholeStageCodegen
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q5 nation/region/supplier joins broadcast") {
    val p = plan(Tpch.q5(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // six tables, and none of the joins degrades to a cartesian
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("TPC-H cascades never produce a cartesian product") {
    for ((name, fn) <- Tpch.all) {
      val p = plan(fn(spark, dir))
      withClue(s"$name: ") { assert(!p.contains("CartesianProduct")) }
    }
  }

  test("q6 pushes range filters into the scan and prunes columns") {
    val p = plan(Tpch.q6(spark, dir))
    assert(p.contains("PushedFilters"))
    // the scan must not read the full 10-column lineitem schema
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_shipdate"))
    assert(!readSchema.contains("l_returnflag"), readSchema)
    assert(!readSchema.contains("l_orderkey"), readSchema)
  }

  test("q1 aggregation runs inside whole-stage codegen") {
    val df = Tpch.q1(spark, dir)
    df.collect() // AQE only materializes codegen stages in the final plan
    // "*(n)" prefixes are the WholeStageCodegen span markers in the tree string
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("HashAggregate")), p.take(2000))
    assert(!p.linesIterator.exists(l => l.contains("HashAggregate") && !l.contains("*(")), p.take(2000))
  }

  test("datalog triple-pattern join prunes columns and pushes the constant") {
    val src = TableSource.tpch(spark, dir)
    val df = Planner.q(spark, src,
      """[:find ?n :where [[?r :r_name ?n] [?r :r_regionkey 2]]]""")
    val p = plan(df)
    // the r_regionkey = 2 literal must reach the region scan
    assert(p.contains("PushedFilters") && p.contains("r_regionkey"), p.take(2000))
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!reads.contains("r_comment"), reads) // never read, never scanned
  }

  test("datalog equi-join on shared vars broadcasts the dimension side") {
    val src = TableSource.tpch(spark, dir)
    val df = Planner.q(spark, src, """
      [:find ?c ?n :where [[?cu :c_custkey ?c] [?cu :c_nationkey ?nk]
                           [?na :n_nationkey ?nk] [?na :n_name ?n]]]""")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") || p.contains("AdaptiveSparkPlan"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("LUBM snowflake: adaptive final plan broadcasts, no cartesian") {
    // the r5→r6 watch item: the shared RDF parse cache must feed the
    // multi-hop join cascade without degrading join strategy. (q8, not
    // the empty-result q2: AQE collapses an empty cascade to
    // EmptyRelation and there'd be no join left to pin.)
    ReferenceCorpus.assumeFiles(graft.queries.LubmQueries.path)
    val df = graft.queries.LubmQueries.all("lubm_q8")(spark, dir)
    df.collect() // materialize so AQE settles the final plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("dedup LSH pair generation keeps its pinned partitioning") {
    // pair output is quadratic per bucket while the key relation is
    // small; the repartition before the self-join must survive as a
    // user-specified (REPARTITION_BY_NUM) exchange AQE won't coalesce
    // to a single task, and the self-join must stay an equi-join
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    // pin the PRE-checkpoint plan: the public minhashLshPairs eagerly
    // localCheckpoints (returns Scan ExistingRDD), which would hide the
    // partitioning; the lazy builder is the plan that actually executes
    val (pairs, caches) = graft.operators.Dedup.minhashLshPairsLazy(docs, tau = 0.5)
    try {
      val p = pairs.queryExecution.executedPlan.toString
      assert(p.contains("REPARTITION_BY_NUM"), p.take(3000))
      assert(!p.contains("CartesianProduct"), p.take(3000))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    } finally caches.foreach(_.unpersist(false))
    // and the public API keeps its eager-materialization contract: the
    // returned frame is a checkpointed result, not a lazy plan (2-doc
    // stub — the contract is about plan shape, not data; and release the
    // checkpoint blocks so the pin doesn't pin storage)
    val pub = graft.operators.Dedup.minhashLshPairs(docs.limit(2), tau = 0.5)
    assert(pub.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
      pub.queryExecution.optimizedPlan.toString.take(1000))
    pub.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false); ()
      case _ => ()
    }
  }

  test("multi-g duplicate-span gram stream is ONE explode over one corpus scan") {
    // the whole point of dupSpanStatsMulti: adding granularities must not
    // add corpus passes — all g values share one token explode (a second
    // Generate or a second relation scan means the one-pass contract broke)
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    val toks = docs.select(org.apache.spark.sql.functions.col("doc_id"),
      graft.operators.TextAnalysis.tokens(
        org.apache.spark.sql.functions.col("text")).as("_tk"))
    val grams = graft.operators.Dedup.dupSpanGramsMulti(toks, Seq(8, 16, 32))
    val opt = grams.queryExecution.optimizedPlan
    val nGenerate = opt.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }.size
    assert(nGenerate == 1, s"expected 1 Generate, got $nGenerate:\n${opt.toString.take(2000)}")
    val nScans = opt.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r }.size
    assert(nScans == 1, s"expected 1 relation scan, got $nScans")
  }

  test("bitemp asOf resolves in one aggregate pass over one scan") {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val rows = (0 until 100).map { i =>
      Row(s"e${i % 20}", java.time.LocalDateTime.parse("2020-01-01T00:00:00")
        .plusDays(i % 5), java.time.LocalDateTime.parse("2020-02-01T00:00:00"),
        (i / 20).toLong, s"h$i", false)
    }
    val versions = spark.createDataFrame(rows.asJava, graft.bitemp.TxLog.versionSchema)
      .localCheckpoint(true)
    val df = graft.bitemp.Bitemp.asOf(versions,
      lit(java.time.LocalDateTime.parse("2020-01-03T00:00:00")), lit(3L))
    val p = df.queryExecution.executedPlan.toString
    // exactly one resolve: one partial+final aggregate pair over ONE scan
    // of the versions state — a regression to per-consumer re-resolution
    // (or a window-function rewrite) multiplies these
    val scans = p.linesIterator.count(l => l.contains("Scan ExistingRDD"))
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(scans == 1, s"versions scanned $scans times:\n${p.take(3000)}")
    assert(aggs <= 2, s"$aggs aggregate nodes (want partial+final):\n${p.take(3000)}")
    assert(!p.contains("Window"), p.take(3000))
  }

  test("text-search plan carries the contains prefilter before tokenizing") {
    val src = TableSource.tpch(spark, dir)
    val df = Planner.q(spark, src,
      """[:find ?e :where [[(text-search :p_name "blue") [[?e]]]]]""")
    val p = df.queryExecution.optimizedPlan.toString
    // cheap Contains guard present (prefilter), not just the token compare
    assert(p.toLowerCase.contains("contains"), p.take(2000))
  }

  test("z-ordered layout pushes the z-range predicate into the scan") {
    val df = graft.queries.BitempQueries.zRangeBox(spark, dir)
    val p = plan(df)
    // the OR-of-BETWEEN pruning predicate must reach PushedFilters so
    // row-group min/max stats on the z-sorted files can skip segments
    val scanLine = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("z"), s"z ranges not pushed:\n${p.take(2500)}")
  }

  test("day-partitioned layout prunes the scan to one partition") {
    val path = graft.sources.Layout.dayPartitionedEvents(spark, dir)
    val df = spark.read.parquet(path)
      .filter(org.apache.spark.sql.functions.col("ds") === "2024-01-15")
      .select("event_id")
    val p = plan(df)
    // the ds predicate must land in PartitionFilters (pruned at file
    // listing), NOT as a post-scan Filter over all partitions
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("ds"), s"no partition filter on ds:\n${p.take(2000)}")
    // and the pruned scan reads exactly the one day's rows
    val oneDay = df.count()
    val allRows = spark.read.parquet(path).count()
    assert(oneDay > 0 && oneDay < allRows / 10,
      s"pruned=$oneDay total=$allRows — filter not selective")
  }

  test("ts-devices current resolve is one aggregate pass with a broadcast dim") {
    val df = graft.queries.TsQueries.devicesBusiest(spark, dir)
    df.collect()
    val p = plan(df)
    // latest-reading-per-device = partial-agg resolve, never a window
    // sort over every reading; the 1500-row device dim broadcasts
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("ts hourly rollup pushes its vt range into the readings scan") {
    val df = graft.queries.TsQueries.devicesHourly(spark, dir)
    df.collect()
    val p = plan(df)
    // the [2024-01-01, 2024-01-02) bounds must reach the parquet scan as
    // PushedFilters on ts — at 100 TB that range is the difference
    // between reading one day and reading the year
    val scanLine = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("ts"), s"no pushed ts filter:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(3000)) // dim semi-join broadcasts
  }

  test("asof join is one shuffle + window — no range join, no nested loop") {
    val df = graft.queries.TemporalJoinQueries.asofJoin(spark, dir)
    df.collect()
    val p = plan(df)
    // the sorted-merge form: a window over the key-partitioned union;
    // a regression to a range-condition join shows up as a nested loop
    // (per-key pair scan) or a cartesian
    assert(p.contains("Window"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("binned range join is an equi-join on (key, bucket)") {
    val df = graft.queries.TemporalJoinQueries.rangeJoin(spark, dir)
    df.collect()
    val p = plan(df)
    // the bucket must be part of the JOIN KEY (hashed/sort-merge equi
    // join), leaving the exact range as a residual condition — a plan
    // that joins on user_id alone degrades to a per-key pair scan
    assert(p.contains("_bucket"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    val joinLine = p.linesIterator
      .find(l => l.contains("HashJoin") || l.contains("SortMergeJoin"))
      .getOrElse("")
    assert(joinLine.contains("_bucket"), s"bucket not a join key:\n$joinLine")
  }

  test("bucketed fact join runs with no exchange and no sort") {
    val df = graft.queries.SqlStreamQueries.bucketJoin(spark, dir)
    df.collect()
    val p = plan(df)
    assert(p.contains("SortMergeJoin"), p.take(3000))
    // the join subtree must contain NO Exchange on either key: bucketing
    // pre-paid the shuffle at write time. (A local per-bucket Sort stays
    // — Spark ≥3 doesn't propagate bucket sort order by default
    // [spark.sql.legacy.bucketedTableScan.outputOrdering]; it sorts one
    // pre-sorted bucket in place, no data movement.)
    val joinSubtree = p.substring(p.indexOf("SortMergeJoin"))
    assert(!joinSubtree.contains("Exchange hashpartitioning(o_orderkey"),
      joinSubtree.take(2500))
    assert(!joinSubtree.contains("Exchange hashpartitioning(l_orderkey"),
      joinSubtree.take(2500))
    assert(joinSubtree.contains("Bucketed: true"), joinSubtree.take(2500))
  }

  test("salted skew join keys on (user_id, salt) and matches the plain join") {
    val df = graft.queries.SqlStreamQueries.skewJoin(spark, dir)
    df.collect()
    val p = plan(df)
    val joinLine = p.linesIterator
      .find(l => l.contains("HashJoin") || l.contains("SortMergeJoin"))
      .getOrElse("")
    assert(joinLine.contains("_salt"), s"salt not a join key:\n$joinLine")
    // exact result parity with the unsalted join
    import org.apache.spark.sql.functions.{col, count, lit}
    val ev = graft.sources.Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    val dim = graft.sources.Tables.load(spark, dir, "customer")
      .filter(col("c_custkey") <= 150)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val plain = ev.join(dim, "user_id")
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val salted = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("shingle kernels do not re-shuffle an already-wide input (r12)") {
    import org.apache.spark.sql.functions.col
    val par = spark.sparkContext.defaultParallelism
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // wide input (>= defaultParallelism partitions): the only Exchange in
    // the plan is the test's own round-robin — shingles must add none
    val wide = base.repartition(par)
    for (p <- Seq(plan(graft.operators.Dedup.shingles(wide)),
                  plan(graft.operators.Dedup.charShingles(wide)))) {
      assert(!p.contains("Exchange hashpartitioning(doc_id"), p.take(3000))
    }
    // narrow input (single partition): the spread must still kick in
    val narrow = base.coalesce(1)
    for (p <- Seq(plan(graft.operators.Dedup.shingles(narrow)),
                  plan(graft.operators.Dedup.charShingles(narrow)))) {
      assert(p.contains("Exchange hashpartitioning(doc_id"), p.take(3000))
    }
  }
}
