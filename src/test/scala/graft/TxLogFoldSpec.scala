package graft

import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import graft.bitemp.TxLog

/** Differential test for the one-pass tx fold: `applyBatch` (per-entity
  * groupByKey fold for put/delete/evict runs + sequential match/cas
  * segments) must produce state identical to the round-1 sequential
  * applyTx fold (`applyBatchSeq`) on randomized op programs covering
  * puts with/without valid-time ranges, deletes, evicts, and cas/match
  * preconditions (crux tx semantics, tx.clj:59-227). */
class TxLogFoldSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Force the DISTRIBUTED tx paths: the r16 bounded driver route would
    * otherwise serve every call here (tiny fixtures), and these tests
    * exist to pin the distributed fold against the sequential oracle.
    * TxDriver's own route differential is the r16 test below. */
  private def dist[A](f: => A): A =
    graft.sources.SessionConf.withConf(spark,
      "spark.graft.route.tx.maxRows" -> "0")(f)

  private val vts = (1 to 6).map(i => LocalDateTime.parse(f"2020-01-0$i%dT00:00:00"))

  private def stateRows(df: DataFrame): Set[Seq[Any]] =
    df.dropDuplicates("eid", "vt", "tx_id") // restore rows may duplicate exactly
      .collect().toSet[Row].map(_.toSeq)

  private def randomTxs(rnd: scala.util.Random, nTxs: Int, withCas: Boolean)
      : Seq[(Long, LocalDateTime, DataFrame)] = {
    import scala.jdk.CollectionConverters._
    val eids = Seq("a", "b", "c")
    (0 until nTxs).map { txId =>
      val rows = (0 until 1 + rnd.nextInt(3)).map { s =>
        val eid = eids(rnd.nextInt(eids.size))
        val roll = rnd.nextInt(20)
        if (roll == 0)
          Row("evict", eid, null, null, null, null, null, s.toLong)
        else if (withCas && roll <= 2) {
          // cas/match with an expected hash that only sometimes matches —
          // exercises both the abort path and the segmentation glue
          val op = if (roll == 1) "cas" else "match"
          val expected = if (rnd.nextBoolean()) null else s"v${rnd.nextInt(3)}-0"
          val newHash = if (op == "cas") s"v$txId-$s" else null
          Row(op, eid, newHash, null, null, vts(rnd.nextInt(vts.size)), expected, s.toLong)
        } else {
          val op = if (roll <= 15) "put" else "delete"
          val start = vts(rnd.nextInt(vts.size))
          val end = if (rnd.nextBoolean()) null else vts(rnd.nextInt(vts.size))
          val hash = if (op == "put") s"v$txId-$s" else null
          Row(op, eid, hash, start, end, null, null, s.toLong)
        }
      }
      (txId.toLong, LocalDateTime.parse("2021-01-01T00:00:00").plusHours(txId.toLong),
        spark.createDataFrame(rows.asJava, TxLog.opSchema))
    }
  }

  test("overlapping same-tx ranges read earlier ops' ORIGINAL rows (r9 regression)") {
    import scala.jdk.CollectionConverters._
    // seq1 put A @05 open; seq2 put B @[03,05); seq3 put C @[02,06).
    // Sequentially: op3's overwrite rewrites op1's 05 row to C, and its
    // cap at 06 restores A (op1's ORIGINAL row is still a candidate even
    // though op2's cap landed at the same vt). The old keyed-map fold
    // let op2's cap DESTROY op1's row as a candidate → 05=A, 06=B.
    def d(s: String) = LocalDateTime.parse(s + "T00:00:00")
    val ops = spark.createDataFrame(List(
      Row("put", "e", "A", d("2020-01-05"), null, null, null, 1L),
      Row("put", "e", "B", d("2020-01-03"), d("2020-01-05"), null, null, 2L),
      Row("put", "e", "C", d("2020-01-02"), d("2020-01-06"), null, null, 3L)
    ).asJava, TxLog.opSchema)
    val txs = Seq((0L, d("2024-02-01"), ops))
    val fast = stateRows(dist(TxLog.applyBatch(TxLog.emptyState(spark), txs)))
    assert(fast == stateRows(dist(TxLog.applyBatchSeq(TxLog.emptyState(spark), txs))))
    val byVt = fast.map(r => r(1).toString.take(10) -> r(4)).toMap
    assert(byVt("2020-01-05") == "C" && byVt("2020-01-06") == "A")
  }

  test("dense single-entity txs (many overlapping ranged ops): fold == sequential") {
    import scala.jdk.CollectionConverters._
    // the base generator spreads 1-3 ops over 3 eids, so 3+ same-eid ops
    // in ONE tx (the shape the r9 regression needed) is rare — force it
    (1 to 3).foreach { trial =>
      val rnd = new scala.util.Random(3000 + trial)
      val txs = (0 until 4).map { txId =>
        val rows = (0 until 4 + rnd.nextInt(3)).map { s =>
          val start = vts(rnd.nextInt(vts.size))
          val end = if (rnd.nextInt(4) == 0) null else vts(rnd.nextInt(vts.size))
          val hash = if (rnd.nextInt(6) == 0) null else s"v$txId-$s"
          Row(if (hash == null) "delete" else "put", "e", hash, start, end,
            null, null, s.toLong)
        }
        (txId.toLong, LocalDateTime.parse("2021-01-01T00:00:00").plusHours(txId.toLong),
          spark.createDataFrame(rows.asJava, TxLog.opSchema))
      }
      val fast = dist(TxLog.applyBatch(TxLog.emptyState(spark), txs))
      val seq = dist(TxLog.applyBatchSeq(TxLog.emptyState(spark), txs))
      assert(stateRows(fast) == stateRows(seq), s"dense trial $trial diverged")
    }
  }

  test("randomized put/delete/evict programs: one-pass fold == sequential fold") {
    (1 to 4).foreach { trial =>
      val rnd = new scala.util.Random(1000 + trial)
      val txs = randomTxs(rnd, nTxs = 8, withCas = false)
      val fast = dist(TxLog.applyBatch(TxLog.emptyState(spark), txs))
      val seq = dist(TxLog.applyBatchSeq(TxLog.emptyState(spark), txs))
      assert(stateRows(fast) == stateRows(seq), s"trial $trial diverged")
    }
  }

  test("randomized programs with cas/match segments: segmented batch == sequential fold") {
    (1 to 4).foreach { trial =>
      val rnd = new scala.util.Random(2000 + trial)
      val txs = randomTxs(rnd, nTxs = 8, withCas = true)
      val fast = dist(TxLog.applyBatch(TxLog.emptyState(spark), txs))
      val seq = dist(TxLog.applyBatchSeq(TxLog.emptyState(spark), txs))
      assert(stateRows(fast) == stateRows(seq), s"trial $trial diverged")
    }
  }

  test("sequential cas path: cost and result independent of untouched history") {
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(42)
    val txs = randomTxs(rnd, nTxs = 6, withCas = true)
    val touched = dist(TxLog.applyBatchSeq(TxLog.emptyState(spark), randomTxs(new scala.util.Random(9), 3, withCas = false)))
      .localCheckpoint(true)
    // 10×-inflated untouched history: entities the cas txs never reference
    val bulkRows = (0 until 20000).map { i =>
      Row(s"bulk-$i", vts(i % vts.size), vts(0), 1L, s"h$i", false)
    }
    val bulk = spark.createDataFrame(bulkRows.asJava, TxLog.versionSchema)
      .localCheckpoint(true)
    def run(state: org.apache.spark.sql.DataFrame): (Set[Seq[Any]], Long) = {
      val t0 = System.nanoTime()
      val out = dist(TxLog.applyBatchSeq(state, txs))
      val rows = stateRows(out.filter(!org.apache.spark.sql.functions.col("eid").startsWith("bulk-")))
      (rows, System.nanoTime() - t0)
    }
    val (smallRows, smallNs) = run(touched)
    val (bigRows, bigNs) = run(touched.unionByName(bulk).localCheckpoint(true))
    assert(bigRows == smallRows, "untouched history changed cas results")
    // With the touched-eids semi-join the per-tx resolve never shuffles the
    // bulk rows, so inflating untouched history 10× must not blow up tx
    // time (generous slack for scheduler noise; without the semi-join the
    // resolve groupBy's the full state per tx and this fails by a wide margin)
    assert(bigNs < smallNs * 4 + 4_000_000_000L,
      s"cas tx time grew with untouched history: ${smallNs / 1e9}s -> ${bigNs / 1e9}s")
  }

  test("per-tx op caches are dropped: cache manager flat across a batch") {
    // applyTxParts caches each tx's op list (and its resolved history);
    // both must be unpersisted once the tx's delta is materialized, or a
    // long sequential batch accumulates one block-manager entry per tx.
    // (localCheckpoint RDDs are lifecycle-managed by the ContextCleaner;
    // Dataset .cache() entries live until explicit unpersist — so the
    // assertion is on the CacheManager, where .cache() registers.)
    val rnd = new scala.util.Random(77)
    val txs = randomTxs(rnd, nTxs = 12, withCas = true) // forces sequential path
    val out = dist(TxLog.applyBatch(TxLog.emptyState(spark), txs))
    out.count() // materialize the final state
    // precise, pollution-immune check: none of THIS batch's op plans may
    // still be registered (other components persist long-lived caches —
    // e.g. the RDF parse cache — so a global isEmpty would be flaky)
    val leaked = txs.count { case (_, _, ops) =>
      spark.sharedState.cacheManager.lookupCachedData(
        ops.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined }
    assert(leaked == 0,
      s"$leaked per-tx op caches leaked across applyBatch (ops not unpersisted)")
  }

  test("fold on existing state: later batch sees earlier batch's corrections") {
    val rnd = new scala.util.Random(7)
    val first = randomTxs(rnd, nTxs = 4, withCas = false)
    val second = randomTxs(rnd, nTxs = 4, withCas = false)
      .map { case (id, tt, ops) => (id + 4, tt.plusDays(1), ops) }
    val fast = dist(TxLog.applyBatch(TxLog.applyBatch(TxLog.emptyState(spark), first), second))
    val seq = dist(TxLog.applyBatchSeq(TxLog.applyBatchSeq(TxLog.emptyState(spark), first), second))
    assert(stateRows(fast) == stateRows(seq))
  }

  test("driver tx route ≡ distributed fold on randomized programs (r16)") {
    (1 to 4).foreach { trial =>
      val rnd = new scala.util.Random(4000 + trial)
      val txs = randomTxs(rnd, nTxs = 8, withCas = trial % 2 == 0)
      // default conf: the bounded driver route serves these tiny txs and
      // the state comes back resident (later txs read it with no job)
      val driver = TxLog.applyBatch(TxLog.emptyState(spark), txs)
      assert(org.apache.spark.sql.ResidentRelation.valueOf(driver).isDefined,
        "small batch must take the driver route")
      val viaDist = dist(TxLog.applyBatch(TxLog.emptyState(spark), txs))
      assert(stateRows(driver) == stateRows(viaDist), s"trial $trial diverged")
      // the sequential per-tx path too (applyTx is the route's other door)
      val seqDriver = TxLog.applyBatchSeq(TxLog.emptyState(spark), txs)
      assert(stateRows(seqDriver) == stateRows(viaDist),
        s"trial $trial seq diverged")
    }
  }

  test("driver tx route declines over-bound inputs via conf (r16)") {
    val rnd = new scala.util.Random(5000)
    val txs = randomTxs(rnd, nTxs = 3, withCas = true)
    // a 1-row bound can fit no real tx: every call must fall back to the
    // distributed path and still produce the oracle state
    val tight = graft.sources.SessionConf.withConf(spark,
      "spark.graft.route.tx.maxRows" -> "1") {
      TxLog.applyBatch(TxLog.emptyState(spark), txs)
    }
    assert(org.apache.spark.sql.ResidentRelation.valueOf(tight).isEmpty,
      "an over-bound batch must not route driver-side")
    assert(stateRows(tight) ==
      stateRows(dist(TxLog.applyBatchSeq(TxLog.emptyState(spark), txs))))
  }

  test("driver tx route declines op rows with a null seq (poisoned frame)") {
    import scala.jdk.CollectionConverters._
    val t = LocalDateTime.parse("2021-01-01T00:00:00")
    // the distributed join drops a null-seq op; the driver fold must not
    // read it as seq 0 and apply it
    val ops = spark.createDataFrame(List(
      Row("put", "a", "h1", vts(0), null, null, null, 1L),
      Row("put", "b", "h2", vts(1), null, null, null, null),
      Row("cas", "a", "h3", null, null, vts(2), "h1", 2L)
    ).asJava, TxLog.opSchema)
    val (one, _) = TxLog.applyTx(TxLog.emptyState(spark), ops, 1L, t)
    assert(org.apache.spark.sql.ResidentRelation.valueOf(one).isEmpty,
      "a null seq must decline the driver route")
    assert(stateRows(one) ==
      stateRows(dist(TxLog.applyTx(TxLog.emptyState(spark), ops, 1L, t)._1)))
    val txs = Seq((1L, t, ops))
    assert(stateRows(TxLog.applyBatch(TxLog.emptyState(spark), txs)) ==
      stateRows(dist(TxLog.applyBatch(TxLog.emptyState(spark), txs))))
  }

  test("driver tx route falls back on a non-fatal driver error (poisoned frame)") {
    import scala.jdk.CollectionConverters._
    val t = LocalDateTime.parse("2021-01-01T00:00:00")
    // an int `seq` column: Spark widens it on the distributed path, the
    // driver fold's getLong throws ClassCastException — which must send
    // the call to the distributed path, not fail it
    val ops = spark.createDataFrame(List(
      Row("put", "a", "h1", vts(0), null, null, null, 1L),
      Row("cas", "a", "h2", null, null, vts(2), "h1", 2L)
    ).asJava, TxLog.opSchema)
      .withColumn("seq", org.apache.spark.sql.functions.col("seq").cast("int"))
    val (one, aborted) = TxLog.applyTx(TxLog.emptyState(spark), ops, 1L, t)
    val (oneDist, abortedDist) =
      dist(TxLog.applyTx(TxLog.emptyState(spark), ops, 1L, t))
    assert(aborted == abortedDist)
    assert(stateRows(one) == stateRows(oneDist))
    val txs = Seq((1L, t, ops))
    assert(stateRows(TxLog.applyBatch(TxLog.emptyState(spark), txs)) ==
      stateRows(dist(TxLog.applyBatch(TxLog.emptyState(spark), txs))))
  }
}
