package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Pins the race-loser cleanup of [[SessionCache]]: every DataFrame
  * reachable from the losing value must release its blocks — bare frames,
  * frames nested in tuples/case classes (the r9 leak: `(PqCodebook, df)`
  * entries kept the loser's checkpointed blocks for the session's
  * lifetime), and eager localCheckpoint results whose storage lives on the
  * checkpoint RDD rather than in the cache manager. */
class SessionCacheSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def ckptLevel(df: DataFrame): StorageLevel =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getStorageLevel
      case other => fail(s"expected LogicalRDD, got ${other.getClass.getName}")
    }

  test("releaseLoser unpersists bare persisted frames") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x").persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    assert(df.storageLevel != StorageLevel.NONE)
    SessionCache.releaseLoser(df)
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("releaseLoser reaches frames inside tuples and releases localCheckpoint blocks") {
    import spark.implicits._
    val ck = Seq(1, 2, 3).toDF("x").localCheckpoint(true)
    assert(ckptLevel(ck) != StorageLevel.NONE)
    case class Artifact(tag: String, frame: DataFrame)
    SessionCache.releaseLoser(("codebook", Artifact("pq", ck)))
    assert(ckptLevel(ck) == StorageLevel.NONE)
  }

  test("releaseLoser releases every element of a List (cons cells must not burn depth)") {
    import spark.implicits._
    val frames = (1 to 6).map(i =>
      Seq(i).toDF("x").persist(StorageLevel.MEMORY_AND_DISK)).toList
    frames.foreach(_.count())
    SessionCache.releaseLoser(frames)
    frames.zipWithIndex.foreach { case (df, i) =>
      assert(df.storageLevel == StorageLevel.NONE, s"frame $i leaked")
    }
  }

  test("releaseLoser reaches frames inside Arrays") {
    import spark.implicits._
    val frames = Array.tabulate(3)(i =>
      Seq(i).toDF("x").persist(StorageLevel.MEMORY_AND_DISK))
    frames.foreach(_.count())
    SessionCache.releaseLoser(("tag", frames))
    frames.foreach(df => assert(df.storageLevel == StorageLevel.NONE))
  }

  test("getOrBuild returns winner and sweeps nothing on a live session") {
    val cache = new SessionCache[(org.apache.spark.sql.SparkSession, String), Int]
    assert(cache.getOrBuild((spark, "k"))(41) == 41)
    assert(cache.getOrBuild((spark, "k"))(sys.error("must not rebuild")) == 41)
  }

  test("capped memo: never over the cap, invalidated keys do not count") {
    type K = (org.apache.spark.sql.SparkSession, Int)
    val cache = new SessionCache[K, Int]
    val cap = 8
    // a burst of distinct misses: the size never exceeds the cap and
    // the oldest entries go first
    (0 until 40).foreach { i =>
      cache.getOrBuild((spark, i), maxEntries = cap)(i)
      assert(cache.size <= cap, s"after miss $i")
    }
    assert(cache.size == cap)
    (32 until 40).foreach(i =>
      assert(cache.getOrBuild((spark, i), maxEntries = cap)(-1) == i))
    // invalidate half: those keys leave entirely, so the next misses
    // fill the freed room instead of evicting live entries
    cache.invalidateIf(_._2 % 2 == 0)
    assert(cache.size == cap / 2)
    (100 until 104).foreach(i => cache.getOrBuild((spark, i), maxEntries = cap)(i))
    assert(cache.size == cap)
    Seq(33, 35, 37, 39).foreach(i =>
      assert(cache.getOrBuild((spark, i), maxEntries = cap)(-1) == i, s"live $i evicted"))
    // a re-added invalidated key is a fresh (newest) entry: its miss
    // evicts the oldest live entry (33), and the next miss keeps it
    assert(cache.getOrBuild((spark, 32), maxEntries = cap)(320) == 320)
    assert(cache.getOrBuild((spark, 33), maxEntries = cap)(-1) == -1)
    assert(cache.getOrBuild((spark, 32), maxEntries = cap)(-1) == 320)
    assert(cache.size == cap)
  }
}

