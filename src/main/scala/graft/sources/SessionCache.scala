package graft.sources

import org.apache.spark.sql.SparkSession

/** Build-once memo for session-scoped artifacts (loaded tables, staged
  * fixtures, checkpointed index/edge builds), keyed by a tuple whose
  * FIRST element is the owning [[SparkSession]] — or its `SparkContext`,
  * for an artifact every session of the context shares.
  *
  * Two policies every such cache in the repo shares (they were fixed
  * piecemeal across rounds — this is the one implementation):
  *
  *  - '''Dead-session sweep''': an entry keyed by a stopped session can
  *    never be hit again (sessions don't restart), so every access drops
  *    keys whose SparkContext has stopped. The sweep is O(live entries)
  *    — a handful of artifacts per session — and replaces the
  *    per-cache `onApplicationEnd` listeners some sites had and others
  *    (contrary to their comments) lacked.
  *  - '''Build outside the lock''': holding the lock across a
  *    multi-second Spark job would block every other key. Build first,
  *    then `putIfAbsent`; a racing duplicate build is benign — the first
  *    put wins and the loser's value is dropped (same rows either way).
  *  - '''Insertion-order cap''': memos keyed by ad-hoc plans (which
  *    never repeat) pass `maxEntries`; a miss that grows the map past it
  *    evicts the oldest entries. Swept and invalidated entries leave the
  *    map itself, so they never count against the cap.
  */
final class SessionCache[K <: Product, V] {
  // insertion-ordered; every access holds its monitor briefly
  private val m = new java.util.LinkedHashMap[K, V]()

  private def stopped(k: K): Boolean = k.productElement(0) match {
    case sc: org.apache.spark.SparkContext => sc.isStopped
    case s => s.asInstanceOf[SparkSession].sparkContext.isStopped
  }

  def getOrBuild(k: K, maxEntries: Int = Int.MaxValue)(build: => V): V =
    get(k).getOrElse {
      val v = build
      val prior = m.synchronized {
        val w = Option(m.putIfAbsent(k, v))
        val oldest = m.keySet.iterator()
        while (m.size > maxEntries && oldest.hasNext) { oldest.next(); oldest.remove() }
        w
      }
      prior match {
        case None => v
        case Some(winner) =>
          // racing duplicate build lost: a PLAN is free to drop, but a
          // persisted/cached frame would pin block-manager storage for
          // the session's lifetime with no handle left — release it.
          // Values may be tuple/case-class shaped (e.g. (PqCodebook,
          // DataFrame)), so scan Products recursively; a bare-DataFrame
          // match leaked the loser's blocks for tuple entries (r9 advice)
          SessionCache.releaseLoser(v)
          winner
      }
    }

  /** The entry for `k` if one was built (after the dead-session sweep);
    * builds nothing. */
  def get(k: K): Option[V] = m.synchronized {
    m.keySet.removeIf(kk => stopped(kk))
    Option(m.get(k))
  }

  /** Drop entries matching `p` (e.g. a data dir whose files were
    * rewritten under a live session). */
  def invalidateIf(p: K => Boolean): Unit =
    m.synchronized { m.keySet.removeIf(k => p(k)); () }

  /** Drop one entry, returning its value (so callers can unpersist a
    * cached frame's blocks in a still-live session). */
  def remove(k: K): Option[V] = m.synchronized(Option(m.remove(k)))

  /** Live entry count. */
  def size: Int = m.synchronized(m.size)
}

object SessionCache {
  /** Release every DataFrame reachable from `v`: bare frames, and frames
    * nested in tuples/case classes/collections (depth capped — values are
    * small artifact records, not deep trees). Covers both cache-manager
    * persistence (`unpersist`) and eager `localCheckpoint` results, whose
    * blocks live on the CHECKPOINT RDD the cache manager never sees — for
    * those, `DataFrame.unpersist` alone is a silent no-op and the blocks
    * stay pinned until driver GC (the r12 release defect: every
    * suffix-index build left ~K+2 corpus-position-sized block sets
    * behind). This is the one release entry point for one-shot
    * checkpointed intermediates; after the call the frame must NOT be
    * used again — a localCheckpoint has no lineage left to recompute
    * from, so a lost-block read fails instead of rebuilding. */
  def release(v: Any): Unit = releaseLoser(v)

  private[sources] def releaseLoser(v: Any, depth: Int = 0): Unit = {
    if (depth > 4) return
    v match {
      case df: org.apache.spark.sql.DataFrame =>
        if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
          df.unpersist(blocking = false)
        df.queryExecution.logical match {
          case lr: org.apache.spark.sql.execution.LogicalRDD
              if lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE =>
            lr.rdd.unpersist(blocking = false); ()
          case _ => ()
        }
      // Iterable BEFORE Product: a List is both, and walking its ::
      // cons cells through the Product branch burns one depth level per
      // element — frames past position 4 would silently leak
      case it: Iterable[_] =>
        it.foreach(releaseLoser(_, depth + 1))
      case a: Array[_] =>
        a.foreach(releaseLoser(_, depth + 1))
      case p: Product =>
        p.productIterator.foreach(releaseLoser(_, depth + 1))
      case _ => ()
    }
  }
}
