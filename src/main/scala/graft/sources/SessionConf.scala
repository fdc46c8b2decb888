package graft.sources

import org.apache.spark.sql.SparkSession

/** Scoped session-conf overrides: set `kvs`, run `body`, restore the
  * previous values — the one implementation of the save/set/finally-
  * restore block the batch-sizing paths (interactive tx gates, streaming
  * foreachBatch bodies) each hand-rolled before.
  *
  * A SparkSession's runtime conf is SESSION-GLOBAL, not per-thread:
  * this is for single-logical-thread execution windows (a gate body, a
  * micro-batch body — the same discipline Structured Streaming itself
  * uses when it flips AQE off for a stateful plan). NESTED scopes are
  * safe (each restores to what the outer scope set); genuinely
  * CONCURRENT scopes on one session race by construction — don't share
  * a session between a sized batch window and latency-sensitive
  * concurrent queries. */
object SessionConf {
  def withConf[A](sp: SparkSession, kvs: (String, String)*)(body: => A): A = {
    // getOption, not get: a key with no session value and no built-in
    // default would throw at the save step, and a previously-UNSET key
    // must restore to unset (not to an explicit value)
    val prev = kvs.map { case (k, _) => k -> sp.conf.getOption(k) }
    kvs.foreach { case (k, v) => sp.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => sp.conf.set(k, v)
      case (k, None) => sp.conf.unset(k)
    }
  }

  /** The interactive/micro-batch sizing pair: static small shuffle
    * fan-out + AQE off (per-stage jobs and replanning dominate at
    * interactive row counts; a 100 TB feed keeps the session defaults). */
  def withBatchScale[A](sp: SparkSession, partitions: Int)(body: => A): A =
    withConf(sp,
      "spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.adaptive.enabled" -> "false")(body)
}
