package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.util.control.NonFatal

/** The one size-route helper. A size route is an operator that runs in
  * driver memory while its input stays under a row bound and on its
  * distributed form above it (graph fixpoints, the tx fold, the suffix
  * probe, the dedup components route, bpe training, cumsum, Datalog rule
  * fixpoints). Every route takes its bound, its bounded pull and its
  * fallback from here:
  *
  *  - [[maxRows]]: the route's bound, `spark.graft.route.<name>.maxRows`
  *    (0 forces the distributed form — the differential specs' lever);
  *  - [[collect]]: one `limit(cap+1)` pull that both decides the route
  *    and feeds the driver form in the same job;
  *  - [[fits]]: a per-partition early-exit count, for inputs too large
  *    to funnel through one `GlobalLimit` task;
  *  - [[attempt]]: any non-fatal error inside a driver body declines the
  *    route, so the call falls back to the distributed form and never
  *    fails where the distributed form would succeed.
  */
object Route {

  /** The route's row bound: the session conf
    * `spark.graft.route.<name>.maxRows`, else `default`. An unparseable
    * value falls back to the default rather than crashing the operator. */
  def maxRows(spark: SparkSession, name: String, default: Long): Long =
    spark.conf.getOption(s"spark.graft.route.$name.maxRows")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(default)

  /** cap+1 as a LIMIT count, so "over the cap" is detectable; saturates
    * at Int.MaxValue (limit takes an Int), so a Long.MaxValue "always
    * driver" bound never wraps into a tiny or negative limit. */
  private[sources] def takeN(maxRows: Long): Int =
    if (maxRows >= Int.MaxValue - 1) Int.MaxValue else (maxRows + 1L).toInt

  /** `Some(rows)` when `df` has at most `maxRows` rows, else `None`. One
    * job (none for a LocalRelation input); `maxRows <= 0` returns `None`
    * without running anything. A saturated limit that comes back full
    * may be truncated, so it counts as over. */
  def collect(df: DataFrame, maxRows: Long): Option[Array[Row]] =
    if (maxRows <= 0) None
    else {
      val n = takeN(maxRows)
      val rows = df.limit(n).collect()
      if (rows.length < n) Some(rows) else None
    }

  /** Whether `df` has at most `maxRows` rows, counted per partition with
    * an early exit at cap+1: an over-bound input learns its route after
    * one bounded pass and no single task sees more than cap+1 rows (a
    * `limit(cap+1)` would pull every row of a just-under-bound input
    * through one GlobalLimit task). `maxRows <= 0` is false, no job.
    * The count runs over a fresh one-column projection, so a persisted
    * `df` is read from (and fills) its cache. */
  def fits(df: DataFrame, maxRows: Long): Boolean =
    maxRows > 0 && {
      val cap = takeN(maxRows).toLong
      df.select(org.apache.spark.sql.functions.lit(1)).queryExecution.toRdd.mapPartitions { it =>
        var n = 0L
        while (it.hasNext && n < cap) { it.next(); n += 1 }
        Iterator.single(n)
      }.collect().sum <= maxRows
    }

  /** Run a route's driver body; a non-fatal error declines the route
    * (`None`), sending the call to the distributed form. Fatal errors and
    * interrupts propagate. */
  def attempt[A](body: => Option[A]): Option[A] =
    try body catch { case NonFatal(_) => None }
}
