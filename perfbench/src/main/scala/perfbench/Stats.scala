package perfbench

/** Pure helpers behind the reported numbers: percentiles, span self time
  * and the attribution of Spark jobs to benchmark ops. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile value and how many samples lie beyond it. */
  final case class Tail(pct: Int, value: Double, beyond: Int, n: Int)

  private def rank(p: Int, n: Int): Int = math.max(1, math.ceil(p * n / 100.0).toInt)

  /** The highest whole percentile (at most 99) that still has at least
    * `minBeyond` samples beyond it. With too few samples for any such
    * percentile it falls back to the median, and `beyond` says so. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val p = (99 to 50 by -1).find(p => n - rank(p, n) >= minBeyond).getOrElse(50)
    val k = rank(p, n)
    Tail(p, s(k - 1), n - k, n)
  }

  /** A traced interval. `parent` is 0 for an op's root span; spans of one
    * op share `op`. Times are nanoseconds. */
  final case class Span(id: Long, parent: Long, op: Long, name: String, start: Long, end: Long) {
    def dur: Long = end - start
  }

  /** Total length of the union of intervals, each clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's duration minus the part of it its direct children cover. */
  def selfTime(span: Span, all: Seq[Span]): Long =
    span.dur - covered(all.filter(_.parent == span.id).map(c => (c.start, c.end)), span.start, span.end)

  /** A Spark job as the listener saw it (times in nanoseconds on the same
    * clock as the spans). */
  final case class Job(id: Int, group: String, description: String, start: Long, end: Long,
      stages: Int = 0, tasks: Int = 0, taskBusyMs: Double = 0, shuffleWriteBytes: Long = 0) {
    def dur: Long = end - start
  }

  /** One benchmark op as the attribution sees it: its job group, the
    * `graft-tx-<id>` label the program gives its per-tx jobs (if the op is
    * a streaming commit) and its wall interval. */
  final case class OpWindow(op: Long, group: String, txLabel: Option[String], start: Long, end: Long)

  /** Which op each job belongs to: by the program's tx label in the job
    * description first (pooled threads can carry a stale job group), then
    * by job group, then by the op whose interval holds the job's start.
    * Jobs that match no op are left out. */
  def attribute(jobs: Seq[Job], ops: Seq[OpWindow]): Map[Long, Seq[Job]] = {
    val byGroup = ops.map(o => o.group -> o.op).toMap
    val sorted = ops.sortBy(_.start).toVector
    def byTime(t: Long): Option[Long] = sorted.find(o => o.start <= t && t <= o.end).map(_.op)
    jobs.flatMap { j =>
      val d = Option(j.description).getOrElse("")
      ops.collectFirst { case o if o.txLabel.exists(l => d == l || d.startsWith(l + " ")) => o.op }
        .orElse(Option(j.group).flatMap(byGroup.get))
        .orElse(byTime(j.start))
        .map(_ -> j)
    }.groupBy(_._1).map { case (op, js) => op -> js.map(_._2) }
  }
}
