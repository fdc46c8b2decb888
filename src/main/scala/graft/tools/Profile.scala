package graft.tools

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.{Bench, SparkEntry}

/** Gate profiler: runs `SparkEntry.queries` gates in one JVM under
  * Bench's own protocol ([[Bench.session]], [[Bench.warmUp]], then three
  * [[Bench.timeOnce]] runs at the target dir, gates in name order) and
  * prints, per gate, a summary row and where the wall time went:
  *
  *  - summary: rows, cold s (the first target-dir run), warm s (min of
  *    the three: Bench's number), and for the best run the Spark jobs,
  *    their summed wall, tasks, shuffle read/write MB and the driver
  *    remainder (wall − job wall; a lower bound, since overlapping jobs
  *    count twice);
  *  - one line per job-description bucket of the best run ([[bucket]]);
  *  - one line per streaming query of the best run: batches, the summed
  *    `durationMs` keys and the state-store commit ms.
  *
  * `--explain <dir>` also writes each gate's formatted physical plan to
  * `<dir>/<gate>.txt`, built after the timed runs.
  *
  * Usage: runMain graft.tools.Profile <gate1,gate2,...> [sfDir] [--explain <dir>]
  */
object Profile {
  final case class Stream(name: String, batches: Int, durationMs: Map[String, Long], commitMs: Long)

  /** One timed run: its wall and the Spark work it started. */
  final case class Run(rows: Long, wallS: Double, jobs: Int, jobWallS: Double, tasks: Int,
      shuffleReadB: Long, shuffleWriteB: Long,
      buckets: Seq[(String, Int, Double)], streams: Seq[Stream])

  final case class GateProfile(gate: String, coldS: Double, best: Run)

  /** The bucket key of a job description: per-batch and per-tx ids
    * (`graft-lsh-12 probe` → `graft-lsh probe`), streaming query and run
    * ids, streaming batch numbers and any run of ≥6 digits are
    * normalised, so the jobs of one phase share a bucket across batches. */
  def bucket(desc: String): String =
    desc.replaceAll("(graft-[a-z]+)-\\d+", "$1")
      .replaceAll("(?i)(id) = [0-9a-f-]+", "$1 = <id>")
      .replaceAll("batch = \\d+", "batch = <n>")
      .replaceAll("\\d{6,}", "<n>")
      .replaceAll("\\s+", " ").trim.take(90)

  /** One run's counters; guarded by the owning [[Collector]]. */
  private final class Tally {
    var jobs = 0
    var jobWallMs = 0L
    var tasks = 0
    var shuffleRead = 0L
    var shuffleWrite = 0L
    val buckets = mutable.LinkedHashMap.empty[String, (Int, Long)]
    val streams = mutable.LinkedHashMap.empty[UUID, Stream]

    def run(rows: Long, wallS: Double): Run =
      Run(rows, wallS, jobs, jobWallMs / 1e3, tasks, shuffleRead, shuffleWrite,
        buckets.toSeq.map { case (k, (n, ms)) => (k, n, ms / 1e3) }.sortBy(-_._3),
        streams.values.toSeq)
  }

  /** Collects the jobs, stages and streaming progress of back-to-back
    * timed runs (Bench runs them with no pause between), each attributed
    * to the run it started in: a job by its start time, a stage by its
    * job, a streaming query by the run that started it. Listener events
    * arrive asynchronously: [[drain]] waits until every event of the runs
    * has been seen. */
  private final class Collector(runs: Int) extends SparkListener {
    val tallies: IndexedSeq[Tally] = IndexedSeq.fill(runs)(new Tally)
    private val runStartMs = new Array[Long](runs)
    @volatile private var current = 0
    private val sentinelGroup = s"graft-profile-${UUID.randomUUID()}"
    private val sentinelDone = new CountDownLatch(1)
    @volatile private var sentinelJob = -1
    private val open = new ConcurrentHashMap[Int, (Tally, String, Long)]()
    private val stageRun = new ConcurrentHashMap[Int, Tally]()
    private val queryRun = new ConcurrentHashMap[UUID, Tally]()
    private val liveQueries = ConcurrentHashMap.newKeySet[UUID]()
    private val executions = new ConcurrentHashMap[String, String]()

    /** Called by the timing thread right before run `i` starts. */
    def begin(i: Int): Unit = { runStartMs(i) = System.currentTimeMillis(); current = i }

    private def runAt(ms: Long): Tally = {
      val last = current // volatile read first: publishes runStartMs
      tallies((0 to last).findLast(runStartMs(_) <= ms).getOrElse(0))
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      if (prop("spark.jobGroup.id").contains(sentinelGroup)) sentinelJob = j.jobId
      else {
        val t = runAt(j.time)
        j.stageIds.foreach(stageRun.putIfAbsent(_, t))
        // undescribed jobs: the description of the SQL execution they run
        // in (a job Spark starts from its own threads, as for a
        // broadcast, has a call site that names no operator), else the
        // short call site, which names the result stage
        val key = prop("spark.job.description")
          .orElse(prop("spark.sql.execution.id").flatMap(id => Option(executions.get(id))))
          .getOrElse(j.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("?"))
        open.put(j.jobId, (t, bucket(key), j.time))
      }
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(open.remove(j.jobId)) match {
        case Some((t, key, t0)) => synchronized {
          val ms = j.time - t0
          t.jobs += 1; t.jobWallMs += ms
          val (n, sum) = t.buckets.getOrElse(key, (0, 0L))
          t.buckets(key) = (n + 1, sum + ms)
        }
        case None => if (j.jobId == sentinelJob) sentinelDone.countDown()
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executions.put(s.executionId.toString, s.description); ()
      case s: SparkListenerSQLExecutionEnd => executions.remove(s.executionId.toString); ()
      case _ =>
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      Option(stageRun.get(s.stageInfo.stageId)).foreach(t => synchronized {
        t.tasks += s.stageInfo.numTasks
        Option(s.stageInfo.taskMetrics).foreach { m =>
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      })

    val streaming: StreamingQueryListener = new StreamingQueryListener {
      // delivered synchronously before the query's start() returns, so
      // `current` is the run that started it
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        queryRun.put(e.runId, tallies(current)); liveQueries.add(e.runId); ()
      }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        Option(queryRun.get(p.runId)).foreach(t => Collector.this.synchronized {
          val prev = t.streams.getOrElse(p.runId,
            Stream(Option(p.name).getOrElse(p.id.toString.take(8)), 0, Map.empty, 0L))
          val dur = p.durationMs.asScala.foldLeft(prev.durationMs) { case (acc, (k, v)) =>
            acc.updated(k, acc.getOrElse(k, 0L) + v.longValue)
          }
          val commit = Option(p.stateOperators).toSeq.flatten.map(_.commitTimeMs).sum
          t.streams(p.runId) = prev.copy(batches = prev.batches + 1, durationMs = dur,
            commitMs = prev.commitMs + commit)
        })
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
        liveQueries.remove(e.runId); ()
      }
    }

    /** Wait until the listeners have seen every event the runs posted: a
      * sentinel job's end for the job bus, and the termination of every
      * query the runs started for the streaming bus (both buses deliver
      * in order). Bounded, so a query left running cannot hang the tool. */
    def drain(spark: SparkSession): Unit = {
      val sc = spark.sparkContext
      sc.setJobGroup(sentinelGroup, "profile sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      sentinelDone.await(60, TimeUnit.SECONDS)
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (!liveQueries.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    }
  }

  /** Bench's three timed runs of `fn` at `dir`, back to back, with one
    * [[Collector]] attached for exactly those runs. */
  private def profiledRuns(spark: SparkSession, fn: Bench.Gate, dir: String): Seq[Either[String, Run]] = {
    val c = new Collector(3)
    spark.sparkContext.addSparkListener(c)
    spark.streams.addListener(c.streaming)
    try {
      val timed = c.tallies.indices.map { i => c.begin(i); Bench.timeOnce(spark, fn, dir) }
      c.drain(spark)
      c.synchronized(timed.zip(c.tallies).map { case (r, t) =>
        r.map { case (rows, wall) => t.run(rows, wall) }
      })
    } finally {
      spark.streams.removeListener(c.streaming)
      spark.sparkContext.removeSparkListener(c)
    }
  }

  /** Profile `gates` (names of `SparkEntry.queries`) at `sfDir` in
    * `spark`. A gate whose run throws reports Bench's "err:<Exception>". */
  def profile(spark: SparkSession, gates: Seq[String], sfDir: String,
      explainDir: Option[String]): Seq[(String, Either[String, GateProfile])] = {
    val selected = gates.distinct.sorted.map(g => g -> SparkEntry.queries(g))
    Bench.warmUp(spark, selected.map(_._2), sfDir)
    selected.map { case (gate, fn) =>
      val runs = profiledRuns(spark, fn, sfDir)
      explainDir.foreach { dir =>
        new java.io.File(dir).mkdirs()
        try java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, s"$gate.txt"),
          fn(spark, sfDir).queryExecution.explainString(FormattedMode))
        catch { case e: Throwable => System.err.println(s"[explain] $gate failed: $e") }
      }
      gate -> (runs.collectFirst { case Left(err) => err } match {
        case Some(err) => Left(err)
        case None =>
          val ok = runs.collect { case Right(r) => r }
          Right(GateProfile(gate, ok.head.wallS, ok.minBy(_.wallS)))
      })
    }
  }

  private val header: String = f"${"gate"}%-26s ${"rows"}%9s ${"cold_s"}%8s ${"warm_s"}%8s ${"jobs"}%5s " +
    f"${"jobwall_s"}%9s ${"tasks"}%6s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"remainder_s"}%11s"

  /** The summary row, then one line per description bucket and one per
    * streaming query. */
  def lines(p: GateProfile): Seq[String] = {
    val b = p.best
    val summary = f"${p.gate}%-26s ${b.rows}%9d ${p.coldS}%8.3f ${b.wallS}%8.3f ${b.jobs}%5d " +
      f"${b.jobWallS}%9.3f ${b.tasks}%6d ${b.shuffleReadB / 1e6}%7.1f ${b.shuffleWriteB / 1e6}%7.1f " +
      f"${b.wallS - b.jobWallS}%11.3f"
    val buckets = b.buckets.map { case (k, n, s) => f"    $s%8.3f s ($n%4d jobs)  $k" }
    val streams = b.streams.map { st =>
      val dur = st.durationMs.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")
      s"    stream ${st.name} batches=${st.batches} $dur stateCommit=${st.commitMs}ms"
    }
    summary +: (buckets ++ streams)
  }

  def main(args: Array[String]): Unit = {
    def usage(msg: String): Nothing = {
      System.err.println(s"$msg\nusage: graft.tools.Profile <gate1,gate2,...> [sfDir] [--explain <dir>]")
      sys.exit(2)
    }
    val (explainDir, rest) = args.indexOf("--explain") match {
      case -1 => (None, args.toSeq)
      case i if i + 1 < args.length => (Some(args(i + 1)), (args.take(i) ++ args.drop(i + 2)).toSeq)
      case _ => usage("--explain needs a directory")
    }
    val gates = rest.headOption.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    if (gates.isEmpty || rest.size > 2) usage("expected a gate list and at most one sfDir")
    val unknown = gates.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) usage(s"unknown gate(s): ${unknown.mkString(",")}")
    val sfDir = rest.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = Bench.session()
    try {
      println(header)
      profile(spark, gates, sfDir, explainDir).foreach {
        case (_, Right(p)) => lines(p).foreach(println)
        case (gate, Left(err)) => println(f"$gate%-26s $err")
      }
    } finally spark.stop()
  }
}
