package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import perfbench.Stats.{Job, OpWindow, Span}
import scala.collection.mutable.ArrayBuffer

/** The traced run's recorder. Spans are taken around each call the
  * benchmark makes into a layer of the program; a `SparkListener` records
  * every job with its job group and description, so jobs can be attributed
  * to ops afterwards. Everything stays in memory until the run ends. When
  * tracing is off, `op` and `span` only run their body. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val windows = ArrayBuffer.empty[OpWindow]
  private var nextId = 0L
  private var curOp = 0L
  private var stack: List[Long] = Nil
  /** Per op: the kind of op and, for a Datalog read, whether the plan was
    * served from the compiled-plan cache and its Catalyst phase times. */
  val opKind = scala.collection.mutable.HashMap.empty[Long, String]
  val cacheHit = scala.collection.mutable.HashMap.empty[Long, Boolean]
  val phasesMs = scala.collection.mutable.HashMap.empty[Long, Map[String, Double]]
  private val listener = new JobListener
  private var attached = false

  /** Attach or detach the job listener; off while an untraced block runs. */
  def attach(b: Boolean): Unit = if (on && b != attached) {
    if (b) sc.addSparkListener(listener)
    else { org.apache.spark.PerfbenchBus.drain(sc); sc.removeSparkListener(listener) }
    attached = b
  }
  def tracing: Boolean = on && attached

  /** A root span: one benchmark op, in its own job group. */
  def op[A](kind: String, txLabel: Option[String] = None)(f: => A): A =
    if (!tracing) f
    else {
      nextId += 1; curOp = nextId
      val group = s"perfbench-op-$curOp"
      opKind(curOp) = kind
      sc.setJobGroup(group, kind)
      val t0 = System.nanoTime()
      try span(kind)(f) finally {
        sc.clearJobGroup()
        windows += OpWindow(curOp, group, txLabel, t0, System.nanoTime())
      }
    }

  def span[A](name: String)(f: => A): A =
    if (!tracing) f
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f finally {
        stack = stack.tail
        spans += Span(id, parent, curOp, name, t0, System.nanoTime())
      }
    }

  def currentOp: Long = curOp
  def allSpans: Seq[Span] = spans.toSeq
  def opWindows: Seq[OpWindow] = windows.toSeq
  def jobs: Seq[Job] = { if (attached) org.apache.spark.PerfbenchBus.drain(sc); listener.jobs }

  /** Spans (with their self time) and jobs as JSON lines, for reading a
    * traced run afterwards. */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    val byOp = spans.toSeq.groupBy(_.op)
    spans.foreach(s => sb.append(
      s"""{"span":"${s.name}","id":${s.id},"parent":${s.parent},"op":${s.op},"start_ns":${s.start},"end_ns":${s.end},"self_ns":${Stats.selfTime(s, byOp(s.op))}}""" + "\n"))
    jobs.foreach(j => sb.append(
      s"""{"job":${j.id},"group":${Json.str(j.group)},"description":${Json.str(j.description)},"start_ns":${j.start},"end_ns":${j.end},"stages":${j.stages},"tasks":${j.tasks},"task_busy_ms":${j.taskBusyMs},"shuffle_write_bytes":${j.shuffleWriteBytes}}""" + "\n"))
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }

  /** Listener times are epoch milliseconds; spans use the nanosecond clock. */
  private val epochToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private final class JobListener extends SparkListener {
    private final class Acc(val id: Int, val group: String, val desc: String, val start: Long,
        val stageIds: Set[Int]) {
      var end = 0L; var stages = 0; var tasks = 0; var busy = 0.0; var shuffle = 0L
    }
    private val live = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
    private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
    private val done = new java.util.concurrent.ConcurrentLinkedQueue[Job]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val a = new Acc(e.jobId, p.map(_.getProperty("spark.jobGroup.id")).orNull,
        p.map(_.getProperty("spark.job.description")).orNull,
        e.time * 1000000L + epochToNano, e.stageIds.toSet)
      live.put(e.jobId, a)
      e.stageIds.foreach(s => stageToJob.put(s, a))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageToJob.get(e.stageInfo.stageId)).foreach(a => a.synchronized { a.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(e.stageId)).foreach { a =>
        a.synchronized {
          a.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            a.busy += m.executorRunTime
            a.shuffle += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(live.remove(e.jobId)).foreach { a =>
        a.stageIds.foreach(stageToJob.remove)
        done.add(Job(a.id, a.group, a.desc, a.start, e.time * 1000000L + epochToNano,
          a.stages, a.tasks, a.busy, a.shuffle))
      }
    def jobs: Seq[Job] = {
      import scala.jdk.CollectionConverters._
      done.asScala.toSeq.sortBy(_.start)
    }
  }
}

/** JVM-wide readings: GC time, heap left after GC, and the process's peak
  * resident set. */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  /** VmHWM from /proc/self/status, in MiB (the heap's committed size
    * where /proc is not available). */
  def peakRssMb: Double = {
    val f = new java.io.File("/proc/self/status")
    val hwm =
      if (!f.exists) None
      else {
        val src = scala.io.Source.fromFile(f)
        try src.getLines().find(_.startsWith("VmHWM:"))
          .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
        finally src.close()
      }
    hwm.getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0)
  }

  def startMillis: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** (steal, total) jiffies of all CPUs from /proc/stat, if there is one:
    * the time a virtual machine's CPUs waited for the host. */
  def cpuJiffies: Option[(Long, Long)] = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists) None
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val v = l.split("\\s+").drop(1).map(_.toLong)
        (if (v.length > 7) v(7) else 0L, v.sum)
      } finally src.close()
    }
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
