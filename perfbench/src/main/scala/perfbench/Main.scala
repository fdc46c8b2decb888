package perfbench

import org.apache.spark.sql.SparkSession
import perfbench.Stats.Job

/** The benchmark's JVM side.
  *
  *   perfbench.Main gen <data-dir>
  *     writes the catalog (see [[Catalog]]);
  *   perfbench.Main run --workload W --seed N --seconds S --trace 0|1
  *       --data <data-dir> --work <work-dir> --out <result.json>
  *     sets the workload up [[Setups]] times, runs its closed loop for S
  *     seconds, checks every answer and writes the result object. */
object Main {
  val Setups = 3
  val Workloads: Seq[String] = Seq("dl_hot", "dl_cold", "node_mixed", "stream_ingest")

  /** End-to-end metrics (bounded; printed by an untraced run). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "read_p50_ms" -> "ms", "read_tail_ms" -> "ms", "reads_per_s" -> "1/s",
    "step_p50_ms" -> "ms", "steps_per_s" -> "1/s", "peak_rss_mb" -> "MiB")

  /** Per-layer metrics (printed by a traced run; 0 where a workload does not
    * reach the layer). Time metrics are means per call of that layer. */
  val PerLayer: Seq[(String, String)] = Seq(
    "datalog.parse_ms" -> "ms", "datalog.compile_ms" -> "ms", "datalog.compile_jobs" -> "count",
    "datalog.plan_cache_hit_ratio" -> "ratio",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "spark.exec_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_busy_ms" -> "ms", "spark.core_util" -> "ratio", "spark.shuffle_write_bytes" -> "bytes",
    "http.q_ms" -> "ms", "http.submit_tx_ms" -> "ms", "http.tx_jobs" -> "count",
    "http.aborted_txs" -> "count", "http.db_snapshot_ms" -> "ms", "http.history_ms" -> "ms",
    "bitemp.version_rows" -> "rows", "bitemp.versions_per_entity" -> "rows",
    "streaming.batch_ms" -> "ms", "streaming.delta_write_ms" -> "ms", "streaming.compact_ms" -> "ms",
    "streaming.view_ms" -> "ms", "streaming.driver_ms" -> "ms", "streaming.delta_depth_max" -> "count",
    "streaming.compactions" -> "count", "streaming.state_files_scanned" -> "count",
    "streaming.write_amp" -> "ratio", "streaming.view_read_ms" -> "ms", "streaming.asof_read_ms" -> "ms",
    "streaming.ops_ingested_per_s" -> "1/s", "streaming.bytes_per_user_byte" -> "ratio",
    "jvm.gc_ms" -> "ms", "jvm.heap_after_gc_mb" -> "MiB",
    "trace.read_p50_overhead_pct" -> "%", "trace.read_tail_overhead_pct" -> "%",
    "trace.reads_per_s_overhead_pct" -> "%", "trace.step_p50_overhead_pct" -> "%",
    "trace.steps_per_s_overhead_pct" -> "%")

  val Cores: Int = Runtime.getRuntime.availableProcessors()

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: dir :: Nil =>
      val s = session()
      try Catalog.write(s, dir) finally s.stop()
    case "run" :: rest =>
      val o = rest.grouped(2).collect { case List(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
      val code = run(o("workload"), o("seed").toLong, o("seconds").toDouble, o("trace") == "1",
        o("data"), java.nio.file.Paths.get(o("work")), java.nio.file.Paths.get(o("out")))
      sys.exit(code)
    case _ =>
      System.err.println("usage: perfbench.Main gen <dir> | run --workload W --seed N --seconds S " +
        "--trace 0|1 --data DIR --work DIR --out FILE")
      sys.exit(2)
  }

  def workload(name: String, seed: Long, data: String, work: java.nio.file.Path): Workload = name match {
    case "dl_hot" => new DatalogWorkload(hot = true, seed, data)
    case "dl_cold" => new DatalogWorkload(hot = false, seed, data)
    case "node_mixed" => new NodeWorkload(seed, data)
    case "stream_ingest" => new StreamWorkload(seed, data, work, batchSize = 400, warmBatches = 2,
      compactEvery = 4)
    case other => throw new IllegalArgumentException(s"unknown workload $other (one of ${Workloads.mkString(", ")})")
  }

  /** Runs closed-loop steps until `seconds` have passed. */
  private def loop(w: Workload, t: Tracer, r: Recorder, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < end) {
      val s0 = System.nanoTime()
      w.step(t, r)
      r.steps += (System.nanoTime() - s0) / 1e6
    }
    r.wallS += (System.nanoTime() - t0) / 1e9
  }

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, data: String,
      work: java.nio.file.Path, out: java.nio.file.Path): Int = {
    java.nio.file.Files.createDirectories(work)
    // Set-up, several times: the first from JVM start, each later one from
    // a stopped session. The last one's state is what the timed loop uses.
    var spark: SparkSession = null
    var w: Workload = null
    val setups = (0 until Setups).map { i =>
      // the first set-up also pays for the JVM's start, on the epoch clock
      val sinceJvm = if (i == 0) (System.currentTimeMillis() - Jvm.startMillis) / 1e3 else 0.0
      if (i > 0) spark.stop()
      val s0 = System.nanoTime()
      spark = session()
      val s1 = System.nanoTime()
      w = workload(name, seed, data, work)
      w.setup(spark)
      val took = sinceJvm + (System.nanoTime() - s0) / 1e9
      System.err.println(f"perfbench: setup $i: $took%.2f s (session ${(s1 - s0) / 1e9}%.2f s, " +
        f"workload ${(System.nanoTime() - s1) / 1e9}%.2f s)")
      took
    }
    val t = new Tracer(spark.sparkContext, on = trace)
    val plain = new Recorder
    val traced = new Recorder
    val gc0 = Jvm.gcMs
    val cpu0 = Jvm.cpuJiffies
    var tracedGcMs = 0L
    if (!trace) loop(w, t, plain, seconds)
    else (0 until 4).foreach { b =>
      // untraced and traced blocks alternate, so drift over the run falls
      // on both sides of the tracing-overhead comparison
      val on = b % 2 == 1
      t.attach(on)
      val g0 = Jvm.gcMs
      loop(w, t, if (on) traced else plain, seconds / 4)
      if (on) tracedGcMs += Jvm.gcMs - g0
    }
    t.attach(false)
    val gcMs = Jvm.gcMs - gc0
    val stealPct = for ((s0, a0) <- cpu0; (s1, a1) <- Jvm.cpuJiffies if a1 > a0)
      yield 100.0 * (s1 - s0) / (a1 - a0)

    val v0 = System.nanoTime()
    val problems = w.verify()
    problems.take(20).foreach(p => System.err.println(s"perfbench: WRONG ANSWER: $p"))
    val v1 = System.nanoTime()
    val controls = driftControls(spark)
    System.err.println(f"perfbench: verify ${(v1 - v0) / 1e9}%.2f s, controls ${(System.nanoTime() - v1) / 1e9}%.2f s")
    val main = if (trace) traced else plain
    val attempted = plain.attempted + traced.attempted
    val failed = plain.failed + traced.failed

    val readTail = if (main.reads.isEmpty) None else Some(Stats.tail(main.reads.toSeq))
    val writeTail = if (main.writes.isEmpty) None else Some(Stats.tail(main.writes.toSeq))
    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val values = Map(
          "setup_s" -> Stats.median(setups),
          "read_p50_ms" -> med(plain.reads.toSeq),
          "read_tail_ms" -> readTail.map(_.value).getOrElse(Double.NaN),
          "reads_per_s" -> plain.reads.size / plain.wallS,
          "step_p50_ms" -> med(plain.steps.toSeq),
          "steps_per_s" -> plain.steps.size / plain.wallS,
          "peak_rss_mb" -> Jvm.peakRssMb)
        EndToEnd.map { case (n, u) => (n, u, values(n)) }
      } else {
        // tracing overhead on each end-to-end metric both block kinds have
        def tail(r: Recorder) = if (r.reads.isEmpty) Double.NaN else Stats.tail(r.reads.toSeq).value
        val layers = perLayer(t, w, traced, tracedGcMs) ++ Map(
          "trace.read_p50_overhead_pct" -> pct(med(traced.reads.toSeq), med(plain.reads.toSeq)),
          "trace.read_tail_overhead_pct" -> pct(tail(traced), tail(plain)),
          "trace.reads_per_s_overhead_pct" ->
            pct(traced.reads.size / traced.wallS, plain.reads.size / plain.wallS),
          "trace.step_p50_overhead_pct" -> pct(med(traced.steps.toSeq), med(plain.steps.toSeq)),
          "trace.steps_per_s_overhead_pct" ->
            pct(traced.steps.size / traced.wallS, plain.steps.size / plain.wallS))
        t.write(work.resolve(s"trace-$name-$seed.jsonl"))
        PerLayer.map { case (n, u) => (n, u, layers.getOrElse(n, 0.0)) }
      }

    val report: Seq[(String, String)] = Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString, "trace" -> trace.toString,
      "cores" -> Cores.toString,
      "setup_s_samples" -> setups.map(Json.num).mkString("[", ",", "]"),
      "reads" -> main.reads.size.toString, "writes" -> main.writes.size.toString,
      "steps" -> main.steps.size.toString,
      "read_tail_pct" -> readTail.map(_.pct.toString).getOrElse("null"),
      "read_tail_beyond" -> readTail.map(_.beyond.toString).getOrElse("null"),
      "write_p50_ms" -> Json.num(med(main.writes.toSeq)),
      "write_tail_ms" -> writeTail.map(x => Json.num(x.value)).getOrElse("null"),
      "write_tail_pct" -> writeTail.map(_.pct.toString).getOrElse("null"),
      "writes_per_s" -> Json.num(main.writes.size / math.max(1e-9, main.wallS)),
      "ops_ingested_per_s" -> Json.num(main.committedOps / math.max(1e-9, main.wallS)),
      "failed_ratio" -> Json.num(failed.toDouble / math.max(1, attempted)),
      "gc_ms" -> gcMs.toString,
      "wrong_answers" -> problems.size.toString) ++
      w.report(main).map { case (k, v) => k -> Json.num(v) } ++
      controls.map { case (k, v) => k -> Json.num(v) } :+
      ("cpu_steal_pct" -> stealPct.map(Json.num).getOrElse("null"))
    val result = Json.obj(Seq(
      "correct" -> (problems.isEmpty).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, u, v) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    java.nio.file.Files.write(out,
      Json.obj(Seq("result" -> result, "report" -> Json.obj(report))).getBytes("UTF-8"))
    def list(xs: Iterable[Double]) = xs.map(Json.num).mkString("[", ",", "]")
    java.nio.file.Files.write(work.resolve("samples.json"), Json.obj(Seq(
      "reads_ms" -> list(main.reads), "writes_ms" -> list(main.writes),
      "steps_ms" -> list(main.steps))).getBytes("UTF-8"))
    spark.stop()
    System.err.println(f"perfbench: done at ${(System.currentTimeMillis() - Jvm.startMillis) / 1e3}%.2f s after JVM start")
    if (problems.isEmpty) 0 else 3
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)
  private def pct(a: Double, b: Double): Double = if (b > 0) (a / b - 1) * 100 else 0.0

  /** Machine-drift controls, recorded beside every run and never used as a
    * metric: a fixed single-thread integer loop, and a fixed Spark
    * aggregate through the run's session (median of three each, seconds). */
  def driftControls(spark: SparkSession): Seq[(String, Double)] = {
    def time3(f: => Unit): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    })
    val cpu = time3 {
      var acc = 0L; var i = 0L
      while (i < 100000000L) { acc += i & 7L; i += 1L }
      if (acc == -1L) print("")
    }
    val sparkAgg = time3 {
      spark.range(0, 10000000L, 1, 2 * Cores).selectExpr("sum(id % 7)").collect(); ()
    }
    Seq("cpu_control_s" -> cpu, "spark_control_s" -> sparkAgg)
  }

  /** Per-layer figures of the traced blocks: span times per call, jobs
    * attributed to ops, and the workload's own after-run readings. */
  def perLayer(t: Tracer, w: Workload, rec: Recorder, gcMs: Long): Map[String, Double] = {
    val spans = t.allSpans
    val windows = t.opWindows
    val jobsByOp: Map[Long, Seq[Job]] = Stats.attribute(t.jobs, windows)
    val allJobs = jobsByOp.values.flatten.toSeq
    def named(n: String) = spans.filter(_.name == n)
    def meanMs(n: String): Double = {
      val s = named(n)
      if (s.isEmpty) 0.0 else s.map(_.dur).sum / 1e6 / s.size
    }
    def per(total: Double, n: Int): Double = if (n == 0) 0.0 else total / n
    /** Jobs of `op` whose start lies inside one of that op's `spanName` spans. */
    def jobsIn(spanName: String): Seq[Job] = named(spanName).flatMap { s =>
      jobsByOp.getOrElse(s.op, Nil).filter(j => j.start >= s.start && j.start <= s.end)
    }
    val dlReads = t.cacheHit.size
    val phases = t.phasesMs.values.toSeq
    def phase(p: String) = per(phases.map(_.getOrElse(p, 0.0)).sum, dlReads)
    val ops = windows.size
    val wallMs = rec.wallS * 1000
    val qOps = windows.filter(o => Set("dl_read", "node_q_latest", "node_q_past")(t.opKind(o.op)))
    val txOps = windows.filter(o => t.opKind(o.op) == "node_tx")
    val batches = windows.filter(o => t.opKind(o.op) == "stream_batch")
    def labelled(what: String): Double = per(batches.map(b =>
      jobsByOp.getOrElse(b.op, Nil).filter(j => Option(j.description).exists(_.endsWith(what)))
        .map(_.dur).sum / 1e6).sum, batches.size)
    val driverMs = per(batches.map { b =>
      val js = jobsByOp.getOrElse(b.op, Nil)
      (b.end - b.start - Stats.covered(js.map(j => (j.start, j.end)), b.start, b.end)) / 1e6
    }.sum, batches.size)
    Map(
      "datalog.parse_ms" -> meanMs("datalog.parse"),
      "datalog.compile_ms" -> meanMs("datalog.compile"),
      "datalog.compile_jobs" -> per(jobsIn("datalog.compile").size, named("datalog.compile").size),
      "datalog.plan_cache_hit_ratio" -> per(t.cacheHit.values.count(identity), dlReads),
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "spark.exec_ms" -> meanMs("spark.exec"),
      "spark.jobs" -> per(allJobs.size, ops),
      "spark.stages" -> per(allJobs.map(_.stages).sum, ops),
      "spark.tasks" -> per(allJobs.map(_.tasks).sum, ops),
      "spark.task_busy_ms" -> per(allJobs.map(_.taskBusyMs).sum, ops),
      "spark.core_util" -> (if (wallMs > 0) allJobs.map(_.taskBusyMs).sum / (wallMs * Cores) else 0.0),
      "spark.shuffle_write_bytes" -> per(allJobs.map(_.shuffleWriteBytes).sum, ops),
      "http.q_ms" -> per(qOps.map(o => (o.end - o.start) / 1e6).sum, qOps.size),
      "http.submit_tx_ms" -> meanMs("http.submit_tx"),
      "http.tx_jobs" -> per(txOps.map(o => jobsByOp.getOrElse(o.op, Nil).size).sum, txOps.size),
      "http.db_snapshot_ms" -> meanMs("http.db_snapshot"),
      "http.history_ms" -> meanMs("http.history"),
      "streaming.batch_ms" -> meanMs("streaming.batch"),
      "streaming.delta_write_ms" -> labelled("delta fold+write"),
      "streaming.compact_ms" -> labelled("state compact+fold"),
      "streaming.view_ms" -> labelled("view maintenance"),
      "streaming.driver_ms" -> driverMs,
      "streaming.view_read_ms" -> meanMs("streaming.view_read"),
      "streaming.asof_read_ms" -> meanMs("streaming.asof_read"),
      "streaming.ops_ingested_per_s" -> (if (batches.isEmpty) 0.0 else rec.committedOps / rec.wallS),
      "jvm.gc_ms" -> gcMs.toDouble,
      "jvm.heap_after_gc_mb" -> Jvm.heapAfterGcMb) ++ w.layers(t)
  }
}
