package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
                      trace: Boolean = false, dir: Path = Paths.get("."),
                      fixtures: Path = Paths.get("perfbench/fixtures/sf0.001"),
                      out: Option[Path] = None, deadlineSec: Double = 160.0,
                      selftest: Boolean = false)

object Args {
  def parse(a: Array[String]): Args = a.toList.grouped(2).foldLeft(Args()) {
    case (r, List("--selftest", _)) => r.copy(selftest = true)
    case (r, List("--workload", v)) => r.copy(workload = v)
    case (r, List("--seed", v)) => r.copy(seed = v.toLong)
    case (r, List("--seconds", v)) => r.copy(seconds = v.toDouble)
    case (r, List("--trace", v)) => r.copy(trace = v == "1")
    case (r, List("--dir", v)) => r.copy(dir = Paths.get(v))
    case (r, List("--fixtures", v)) => r.copy(fixtures = Paths.get(v))
    case (r, List("--out", v)) => r.copy(out = Some(Paths.get(v)))
    case (r, List("--deadline", v)) => r.copy(deadlineSec = v.toDouble)
    case (_, other) => throw new IllegalArgumentException(s"bad arguments: $other")
  }
}

/** What a workload shares with the harness: the session, the operation
  * recorder, the tracer, and the metrics and input sizes it reports. */
final class Ctx(val spark: SparkSession, val args: Args, val ops: Ops, val tracer: Tracer) {
  val metrics = mutable.LinkedHashMap[String, Metric]()
  val inputs = mutable.LinkedHashMap[String, String]()
  val setupParts = mutable.LinkedHashMap[String, Double]()
  val cpus: Int = Proc.cpus
  val work: Path = args.dir.resolve("work")

  def put(name: String, value: Double, unit: String, samples: Long = 1L): Unit =
    metrics(name) = Metric(value, unit, samples)
  def input(name: String, value: Any): Unit = inputs(name) = value match {
    case s: String => Json.str(s)
    case d: Double => Json.num(d)
    case x => x.toString
  }

  /** Time one step of set-up and record it by name. */
  def step[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally setupParts(name) = setupParts.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** A call into a layer: a span when tracing, the bare call otherwise. */
  def call[A](name: String, layer: String = "api.call")(f: => A): A = tracer.span(name, layer)(f)
}

/** A workload: set-up (untimed for end-to-end metrics except `setup_s`),
  * a timed phase that keeps issuing operations for about `seconds`, and
  * final checks. `opKinds` are the operations whose latencies make
  * `op_p50_ms` and `op_tail_ms`; `throughput` is the work per second of
  * the timed phase in the workload's own unit. */
trait Workload {
  def setup(c: Ctx): Unit
  def timed(c: Ctx, seconds: Double): Unit
  def finish(c: Ctx): Unit
  def opKinds: Seq[String]
  def throughput(c: Ctx): Metric
  /** Results the timed phase returned (rows collected, events applied). */
  def results: Long
  /** Workload-specific per-layer figures; only traced runs ask for them. */
  def layers(c: Ctx, r: LayerReport): Unit
}

object Main {
  val workloads: Map[String, () => Workload] = Map(
    "ingest_stream" -> (() => new IngestStream),
    "analytics_suite" -> (() => new AnalyticsSuite))

  def session(a: Args, cpus: Int): SparkSession = {
    val local = a.dir.resolve("spark-local").toAbsolutePath
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.dir.resolve("warehouse").toAbsolutePath.toString)
      .config("spark.sql.streaming.checkpointLocation", a.dir.resolve("checkpoints").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    if (a.selftest) sys.exit(SelfTest.run(a.dir))
    val make = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload '${a.workload}'"))
    // A hung run must still end: the launcher kills the JVM later anyway,
    // but exiting here leaves a readable reason on stderr.
    val watchdog = new Thread(() => {
      Thread.sleep((a.deadlineSec * 1000).toLong)
      System.err.println(s"perfbench: deadline of ${a.deadlineSec} s passed")
      Runtime.getRuntime.halt(3)
    })
    watchdog.setDaemon(true)
    watchdog.start()

    val loadStart = Proc.loadavg
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Proc.cpus
    val spark = session(a, cpus)
    val c = new Ctx(spark, a, new Ops, new Tracer(spark))
    Files.createDirectories(c.work)
    val w = make()
    w.setup(c)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    c.put("setup_s", setupS, "s")

    if (!a.trace) {
      c.ops.clear()
      w.timed(c, a.seconds)
    } else {
      // The untraced half gives the baseline the tracing overhead is
      // measured against; the traced half gives every per-layer figure.
      c.ops.clear()
      w.timed(c, a.seconds / 2)
      val plain = opP50(c, w)
      c.ops.clear()
      val gc0 = Proc.gcMs
      Proc.resetHeapPeak()
      val files0 = org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      c.tracer.start()
      w.timed(c, a.seconds / 2)
      c.tracer.stop()
      val traced = opP50(c, w)
      val files = org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0
      layerMetrics(c, w, plain, traced, Proc.gcMs - gc0, files)
      c.tracer.writeSpans(a.dir.resolve("spans.jsonl"))
    }
    w.finish(c)

    val kinds = w.opKinds.map(k => k -> c.ops.times(k)).filter(_._2.nonEmpty)
    if (kinds.nonEmpty) {
      val n = kinds.map(_._2.size).sum.toLong
      c.put("op_p50_ms", opP50(c, w), "ms", n)
      c.put("op_tail_ms", Stats.geomean(kinds.map(k => Stats.tail(k._2)._2)), "ms", n)
      kinds.foreach { case (k, xs) =>
        c.put(s"$k.p50_ms", Stats.median(xs), "ms", xs.size)
        val (pct, v) = Stats.tail(xs)
        c.put(s"$k.tail_ms", v, "ms", xs.size)
        c.put(s"$k.tail_pct", pct, "%", xs.size)
        // second half against first: a timed phase still warming up reads below 1
        val half = xs.size / 2
        if (half >= 2) c.put(s"$k.steady_ratio", Stats.median(xs.drop(half)) / Stats.median(xs.take(half)),
          "ratio", xs.size)
      }
    }
    c.metrics("throughput_per_s") = w.throughput(c)
    c.put("peak_rss_mb", Proc.peakRssMb, "MB")
    val attempted = c.ops.attempted.get
    c.put("error_rate", c.ops.failed.get.toDouble / math.max(attempted, 1L), "ratio", attempted)

    val record = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "seconds" -> Json.num(a.seconds),
      "trace" -> (if (a.trace) "1" else "0"),
      "cpus" -> cpus.toString,
      "loadavg_start" -> Json.arr(loadStart.map(Json.num)),
      "loadavg_end" -> Json.arr(Proc.loadavg.map(Json.num)),
      "inputs" -> Json.obj(c.inputs.toSeq),
      "setup_parts_s" -> Json.obj(c.setupParts.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "correct" -> (c.ops.wrong.get == 0).toString,
      "attempted" -> math.max(attempted, 1L).toString,
      "failed" -> c.ops.failed.get.toString,
      "errors" -> Json.arr(c.ops.errorList.map(Json.str)),
      "samples_ms" -> Json.obj(c.ops.byKind.toSeq.map { case (k, xs) =>
        k -> Json.arr(xs.map(x => Json.num(math.rint(x * 10) / 10))) }),
      "metrics" -> Json.obj(c.metrics.toSeq.map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit),
          "samples" -> m.samples.toString))
      })))
    a.out match {
      case Some(p) => Files.writeString(p, record)
      case None => println(record)
    }
    spark.stop()
    sys.exit(0)
  }

  /** Each operation kind has its own latency distribution; combining the
    * kinds' medians (and tails) by geometric mean keeps one slow kind from
    * turning the pooled median into the gap between two populations. */
  private def opP50(c: Ctx, w: Workload): Double = {
    val meds = w.opKinds.map(c.ops.times(_)).filter(_.nonEmpty).map(Stats.median)
    if (meds.isEmpty) Double.NaN else Stats.geomean(meds)
  }

  /** Every per-layer metric of the traced half. Layers a workload does not
    * drive report 0, which is itself the prediction for that workload. */
  private def layerMetrics(c: Ctx, w: Workload, plain: Double, traced: Double,
                           gcMs: Double, filesDiscovered: Long): Unit = {
    val r = new LayerReport(c.tracer)
    val n = r.ops.size.toLong
    c.put("api.call_ms", r.spanMedianMs("api.call"), "ms", n)
    c.put("api.eager_jobs", r.jobsInSpans("api.call"), "count", n)
    c.put("api.collect_ms", r.spanMedianMs("api.collect"), "ms", n)
    val self = r.selfMsPerOp
    c.put("api.self_ms_per_op", self("api"), "ms", n)
    c.put("sql.analysis_ms", r.analysisMsPerOp, "ms", n)
    c.put("sql.optimizer_ms", r.optimizerMsPerOp, "ms", n)
    c.put("sql.planning_ms", r.planningMsPerOp, "ms", n)
    c.put("sql.executions_per_op", r.executionsPerOp, "count", n)
    c.put("sql.files_discovered_per_op", r.perOp(filesDiscovered.toDouble), "count", n)
    c.put("sql.self_ms_per_op", self("sql"), "ms", n)
    c.put("exec.jobs_per_op", r.jobsPerOp, "count", n)
    c.put("exec.stages_per_op", r.stagesPerOp, "count", n)
    c.put("exec.tasks_per_op", r.tasksPerOp, "count", n)
    c.put("exec.task_run_ms_per_op", r.taskRunMsPerOp, "ms", n)
    c.put("exec.task_cpu_ms_per_op", r.taskCpuMsPerOp, "ms", n)
    c.put("exec.sched_wait_ms_per_op", r.schedWaitMsPerOp, "ms", n)
    c.put("exec.input_rows_per_result", r.inputRows / math.max(w.results, 1L), "ratio", w.results)
    c.put("exec.input_mb_per_op", r.inputMbPerOp, "MB", n)
    c.put("exec.shuffle_mb_per_op", r.shuffleMbPerOp, "MB", n)
    c.put("exec.spill_mb", r.spillMb, "MB", n)
    c.put("exec.failed_tasks", r.failedTasks, "count", n)
    c.put("exec.self_ms_per_op", self("exec"), "ms", n)
    c.put("index.keybloom_merge_s", r.describedSecPerCommit("graft: key-bloom merge"), "s", r.commits)
    c.put("streaming.resolve_s", r.describedSecPerCommit("graft: resolve batch"), "s", r.commits)
    c.put("streaming.commit_s", r.describedSecPerCommit("graft: store commit"), "s", r.commits)
    val nb = c.tracer.batches.size.toLong
    c.put("streaming.trigger_ms", r.batchMedianMs("triggerExecution"), "ms", nb)
    c.put("streaming.add_batch_ms", r.batchMedianMs("addBatch"), "ms", nb)
    c.put("streaming.offsets_ms", r.batchMedianMs("latestOffset", "getBatch"), "ms", nb)
    c.put("streaming.wal_ms", r.batchMedianMs("walCommit", "commitOffsets"), "ms", nb)
    c.put("streaming.planning_ms", r.batchMedianMs("queryPlanning"), "ms", nb)
    c.put("streaming.driver_residue_s", r.streamingResidueSec, "s", nb)
    c.put("jvm.gc_ms", gcMs, "ms")
    c.put("jvm.heap_peak_mb", Proc.heapPeakMb, "MB")
    c.put("trace.spans", c.tracer.spans.size.toDouble, "count")
    c.put("trace.overhead_pct", 100.0 * (traced / plain - 1.0), "%", r.ops.size)
    // Layers a workload does not drive report 0 unless the workload
    // replaces the figure below.
    c.put("streaming.files_written_per_commit", 0.0, "count", 0)
    c.put("streaming.bytes_written_per_user_byte", 0.0, "ratio", 0)
    AnalyticsSuite.objects.foreach(o => c.put(s"queries.${o}_s", 0.0, "s", 0))
    c.put("queries.jobs_total", 0.0, "count", 0)
    Probes.l2Scan(c, Gen.clustered(c.args.seed, 8000, 384, 16, 0.35), Array.fill(384)(0.1f))
    Probes.embed(c)
    w.layers(c, r)
  }
}
