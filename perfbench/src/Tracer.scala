package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A span recorded by the benchmark around a call into one layer. Times are
  * epoch milliseconds, the clock Spark's listener events use. */
final case class Span(id: Long, parent: Long, trace: Long, name: String, layer: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** One Spark job, attributed to the span whose id was the job group when it
  * was submitted. */
final case class JobRec(id: Int, group: String, desc: String, start: Long, stages: Seq[Int]) {
  @volatile var end: Long = start
  @volatile var failed: Boolean = false
}

final class StageAgg {
  var tasks = 0L; var failedTasks = 0L
  var runMs = 0.0; var cpuMs = 0.0; var waitMs = 0.0
  var inputBytes = 0L; var inputRows = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
}

/** Query-planning phases of one SQL execution (QueryExecution.tracker). */
final case class SqlRec(group: String, phases: Map[String, (Long, Long)])

/** One streaming micro-batch's progress. */
final case class BatchRec(runId: String, durations: Map[String, Long])

/** Spans kept in memory and listener records gathered while tracing is on.
  *
  * `span` opens a span on the calling thread and makes its id the Spark job
  * group, so the jobs a call launches, and the SQL executions they belong to,
  * attribute to the innermost span even when several threads call at once.
  * Streaming micro-batches run under the query's own job group (its run
  * id), which `alias` maps to the span that drains the query. With tracing
  * off, `span` only runs its body. */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  val spans = new ConcurrentLinkedQueue[Span]()
  val aliases = new ConcurrentHashMap[String, String]()

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  val sql = new ConcurrentLinkedQueue[SqlRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()

  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def span[A](name: String, layer: String)(f: => A): A =
    if (!on) f
    else {
      val sc = spark.sparkContext
      val parents = stack.get
      val id = ids.incrementAndGet()
      val parent = parents.headOption
      val keys = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
      val saved = keys.map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(id.toString, s"$layer $name", interruptOnCancel = false)
      val start = nowMs
      val open = Span(id, parent.map(_.id).getOrElse(0L), parent.map(_.trace).getOrElse(id),
        name, layer, start, start)
      stack.set(open :: parents)
      try f
      finally {
        stack.set(parents)
        saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        spans.add(open.copy(end = nowMs))
      }
    }

  /** The innermost open span's id on this thread, as a job group. */
  def currentGroup: String = stack.get.headOption.map(_.id.toString).orNull

  def alias(jobGroup: String, spanGroup: String): Unit =
    if (on && spanGroup != null) aliases.put(jobGroup, spanGroup)

  def groupOf(g: String): String = if (g == null) null else aliases.getOrDefault(g, g)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
      jobs.put(e.jobId, JobRec(e.jobId, prop("spark.jobGroup.id"),
        prop("spark.job.description"), e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.end = e.time
        j.failed = e.jobResult != JobSucceeded
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitted.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (!e.taskInfo.successful) a.failedTasks += 1
        val sub = stageSubmitted.getOrDefault(e.stageId, e.taskInfo.launchTime)
        a.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuMs += m.executorCpuTime / 1e6
          a.inputBytes += m.inputMetrics.bytesRead
          a.inputRows += m.inputMetrics.recordsRead
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
      case x: SparkListenerSQLExecutionEnd =>
        val group = execGroup.remove(x.executionId)
        org.apache.spark.sql.PerfbenchShim.phases(x).foreach(p => sql.add(SqlRec(group, p)))
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        batches.add(BatchRec(p.runId.toString,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Start recording: attach the listeners and open spans from now on. */
  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stop recording once every event already posted has been delivered. */
  def stop(): Unit = {
    on = false
    org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Writes every span, then every job, one JSON object a line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.start).map { s =>
      Json.obj(Seq("kind" -> Json.str("span"), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "trace" -> s.trace.toString, "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end)))
    } ++ jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Json.obj(Seq("kind" -> Json.str("job"), "id" -> j.id.toString,
        "span" -> Json.str(String.valueOf(groupOf(j.group))),
        "description" -> Json.str(String.valueOf(j.desc)),
        "start_ms" -> j.start.toString, "end_ms" -> j.end.toString,
        "failed" -> j.failed.toString))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Per-layer figures derived from a Tracer's records. */
final class LayerReport(t: Tracer) {
  private val spans = t.spans.asScala.toSeq
  private val byId = spans.map(s => s.id -> s).toMap
  private val jobs = t.jobs.values.asScala.toSeq
  private val sqls = t.sql.asScala.toSeq

  /** Operation spans: the roots every other span and job belongs to. */
  val ops: Seq[Span] = spans.filter(_.layer == "op")
  val nOps: Double = math.max(ops.size, 1).toDouble

  private def rootOf(group: String): Option[Long] =
    Option(t.groupOf(group)).flatMap(g => g.toLongOption).flatMap(byId.get).map(_.trace)

  private val opIds = ops.map(_.id).toSet
  val opJobs: Seq[JobRec] = jobs.filter(j => rootOf(j.group).exists(opIds))
  private val opSql = sqls.filter(s => rootOf(s.group).exists(opIds))
  private val opStages: Seq[StageAgg] =
    opJobs.flatMap(_.stages).distinct.flatMap(id => Option(t.stages.get(id)))

  private def sumStages(f: StageAgg => Double): Double = opStages.map(a => a.synchronized(f(a))).sum
  def perOp(x: Double): Double = x / nOps

  def jobsPerOp: Double = perOp(opJobs.size)
  def stagesPerOp: Double = perOp(opJobs.map(_.stages.size).sum)
  def tasksPerOp: Double = perOp(sumStages(_.tasks.toDouble))
  def taskRunMsPerOp: Double = perOp(sumStages(_.runMs))
  def taskCpuMsPerOp: Double = perOp(sumStages(_.cpuMs))
  def schedWaitMsPerOp: Double = perOp(sumStages(_.waitMs))
  def inputRows: Double = sumStages(_.inputRows.toDouble)
  def inputMbPerOp: Double = perOp(sumStages(_.inputBytes.toDouble) / (1 << 20))
  def shuffleMbPerOp: Double = perOp(sumStages(_.shuffleBytes.toDouble) / (1 << 20))
  def spillMb: Double = sumStages(_.spillBytes.toDouble) / (1 << 20)
  def failedTasks: Double = sumStages(_.failedTasks.toDouble)

  private def phaseMs(name: String): Double =
    opSql.flatMap(_.phases.get(name)).map { case (a, b) => (b - a).toDouble }.sum
  def analysisMsPerOp: Double = perOp(phaseMs("analysis"))
  def optimizerMsPerOp: Double = perOp(phaseMs("optimization"))
  def planningMsPerOp: Double = perOp(phaseMs("planning"))
  def executionsPerOp: Double = perOp(opSql.size)

  /** Union length of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time per operation of the three layers every call crosses: Spark
    * jobs (exec), Catalyst planning outside jobs (sql), and the rest of the
    * call on the driver (api). */
  def selfMsPerOp: Map[String, Double] = {
    val jobsByRoot = opJobs.groupBy(j => rootOf(j.group).get)
    val sqlByRoot = opSql.groupBy(s => rootOf(s.group).get)
    val per = ops.map { op =>
      val jv = jobsByRoot.getOrElse(op.id, Nil).map(j => (j.start.toDouble, j.end.toDouble))
      val sv = sqlByRoot.getOrElse(op.id, Nil).flatMap(_.phases.values)
        .map { case (a, b) => (a.toDouble, b.toDouble) }
      val exec = covered(jv, op.start, op.end)
      val both = covered(jv ++ sv, op.start, op.end)
      (exec, both - exec, op.ms - both)
    }
    Map("exec" -> perOp(per.map(_._1).sum), "sql" -> perOp(per.map(_._2).sum),
      "api" -> perOp(per.map(_._3).sum))
  }

  /** Median duration of the spans of one layer. */
  def spanMedianMs(layer: String): Double = {
    val xs = spans.filter(_.layer == layer).map(_.ms)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** Mean number of jobs launched inside the spans of one layer. */
  def jobsInSpans(layer: String): Double = {
    val ids = spans.filter(_.layer == layer).map(_.id.toString).toSet
    if (ids.isEmpty) 0.0 else jobs.count(j => ids(String.valueOf(t.groupOf(j.group)))).toDouble / ids.size
  }

  private def described(j: JobRec, prefix: String) = String.valueOf(j.desc).startsWith(prefix)

  /** Store commits: runs of consecutive `graft: store commit` jobs of one
    * job group (a commit may launch several jobs). */
  val commits: Int = jobs.sortBy(_.id).foldLeft((0, Option.empty[JobRec])) { case ((n, prev), j) =>
    val starts = described(j, "graft: store commit") &&
      !prev.exists(p => described(p, "graft: store commit") && p.group == j.group)
    (if (starts) n + 1 else n, Some(j))
  }._1

  /** Seconds per commit spent in jobs whose description starts with `prefix`
    * (the write path labels its phases `graft: …`). */
  def describedSecPerCommit(prefix: String): Double =
    jobs.filter(described(_, prefix)).map(j => (j.end - j.start) / 1e3).sum / math.max(commits, 1)

  /** Seconds per micro-batch not covered by any job: driver-side work. */
  def streamingResidueSec: Double = {
    val bs = t.batches.asScala.toSeq
    if (bs.isEmpty) 0.0
    else {
      val runIds = bs.map(_.runId).toSet
      val jobSec = jobs.filter(j => runIds(String.valueOf(j.group))).map(j => (j.end - j.start) / 1e3).sum
      math.max(0.0, bs.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3 - jobSec) / bs.size
    }
  }

  def batchMedianMs(keys: String*): Double = {
    val bs = t.batches.asScala.toSeq
    if (bs.isEmpty) 0.0 else Stats.median(bs.map(b => keys.map(k => b.durations.getOrElse(k, 0L)).sum.toDouble))
  }
}
