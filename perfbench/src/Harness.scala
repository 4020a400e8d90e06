package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One metric of a run: its value, unit, and how many samples it came from. */
final case class Metric(value: Double, unit: String, samples: Long)

/** Order statistics over latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, the same rule as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile that still has at least ten samples beyond it,
    * and its value. With eleven samples or fewer no such percentile
    * exists; the maximum stands in and the level reads 100. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.length <= 10) (100.0, s.last)
    else {
      val rank = s.length - 11 // zero-based: ten samples lie above it
      (100.0 * (rank + 1) / s.length, s(rank))
    }
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.length)
}

/** Counts and times the workload's operations. A call that throws and an
  * answer a check rejects both count as failed; only the second makes the
  * run incorrect. */
final class Ops {
  private val samples = new ConcurrentLinkedQueue[(String, Double)]()
  private val errors = new ConcurrentLinkedQueue[String]()
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  val wrong = new AtomicLong()
  @volatile var recording = true

  /** Run `f`, time it from `startNs` (when the operation was due) and check
    * its answer. Returns the answer when the call did not throw. */
  def run[A](kind: String, startNs: Long = -1L)(f: => A)(check: A => Option[String]): Option[A] = {
    val t0 = if (startNs >= 0) startNs else System.nanoTime()
    attempted.incrementAndGet()
    val r = try Right(f) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    r match {
      case Left(e) =>
        failed.incrementAndGet()
        note(s"$kind threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
      case Right(a) =>
        if (recording) samples.add(kind -> ms)
        val verdict = try check(a) catch { case e: Throwable => Some(s"check threw $e") }
        verdict.foreach { why =>
          failed.incrementAndGet(); wrong.incrementAndGet(); note(s"$kind wrong: $why")
        }
        Some(a)
    }
  }

  /** A latency sample measured elsewhere (e.g. a streaming micro-batch). */
  def sample(kind: String, ms: Double): Unit = if (recording) samples.add(kind -> ms)

  /** A check outside any timed call (final-state checks). */
  def verify(what: String)(why: Option[String]): Unit = {
    attempted.incrementAndGet()
    why.foreach { w => failed.incrementAndGet(); wrong.incrementAndGet(); note(s"$what wrong: $w") }
  }

  def note(msg: String): Unit = if (errors.size < 50) errors.add(msg)
  def errorList: Seq[String] = errors.asScala.toSeq
  def times(kinds: String*): Seq[Double] =
    samples.asScala.toSeq.collect { case (k, ms) if kinds.isEmpty || kinds.contains(k) => ms }
  /** Every recorded latency, by operation kind, in the order recorded. */
  def byKind: Seq[(String, Seq[Double])] = {
    val all = samples.asScala.toSeq
    all.map(_._1).distinct.map(k => k -> all.collect { case (`k`, ms) => ms })
  }
  def clear(): Unit = samples.clear()
}

/** Facts about the process and the box, read from /proc. */
object Proc {
  private def statusKb(field: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally src.close()
  }
  def peakRssMb: Double = statusKb("VmHWM") / 1024.0
  def loadavg: Seq[Double] = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq finally src.close()
  }
  def cpus: Int = Runtime.getRuntime.availableProcessors()

  def gcMs: Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.toDouble).sum

  def heapPeakMb: Double = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)

  def resetHeapPeak(): Unit = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.foreach(_.resetPeakUsage())

  /** Regular files under `dir` last modified at or after `sinceMs`. */
  def filesSince(dir: java.nio.file.Path, sinceMs: Long): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.count(p => java.nio.file.Files.isRegularFile(p) &&
        java.nio.file.Files.getLastModifiedTime(p).toMillis >= sinceMs).toLong
      finally s.close()
    }

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => java.nio.file.Files.size(p)).sum
      finally s.close()
    }
}

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
