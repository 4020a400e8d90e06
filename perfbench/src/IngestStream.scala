package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import graft.api.GraftClient

/** The reference's write path: S3 bucket-notification events (Put, Copy,
  * Delete) land in files, and `startIngest` drains them micro-batch by
  * micro-batch, embedding each object's body and merge-committing the
  * result. Each round drains the landing files into a fresh plain FLAT
  * collection, then the first half of them into a fresh `tenant`
  * partition-key collection. No search runs and there is no vector index
  * to refresh.
  *
  * The expected live set is the last event per key in arrival order,
  * worked out here from the generated events, not through the engine. */
final class IngestStream extends Workload {
  val Keys = 600
  val EventsPerKey = 5
  val Files_ = 8
  /** The routed drain takes the first half of the files: a routed batch
    * costs about twice a plain one. */
  val RoutedFiles = 4
  val FilesPerTrigger = 2
  val Partitions = 4
  /** Store buckets of the plain collection; the routed one splits the same
    * budget across its partitions, as graft.IngestScaleBench sizes them. */
  val Buckets = 8
  val Dim = graft.ingest.Embedder.TextDim
  /** Seconds one round takes on a 4-core box. */
  val NominalRoundSec = 18.0

  final case class Event(key: String, name: String)
  /** Landing files and the live set draining them must leave. */
  final case class Landing(dir: Path, files: Int, events: Int, expected: Set[String])

  private var client: GraftClient = _
  private var landing: Landing = _
  private var routedLanding: Landing = _
  private var bodies: Map[String, String] = _
  private var events: Seq[Event] = _
  private var round = 0
  private var drained = 0L
  private var drainSec = 0.0
  private var putEvents = 0L
  private var userBytes = 0.0
  private var storeBytesPerLive = 0.0
  private var bytes0 = 0L
  private var timedFromMs = 0L

  def opKinds: Seq[String] = Seq("batch_plain", "batch_routed")

  private def tenant(key: String): String = Math.floorMod(key.hashCode, Partitions).toString

  /** ~5 events per key in a seeded order: 5% deletes, 10% copies. */
  def generate(seed: Long, docs: Seq[String]): Unit = {
    val r = new SplittableRandom(seed)
    val keys = (0 until Keys).map(i => f"obj-$i%05d")
    bodies = keys.map(k => k -> docs(r.nextInt(docs.size))).toMap
    events = (0 until Keys * EventsPerKey).map { _ =>
      val u = r.nextDouble()
      val name = if (u < 0.05) "ObjectRemoved:Delete" else if (u < 0.15) "ObjectCreated:Copy"
                 else "ObjectCreated:Put"
      Event(keys(r.nextInt(Keys)), name)
    }
  }

  private def json(e: Event): String =
    s"""{"Records":[{"eventVersion":"2.2","eventSource":"ceph:s3","eventName":"${e.name}",""" +
      s""""s3":{"bucket":{"name":"bench"},"object":{"key":"${e.key}","size":${bodies(e.key).length},""" +
      s""""tags":{"category":"docs","tenant":"${tenant(e.key)}"}}}}]}"""

  /** The first `files` landing files, named in arrival order with strictly
    * increasing modification times: arrival order decides last-write-wins. */
  private def writeLanding(dir: Path, files: Int): Landing = {
    Files.createDirectories(dir)
    val per = (events.size + Files_ - 1) / Files_
    val groups = events.grouped(per).take(files).toSeq
    groups.zipWithIndex.foreach { case (es, i) =>
      val p = dir.resolve(f"events-$i%03d.json")
      Files.write(p, es.map(json).asJava, StandardCharsets.UTF_8)
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
    }
    val es = groups.flatten
    Landing(dir, files, es.size, IngestStream.lastWriteWins(es.map(e => e.key -> e.name)))
  }

  def setup(c: Ctx): Unit = {
    val docs = c.step("generate") {
      val d = Fixtures.documents(c)
      generate(c.args.seed, d)
      landing = writeLanding(c.work.resolve("landing"), Files_)
      routedLanding = writeLanding(c.work.resolve("landing-routed"), RoutedFiles)
      d
    }
    putEvents = events.count(!_.name.startsWith("ObjectRemoved")).toLong
    c.input("keys", Keys); c.input("events", events.size); c.input("landing_files", Files_)
    c.input("files_per_trigger", FilesPerTrigger); c.input("partitions", Partitions)
    c.input("dim", Dim); c.input("documents", docs.size)
    c.put("expected_live_keys", landing.expected.size, "count")
    client = new GraftClient(c.spark, c.work.resolve("store").toString)
    // A full round pays JIT and codegen before anything is timed: after a
    // one-batch warm-up, plain batches still got faster batch by batch.
    c.step("warm_up") {
      c.ops.recording = false
      oneRound(c, landing, routedLanding)
      c.ops.recording = true
    }
    drained = 0L; drainSec = 0.0
  }

  private def objects(c: Ctx) = {
    import c.spark.implicits._
    bodies.toSeq.toDF("key", "text")
  }

  /** Drain the landing files into a fresh collection; returns its name. */
  private def drain(c: Ctx, l: Landing, routed: Boolean): Option[String] = {
    round += 1
    val name = s"${if (routed) "routed" else "plain"}_$round"
    if (routed)
      client.createCollection(name, Dim, buckets = math.max(Buckets / Partitions, 1),
        partitionKey = "tenant", numPartitions = Partitions)
    else client.createCollection(name, Dim, buckets = Buckets)
    val kind = if (routed) "drain_routed" else "drain_plain"
    val t0 = System.nanoTime()
    val r = c.ops.run(kind) {
      c.tracer.span(kind, "op") {
        val q = c.call("startIngest")(client.startIngest(name, l.dir.toString, objects(c),
          maxFilesPerTrigger = Some(FilesPerTrigger),
          checkpointDir = Some(c.work.resolve(s"checkpoints/$name").toString)))
        c.tracer.alias(q.runId.toString, c.tracer.currentGroup)
        q.awaitTermination()
        q.recentProgress.filter(_.numInputRows > 0)
          .map(_.durationMs.get("triggerExecution").toDouble).toSeq
      }
    } { batches =>
      if (batches.size != l.files / FilesPerTrigger)
        Some(s"${batches.size} micro-batches, expected ${l.files / FilesPerTrigger}") else None
    }
    drainSec += (System.nanoTime() - t0) / 1e9
    r.map { batches =>
      batches.foreach(ms => c.ops.sample(if (routed) "batch_routed" else "batch_plain", ms))
      drained += l.events
      userBytes += putEvents * Dim * 4.0 * l.events / events.size
      name
    }
  }

  private def liveKeys(c: Ctx, name: String): Set[String] = {
    client.registerSqlViews()
    c.spark.table(name).select("key").collect().map(_.getString(0)).toSet
  }

  /** Drain `l` into a fresh plain collection and `r` into a fresh routed
    * one; check both against the live sets worked out from the events. */
  private def oneRound(c: Ctx, l: Landing, r: Landing): Unit = {
    drain(c, l, routed = false).foreach { p =>
      val live = liveKeys(c, p)
      c.ops.verify(s"$p live set")(IngestStream.compareSets(live, l.expected))
      c.ops.verify(s"$p stored vectors")(storedVectors(c, p, l.expected))
      storeBytesPerLive = Store.bytes(client, p) / math.max(live.size * Dim * 4.0, 1.0)
    }
    drain(c, r, routed = true).foreach { p =>
      c.ops.verify(s"$p live set")(IngestStream.compareSets(liveKeys(c, p), r.expected))
      c.ops.verify(s"$p stored vectors")(storedVectors(c, p, r.expected))
    }
  }

  /** A sample of stored vectors must equal `Embedder.text` of the body. */
  private def storedVectors(c: Ctx, name: String, live: Set[String]): Option[String] = {
    val sample = live.toSeq.sorted.take(16)
    val got = c.tracer.span("fetch", "op") {
      c.call("fetch")(client.fetch(name, sample)).collect()
    }.map(r => r.getAs[String]("key") -> r.getAs[scala.collection.Seq[Float]]("vec").toArray).toMap
    IngestStream.checkVectors(sample, got, k => graft.ingest.Embedder.text.embedText(bodies(k)))
  }

  /** A fixed number of rounds, about `seconds` long on a 4-core box, so
    * every run does the same work whatever the box's speed. */
  def timed(c: Ctx, seconds: Double): Unit = {
    drained = 0L; drainSec = 0.0; userBytes = 0.0
    bytes0 = IngestStream.localBytesWritten
    timedFromMs = System.currentTimeMillis()
    (1 to math.max(1, math.round(seconds / NominalRoundSec).toInt))
      .foreach(_ => oneRound(c, landing, routedLanding))
  }

  def finish(c: Ctx): Unit = {
    c.put("store_bytes_per_live_byte", storeBytesPerLive, "ratio")
    for ((kind, metric, l) <- Seq(("drain_plain", "ingest_events_per_s", landing),
                                  ("drain_routed", "ingest_routed_events_per_s", routedLanding))) {
      val ms = c.ops.times(kind)
      if (ms.nonEmpty) c.put(metric, l.events * 1000.0 / Stats.median(ms), "events/s", ms.size)
    }
    val batches = c.ops.times("batch_plain", "batch_routed")
    if (batches.nonEmpty) c.put("ingest_batch_p50_s", Stats.median(batches) / 1000.0, "s", batches.size)
  }

  def throughput(c: Ctx): Metric = Metric(drained / drainSec, "1/s", drained)

  def results: Long = drained

  def layers(c: Ctx, r: LayerReport): Unit = {
    val commits = math.max(r.commits, 1)
    c.put("streaming.files_written_per_commit",
      Proc.filesSince(c.work.resolve("store"), timedFromMs).toDouble / commits, "count", r.commits)
    c.put("streaming.bytes_written_per_user_byte",
      (IngestStream.localBytesWritten - bytes0) / math.max(userBytes, 1.0), "ratio", r.commits)
  }
}

object IngestStream {
  /** Keys alive after applying `(key, eventName)` events in order. */
  def lastWriteWins(events: Seq[(String, String)]): Set[String] =
    events.foldLeft(Map.empty[String, String]) { case (m, (k, n)) => m.updated(k, n) }
      .collect { case (k, n) if !n.startsWith("ObjectRemoved") => k }.toSet

  def compareSets(got: Set[String], want: Set[String]): Option[String] =
    if (got == want) None
    else Some(s"${got.size} live keys, expected ${want.size}; " +
      s"missing ${(want -- got).take(3).mkString(",")} extra ${(got -- want).take(3).mkString(",")}")

  def checkVectors(keys: Seq[String], got: Map[String, Array[Float]],
                   embed: String => Array[Float]): Option[String] =
    keys.find(k => !got.get(k).exists(v => java.util.Arrays.equals(v, embed(k))))
      .map(k => s"stored vector of $k is not the embedding of its body")

  /** Bytes written through Hadoop's local file system so far. */
  def localBytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
}
