package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.Row

/** A fixed selection of the declared queries (`SparkEntry.queries`), one
  * from each declaring object, on the TPC-H-style tables the benchmark carries
  * (sf0.001, seed 42; the run's seed cannot change them). The dedup family
  * runs first in the fresh JVM, as `graft.Bench` phases it. Set-up runs two
  * warm-up passes (queries still got faster in the second and third); the
  * timed phase runs a fixed number of whole passes, one client.
  *
  * The full 149-query suite takes minutes per pass, far beyond one run's
  * time budget, so the selection keeps one of each object's cheaper queries:
  * the per-query job and planning floor dominates them, which is what this
  * workload is meant to measure. Results of the last pass go to
  * `suite_out/` with their oracle SQL; the launcher compares them with
  * DuckDB under tools/oracle_check.py's rules. */
final class AnalyticsSuite extends Workload {
  import AnalyticsSuite._

  private var sfDir: String = _
  private val passSec = mutable.ArrayBuffer[Double]()
  private val last = mutable.LinkedHashMap[String, (org.apache.spark.sql.types.StructType, Array[Row])]()
  private var timedSec = 0.0
  private var done = 0L
  private var rows = 0L

  /** Each query is its own operation kind: their latencies differ tenfold. */
  def opKinds: Seq[String] = Selection

  def setup(c: Ctx): Unit = {
    sfDir = c.args.fixtures.toAbsolutePath.toString
    require(Files.exists(c.args.fixtures.resolve("lineitem.parquet")), s"no tables in $sfDir")
    val all = graft.SparkEntry.queries
    val missing = Selection.filterNot(all.contains)
    require(missing.isEmpty, s"declared queries missing: ${missing.mkString(", ")}")
    c.input("sf", scaleOf(c)); c.input("tables", c.args.fixtures.toString); c.input("queries", Selection.size)
    c.input("declared_queries", all.size)
    c.step("warm_up") {
      c.ops.recording = false
      pass(c); pass(c)
      c.ops.recording = true
    }
    passSec.clear()
  }

  /** The scale factor the tables really have, read off `lineitem` (about
    * 6M rows per unit of scale) and checked against the directory's
    * `sf<x>` name: a run is never labelled with a scale it did not run. */
  private def scaleOf(c: Ctx): String = {
    val rows = c.spark.read.parquet(c.args.fixtures.resolve("lineitem.parquet").toString).count()
    val named = c.args.fixtures.getFileName.toString.stripPrefix("sf")
    val sf = named.toDoubleOption.getOrElse(
      throw new IllegalArgumentException(s"table directory ${c.args.fixtures} is not named sf<scale>"))
    require(math.abs(rows / 6e6 / sf - 1) < 0.1,
      s"${c.args.fixtures} is named scale $sf but lineitem has $rows rows")
    named
  }

  private def pass(c: Ctx): Unit = {
    val all = graft.SparkEntry.queries
    val t0 = System.nanoTime()
    Selection.foreach { name =>
      c.ops.run(name) {
        c.tracer.span(name, "op") {
          val df = c.call(name)(all(name)(c.spark, sfDir))
          (df.schema, c.call(name, "api.collect")(df.collect()))
        }
      }(_ => None).foreach { r => last(name) = r; done += 1; rows += r._2.length }
    }
    passSec += (System.nanoTime() - t0) / 1e9
  }

  /** A fixed number of passes, about `seconds` long on a 4-core box: a
    * count that followed the clock would give faster runs an extra, warmer
    * pass and split the runs into two populations. */
  def timed(c: Ctx, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    done = 0; rows = 0
    (1 to math.max(1, math.round(seconds / NominalPassSec).toInt)).foreach(_ => pass(c))
    timedSec = (System.nanoTime() - t0) / 1e9
  }

  /** Write the last pass's results for the DuckDB comparison. */
  def finish(c: Ctx): Unit = {
    val out = c.args.dir.resolve("suite_out")
    Files.createDirectories(out)
    last.foreach { case (name, (schema, rows)) =>
      c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(name).toString)
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"), Json.obj(last.keys.toSeq.flatMap(n =>
      oracle.get(n).map(sql => n -> Json.str(sql)))))
    val q = c.ops.times(Selection: _*)
    if (passSec.nonEmpty) c.put("suite_s", Stats.median(passSec.toSeq), "s", passSec.size)
    if (q.nonEmpty) c.put("suite_geomean_ms", Stats.geomean(q), "ms", q.size)
  }

  def throughput(c: Ctx): Metric = Metric(done / timedSec, "1/s", done)

  def results: Long = rows

  def layers(c: Ctx, r: LayerReport): Unit = {
    val passes = math.max(r.ops.size / Selection.size, 1).toDouble
    val byName = r.ops.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.ms).sum }
    objects.foreach { o =>
      val secs = Selection.filter(objectOf(_) == o).flatMap(byName.get).sum / 1e3 / passes
      c.put(s"queries.${o}_s", secs, "s", passes.toLong)
    }
    c.put("queries.jobs_total", r.opJobs.size / passes, "count", passes.toLong)
  }
}

object AnalyticsSuite {
  /** The objects that declare queries, as `SparkEntry` assembles them. */
  val declaring: Seq[(String, Map[String, _])] = Seq(
    "VectorQueries" -> graft.queries.VectorQueries.queries,
    "IngestQueries" -> graft.queries.IngestQueries.queries,
    "RelationalQueries" -> graft.queries.RelationalQueries.queries,
    "WindowSetQueries" -> graft.queries.WindowSetQueries.queries,
    "ScalarQueries" -> graft.queries.ScalarQueries.queries,
    "TextQueries" -> graft.queries.TextQueries.queries,
    "DedupQueries" -> graft.queries.DedupQueries.queries,
    "CoverageQueries" -> graft.queries.CoverageQueries.queries,
    "EventAnalyticsQueries" -> graft.queries.EventAnalyticsQueries.queries,
    "PipelineQueries" -> graft.queries.PipelineQueries.queries,
    "SparseBinaryQueries" -> graft.queries.SparseBinaryQueries.queries)

  val objects: Seq[String] = declaring.map(_._1)

  /** Seconds one warm pass of [[Selection]] takes on a 4-core box. */
  val NominalPassSec = 7.5

  def objectOf(query: String): String =
    declaring.collectFirst { case (o, qs) if qs.contains(query) => o }.getOrElse("unknown")

  /** Dedup first, then one query of every other declaring object. */
  val Selection: Seq[String] = Seq(
    "dedup_jaccard_pairs", "knn_filtered", "upsert_last_write_wins", "join_revenue_top10",
    "sessionize", "string_funcs", "tf_idf", "knn_filtered_grammar", "asof_attribution",
    "sequence_packing", "sparse_dot_topk")
}
