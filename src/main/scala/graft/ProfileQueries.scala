package graft

import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Optimization-round measurement harness (guide §1): time individual
  * declared queries with the SAME methodology as Bench (count() action,
  * warmup + timed passes), plus per-query job/stage/shuffle counters from a
  * SparkListener and `.explain("formatted")` dumps for plans/r17/.
  *
  * Usage: sbt "runMain graft.ProfileQueries <q1> <q2> ..." — or with no
  * args, every declared query. Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * GRAFT_PLAN_DIR (when set, writes <plan_dir>/<query>.txt),
  * GRAFT_PROFILE_PASSES (default 2 timed passes after 1 warmup).
  */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val planDir = sys.env.get("GRAFT_PLAN_DIR")
    val passes = sys.env.getOrElse("GRAFT_PROFILE_PASSES", "2").toInt
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // A/B config probes: GRAFT_EXTRA_CONF="k=v;k=v"
    sys.env.get("GRAFT_EXTRA_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0)
    val shuffleRead = new AtomicLong(0)
    val shuffleWrite = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks.toLong)
        shuffleRead.addAndGet(e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })

    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      spark.sparkContext.setJobDescription(s"profile: $name warmup")
      fn(spark, sfDir).count() // warmup: JIT, codegen, footers, fixtures
      planDir.foreach { pd =>
        new java.io.File(pd).mkdirs()
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$pd/$name.txt"), plan)
      }
      val times = (1 to passes).map { i =>
        jobs.set(0); stages.set(0); tasks.set(0)
        shuffleRead.set(0); shuffleWrite.set(0)
        spark.sparkContext.setJobDescription(s"profile: $name pass $i")
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        // listener events are async; wait until every one is delivered
        GraftShim.drainListenerBus(spark)
        println(f"$name%-28s pass$i $dt%8.3f s  jobs=${jobs.get}%-3d " +
          f"stages=${stages.get}%-3d tasks=${tasks.get}%-5d " +
          f"shufR=${shuffleRead.get / 1024}%dK shufW=${shuffleWrite.get / 1024}%dK")
        dt
      }
      println(f"$name%-28s min   ${times.min}%8.3f s")
    }
    spark.stop()
  }
}
