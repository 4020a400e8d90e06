package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measures Bloom-prefiltered blocklist exclusion against the plain
  * left_anti join — the number behind BASELINE.md's exclusion row.
  *
  * Shape: the regime the operator targets — a blocklist too big to
  * broadcast as a hash relation (default 5M keys; Spark plans a
  * shuffle anti-join) under a much bigger corpus (default 50M rows at
  * rest in parquet). The plain anti-join then shuffles ALL corpus rows
  * on the key; the Bloom split probes map-side and sends only hits +
  * false positives (~1% of the clean rows at fpp=0.01) through the
  * confirm join. Both verified equal before timing. At 100 TB the
  * anti-join's shuffle is the entire dataset through the wire — the
  * ratio here is the conservative floor of that win, since local[32]
  * shuffles through memory, not a network. (A BROADCASTABLE blocklist
  * is the opposite regime: the plain anti-join is already map-side and
  * bloom only adds scans — measured 0.27× at 20M × 200k, which is why
  * excludeKeys delegates below `smallBlocklistRows`.) */
object BloomMicroBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(50000000L)
    val blocked = args.drop(1).headOption.map(_.toLong).getOrElse(5000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-bench").toString
    // corpus at rest: key + a payload column so the anti-join shuffle
    // carries realistic row width
    spark.range(n).select(col("id").as("k"),
        md5(col("id").cast("string")).as("payload"))
      .write.mode("overwrite").parquet(s"$dir/corpus")
    // blocklist: every (n/blocked)-th key — spread across the keyspace
    spark.range(blocked).select((col("id") * (n / blocked)).as("bad"))
      .write.mode("overwrite").parquet(s"$dir/block")
    val corpus = spark.read.parquet(s"$dir/corpus")
    val block = spark.read.parquet(s"$dir/block")

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
    }
    def anti(): Long =
      corpus.join(block, corpus("k") === block("bad"), "left_anti").count()
    def bloom(): Long =
      graft.operators.BloomExclusion.excludeKeys(corpus, "k", block, "bad").count()

    // verify equal, then warm both paths once and keep the min of two
    val expect = anti()
    require(bloom() == expect, "bloom exclusion must equal the anti-join")
    val antiSec = math.min(time(anti())._1, time(anti())._1)
    val (bloomSecA, got) = time(bloom())
    val bloomSec = math.min(bloomSecA, time(bloom())._1)
    require(got == expect)

    println(
      s"""{"metric":"bloom_exclusion","corpus":$n,"blocklist":$blocked,""" +
        s""""kept":$expect,"anti_join_sec":$antiSec,"bloom_sec":$bloomSec,""" +
        s""""speedup":${antiSec / bloomSec}}""")
    spark.stop()
  }
}
