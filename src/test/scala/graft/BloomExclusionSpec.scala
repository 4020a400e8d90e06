package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.operators.BloomExclusion

/** Bloom-prefiltered blocklist exclusion must be EXACTLY the plain
  * left_anti join — the whole point is that the no-false-negative split
  * (clean rows skip the shuffle, only Bloom hits take the exact confirm
  * join) is invisible to correctness. */
class BloomExclusionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("bloom-exclusion-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.01"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  test("long keys: result equals the plain left_anti join") {
    import spark.implicits._
    // every 7th doc blocked, plus ids that don't exist in the corpus
    val corpus = docs
    val block = spark.range(0, 500, 7).toDF("bad_id")
      .union(Seq(100000L, 100001L).toDF("bad_id"))
    val expected = corpus.join(block, corpus("doc_id") === block("bad_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = BloomExclusion.excludeKeys(corpus, "doc_id", block, "bad_id", smallBlocklistRows = 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
    assert(got.nonEmpty && got.size < 500, "blocklist must actually drop rows")
  }

  test("string keys: result equals the plain left_anti join") {
    import spark.implicits._
    val corpus = docs
    val block = Seq("src0", "src7", "no-such-source").toDF("bad_src")
    val expected = corpus.join(block, corpus("source") === block("bad_src"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = BloomExclusion.excludeKeys(corpus, "source", block, "bad_src", smallBlocklistRows = 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
    assert(got.size < 500, "the two sources must have been dropped")
  }

  test("null corpus keys are kept, matching anti-join semantics") {
    import spark.implicits._
    val corpus = Seq(Some("a"), Some("b"), None, Some("c")).toDF("k")
    val block = Seq("b").toDF("bad")
    val expected = corpus.join(block, corpus("k") === block("bad"), "left_anti")
      .collect().map(_.getString(0)).toSet
    val got = BloomExclusion.excludeKeys(corpus, "k", block, "bad", smallBlocklistRows = 0)
      .collect().map(_.getString(0)).toSet
    assert(got == expected)
    assert(got.contains(null.asInstanceOf[String]))
  }

  test("empty blocklist passes the corpus through unchanged") {
    import spark.implicits._
    val block = spark.emptyDataset[Long].toDF("bad")
    val got = BloomExclusion.excludeKeys(docs, "doc_id", block, "bad").count()
    assert(got == docs.count())
  }

  test("integral-width mixes are allowed and exact (int blocklist, long corpus)") {
    import spark.implicits._
    val corpus = docs
    val block = Seq(3, 14, 100).toDF("bad_id") // IntegerType vs doc_id LongType
    val expected = corpus.join(block, corpus("doc_id") === block("bad_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = BloomExclusion.excludeKeys(corpus, "doc_id", block, "bad_id", smallBlocklistRows = 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
    assert(!got.contains(3L) && !got.contains(14L))
  }

  test("mixed key types are rejected, not silently wrong") {
    import spark.implicits._
    // long corpus key vs double blocklist: the plain anti-join would
    // coerce 7 === 7.0 and drop the row, but the string-rendered Bloom
    // probe ("7" vs "7.0") would never flag it — so the operator must
    // refuse the combination outright
    val corpus = Seq(7L, 8L).toDF("k")
    val block = Seq(7.0).toDF("bad")
    val e = intercept[IllegalArgumentException] {
      BloomExclusion.excludeKeys(corpus, "k", block, "bad")
    }
    assert(e.getMessage.contains("key types must match"))
  }

  test("small blocklists delegate to the plain anti-join (no bloom machinery)") {
    import spark.implicits._
    val corpus = docs
    val block = spark.range(0, 500, 9).toDF("bad_id")
    val delegated = BloomExclusion.excludeKeys(corpus, "doc_id", block, "bad_id")
    // the delegated plan is the join itself — no UDF probe filter in it
    val plan = delegated.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("__maybe"),
      s"small blocklist must skip the bloom probe:\n${plan.take(1200)}")
    val expected = corpus.join(block, corpus("doc_id") === block("bad_id"), "left_anti").count()
    assert(delegated.count() == expected)
  }

  test("double keys: signed zeros agree with the plain anti-join") {
    import spark.implicits._
    // Spark join keys normalize -0.0 == 0.0, but a naive string render
    // ("0.0" vs "-0.0") would mark such rows definitely-clean and keep
    // them. The probe must fold signed zeros before rendering.
    val corpus = Seq(0.0, -0.0, 1.5, Double.NaN).toDF("k")
    val block = Seq(-0.0, Double.NaN).toDF("bad")
    val expected = corpus.join(block, corpus("k") === block("bad"), "left_anti")
      .collect().map(_.getDouble(0)).toSet
    val got = BloomExclusion.excludeKeys(corpus, "k", block, "bad", smallBlocklistRows = 0)
      .collect().map(_.getDouble(0)).toSet
    assert(got == expected)
    assert(got == Set(1.5), "both zero spellings and NaN must be dropped")
  }

  test("sizing hint cannot flip the execution regime") {
    import spark.implicits._
    // an inflated expectedKeys on a tiny blocklist must still delegate to
    // the plain (broadcastable) anti-join: the hint sizes the bloom bits,
    // the ACTUAL count picks the plan
    val corpus = docs
    val block = spark.range(0, 500, 9).toDF("bad_id")
    val delegated = BloomExclusion.excludeKeys(corpus, "doc_id", block, "bad_id",
      expectedKeys = 50L * 1000 * 1000)
    val plan = delegated.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("__maybe"),
      s"tiny blocklist with a huge hint must still skip the bloom probe:\n${plan.take(1200)}")
    val expected = corpus.join(block, corpus("doc_id") === block("bad_id"), "left_anti").count()
    assert(delegated.count() == expected)
  }

  test("fpp sweep: every rate yields the exact result (false positives only cost work)") {
    import spark.implicits._
    val corpus = docs
    val block = spark.range(0, 500, 11).toDF("bad_id")
    val expected = corpus.join(block, corpus("doc_id") === block("bad_id"), "left_anti").count()
    for (fpp <- Seq(0.3, 0.01, 0.0001)) {
      val got = BloomExclusion.excludeKeys(corpus, "doc_id", block, "bad_id", fpp = fpp,
        smallBlocklistRows = 0).count()
      assert(got == expected, s"fpp=$fpp must not change the result")
    }
  }
}
