package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Salting

/** Equivalence tests for the skew-salting helpers: salted plans must give
  * exactly the unsalted results while spreading a hot key over reducers. */
class SaltingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("salting-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** 50k rows on one hot key + a long tail. */
  private lazy val skewed = {
    import spark.implicits._
    val hot = (1 to 50000).map(i => ("hot", i.toLong))
    val tail = (1 to 1000).map(i => (s"k$i", i.toLong))
    (hot ++ tail).toDF("key", "v").repartition(8)
  }

  test("saltedAgg == plain groupBy aggregation") {
    import spark.implicits._
    val plain = skewed.groupBy($"key")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"), max($"v").as("mx"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val salted = Salting.saltedAgg(skewed, "key", salts = 16,
        count(lit(1)).as("n"), sum($"v").as("s"), max($"v").as("mx"))(
        sum($"n").as("n"), sum($"s").as("s"), max($"mx").as("mx"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(salted == plain)
    assert(plain("hot")._1 == 50000L)
  }

  test("saltedJoin == plain join, and spreads the hot key over buckets") {
    import spark.implicits._
    val dim = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("key", "label")
    val plain = skewed.join(dim, Seq("key"))
      .groupBy($"key", $"label").agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val joined = Salting.saltedJoin(skewed, dim, "key", salts = 16)
    val salted = joined
      .groupBy($"key", $"label").agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(salted == plain)

    // assert the UNIT's own mechanism, not a test-local recomputation
    // (equivalence alone passes even if saltedJoin stopped salting —
    // salting is value-preserving): the join must key on __salt, and the
    // hot key's OUTPUT rows must land across many shuffle partitions
    // instead of the one reducer an unsalted join would pin them to
    assert(joined.queryExecution.executedPlan.toString.contains("__salt"),
      "saltedJoin must actually join on the salt column")
    val hotPartitions = joined.filter($"key" === "hot")
      .select(spark_partition_id().as("p")).distinct().count()
    assert(hotPartitions >= 8,
      s"hot key's joined rows spread over only $hotPartitions partitions")
  }
}
