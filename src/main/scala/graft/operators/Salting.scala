package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-salting helpers (100 TB posture; BASELINE north star).
  *
  * AQE's skew-join split handles most shuffle skew automatically, but two
  * shapes still need manual salting at corpus scale: a groupBy whose hot
  * key overwhelms one reducer, and a shuffle join against a small-but-not-
  * broadcastable dimension. The pattern: spread the hot side over
  * `key × salt(0..k)`, replicate the other side k ways, and fold the salt
  * back out. Results are exactly the original plan's — verified by
  * SaltingSpec equivalence tests.
  */
object Salting {

  /** Two-stage skew-proof aggregation: partial aggregate on (key, salt),
    * then final aggregate on key — the grouping column keeps its name, so
    * the output is drop-in equal to the unsalted `groupBy(keyName)`.
    * `partial` must be decomposable (sum/count/min/max-style). Example:
    * {{{
    * saltedAgg(df, "k", 16, count(lit(1)).as("n"))(sum(col("n")).as("n"))
    * }}} */
  def saltedAgg(df: DataFrame, keyName: String, salts: Int, partial: Column*)(
      finalAgg: Column*): DataFrame =
    df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
      .groupBy(col(keyName), col("__salt"))
      .agg(partial.head, partial.tail: _*)
      .groupBy(col(keyName))
      .agg(finalAgg.head, finalAgg.tail: _*)

  /** Salted equi-join for a skewed fact side: fact rows get a random salt
    * in [0, salts); the dimension is exploded `salts` ways so every
    * (key, salt) bucket finds its match. Join traffic for a hot key now
    * spreads over `salts` reducers. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    val repDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1)).cast("array<long>")))
    saltedFact.join(repDim, Seq(key, "__salt")).drop("__salt")
  }
}
