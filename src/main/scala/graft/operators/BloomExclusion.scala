package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Blocklist exclusion at corpus scale (the "remove everything on this
  * denylist" step of a training-data build: opted-out domains, known-bad
  * documents, eval-set keys).
  *
  * A plain `left_anti` join shuffles the FULL corpus on the key — at
  * 100 TB that is the whole dataset through the wire to drop a fraction
  * of a percent. This operator builds a Bloom filter over the blocklist
  * (`df.stat.bloomFilter` — distributed build, bits merged on the driver),
  * broadcasts the bits, and splits the corpus map-side:
  *
  *   - `mightContain == false` → definitely NOT blocked (Bloom filters
  *     have no false negatives) → kept with NO shuffle at all;
  *   - `mightContain == true`  → blocked OR false positive → confirmed by
  *     an exact anti-join whose left side is only |hits| + fpp·|corpus|
  *     rows.
  *
  * Equivalence with the plain anti-join is exact (BloomExclusionSpec), so
  * the shuffle saving is free correctness-wise. The blocklist itself can
  * be far larger than a broadcast-join could take: 10M keys at 1% fpp is
  * ~12 MB of bits vs ~GBs for a broadcast hash table.
  */
object BloomExclusion {

  /** Rows of `corpus` whose `keyCol` does NOT appear in
    * `blocklist.blockCol`. Exactly `corpus.join(blocklist, corpus(keyCol)
    * === blocklist(blockCol), "left_anti")` (null keys are kept — SQL
    * anti-join semantics), with the corpus-wide shuffle replaced by a
    * broadcast Bloom probe.
    *
    * Regime guard (measured): a blocklist small enough to broadcast as a
    * hash relation makes the PLAIN anti-join already map-side — the Bloom
    * split only adds scans there (0.27× at 20M corpus × 200k blocklist).
    * So blocklists at or under `smallBlocklistRows` delegate to the plain
    * join and the Bloom machinery engages only where it wins: blocklists
    * too big for a broadcast hash table but small as bits (10M keys ≈
    * 12 MB of bloom vs GBs of hash relation).
    *
    * Key columns must have the SAME type on both sides (enforced): the
    * Bloom probe compares string renderings while the confirm join would
    * compare under numeric coercion, so a long corpus key against a
    * double blocklist ("7" vs "7.0") would silently skip the confirm join
    * and KEEP a blocked row. Cast one side explicitly before calling.
    *
    * Cost shape: the corpus is scanned twice (once per branch of the
    * union — clean rows and candidates are independent filters over the
    * probe). That is the deliberate trade: two map-side columnar scans
    * instead of shuffling the full corpus on the key; persist the corpus
    * first if its scan is the bottleneck.
    *
    * @param expectedKeys sizing hint for the BLOOM BITS ONLY (bits grow
    *                     with expected insertions); the regime decision
    *                     (plain anti vs bloom split) always uses the
    *                     actual blocklist count, so a stale hint can
    *                     waste filter bits but cannot flip the plan
    * @param fpp          false-positive rate — tunes bits vs how many
    *                     rows take the exact-confirm join */
  def excludeKeys(corpus: DataFrame, keyCol: String,
                  blocklist: DataFrame, blockCol: String,
                  expectedKeys: Long = -1L, fpp: Double = 0.01,
                  smallBlocklistRows: Long = 1L << 20): DataFrame = {
    val spark = corpus.sparkSession
    val corpusType = corpus.schema(keyCol).dataType
    val blockType = blocklist.schema(blockCol).dataType
    // integral mixes are safe: "7" renders "7" at every integral width and
    // the confirm join coerces losslessly. Anything else (long vs double:
    // "7" vs "7.0"; decimal scales; string vs numeric) makes the probe and
    // the join disagree — reject those outright.
    def integral(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    require(corpusType == blockType || (integral(corpusType) && integral(blockType)),
      s"key types must match (corpus $keyCol: $corpusType, blocklist " +
        s"$blockCol: $blockType) — the string-rendered Bloom probe and the " +
        "type-coercing confirm join disagree on mixed non-integral types; " +
        "cast one side first")
    // the join normalizes -0.0 to 0.0 in float/double keys but the string
    // render distinguishes them ("0.0" vs "-0.0") — fold signed zeros
    // before rendering so the probe agrees with the confirm join. NaN is
    // safe as-is: one spelling on both sides, and Spark joins match it.
    def renderKey(c: org.apache.spark.sql.Column,
                  dt: org.apache.spark.sql.types.DataType) = dt match {
      case org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType =>
        when(c === lit(0).cast(dt), lit(0).cast(dt)).otherwise(c).cast("string")
      case _ => c.cast("string")
    }
    val keys = blocklist.select(renderKey(col(blockCol), blockType).as("__k")).na.drop()
    // the regime decision needs the TRUE count: an optimistic hint on a
    // 50M-key blocklist must not delegate to the full-corpus shuffle
    // anti-join this operator exists to avoid. stat.bloomFilter also
    // NPEs on an empty input (no partial buffer to merge), so count once.
    val actualKeys = keys.count()
    if (actualKeys == 0L) return corpus
    // broadcastable blocklist ⇒ the plain anti-join is already map-side
    // and strictly cheaper than building + probing a bloom (see scaladoc)
    if (actualKeys <= smallBlocklistRows)
      return corpus.join(
        blocklist.select(col(blockCol).as(keyCol)), Seq(keyCol), "left_anti")
    val n = if (expectedKeys > 0) expectedKeys else actualKeys
    val bloom = keys.stat.bloomFilter("__k", n, fpp)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    // the probe is a deterministic scalar udf over the broadcast bits; it
    // fences codegen around itself but runs map-side with zero shuffle
    val maybe = udf((k: String) => k != null && bloomBc.value.mightContainString(k))
    val probed = corpus.withColumn("__maybe", maybe(renderKey(col(keyCol), corpusType)))
    val definitelyClean = probed.filter(!col("__maybe")).drop("__maybe")
    val candidates = probed.filter(col("__maybe")).drop("__maybe")
    val confirmed = candidates.join(
      blocklist.select(col(blockCol).as(keyCol)), Seq(keyCol), "left_anti")
    definitelyClean.unionByName(confirmed)
  }
}
