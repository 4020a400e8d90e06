package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-data export: the batch job that turns a raw document
  * corpus into sharded, packed token sequences — the terminal step of the
  * LLM-data pipeline whose individual stages are declared as oracle-checked
  * queries in PipelineQueries (filter → dedup → shuffle → pack → write).
  *
  * Scale posture (the whole point of this module):
  *   - every step is hash-deterministic, so re-running an export after a
  *     failure (or on a grown corpus) moves the minimum number of docs;
  *   - the ONLY window runs inside a shard — shards pack independently, so
  *     a 1000-executor run keeps all executors busy and no partition ever
  *     holds more than corpus/shards rows;
  *   - output is `partitionBy(shard)`, so a training loader reading one
  *     shard touches one directory (partition pruning, no file listing of
  *     the rest).
  *
  * Packing semantics: docs are never split. A doc goes to the pack its
  * START offset (within the shard's hash-ordered token stream) falls in,
  * so a pack can exceed `budgetTokens` by at most one doc's tokens — the
  * standard concat-and-chunk loader contract. Oversized single docs land
  * alone in their own pack rather than being dropped.
  */
object TrainingExport {

  /** @param langs       keep-list; empty keeps every language
    * @param lowQ/highQ  n_chars quantile bounds (windsorization)
    * @param approxQuantiles the 100 TB setting: `approx_percentile`
    *                    (t-digest-style sketch, fixed memory, one pass)
    *                    instead of exact `percentile` (sort-based
    *                    aggregation of every n_chars) for the bounds. At
    *                    default accuracy the sketch is exact whenever the
    *                    distinct-value count is small — flip it freely;
    *                    only the windsorization CUTOFFS can move, the
    *                    pipeline stays deterministic for fixed input.
    * @param budgetTokens pack token budget (whitespace tokens here; a BPE
    *                    count drops in by replacing `tokenCount`)
    * @param shards      hash-shard fan-out; at cluster scale set to a small
    *                    multiple of executor count */
  final case class Config(
      budgetTokens: Long = 2048,
      shards: Int = 16,
      langs: Set[String] = Set.empty,
      lowQ: Double = 0.05,
      highQ: Double = 0.95,
      approxQuantiles: Boolean = false)

  final case class Stats(
      docsIn: Long, docsAfterFilter: Long, docsKept: Long,
      packs: Long, tokens: Long)

  private def tokenCount(c: org.apache.spark.sql.Column) =
    size(split(c, " ")).cast("long")

  /** The blocklist + lang keep-list + quantile-windsorization stages — ONE
    * definition shared by packed() and run()'s stats so the two can never
    * drift. The blocklist (opted-out / known-bad / eval-set doc ids) is
    * applied FIRST through the Bloom-prefiltered exclusion, so at corpus
    * scale only Bloom hits take a join — see [[graft.operators.BloomExclusion]]. */
  private def filtered(docs: DataFrame, cfg: Config,
                       blocklist: Option[DataFrame]): DataFrame = {
    val unblocked = blocklist match {
      case Some(bl) =>
        graft.operators.BloomExclusion.excludeKeys(docs, "doc_id", bl, bl.columns.head)
      case None => docs
    }
    val langFiltered =
      if (cfg.langs.isEmpty) unblocked
      else unblocked.filter(col("lang").isin(cfg.langs.toSeq: _*))
    // windsorize on n_chars via a 1-row broadcast of the quantile bounds
    val pctl = if (cfg.approxQuantiles) "approx_percentile" else "percentile"
    val bounds = langFiltered.agg(
      expr(s"$pctl(n_chars, ${cfg.lowQ})").as("__lo"),
      expr(s"$pctl(n_chars, ${cfg.highQ})").as("__hi"))
    langFiltered.crossJoin(broadcast(bounds))
      .filter(col("n_chars").between(col("__lo"), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** The packed dataset as a DataFrame (no write): one row per kept doc,
    * with (shard, pack_id, pos_in_pack, doc_id, n_tokens, text). Exposed
    * separately so tests and downstream jobs can recompute/verify the
    * assignment without touching the filesystem. */
  def packed(docs: DataFrame, cfg: Config,
             blocklist: Option[DataFrame] = None): DataFrame =
    packFiltered(filtered(docs, cfg, blocklist), cfg)

  /** Dedup + shard + pack over an ALREADY-filtered frame — split out so
    * run() can filter once, count it, and pack the same frame. */
  private def packFiltered(windsorized: DataFrame, cfg: Config): DataFrame = {
    // exact dedup by content hash, deterministic winner (min doc_id) —
    // the shuffle key is the 32-byte hash, never the document
    val byContent = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val deduped = windsorized
      .withColumn("__rn", row_number().over(byContent))
      .filter(col("__rn") === 1).drop("__rn")

    // hash-shard + hash-order within shard, then concat-and-chunk
    val h = xxhash64(col("doc_id"))
    val sharded = deduped
      .withColumn("shard", pmod(h, lit(cfg.shards)).cast("int"))
      .withColumn("__h", h)
      .withColumn("n_tokens", tokenCount(col("text")))
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), col("doc_id"))
    sharded
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id",
        expr(s"(__cum - n_tokens) div ${cfg.budgetTokens}").cast("long"))
      .withColumn("pos_in_pack",
        row_number().over(Window.partitionBy(col("shard"), col("pack_id"))
          .orderBy(col("__h"), col("doc_id"))))
      .select(col("shard"), col("pack_id"), col("pos_in_pack"),
        col("doc_id"), col("n_tokens"), col("text"))
  }

  /** Run the export: write `packed` as parquet partitioned by shard and
    * return corpus-level stats. Three counting actions over cached stages —
    * an export is a once-per-corpus batch job, so the bookkeeping scans are
    * noise next to the write. */
  def run(spark: SparkSession, docs: DataFrame, outDir: String,
          cfg: Config = Config(), blocklist: Option[DataFrame] = None): Stats = {
    val docsIn = docs.count()
    // filter ONCE (the blocklist Bloom build and the exact-percentile scan
    // are corpus-sized work) — both the pack and the afterFilter count
    // read this persisted frame
    val f = filtered(docs, cfg, blocklist).persist()
    val p = packFiltered(f, cfg).persist()
    try {
      // coalesce: sum over ZERO rows is null (empty corpus / keep-list
      // matching nothing) — stats must report zeros, not throw
      val agg = p.agg(
        count(lit(1)).as("docs"),
        countDistinct(col("shard"), col("pack_id")).as("packs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("tokens")).collect()(0)
      p.write.mode("overwrite").partitionBy("shard").parquet(outDir)
      // docsAfterFilter = kept + dropped-as-duplicate, counted from the
      // SAME persisted frame the pack read
      val afterFilter = f.count()
      Stats(docsIn, afterFilter, agg.getLong(0), agg.getLong(1), agg.getLong(2))
    } finally { p.unpersist(); f.unpersist() }
  }
}
