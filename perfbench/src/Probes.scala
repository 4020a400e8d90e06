package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.functions.VectorFunctions

/** Direct probes of single layers, run in every traced run so a change to
  * one shows in its own figure and nowhere else. */
object Probes {
  /** `functions`: an exact `l2_distance` top-10 over an in-memory corpus. */
  def l2Scan(c: Ctx, vecs: Array[Array[Float]], q: Array[Float]): Unit = {
    import c.spark.implicits._
    val df = c.spark.sparkContext.parallelize(vecs.toSeq.zipWithIndex, c.cpus)
      .toDF("vec", "id").cache()
    val n = df.count()
    val qcol = org.apache.spark.sql.functions.typedLit(q)
    def scan() = df.select(col("id"), VectorFunctions.l2_distance(col("vec"), qcol).as("d"))
      .orderBy("d").limit(10).collect()
    scan()
    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds < 3 || System.nanoTime() - t0 < 5e8) { scan(); rounds += 1 }
    val sec = (System.nanoTime() - t0) / 1e9
    df.unpersist()
    c.put("functions.l2_scan_rows_per_s", n * rounds / sec, "rows/s", rounds)
  }

  /** `ingest`: `Embedder.text` over the fixture documents, one thread. */
  def embed(c: Ctx): Unit = {
    val docs = Fixtures.documents(c)
    val e = graft.ingest.Embedder.text
    docs.foreach(e.embedText)
    val t0 = System.nanoTime()
    var n = 0L
    while (n < docs.size || System.nanoTime() - t0 < 5e8) { docs.foreach(e.embedText); n += docs.size }
    c.put("ingest.embed_docs_per_s", n / ((System.nanoTime() - t0) / 1e9), "docs/s", n)
  }
}

/** The TPC-H-style tables the benchmark carries (sf0.001, seed 42). */
object Fixtures {
  @volatile private var docs: Seq[String] = _
  def documents(c: Ctx): Seq[String] = {
    if (docs == null) docs = c.spark.read.parquet(c.args.fixtures.resolve("documents.parquet").toString)
      .orderBy("doc_id").select("text").collect().map(_.getString(0)).toSeq
    docs
  }
}

/** Bytes a collection holds on disk: its keyed store and every sibling
  * directory the engine keeps beside it (`-ivf`, `-parts`, `-scalar`, ...). */
object Store {
  def bytes(client: graft.api.GraftClient, name: String): Long = {
    val data = java.nio.file.Paths.get(client.describe(name).dataPath)
    val base = data.getFileName.toString
    val s = java.nio.file.Files.list(data.getParent)
    try s.iterator().asScala
      .filter { p => val f = p.getFileName.toString; f == base || f.startsWith(base + "-") }
      .map(p => Proc.dirBytes(p)).sum
    finally s.close()
  }
}
