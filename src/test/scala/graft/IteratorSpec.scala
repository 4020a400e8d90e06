package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.GraftClient

/** Milvus `search_iterator` / `query_iterator` parity: keyset-cursor
  * batched iteration past the offset cap — pages tile the full ranking
  * exactly, snapshot-pinned against mid-iteration commits. */
class IteratorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("iterator-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def newClient(): GraftClient = {
    val root = java.nio.file.Files.createTempDirectory("graft-iter").toString
    new GraftClient(spark, root)
  }

  private def seed(client: GraftClient, name: String, n: Int,
                   indexNlist: Option[Int] = None): Unit = {
    import spark.implicits._
    client.createCollection(name, dim = 2)
    val rows = (0 until n).map { i =>
      (f"k$i%04d", Seq(i.toFloat, (i % 7).toFloat), Map("grp" -> (i % 3).toString))
    }
    client.upsert(name, rows.toDF("key", "vec", "meta"))
    indexNlist.foreach(nl => client.buildIndex(name, nlist = nl))
  }

  test("searchIterator pages tile one big exact search; short final page terminates") {
    val client = newClient()
    seed(client, "si", 47)
    val q = Array(3.0f, 2.0f)
    val pages = client.searchIterator("si", q, batchSize = 10).toSeq
    assert(pages.length == 5, s"expected 5 pages (10×4 + 7), got ${pages.length}")
    assert(pages.map(_.length) == Seq(10, 10, 10, 10, 7))
    val tiled = pages.flatten.map(r => (r.getString(0), r.getDouble(1)))
    // one giant search at k = n (within the page-depth cap) as the truth
    val whole = client.search("si", q, k = 47).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(tiled == whole, "concatenated pages must equal the single search")
    // strictly non-decreasing distance, strict (distance, key) order
    assert(tiled.sliding(2).forall { case Seq(a, b) =>
      a._2 < b._2 || (a._2 == b._2 && a._1 < b._1) })
  }

  test("searchIterator drains ALL rows through a fresh IVF index at nprobe >= nlist") {
    val client = newClient()
    seed(client, "sii", 60, indexNlist = Some(4))
    val pages = client.searchIterator("sii", Array(1.0f, 1.0f),
      batchSize = 25, nprobe = 4).toSeq
    assert(pages.flatten.length == 60, "nprobe = nlist must enumerate everything")
    // and with nprobe = 1 the iterator drains exactly the probed cell
    val pruned = client.searchIterator("sii", Array(1.0f, 1.0f),
      batchSize = 25, nprobe = 1).toSeq.flatten
    assert(pruned.length < 60 && pruned.nonEmpty,
      s"nprobe = 1 should cover one cell, got ${pruned.length} of 60")
  }

  test("searchIterator composes with a metadata filter") {
    val client = newClient()
    seed(client, "sif", 50)
    val only1 = client.searchIterator("sif", Array(0.0f, 0.0f), batchSize = 7,
      filter = Some(element_at(col("meta"), "grp") === "1")).toSeq.flatten
    assert(only1.length == 17) // i % 3 == 1 for 0 until 50
    assert(only1.forall(_.getMap[String, String](2).get("grp").contains("1")))
  }

  test("mid-iteration commit raises; allowDrift continues") {
    import spark.implicits._
    val client = newClient()
    seed(client, "sic", 30)
    val it = client.searchIterator("sic", Array(0.0f, 0.0f), batchSize = 10)
    assert(it.next().length == 10)
    client.upsert("sic", Seq(("zz", Seq(99f, 99f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    intercept[java.util.ConcurrentModificationException](it.next())

    val drifting = client.searchIterator("sic", Array(0.0f, 0.0f),
      batchSize = 10, allowDrift = true)
    assert(drifting.next().length == 10)
    client.upsert("sic", Seq(("zz2", Seq(98f, 98f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    assert(drifting.next().length == 10, "allowDrift pages through the commit")
  }

  test("a drain that served its short last page stays drained across a " +
       "later commit (float, binary and sparse)") {
    import spark.implicits._
    val client = newClient()
    val none = Map.empty[String, String]
    seed(client, "sd", 15)
    client.createCollection("bd", dim = 64, metric = "hamming",
      vectorType = "BINARY_VECTOR")
    client.upsert("bd", (0 until 15).map(i => (f"k$i%04d", Seq(i.toLong), none))
      .toDF("key", "vec", "meta"))
    client.createCollection("spd", dim = 0, metric = "dot",
      vectorType = "SPARSE_FLOAT_VECTOR")
    client.upsert("spd", (0 until 15).map(i => (f"k$i%04d", Map(0L -> (i + 1.0)), none))
      .toDF("key", "vec", "meta"))
    val drains = Seq(
      "float" -> client.searchIterator("sd", Array(0f, 0f), batchSize = 10),
      "binary" -> client.searchBinaryIterator("bd", Array(0L), batchSize = 10),
      "sparse" -> client.searchSparseIterator("spd", Seq(0L -> 1.0), batchSize = 10))
    drains.foreach { case (family, it) =>
      assert(it.next().length == 10, family)
      assert(it.next().length == 5, s"$family: the short page serves the last rows")
    }
    client.upsert("sd", Seq(("zz", Seq(9f, 9f), none)).toDF("key", "vec", "meta"))
    client.upsert("bd", Seq(("zz", Seq(7L), none)).toDF("key", "vec", "meta"))
    client.upsert("spd", Seq(("zz", Map(0L -> 0.5), none)).toDF("key", "vec", "meta"))
    drains.foreach { case (family, it) =>
      assert(!it.hasNext, s"$family: a drained iterator must not fetch again")
    }
  }

  test("queryIterator with allowDrift survives commits that vacuum the creation-time snapshot") {
    import spark.implicits._
    val client = newClient()
    seed(client, "qv", 25)
    val it = client.queryIterator("qv", lit(true), batchSize = 10, allowDrift = true)
    assert(it.next().length == 10)
    // three commits rewriting the same keys: with retain = 2 the bucket
    // dirs the creation-time frame bound are vacuumed — a frame pinned at
    // creation would now die with FileNotFoundException; the per-page
    // rebuild must keep serving pages from the current snapshot
    (0 until 3).foreach { i =>
      client.upsert("qv", (0 until 25).map { j =>
        (f"k$j%04d", Seq(j.toFloat, i.toFloat), Map("grp" -> (j % 3).toString))
      }.toDF("key", "vec", "meta"))
    }
    val rest = Iterator.continually(if (it.hasNext) Some(it.next()) else None)
      .takeWhile(_.isDefined).flatten.flatten.toSeq
    assert(rest.nonEmpty && rest.forall(_.getString(0) > "k0009"),
      "post-vacuum pages must keep the keyset cursor and keep serving rows")
  }

  test("queryIterator pages tile queryWhere ordered by key; filter pushdown holds") {
    val client = newClient()
    seed(client, "qi", 43)
    val pred = element_at(col("meta"), "grp") =!= "2"
    val pages = client.queryIterator("qi", pred, batchSize = 10).toSeq
    val tiledKeys = pages.flatten.map(_.getString(0))
    val wholeKeys = client.queryWhere("qi", pred).collect().map(_.getString(0)).toSeq
    assert(tiledKeys == wholeKeys)
    assert(pages.map(_.length).last <= 10 && pages.flatten.length == wholeKeys.length)
    // keyset cursor reaches the scan: page 2's plan pushes key > cursor
    // (spot-check via explain of an equivalent frame)
    val plan = client.queryWhere("qi", col("key") > "k0009").queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(key"),
      s"key cursor must reach Parquet:\n$plan")
  }

  test("queryIterator covers scoped partitions with duplicate keys intact") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("qp", dim = 2)
    client.createPartition("qp", "p1")
    client.upsert("qp", Seq(("dup", Seq(1f, 0f), Map("src" -> "default")))
      .toDF("key", "vec", "meta"))
    client.upsert("qp", Seq(("dup", Seq(2f, 0f), Map("src" -> "p1")))
      .toDF("key", "vec", "meta"), partition = "p1")
    val rows = client.queryIterator("qp", lit(true), batchSize = 1,
      partitions = Seq(GraftClient.DefaultPartition, "p1")).toSeq.flatten
    assert(rows.length == 2, "cross-partition duplicate keys must both appear")
    assert(rows.map(_.getString(0)).toSet == Set("dup"))
  }

  test("deep-page cursor cell prune: lossless full drain on clustered data, and it fires") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("prune", dim = 2, indexType = "IVF_FLAT", nlist = 4)
    // four tight clusters at L2 distance ~0 / 10 / 20 / 30 from the query
    val rows = (0 until 200).map { i =>
      val c = i % 4
      (f"k$i%04d",
        Seq(c * 10.0f + (i % 7) * 0.01f, (i % 5) * 0.01f),
        Map("c" -> c.toString))
    }
    client.upsert("prune", rows.toDF("key", "vec", "meta"))
    client.buildIndex("prune", nlist = 4)
    val q = Array(0.0f, 0.0f)
    // completeness: a full drain through the index must see EVERY key in
    // strict (distance, key) order — an unsound prune loses keys
    val drained = client.searchIterator("prune", q, batchSize = 30, nprobe = 4)
      .toSeq.flatten.map(r => (r.getString(0), r.getDouble(1)))
    assert(drained.map(_._1).toSet == rows.map(_._1).toSet,
      s"drain lost ${200 - drained.size} rows — the cursor prune is unsound")
    assert(drained.sliding(2).forall { case Seq(a, b) =>
      a._2 < b._2 || (a._2 == b._2 && a._1 < b._1) })
    // engagement: with the cursor past cluster 2 (distance ~20), the two
    // near clusters (max dist ≲ 10.1) are provably below it — ≥2 cells skip
    assert(client.cursorPrunedCellCount("prune", q, cursorDist = 19.0) >= 2,
      "the prune never fired on geometry built for it")
    assert(client.cursorPrunedCellCount("prune", q, cursorDist = -1.0) == 0,
      "nothing is prunable before the cursor has advanced")
  }

  test("searchIterator on SQ8: margin drain tiles the TRUE exact ranking") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("sq8i", dim = 2, indexType = "IVF_SQ8", nlist = 4)
    val rows = (0 until 90).map { i =>
      (f"k$i%04d", Seq(i.toFloat, (i % 5).toFloat), Map.empty[String, String])
    }
    client.upsert("sq8i", rows.toDF("key", "vec", "meta"))
    client.buildIndex("sq8i", nlist = 4)
    val q = Array(40.0f, 2.0f)
    // the quantized-keyset drain emits in EXACT distance order — the
    // truth is the brute-force ranking over the fixture (nprobe = nlist
    // covers every cell), not search()'s depth-bounded stage-1 pool
    val truth = rows.map { case (k, v, _) =>
      (k, math.sqrt(math.pow(v(0) - 40.0, 2) + math.pow(v(1) - 2.0, 2)))
    }.sortBy { case (k, d) => (d, k) }
    val pages = client.searchIterator("sq8i", q, batchSize = 20, nprobe = 4).toSeq
    assert(pages.map(_.length) == Seq(20, 20, 20, 20, 10))
    val tiled = pages.flatten.map(r => (r.getString(0), r.getDouble(1)))
    assert(tiled.map(_._1) == truth.map(_._1),
      "SQ8 drain must equal the exact ranking, key for key")
    tiled.zip(truth).foreach { case ((_, d), (_, t)) =>
      assert(math.abs(d - t) < 1e-6, s"distance $d != exact $t") }
  }

  test("searchIterator on SQ8 drains past the old depth cap, FLAT-parity") {
    import spark.implicits._
    val client = newClient()
    val n = 10020 // > the former 10000-per-page depth ceiling
    val df = spark.range(n)
      .selectExpr("lpad(cast(id as string), 8, '0') AS key",
        "array(cast(id as float), cast(id % 11 as float)) AS vec",
        "map() AS meta")
    client.createCollection("sq8cap", dim = 2, indexType = "IVF_SQ8", nlist = 2)
    client.upsert("sq8cap", df)
    client.buildIndex("sq8cap", nlist = 2)
    client.createCollection("flatcap", dim = 2, indexType = "IVF_FLAT", nlist = 2)
    client.upsert("flatcap", df)
    client.buildIndex("flatcap", nlist = 2)
    def drain(name: String): Seq[String] =
      client.searchIterator(name, Array(0.0f, 0.0f), batchSize = 4000,
        nprobe = 2).flatten.map(_.getString(0)).toSeq
    val sq8 = drain("sq8cap")
    assert(sq8.length == n, s"unbounded SQ8 drain must cover all $n rows, got ${sq8.length}")
    assert(sq8 == drain("flatcap"),
      "SQ8 drain must equal the FLAT drain — same rows, same order, zero lost")
  }

  test("SQ8 margin drain composes with a metadata filter") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("sq8f", dim = 2, indexType = "IVF_SQ8", nlist = 4)
    client.upsert("sq8f", (0 until 120).map { i =>
      (f"k$i%04d", Seq(i.toFloat, (i % 7).toFloat), Map("grp" -> (i % 3).toString))
    }.toDF("key", "vec", "meta"))
    client.buildIndex("sq8f", nlist = 4)
    val pred = element_at(col("meta"), "grp") === "1"
    val drained = client.searchIterator("sq8f", Array(5f, 1f), batchSize = 7,
      filter = Some(pred), nprobe = 4).flatten.map(_.getString(0)).toSeq
    assert(drained.length == 40, s"i % 3 == 1 for 0 until 120, got ${drained.length}")
    // the filter binds stage 1 (gated-out rows consume no candidate
    // slots) and the emitted order equals the filtered exact ranking
    val whole = client.search("sq8f", Array(5f, 1f), k = 120,
      filter = Some(pred), nprobe = 4).collect().map(_.getString(0)).toSeq
    assert(drained.take(whole.length) == whole.take(drained.length))
  }

  test("SQ8 index going LIVE mid-drain throws loudly instead of truncating") {
    import spark.implicits._
    val client = newClient()
    // SQ8-typed collection with NO index yet: the iterator dispatches
    // onto the exact keyset path at creation
    client.createCollection("sq8flip", dim = 2, indexType = "IVF_SQ8", nlist = 2)
    client.upsert("sq8flip", (0 until 60).map { i =>
      (f"k$i%04d", Seq(i.toFloat, (i % 7).toFloat), Map.empty[String, String])
    }.toDF("key", "vec", "meta"))
    val it = client.searchIterator("sq8flip", Array(0f, 0f), batchSize = 5)
    assert(it.next().nonEmpty)
    // a build completing mid-drain is INVISIBLE to the snapshot pin
    // (builds bump no store version) — silently flipping later pages
    // into the depth-bounded sq8Scored pool would truncate the drain;
    // the pinned dispatch throws instead
    client.buildIndex("sq8flip", nlist = 2)
    val ex = intercept[IllegalStateException] {
      while (it.hasNext) it.next()
    }
    assert(ex.getMessage.contains("SQ8"), s"got: ${ex.getMessage}")
  }

  test("IVF_FLAT index going LIVE mid-drain throws too — the quiet truncation arm") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("flatflip", dim = 2, indexType = "IVF_FLAT", nlist = 2)
    client.upsert("flatflip", (0 until 60).map { i =>
      (f"k$i%04d", Seq(i.toFloat, (i % 7).toFloat), Map.empty[String, String])
    }.toDF("key", "vec", "meta"))
    // dispatched on the exact scan (no index yet) — a FLAT index going
    // live mid-drain would silently prune later pages to the nprobe
    // probed cells, dropping every unprobed cell's remaining rows: the
    // same truncation as the SQ8 flip, quieter. Must throw instead.
    val it = client.searchIterator("flatflip", Array(0f, 0f), batchSize = 5,
      nprobe = 1)
    assert(it.next().nonEmpty)
    client.buildIndex("flatflip", nlist = 2)
    val ex = intercept[IllegalStateException] {
      while (it.hasNext) it.next()
    }
    assert(ex.getMessage.contains("went live mid-drain"), s"got: ${ex.getMessage}")
  }

  test("SQ8 drain on a distance PLATEAU: hold-back heap stays capped, order parity holds") {
    import spark.implicits._
    val client = newClient()
    // 6000 IDENTICAL vectors — every exact distance equal, every row
    // within ε of the quantized frontier until stage 1 drains: the
    // adversarial geometry that kept the old hold-back heap unbounded
    val n = 6000
    val df = spark.range(n)
      .selectExpr("lpad(cast(id as string), 8, '0') AS key",
        "array(1.0f, 1.0f) AS vec", "map() AS meta")
    client.createCollection("sq8dup", dim = 2, indexType = "IVF_SQ8", nlist = 2)
    client.upsert("sq8dup", df)
    client.buildIndex("sq8dup", nlist = 2)
    client.createCollection("flatdup", dim = 2, indexType = "IVF_FLAT", nlist = 2)
    client.upsert("flatdup", df)
    client.buildIndex("flatdup", nlist = 2)
    val batch = 128 // chunk = 512, cap = max(8*512, 4096) = 4096 < n
    GraftClient.resetDrainHeldPeak()
    GraftClient.resetDegradeCheckpoint()
    def drain(name: String): Seq[String] =
      client.searchIterator(name, Array(0.0f, 0.0f), batchSize = batch,
        nprobe = 2).flatten.map(_.getString(0)).toSeq
    val sq8 = drain("sq8dup")
    // driver memory contract: the heap never exceeds cap + one chunk
    // (the overflow batch that trips the degrade switch)
    val cap = 4096 + batch * 4
    assert(GraftClient.drainHeldPeakValue <= cap,
      s"hold-back heap peaked at ${GraftClient.drainHeldPeakValue} > $cap — " +
        "the plateau accumulated on the driver")
    assert(GraftClient.drainHeldPeakValue > 0, "drain must have exercised the heap")
    assert(sq8.length == n, s"plateau drain must cover all $n rows, got ${sq8.length}")
    // the degrade switch must materialize the exact-ranked base ONCE
    // (checkpointed — a LogicalRDD scan), so each degraded page is a
    // bounded TakeOrdered over materialized rows instead of a full
    // probed-cells re-rank per page (timing-free plan check)
    val ckpt = GraftClient.lastDegradeCheckpointPlan
    assert(ckpt.isDefined, "the plateau must have tripped the degrade switch")
    assert(ckpt.get.contains("LogicalRDD"),
      s"degraded base must be a checkpoint scan, got:\n${ckpt.get}")
    // emission order parity through the degrade switch: all distances
    // tie, so the exact order is pure key order — and must equal FLAT's
    assert(sq8 == drain("flatdup"),
      "degraded SQ8 drain must equal the FLAT drain — same rows, same order")
  }

  test("PQ drain on a distance PLATEAU: capped heap, degrade parity, checkpointed base") {
    import spark.implicits._
    val client = newClient()
    // the same adversarial geometry as the SQ8 plateau, under IVF_PQ:
    // identical vectors make every ADC distance tie, so everything sits
    // within ε of the frontier until stage 1 drains — the hold-back heap
    // must cap, flip to the degraded exact drain, and keep exact (key)
    // order through the switch
    val n = 6000
    val df = spark.range(n)
      .selectExpr("lpad(cast(id as string), 8, '0') AS key",
        "array(1.0f, 1.0f, 1.0f, 1.0f) AS vec", "map() AS meta")
    client.createCollection("pqdup", dim = 4, indexType = "IVF_PQ", nlist = 2)
    client.upsert("pqdup", df)
    client.buildIndex("pqdup", nlist = 2)
    client.createCollection("flatdup4", dim = 4, indexType = "IVF_FLAT", nlist = 2)
    client.upsert("flatdup4", df)
    client.buildIndex("flatdup4", nlist = 2)
    val batch = 128
    GraftClient.resetDrainHeldPeak()
    GraftClient.resetDegradeCheckpoint()
    GraftClient.resetMarginFamilies()
    def drain(name: String): Seq[String] =
      client.searchIterator(name, Array(0.0f, 0.0f, 0.0f, 0.0f),
        batchSize = batch, nprobe = 2).flatten.map(_.getString(0)).toSeq
    val pq = drain("pqdup")
    assert(GraftClient.marginFamiliesSeen.contains("pq"),
      "the plateau drain must have dispatched the PQ margin stream")
    val cap = 4096 + batch * 4
    assert(GraftClient.drainHeldPeakValue <= cap,
      s"hold-back heap peaked at ${GraftClient.drainHeldPeakValue} > $cap")
    assert(pq.length == n, s"PQ plateau drain must cover all $n rows, got ${pq.length}")
    val ckpt = GraftClient.lastDegradeCheckpointPlan
    assert(ckpt.isDefined && ckpt.get.contains("LogicalRDD"),
      "the PQ degrade switch must checkpoint the exact-ranked base")
    assert(pq == drain("flatdup4"),
      "degraded PQ drain must equal the FLAT drain — same rows, same order")
  }

  test("PQ margin drain composes with a metadata filter; vec filter falls back exactly") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("pqfi", dim = 4, indexType = "IVF_PQ", nlist = 4)
    client.upsert("pqfi", (0 until 120).map { i =>
      (f"k$i%04d", Seq(i.toFloat, (i % 7).toFloat, (i % 3).toFloat, 1f),
        Map("grp" -> (i % 3).toString))
    }.toDF("key", "vec", "meta"))
    client.buildIndex("pqfi", nlist = 4)
    GraftClient.resetMarginFamilies()
    val pred = element_at(col("meta"), "grp") === "1"
    val drained = client.searchIterator("pqfi", Array(5f, 1f, 0f, 1f),
      batchSize = 7, filter = Some(pred), nprobe = 4)
      .flatten.map(_.getString(0)).toSeq
    assert(GraftClient.marginFamiliesSeen.contains("pq"),
      "a meta filter resolves on the codes frame — margin drain serves it")
    assert(drained.length == 40, s"i % 3 == 1 for 0 until 120, got ${drained.length}")
    val whole = client.search("pqfi", Array(5f, 1f, 0f, 1f), k = 120,
      filter = Some(pred), nprobe = 4).collect().map(_.getString(0)).toSeq
    assert(drained.take(whole.length) == whole.take(drained.length))

    // a filter referencing vec cannot resolve on the codes frame — the
    // iterator must fall back to the float-cell drain and stay exact
    GraftClient.resetMarginFamilies()
    val vecPred = size(col("vec")) === 4 && pred
    val fallback = client.searchIterator("pqfi", Array(5f, 1f, 0f, 1f),
      batchSize = 7, filter = Some(vecPred), nprobe = 4)
      .flatten.map(_.getString(0)).toSeq
    assert(!GraftClient.marginFamiliesSeen.contains("pq"),
      "a vec-referencing filter must route off the PQ codes frame")
    assert(fallback == drained,
      "the float-cell fallback must produce the identical drain")
  }

  test("boundary validation") {
    val client = newClient()
    seed(client, "sv", 5)
    intercept[IllegalArgumentException](
      client.searchIterator("sv", Array(0f, 0f), batchSize = 0))
    intercept[IllegalArgumentException](
      client.queryIterator("sv", lit(true), batchSize = -1))
    intercept[IllegalArgumentException](
      client.searchIterator("sv", Array(0f), batchSize = 1)) // wrong dim
  }
}
