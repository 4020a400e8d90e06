package perfbench

/** The benchmark's own checks, fed right and deliberately corrupted
  * answers: each must accept the first and reject the second. A thrown
  * call must count as failed without marking the run incorrect. */
object SelfTest {
  private var failures = 0

  private def expect(what: String, cond: Boolean): Unit =
    if (!cond) { failures += 1; System.err.println(s"selftest FAILED: $what") }
    else System.err.println(s"selftest ok: $what")

  private def accepts(what: String, r: Option[String]): Unit = expect(s"accepts $what", r.isEmpty)
  private def rejects(what: String, r: Option[String]): Unit = expect(s"rejects $what", r.nonEmpty)

  def run(dir: java.nio.file.Path): Int = {
    // ingest_stream: last-write-wins model, live set, stored vectors
    val events = Seq("a" -> "ObjectCreated:Put", "b" -> "ObjectCreated:Put",
      "a" -> "ObjectRemoved:Delete", "c" -> "ObjectCreated:Copy", "a" -> "ObjectCreated:Put",
      "b" -> "ObjectRemoved:Delete")
    val want = IngestStream.lastWriteWins(events)
    expect("last-write-wins resolves a re-put after a delete", want == Set("a", "c"))
    accepts("the expected live set", IngestStream.compareSets(Set("a", "c"), want))
    rejects("a live set missing a key", IngestStream.compareSets(Set("a"), want))
    rejects("a live set holding a deleted key", IngestStream.compareSets(Set("a", "b", "c"), want))
    val embed = (k: String) => graft.ingest.Embedder.text.embedText(s"body of $k")
    val good = Seq("a", "c").map(k => k -> embed(k)).toMap
    accepts("stored embeddings", IngestStream.checkVectors(Seq("a", "c"), good, embed))
    val bent = good.updated("c", good("c").updated(0, good("c")(0) + 0.5f))
    rejects("a corrupted stored embedding", IngestStream.checkVectors(Seq("a", "c"), bent, embed))

    // error accounting: a thrown call fails the operation, not the run
    val ops = new Ops
    ops.run("call")(throw new IllegalStateException("injected"))(_ => None)
    ops.run("call")(1)(_ => None)
    expect("a thrown call counts as failed", ops.attempted.get == 2 && ops.failed.get == 1 && ops.wrong.get == 0)
    ops.run("call")(2)(_ => Some("wrong on purpose"))
    expect("a rejected answer counts as failed and wrong", ops.failed.get == 2 && ops.wrong.get == 1)

    // order statistics
    val xs = (1 to 100).map(_.toDouble)
    expect("median", Stats.median(xs) == 50.5)
    expect("tail keeps ten samples beyond it", Stats.tail(xs) == (90.0, 90.0))
    expect("tail of a short sample is its maximum", Stats.tail(xs.take(5)) == (100.0, 5.0))

    if (failures == 0) 0 else 1
  }
}
