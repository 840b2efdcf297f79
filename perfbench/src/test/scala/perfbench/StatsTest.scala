package perfbench

/** Self-test of the benchmark's own arithmetic (no Spark session):
  * `python3 perfbench/run.py --self-test`. Exits non-zero on the first
  * failed check. */
object StatsTest {
  private var checks = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    checks += 1
    if (!cond) {
      System.err.println(s"FAIL: $name")
      sys.exit(1)
    }
  }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    // percentile selection (nearest rank)
    val xs = (1 to 100).map(_.toDouble).reverse
    check("p50 of 1..100")(Stats.percentile(xs, 0.5) == 50.0)
    check("p95 of 1..100")(Stats.percentile(xs, 0.95) == 95.0)
    check("p100 is the max")(Stats.percentile(xs, 1.0) == 100.0)
    check("tiny p is the min")(Stats.percentile(xs, 0.001) == 1.0)
    check("p75 of 4 samples")(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 0.75) == 3.0)
    check("single sample")(Stats.percentile(Seq(7.0), 0.95) == 7.0)
    check("p0 rejected")(scala.util.Try(Stats.percentile(xs, 0.0)).isFailure)
    check("empty rejected")(scala.util.Try(Stats.percentile(Nil, 0.5)).isFailure)
    check("odd median")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("even median")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("overhead of medians")(
      near(Stats.overheadPct(Seq(110.0, 300.0, 100.0), Seq(100.0, 90.0, 120.0)), 10))
    check("negative overhead")(near(Stats.overheadPct(Seq(90.0), Seq(100.0)), -10))

    // span self time
    check("no children")(near(Stats.selfTime(0, 10, Nil), 10))
    check("disjoint children")(
      near(Stats.selfTime(0, 10, Seq((1.0, 3.0), (5.0, 6.0))), 7))
    check("overlapping children counted once")(
      near(Stats.selfTime(0, 10, Seq((1.0, 4.0), (2.0, 6.0))), 5))
    check("children clipped to parent")(
      near(Stats.selfTime(0, 10, Seq((-5.0, 2.0), (8.0, 20.0))), 6))
    check("fully covered")(near(Stats.selfTime(0, 10, Seq((0.0, 10.0))), 0))
    check("nested children")(
      near(Stats.selfTime(0, 10, Seq((1.0, 9.0), (2.0, 3.0))), 2))
    val tr = new Trace
    val root = tr.add(-1, "batch", "streaming", 0, 100)
    val add = tr.add(root, "addBatch", "streaming", 10, 90)
    tr.add(add, "stage", "sources", 20, 50)
    tr.add(root, "latestOffset", "sources", 0, 10)
    val self = tr.layerSelfMs()
    check("layer self: streaming")(near(self("streaming"), 10 + 50))
    check("layer self: sources")(near(self("sources"), 30 + 10))

    // file -> batch matching through the sink's metadata log
    val files = Stats.filesPerBatch(Seq(
      2L -> Seq("a", "b", "c"), // compacted log repeats earlier files
      0L -> Seq("a"), 1L -> Seq("b"), 3L -> Seq("d")))
    check("files per batch")(files == Map("a" -> 0L, "b" -> 1L, "c" -> 2L,
      "d" -> 3L))

    // exactly-once check
    val k = (c: Long, s: Long) => Stats.key(c, s)
    val ledger = scala.collection.mutable.LongMap(
      k(1, 2) -> 50L, k(1, 3) -> 50L, k(2, 2) -> -1L, k(3, 5) -> 70L)
    val clean = Stats.exactlyOnce(ledger,
      Iterator(k(1, 2) -> 50L, k(1, 3) -> 50L, k(3, 5) -> 70L))
    check("clean delivery")(clean.failed == 0 && clean.delivered == 3 &&
      clean.expected == 3)
    val bad = Stats.exactlyOnce(ledger, Iterator(
      k(1, 2) -> 50L, k(1, 2) -> 50L, // duplicate
      k(2, 2) -> 60L, // rolled back, delivered anyway
      k(9, 9) -> 1L, // unknown
      k(3, 5) -> 71L)) // wrong commit timestamp; k(1, 3) missing
    check("missing")(bad.missing == 1)
    check("duplicated")(bad.duplicated == 1)
    check("wrong")(bad.wrong == 2)
    check("ts mismatch")(bad.tsMismatch == 1)
    check("failed sums")(bad.failed == 5)
    check("key range")(scala.util.Try(Stats.key(-1, 0)).isFailure)

    println(s"perfbench self-test: $checks checks passed")
  }
}
