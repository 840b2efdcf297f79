package perfbench

/** `cdc_backlog`: a closed-loop drain of a seeded multi-segment change
  * log through the deployed pipe (`PipeAssembly.start` with
  * `availableNow`, default profile, durable parquet sink), repeated on
  * fresh checkpoints until the window is spent. One drain is one
  * catch-up after an outage: per-row cost (source scan and parse, the
  * tx-grouping state function and RocksDB, the parquet write) sets its
  * time, and per-batch fixed cost is a few percent. */
object Backlog {
  /** Mutations per drain: enough that a warm drain takes a few seconds
    * on a 4-core host, so the fixed cost of starting a query stays
    * small next to the rows. */
  val Mutations = 300000L
  /** Rotated segments: the source reads one partition per segment. */
  val Segments = 8

  /** Mutations of the warm-up drain, on a log of its own: half a timed
    * drain, enough for the JIT to compile the per-row paths (with a
    * fifth of a drain the first timed drain still ran 25-40% slower). */
  val WarmupMutations = 150000L

  final case class Logs(warm: Gen, timed: Gen, seconds: Double)

  /** Generate the warm-up log and the timed log (no Spark needed). */
  def prepare(dataDir: String, workDir: java.io.File, seed: Long): Logs = {
    val t0 = Clock.nowMs()
    val events = SourceEvents.load(dataDir)
    val warm = new Gen(seed + 1, events)
    warm.backlog(new java.io.File(workDir, "warmup-log"), WarmupMutations,
      Segments)
    val timed = new Gen(seed, events)
    timed.backlog(new java.io.File(workDir, "log"), Mutations, Segments)
    Logs(warm, timed, (Clock.nowMs() - t0) / 1000)
  }

  def run(ctx: Ctx, logs: Logs): Outcome = {
    val spark = ctx.spark
    val w0 = Clock.nowMs()
    val gen = logs.timed

    final case class Drain(ms: Double, traced: Boolean,
        delivery: Stats.Delivery, layers: Map[String, Double])

    def drain(i: Int, g: Gen, log: String, traced: Boolean): Drain = {
      val dir = new java.io.File(ctx.workDir, s"drain-$i")
      val t0 = Clock.nowMs()
      val q = Cdc.start(spark, new java.io.File(ctx.workDir, log), dir)
      val ok = try { q.awaitTermination(); true } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] drain $i failed: ${e.getMessage}")
          false
      }
      val t1 = Clock.nowMs()
      val delivery =
        if (ok) Stats.exactlyOnce(g.ledger, Cdc.sinkRows(spark, dir).iterator)
        else Stats.exactlyOnce(g.ledger, Iterator.empty)
      val layers = ctx.trace.filter(_ => traced).map { case (tr, l) =>
        val d = tr.add(-1, s"drain.$i", "harness", t0, t1)
        val stages = Cdc.traceBatches(spark, tr, l, d, q, q.recentProgress.toSeq)
        Cdc.layers(q.recentProgress.toSeq, stages, Cdc.sinkFiles(dir))
      }.getOrElse(Map.empty)
      Cdc.deleteTree(dir)
      Drain(t1 - t0, traced, delivery, layers)
    }

    val warm = drain(0, logs.warm, "warmup-log", traced = false)
    val w1 = Clock.nowMs()
    ctx.trace.foreach(_._1.add(-1, "session.warmup", "session", w0, w1))

    val start = Clock.nowMs()
    val drains = scala.collection.mutable.ArrayBuffer.empty[Drain]
    while (Clock.nowMs() - start < ctx.seconds * 1000.0 ||
        drains.size < ctx.minOps) {
      val i = drains.size + 1
      drains += drain(i, gen, "log", ctx.tracedOp(i))
    }
    val (traced, untraced) = drains.partition(_.traced)
    def perSecond(ds: scala.collection.Seq[Drain]) =
      Stats.median(ds.map(d => gen.mutations / (d.ms / 1000)))

    val failures = (warm +: drains).map(_.delivery).filter(_.failed > 0)
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else traced.flatMap(_.layers).groupBy(_._1).map { case (k, kv) =>
        k -> kv.map(_._2).sum / traced.size } ++ Map(
        "session.warmup_ms" -> (w1 - w0),
        "harness.overhead_pct" ->
          Stats.overheadPct(traced.map(_.ms), untraced.map(_.ms)))
    // the warm-up drain is checked like a timed one and counts with them
    Outcome(
      attempted = logs.warm.mutations + drains.size * gen.mutations,
      failed = (warm +: drains).map(_.delivery.failed).sum,
      // an operation is a generated mutation, as in `attempted`
      metrics = Map("ops_per_s" -> ((perSecond(untraced), "1/s"))),
      layers = layers, firstTimedMs = start, units = traced.size,
      notes = Map("drains" -> drains.size,
        "generate_s" -> logs.seconds, "warmup_drain_s" -> warm.ms / 1000,
        "drain_s" -> drains.map(_.ms / 1000),
        "drain_traced" -> drains.map(_.traced),
        "log_lines" -> gen.lines, "mutations" -> gen.mutations,
        "rolled_back" -> gen.rolledBack, "segments" -> Segments,
        "delivery_failures" -> failures.map(_.toString),
        "generator" -> Gen.Varied))
  }
}
