package perfbench

import org.apache.spark.sql.SparkSession

/** What every workload gets: the live session, its inputs and, on a
  * traced run, the span store and scheduler listener. */
final case class Ctx(spark: SparkSession, dataDir: String,
    workDir: java.io.File, seed: Long, seconds: Int,
    trace: Option[(Trace, JobListener)], opts: Map[String, String]) {
  def traced: Boolean = trace.isDefined

  /** Whether timed operation `i` (from 1) is traced. A traced run traces
    * half of its operations, in the order untraced, traced, traced,
    * untraced (so a steady drift in speed weighs on both halves alike),
    * and measures the tracing overhead between the halves. */
  def tracedOp(i: Int): Boolean = traced && (i % 4 == 2 || i % 4 == 3)

  /** Timed operations a run makes even past its window: a traced run
    * needs one of each kind. */
  def minOps: Int = if (traced) 2 else 1
}

/** A workload's outcome. `metrics` are the end-to-end numbers (value,
  * unit), over the untraced operations; `layers` the per-layer numbers
  * of a traced run; `firstTimedMs` the epoch time the first timed
  * operation began; `units` the traced laps or drains that per-layer
  * totals are divided by. */
final case class Outcome(attempted: Long, failed: Long,
    metrics: Map[String, (Double, String)], layers: Map[String, Double],
    firstTimedMs: Double, units: Double, notes: Map[String, Any])

/** Harness entry point, started by `perfbench/run.py`:
  * `--workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR
  *  --out FILE --launched-ms EPOCH_MS`. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val launchedMs = arg("launched-ms").toDouble
    val workDir = new java.io.File(arg("work"))
    workDir.mkdirs()
    val dataDir = arg("data")
    val seed = arg("seed").toLong
    val run: Ctx => Outcome = workload match {
      case "cdc_backlog" =>
        // the change logs are made on another thread while the session
        // starts; the session is what a user waits for first either way
        val logs = scala.concurrent.Future(
          Backlog.prepare(dataDir, workDir, seed))(
          scala.concurrent.ExecutionContext.global)
        ctx => Backlog.run(ctx, scala.concurrent.Await.result(logs,
          scala.concurrent.duration.Duration.Inf))
      case "query_serial" => QuerySerial.run
      case other => throw new IllegalArgumentException(
        s"unknown workload: $other")
    }

    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s0 = Clock.nowMs()
    val spark = graft.GraftSession.get(cpus)
    val s1 = Clock.nowMs()
    // stop the session on every path, so a failed run exits instead of
    // waiting on Spark's non-daemon threads
    try {
      val trace =
        if (arg("trace") == "1") {
          val t = new Trace
          val l = new JobListener
          spark.sparkContext.addSparkListener(l)
          t.add(-1, "session.start", "session", s0, s1)
          Some((t, l))
        } else None
      val ctx = Ctx(spark, dataDir, workDir, seed, arg("seconds").toInt,
        trace, a)
      val o = run(ctx)
      trace.foreach(t =>
        t._1.write(new java.io.File(workDir, "spans.jsonl")))

      val layers =
        if (!ctx.traced) Map.empty[String, Double]
        else {
          // set-up is the session layer's; every other layer's self time
          // is taken over the timed window, per timed unit
          val tr = trace.get._1
          val window = tr.layerSelfMs(o.firstTimedMs)
          Layers.Names.map(n => n -> 0.0).toMap ++ o.layers ++
            Layers.Modules.map(m => s"$m.self_s" ->
              window.getOrElse(m, 0.0) / 1000 / o.units) ++
            Map("session.start_ms" -> (s1 - s0), "session.self_s" ->
              tr.layerSelfMs().getOrElse("session", 0.0) / 1000)
        }
      val result = Map(
        "workload" -> workload,
        "attempted" -> o.attempted,
        "failed" -> o.failed,
        "metrics" -> (o.metrics.map { case (k, (v, u)) =>
          k -> Map("value" -> v, "unit" -> u) } +
          ("setup_s" -> Map("value" -> (o.firstTimedMs - launchedMs) / 1000,
            "unit" -> "s"))),
        "per_layer" -> layers,
        "provenance" -> Map(
          "default_parallelism" -> spark.sparkContext.defaultParallelism,
          "heap_bytes" -> Runtime.getRuntime.maxMemory(),
          "spark_cpus" -> cpus.toInt),
        "notes" -> o.notes)
      val out = new java.io.PrintWriter(new java.io.File(arg("out")), "UTF-8")
      try out.println(Json.render(result)) finally out.close()
    } finally spark.stop()
  }
}

/** The per-layer metric names a traced run reports, on every workload
  * (a layer a workload does not exercise reports 0). Layers are the
  * program's modules. */
object Layers {
  val Modules = Seq("session", "sources", "streaming", "operators",
    "functions", "util")

  val QueryKeys = Seq("build_ms", "analysis_ms", "optimization_ms",
    "planning_ms", "execution_ms", "jobs", "tasks", "task_cpu_s",
    "shuffle_write_bytes", "spill_bytes")

  val Names: Seq[String] =
    Seq("session.start_ms", "session.warmup_ms",
      "sources.latest_offset_ms.p50", "sources.latest_offset_ms.p95",
      "sources.lag_lines.max", "sources.scan_task_s", "sources.input_rows",
      "streaming.trigger_ms.p50", "streaming.trigger_ms.p95",
      "streaming.query_planning_ms.p50", "streaming.add_batch_ms.p50",
      "streaming.state_commit_ms.p50", "streaming.wal_commit_ms.p50",
      "streaming.commit_offsets_ms.p50", "streaming.batches",
      "streaming.nonempty_batch_ratio", "streaming.tx_task_s",
      "streaming.sink_task_s", "streaming.sink_files",
      "streaming.sink_bytes", "streaming.state_rows",
      "streaming.state_bytes", "streaming.rocksdb.file_sync_ms",
      "streaming.rocksdb.changelog_commit_ms", "streaming.rocksdb.load_ms",
      "streaming.rocksdb.sst_bytes") ++
      Seq("operators", "functions").flatMap(l => QueryKeys.map(k => s"$l.$k")) ++
      Seq("util.memo_gets", "util.memo_builds", "util.memo_hit_ratio",
        "util.loop_rounds", "util.cache_release_ms") ++
      Modules.map(m => s"$m.self_s")
}
