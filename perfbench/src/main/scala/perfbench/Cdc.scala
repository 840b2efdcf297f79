package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The CDC workload's plumbing: starting the deployed pipe, reading
  * back what its parquet sink committed, and turning the query's
  * progress reports and scheduler events into per-layer numbers. */
object Cdc {

  /** `PipeAssembly.start` (default profile, `availableNow`) over
    * `logDir` into a fresh parquet sink and checkpoint under `dir`. */
  def start(spark: SparkSession, logDir: java.io.File, dir: java.io.File)
      : StreamingQuery =
    graft.streaming.PipeAssembly.start(spark, Map(
      "source.path" -> logDir.getAbsolutePath,
      "sink.format" -> "parquet",
      "sink.path" -> new java.io.File(dir, "sink").getAbsolutePath,
      "sink.checkpoint" -> new java.io.File(dir, "ckpt").getAbsolutePath),
      availableNow = true)

  final case class SinkFile(batch: Long, name: String, bytes: Long)

  /** The files the sink committed, per batch, from its metadata log. */
  def sinkFiles(dir: java.io.File): Seq[SinkFile] = {
    val logDir = new java.io.File(dir, "sink/_spark_metadata")
    val logs = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .flatMap { f =>
        val id = f.getName.stripSuffix(".compact")
        if (id.forall(_.isDigit)) Some(id.toLong -> f) else None
      }
    val PathRe = "\"path\":\"([^\"]+)\"".r
    val SizeRe = "\"size\":(\\d+)".r
    val sizes = scala.collection.mutable.Map.empty[String, Long]
    val perBatch = logs.toSeq.map { case (b, f) =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val names = try src.getLines().drop(1).flatMap { line =>
        PathRe.findFirstMatchIn(line).map { m =>
          val name = baseName(m.group(1))
          SizeRe.findFirstMatchIn(line).foreach(s => sizes(name) = s.group(1).toLong)
          name
        }
      }.toList finally src.close()
      b -> names
    }
    Stats.filesPerBatch(perBatch).toSeq.map { case (name, b) =>
      SinkFile(b, name, sizes.getOrElse(name, 0L)) }.sortBy(_.batch)
  }

  def baseName(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  /** Every committed row as (event key, commitTsUs). */
  def sinkRows(spark: SparkSession, dir: java.io.File): Array[(Long, Long)] =
    spark.read.parquet(new java.io.File(dir, "sink").getAbsolutePath)
      .selectExpr("conn", "seq", "commitTsUs")
      .collect()
      .map(r => (Stats.key(r.getLong(0), r.getLong(1)), r.getLong(2)))

  def duration(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  /** End of a batch: its trigger start plus the whole trigger's time. */
  private def endMs(p: StreamingQueryProgress): Double =
    startMs(p) + duration(p, "triggerExecution")

  private val LineRe = "\"line\":(\\d+)".r
  private def line(offset: String): Long =
    Option(offset).flatMap(o => LineRe.findFirstMatchIn(o))
      .map(_.group(1).toLong).getOrElse(0L)

  private def rocks(p: StreamingQueryProgress, k: String): Double =
    p.stateOperators.map(so =>
      Option(so.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)).sum

  /** The phases of one batch in the order the micro-batch engine runs
    * them; progress reports durations only, so the traced run lays the
    * phase spans end to end from the batch start. */
  val Phases: Seq[(String, String)] = Seq("latestOffset" -> "sources",
    "walCommit" -> "streaming", "getBatch" -> "sources",
    "queryPlanning" -> "streaming", "addBatch" -> "streaming",
    "commitOffsets" -> "streaming")

  /** Per-layer numbers of one drain from its progress reports (`all`
    * includes empty batches) and scheduler stages. */
  def layers(all: Seq[StreamingQueryProgress], stages: Seq[Stage],
      files: Seq[SinkFile])
      : Map[String, Double] = {
    val ps = all.filter(_.numInputRows > 0)
    def p(xs: Seq[Double], q: Double) =
      if (xs.isEmpty) 0.0 else Stats.percentile(xs, q)
    def d(k: String) = ps.map(duration(_, k))
    val stateCommit = ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)
    val txMs = ps.map(_.stateOperators.map(so =>
      so.allUpdatesTimeMs + so.allRemovalsTimeMs + so.commitTimeMs).sum)
      .sum.toDouble
    // source stages read the change log and have no parent stage; the
    // rest run tx grouping and the parquet write in one pipelined stage
    val (scan, rest) = stages.partition(_.parents.isEmpty)
    val last = ps.lastOption
    Map(
      "sources.latest_offset_ms.p50" -> p(d("latestOffset"), 0.5),
      "sources.latest_offset_ms.p95" -> p(d("latestOffset"), 0.95),
      "sources.lag_lines.max" -> (if (all.isEmpty) 0.0 else all.map { x =>
        x.sources.map(s => line(s.latestOffset) - line(s.endOffset)).sum
      }.max.toDouble),
      "sources.scan_task_s" -> scan.map(_.runMs).sum / 1000.0,
      "sources.input_rows" -> ps.map(_.numInputRows).sum,
      "streaming.trigger_ms.p50" -> p(d("triggerExecution"), 0.5),
      "streaming.trigger_ms.p95" -> p(d("triggerExecution"), 0.95),
      "streaming.query_planning_ms.p50" -> p(d("queryPlanning"), 0.5),
      "streaming.add_batch_ms.p50" -> p(d("addBatch"), 0.5),
      "streaming.state_commit_ms.p50" -> p(stateCommit, 0.5),
      "streaming.wal_commit_ms.p50" -> p(d("walCommit"), 0.5),
      "streaming.commit_offsets_ms.p50" -> p(d("commitOffsets"), 0.5),
      "streaming.batches" -> all.size,
      "streaming.nonempty_batch_ratio" ->
        (if (all.isEmpty) 0.0 else ps.size.toDouble / all.size),
      "streaming.tx_task_s" -> txMs / 1000,
      "streaming.sink_task_s" ->
        math.max(0.0, rest.map(_.runMs).sum - txMs) / 1000,
      "streaming.sink_files" -> files.size,
      "streaming.sink_bytes" -> files.map(_.bytes).sum,
      "streaming.state_rows" ->
        last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "streaming.state_bytes" ->
        last.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      "streaming.rocksdb.file_sync_ms" ->
        ps.map(rocks(_, "rocksdbCommitFileSyncLatencyMs")).sum,
      "streaming.rocksdb.changelog_commit_ms" ->
        ps.map(rocks(_, "rocksdbChangeLogWriterCommitLatencyMs")).sum,
      "streaming.rocksdb.load_ms" ->
        ps.map(rocks(_, "rocksdbLoadLatencyMs")).sum,
      "streaming.rocksdb.sst_bytes" ->
        last.map(rocks(_, "rocksdbSstFileSize")).getOrElse(0.0))
  }

  /** Spans of every batch of one streaming query; returns the scheduler
    * stages its jobs ran. */
  def traceBatches(spark: SparkSession, tr: Trace, l: JobListener,
      parent: Int, q: StreamingQuery, progress: Seq[StreamingQueryProgress])
      : Seq[Stage] = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    // the micro-batch engine runs every job of a query in a job group
    // named after its run id
    val jobs = l.jobsWhere(_.group == q.runId.toString).groupBy(_.batch)
    progress.flatMap { p =>
      val b = tr.add(parent, s"batch.${p.batchId}", "streaming", startMs(p),
        endMs(p))
      var at = startMs(p)
      var addBatch = b
      Phases.foreach { case (k, layer) =>
        val ms = duration(p, k)
        if (ms > 0) {
          val id = tr.add(b, k, layer, at, at + ms)
          if (k == "addBatch") addBatch = id
          at += ms
        }
      }
      jobs.getOrElse(p.batchId, Nil).flatMap { j =>
        val js = tr.add(addBatch, s"job.${j.id}", "streaming", j.start,
          if (j.end.isNaN) j.start else j.end)
        l.stagesOf(j.id).map { s =>
          tr.add(js, s"stage.${s.id}",
            if (s.parents.isEmpty) "sources" else "streaming", s.start, s.end)
          s
        }
      }
    }
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
