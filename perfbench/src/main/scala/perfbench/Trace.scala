package perfbench

import org.apache.spark.scheduler._

/** One traced interval (epoch milliseconds). `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Double, end: Double)

/** Spans of a traced run, kept in memory and written once at exit. Only
  * the benchmark records spans, around its calls into each layer; the
  * program itself is not instrumented. */
final class Trace {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

  def add(parent: Int, name: String, layer: String, start: Double,
      end: Double): Int = synchronized {
    val id = spans.length
    spans += Span(id, parent, name, layer, start, end)
    id
  }

  /** Close a span opened with a provisional end. */
  def end(id: Int, end: Double): Unit = synchronized {
    spans(id) = spans(id).copy(end = end)
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per layer (ms), summed over the spans that start at or
    * after `fromMs`. */
  def layerSelfMs(fromMs: Double = Double.MinValue): Map[String, Double] = {
    val ss = all
    val kids = ss.filter(_.parent >= 0).groupBy(_.parent)
    ss.filter(_.start >= fromMs).groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => Stats.selfTime(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))).sum
    }
  }

  def write(file: java.io.File): Unit = {
    val out = new java.io.PrintWriter(file, "UTF-8")
    try all.foreach(s => out.println(Json.render(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end))))
    finally out.close()
  }
}

object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with nanosecond-clock resolution. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** A scheduler job; `group` is its job group, `batch` its micro-batch id
  * (-1 outside streaming). */
final case class Job(id: Int, group: String, batch: Long, start: Double,
    stages: Seq[Int], var end: Double = Double.NaN)

/** A completed stage with its summed task metrics. */
final case class Stage(id: Int, job: Int, parents: Seq[Int],
    start: Double, end: Double, tasks: Int, runMs: Long, cpuNs: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

/** Jobs and stages as the scheduler reports them, for the traced run. */
final class JobListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, Job(e.jobId, group, batch, e.time.toDouble, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    stages.add(Stage(i.stageId, stageJob.getOrDefault(i.stageId, -1),
      i.parentIds, i.submissionTime.getOrElse(0L).toDouble,
      i.completionTime.getOrElse(0L).toDouble, i.numTasks,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L)))
  }

  def jobsWhere(f: Job => Boolean): Seq[Job] = {
    val out = Seq.newBuilder[Job]
    jobs.values().forEach(j => if (f(j)) out += j)
    out.result().sortBy(_.id)
  }

  def stagesOf(jobId: Int): Seq[Stage] = {
    val out = Seq.newBuilder[Stage]
    stages.forEach(s => if (s.job == jobId) out += s)
    out.result().sortBy(_.id)
  }
}
