package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `query_serial`: a closed loop with one client, running laps over
  * fixed, named `SparkEntry.queries` in an order the seed shuffles.
  * Each query is timed from its builder call through the collect of
  * every result row (a full materialization: nothing is pruned away).
  * Hashing and cache release happen after the clock stops. The first
  * laps are warm-up and belong to set-up.
  *
  * Slices, one query each (trimmed so that every query runs about
  * twenty times in a run; see perfbench/README.md): relational drives
  * the `operators` layer, training the `functions` layer, cdc the batch
  * CDC surface. */
object QuerySerial {
  val Slices: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q1_pricing_summary"),
    "training" -> Seq("sim_knn_graph"),
    "cdc" -> Seq("cd_merge_apply"))

  /** Untimed laps before the window. A query keeps getting faster over
    * its first runs (generated-code cache, then the JIT): after four
    * warm-up laps the timed laps still fell by about a tenth per lap;
    * after eight they were flat. */
  val WarmupLaps = 8

  val sliceOf: Map[String, String] =
    Slices.flatMap { case (s, qs) => qs.map(_ -> s) }.toMap

  /** The package whose `queries` map registers a builder: the builders
    * are eta-expanded methods, so their class is hosted by the module
    * that defines them (`graft.operators.X$$Lambda...`). */
  def layerOf(fn: AnyRef): String =
    fn.getClass.getName.split('.') match {
      case Array("graft", pkg, _*) => pkg
      case _ => "unknown"
    }

  final case class Expected(rows: Long, hash: Long)

  def loadExpected(file: java.io.File): Map[String, Expected] = {
    if (!file.exists()) return Map.empty
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split("\t")).map(f => f(0) -> Expected(f(1).toLong,
        java.lang.Long.parseUnsignedLong(f(2), 16))).toMap
    finally src.close()
  }

  /** Canonical text of one value: doubles keep 9 significant digits
    * (summation order may move the last bits between runs), maps sort
    * by key, nested rows and arrays keep their order. */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0" else f"$d%.8e"
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => canon(b.bigDecimal)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case xs: Array[Byte] => xs.map(b => f"$b%02x").mkString
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def hash64(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x5eed).toLong << 32) | (stringHash(s, 0x0bad) & 0xffffffffL)
  }

  /** Order-independent hash of a result: columns in name order, one
    * 64-bit hash per row, summed (so row order does not matter but
    * every duplicate does). */
  def resultHash(fieldNames: Array[String], rows: Array[Row]): Long = {
    val order = fieldNames.indices.sortBy(fieldNames(_))
    rows.foldLeft(0L)((acc, r) =>
      acc + hash64(order.map(i => canon(r.get(i))).mkString("\u0001")))
  }

  final case class Timed(name: String, layer: String, ms: Double,
      rows: Long, hash: Long, df: DataFrame, start: Double, built: Double,
      end: Double)

  /** Build and fully materialize one query; the clock covers both. */
  def timeQuery(spark: SparkSession, dir: String, name: String)
      : Either[Throwable, Timed] = {
    val fn = graft.SparkEntry.queries(name)
    val t0 = Clock.nowMs()
    try {
      val df = fn(spark, dir)
      val t1 = Clock.nowMs()
      val rows = df.collect()
      val t2 = Clock.nowMs()
      Right(Timed(name, layerOf(fn), t2 - t0, rows.length,
        resultHash(df.schema.fieldNames, rows), df, t0, t1, t2))
    } catch { case e: Throwable => Left(e) }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    graft.GraftSession.tuneForData(spark, ctx.dataDir)
    val expected = loadExpected(new java.io.File(ctx.opts("expected")))
    val names = Slices.flatMap(_._2)
    val rnd = new scala.util.Random(ctx.seed)
    val layerTotals = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    def addLayer(k: String, v: Double): Unit = layerTotals(k) += v
    var attempted, failed = 0L
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    /** One lap over `order`; returns per-slice summed ms. */
    def lap(index: Int, order: Seq[String], traced: Boolean)
        : Map[String, Double] = {
      val sums = scala.collection.mutable.Map.empty[String, Double]
        .withDefaultValue(0.0)
      val lapStart = Clock.nowMs()
      val lapSpan = ctx.trace.filter(_ => traced).map(_._1.add(-1,
        s"lap.$index", "harness", lapStart, lapStart))
      order.foreach { name =>
        val group = s"perfbench-$index-$name"
        if (traced) spark.sparkContext.setJobGroup(group, name)
        val r = timeQuery(spark, ctx.dataDir, name)
        if (traced) spark.sparkContext.clearJobGroup()
        // warm-up laps are checked like timed ones and count with them
        attempted += 1
        r match {
          case Left(e) =>
            failed += 1
            failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          case Right(t) =>
            sums(sliceOf(name)) += t.ms
            val ok = expected.get(name).contains(Expected(t.rows, t.hash))
            if (!ok) {
              failed += 1
              failures += f"$name: rows=${t.rows} hash=${t.hash}%016x " +
                s"expected ${expected.get(name)}"
            }
            if (traced) ctx.trace.foreach { case (tr, l) =>
              traceQuery(spark, tr, l, lapSpan.get, group, t, addLayer)
            }
        }
        val rounds = graft.util.Rounds.drain()
        val c0 = Clock.nowMs()
        try graft.util.Caches.releaseAll(spark, blocking = true)
        catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] cache release after $name " +
              s"failed: ${e.getMessage}")
        }
        val c1 = Clock.nowMs()
        if (traced) {
          addLayer("util.loop_rounds", rounds.values.sum.toDouble)
          addLayer("util.cache_release_ms", c1 - c0)
          ctx.trace.foreach(_._1.add(lapSpan.get, s"cache_release.$name",
            "util", c0, c1))
        }
      }
      lapSpan.foreach(id => ctx.trace.get._1.end(id, Clock.nowMs()))
      sums.toMap
    }

    val w0 = Clock.nowMs()
    // warm-up laps rotate the fixed list, so that the JIT compiles from
    // the same profile whatever the seed
    (1 to WarmupLaps).foreach(i => lap(i - WarmupLaps,
      names.drop(i % names.size) ++ names.take(i % names.size), traced = false))
    val w1 = Clock.nowMs()
    ctx.trace.foreach(_._1.add(-1, "session.warmup", "session", w0, w1))
    ctx.opts.get("dump").foreach(dir => return dump(spark, ctx.dataDir, dir))

    val memo0 = graft.util.Caches.memoStats
    val laps = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val lapWallMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val start = Clock.nowMs()
    // start another lap only while it is expected to end in the window
    while (laps.size < ctx.minOps ||
        Clock.nowMs() - start + lapWallMs.last <= ctx.seconds * 1000.0) {
      val l0 = Clock.nowMs()
      laps += lap(laps.size + 1, rnd.shuffle(names),
        ctx.tracedOp(laps.size + 1))
      lapWallMs += Clock.nowMs() - l0
    }
    val memo1 = graft.util.Caches.memoStats
    val n = laps.size.toDouble
    // a lap's time is the sum of its queries' times
    val lapMs = laps.map(_.values.sum)
    val lapTraced = laps.indices.map(i => ctx.tracedOp(i + 1))
    val (traced, untraced) =
      lapMs.indices.partition(lapTraced) match {
        case (t, u) => (t.map(lapMs), u.map(lapMs))
      }

    // an operation is a query execution, as in `attempted`
    val metrics = Map("ops_per_s" -> ((Stats.median(untraced.map(ms =>
      names.size / (ms / 1000))), "1/s")))
    val gets = (memo1._1 - memo0._1).toDouble
    val builds = (memo1._2 - memo0._2).toDouble
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else layerTotals.map { case (k, v) => k -> v / traced.size }.toMap ++ Map(
        "session.warmup_ms" -> (w1 - w0),
        "util.memo_gets" -> gets / n, "util.memo_builds" -> builds / n,
        "util.memo_hit_ratio" -> (if (gets > 0) (gets - builds) / gets else 0.0),
        "harness.overhead_pct" -> Stats.overheadPct(traced, untraced))
    Outcome(attempted, failed, metrics, layers, start, traced.size,
      Map("laps" -> laps.size, "queries_per_lap" -> names.size,
        "lap_wall_s" -> lapWallMs.map(_ / 1000),
        "lap_traced" -> lapTraced,
        "warmup_lap_s" -> (w1 - w0) / 1000,
        "lap_slices_s" -> laps.map(_.map { case (k, v) => k -> v / 1000 }),
        "failures" -> failures.take(20)))
  }

  /** Write every query's result (parquet, one directory per query), its
    * row count and hash, and its oracle SQL — the input of
    * perfbench/make_expected.py, which keeps only oracle-clean results.
    * The parquet holds the very rows that were hashed, so the oracle
    * checks the result the expected hash stands for. */
  private def dump(spark: SparkSession, dataDir: String, dir: String)
      : Outcome = {
    val out = new java.io.File(dir)
    out.mkdirs()
    val names = Slices.flatMap(_._2).sorted
    val hashes = names.map { name =>
      val df = graft.SparkEntry.queries(name)(spark, dataDir)
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .write.mode("overwrite").parquet(new java.io.File(out, name).getPath)
      graft.util.Caches.releaseAll(spark, blocking = true)
      f"$name\t${rows.length}\t${resultHash(df.schema.fieldNames, rows)}%016x"
    }
    def write(f: String, text: String): Unit =
      java.nio.file.Files.write(new java.io.File(out, f).toPath,
        text.getBytes("UTF-8"))
    write("hashes.tsv", hashes.mkString("", "\n", "\n"))
    write("oracle_sql.json", Json.render(
      graft.SparkEntry.oracleSql.filter(kv => names.contains(kv._1))))
    Outcome(names.size, 0, Map.empty, Map.empty, Clock.nowMs(), 1.0,
      Map.empty)
  }

  /** Spans and per-layer counters of one traced query. */
  private def traceQuery(spark: SparkSession, tr: Trace, l: JobListener,
      parent: Int, group: String, t: Timed,
      add: (String, Double) => Unit): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val q = tr.add(parent, s"query.${t.name}", t.layer, t.start, t.end)
    val build = tr.add(q, "build", t.layer, t.start, t.built)
    val exec = tr.add(q, "execution", t.layer, t.built, t.end)
    val phases = t.df.queryExecution.tracker.phases
    def phaseMs(p: String): Double = phases.get(p).map { s =>
      val (a, b) = (s.startTimeMs.toDouble, s.endTimeMs.toDouble)
      tr.add(if (a < t.built) build else exec, p, t.layer, a, b)
      b - a
    }.getOrElse(0.0)
    val analysis = phaseMs("analysis")
    val optimization = phaseMs("optimization")
    val planning = phaseMs("planning")
    var jobs, tasks = 0
    var cpuNs, shuffle, spill = 0L
    l.jobsWhere(_.group == group).foreach { j =>
      jobs += 1
      val js = tr.add(if (j.start < t.built) build else exec, s"job.${j.id}",
        t.layer, j.start, if (j.end.isNaN) j.start else j.end)
      l.stagesOf(j.id).foreach { s =>
        tasks += s.tasks
        cpuNs += s.cpuNs
        shuffle += s.shuffleWriteBytes
        spill += s.spillBytes
        tr.add(js, s"stage.${s.id}", t.layer, s.start, s.end)
      }
    }
    val p = t.layer
    add(s"$p.build_ms", t.built - t.start)
    add(s"$p.analysis_ms", analysis)
    add(s"$p.optimization_ms", optimization)
    add(s"$p.planning_ms", planning)
    add(s"$p.execution_ms", t.end - t.built - optimization - planning)
    add(s"$p.jobs", jobs)
    add(s"$p.tasks", tasks)
    add(s"$p.task_cpu_s", cpuNs / 1e9)
    add(s"$p.shuffle_write_bytes", shuffle.toDouble)
    add(s"$p.spill_bytes", spill.toDouble)
  }
}
