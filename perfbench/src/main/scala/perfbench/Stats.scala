package perfbench

/** The benchmark's own arithmetic, kept free of Spark so the self-test
  * can pin it: percentile selection, span self time, file→batch
  * matching and the exactly-once check. */
object Stats {

  /** Nearest-rank percentile (`p` in (0, 1]) of unsorted samples: the
    * smallest sample with at least `p` of the samples at or below it. */
  def percentile(xs: scala.collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile must be in (0, 1]: $p")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  def median(xs: scala.collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Tracing overhead in percent: how much longer the median traced
    * operation took than the median untraced one. */
  def overheadPct(tracedMs: scala.collection.Seq[Double],
      untracedMs: scala.collection.Seq[Double]): Double =
    100 * (median(tracedMs) / median(untracedMs) - 1)

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * that its children cover (children clipped to the parent). */
  def selfTime(start: Double, end: Double,
      children: Seq[(Double, Double)]): Double = {
    val clipped = children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end)) }
    math.max(0.0, (end - start) - unionLength(clipped))
  }

  /** Key of one change event: connection and per-connection sequence. */
  def key(conn: Long, seq: Long): Long = {
    require(conn >= 0 && conn < (1L << 23) && seq >= 0 && seq < (1L << 40),
      s"event key out of range: conn=$conn seq=$seq")
    (conn << 40) | seq
  }

  /** Outcome of matching delivered rows against the generator's ledger.
    * `missing`: committed mutations never delivered; `duplicated`: extra
    * copies of delivered mutations; `wrong`: rows that should never
    * appear (rolled back or unknown); `tsMismatch`: rows whose commit
    * timestamp differs from their COMMIT marker's. */
  case class Delivery(expected: Long, delivered: Long, missing: Long,
      duplicated: Long, wrong: Long, tsMismatch: Long) {
    def failed: Long = missing + duplicated + wrong + tsMismatch
  }

  /** Exactly-once check. `ledger` maps every generated mutation's key to
    * its COMMIT timestamp, or to a negative value when its transaction
    * rolled back; `rows` are the delivered (key, commitTsUs) pairs. */
  def exactlyOnce(ledger: scala.collection.Map[Long, Long],
      rows: Iterator[(Long, Long)]): Delivery = {
    val seen = scala.collection.mutable.LongMap.empty[Int]
    var delivered, duplicated, wrong, tsMismatch = 0L
    rows.foreach { case (k, ts) =>
      delivered += 1
      ledger.get(k) match {
        case Some(commitTs) if commitTs >= 0 =>
          val n = seen.getOrElse(k, 0)
          if (n > 0) duplicated += 1
          seen(k) = n + 1
          if (ts != commitTs) tsMismatch += 1
        case _ => wrong += 1
      }
    }
    val expected = ledger.valuesIterator.count(_ >= 0).toLong
    Delivery(expected, delivered, expected - seen.size, duplicated, wrong,
      tsMismatch)
  }

  /** Files each micro-batch added, from the file sink's metadata log:
    * `logs` holds (batch id, paths listed in that batch's log file).
    * A compacted log (`N.compact`) lists every file up to its batch, so
    * a batch's own files are the ones no earlier batch listed. */
  def filesPerBatch(logs: Seq[(Long, Seq[String])]): Map[String, Long] = {
    val out = scala.collection.mutable.Map.empty[String, Long]
    logs.sortBy(_._1).foreach { case (b, paths) =>
      paths.foreach(p => if (!out.contains(p)) out(p) = b)
    }
    out.toMap
  }
}
