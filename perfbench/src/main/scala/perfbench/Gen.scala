package perfbench

import graft.sources.ChangeLogSource

/** Rows of the program's `events` table the generator draws mutations
  * from (one entry per event, in event-id order). */
final case class SourceEvents(userId: Array[Long], eventType: Array[String],
    value: Array[Double], tsUs: Array[Long]) {
  def size: Int = userId.length
  /** One past the largest timestamp: copy `c` of the table is shifted
    * by `c * span` so timestamps keep rising when the table repeats. */
  val span: Long = if (tsUs.isEmpty) 1L else tsUs.max - tsUs.min + 1
}

object SourceEvents {
  /** Read `events.parquet` with the parquet library directly: no Spark
    * session is needed, so inputs can be generated while it starts. */
  def load(dataDir: String): SourceEvents = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val reader = ParquetReader.builder(new GroupReadSupport(),
      new org.apache.hadoop.fs.Path(s"$dataDir/events.parquet")).build()
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, Double, Long)]
    try {
      var g = reader.read()
      while (g != null) {
        def has(f: String) = g.getFieldRepetitionCount(f) > 0
        rows += ((g.getLong("event_id", 0), g.getLong("user_id", 0),
          g.getString("event_type", 0),
          if (has("value")) g.getDouble("value", 0) else 0.0,
          g.getLong("ts", 0)))
        g = reader.read()
      }
    } finally reader.close()
    val sorted = rows.sortBy(_._1)
    val ts = sorted.map(_._5)
    // the committed table stores TIMESTAMP(MICROS); refuse any other
    // scale rather than generate timestamps off by 1000x
    require(ts.forall(t => t > 5e13 && t < 5e16),
      "events.ts is not in epoch microseconds")
    SourceEvents(sorted.map(_._2).toArray, sorted.map(_._3).toArray,
      sorted.map(_._4).toArray, ts.toArray)
  }
}

/** Seeded change-log generator. Given the same seed and events it
  * renders the same transactions, line for line; the program only ever
  * sees the rendered log. Every transaction's lines are contiguous, as
  * in a binlog, and carry strictly rising per-connection sequences.
  *
  * The ledger remembers every mutation it wrote: its COMMIT timestamp,
  * or -1 when the transaction rolled back. */
final class Gen(seed: Long, events: SourceEvents) {
  import Gen._
  private val rnd = new java.util.Random(seed)
  private val seqs = new Array[Long](Connections)
  private var next = rnd.nextInt(math.max(1, events.size))
  private var drawn = 0L

  val ledger = scala.collection.mutable.LongMap.empty[Long]
  var mutations = 0L
  var rolledBack = 0L
  var lines = 0L

  private def nextSeq(conn: Int): Long = { seqs(conn) += 1; seqs(conn) }

  private def payload(i: Int): String = {
    val pad = PayloadMin + rnd.nextInt(PayloadMax - PayloadMin + 1)
    val b = new StringBuilder(pad + 64)
    b.append("{\"type\":\"").append(events.eventType(i))
      .append("\",\"value\":").append(events.value(i)).append(",\"pad\":\"")
    var k = 0
    while (k < pad) { b.append(('a' + (k % 26)).toChar); k += 1 }
    b.append("\"}").toString
  }

  /** Render one transaction: each mutation takes its event's timestamp
    * and the markers take the last one's. */
  def tx(b: java.lang.StringBuilder): Unit = {
    val conn = math.min(Connections - 1,
      (Connections * math.pow(rnd.nextDouble(), ConnSkew)).toInt)
    val size = txSize(rnd)
    val rollback = rnd.nextDouble() < RollbackShare
    val keys = new Array[Long](size)
    val begin = nextSeq(conn)
    var lastTs = Long.MinValue
    var j = 0
    val body = new java.lang.StringBuilder
    while (j < size) {
      val i = next
      next = (next + 1) % events.size
      val copy = drawn / events.size
      drawn += 1
      val ts = events.tsUs(i) + copy * events.span
      lastTs = math.max(lastTs, ts)
      val seq = nextSeq(conn)
      keys(j) = Stats.key(conn, seq)
      val op = events.eventType(i) match {
        case "signup" => "insert"
        case "error" => "delete"
        case _ => "update"
      }
      body.append(ChangeLogSource.renderLine(conn, seq, "mutation", op,
        s"user:${events.userId(i)}", ts, payload(i))).append('\n')
      j += 1
    }
    val end = nextSeq(conn)
    b.append(ChangeLogSource.renderLine(conn, begin, "begin", null, null,
      lastTs, null)).append('\n')
    b.append(body)
    b.append(ChangeLogSource.renderLine(conn, end,
      if (rollback) "rollback" else "commit", null, null, lastTs, null))
      .append('\n')
    keys.foreach(k => ledger(k) = if (rollback) -1L else lastTs)
    mutations += size
    if (rollback) rolledBack += size
    lines += size + 2
  }

  /** Write a backlog of at least `minMutations` mutations as `segments`
    * rotated segment files (cut at transaction boundaries) under
    * `dir`. */
  def backlog(dir: java.io.File, minMutations: Long, segments: Int): Unit = {
    dir.mkdirs()
    val perSegment = minMutations / segments + 1
    var s = 0
    while (s < segments) {
      val target = mutations + perSegment
      val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.io.FileOutputStream(new java.io.File(dir, segmentName(s))),
        java.nio.charset.StandardCharsets.UTF_8), 1 << 20)
      try {
        while (mutations < target) {
          val b = new java.lang.StringBuilder
          tx(b)
          out.write(b.toString)
        }
      } finally out.close()
      s += 1
    }
  }
}

object Gen {
  /** What the generator varies, and why: each property changes the work
    * of a different part of the pipe. */
  val Varied: Map[String, String] = Map(
    "connections" -> ("16 connections drawn with skew (u^2): tx grouping " +
      "keys its state by connection, so skew decides how evenly " +
      "the state partitions load"),
    "tx_size" -> ("60% 1-4, 35% 5-16, 5% 17-64 mutations: buffered " +
      "state per open transaction and the commit fan-out it flushes"),
    "rollback_share" -> ("3% of transactions roll back: their " +
      "mutations are buffered and discarded, never delivered"),
    "payload_bytes" -> ("JSON payload padded to 16-256 bytes: source " +
      "parse, state and parquet bytes scale with it"),
    "start_event" -> ("seeded start row in the events table: which " +
      "users, event types and values the mutations carry"))

  val Connections = 16
  val ConnSkew = 2.0
  val RollbackShare = 0.03
  val PayloadMin = 16
  val PayloadMax = 256

  def txSize(r: java.util.Random): Int = {
    val u = r.nextDouble()
    if (u < 0.60) 1 + r.nextInt(4)
    else if (u < 0.95) 5 + r.nextInt(12)
    else 17 + r.nextInt(48)
  }

  def segmentName(i: Int): String = f"seg-$i%05d.log"
}
