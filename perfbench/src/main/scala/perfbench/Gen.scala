package perfbench

import java.util.{Locale, SplittableRandom}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded inputs and the answers they must produce. Everything here is a
  * pure function of the seed, so the same seed gives the same batches, the
  * same history stream and the same query windows.
  */
object Gen {

  val Hosts: Vector[String] = Vector.tabulate(8)(i => f"host-$i%02d")
  val Statuses: Vector[Int] = Vector(200, 200, 200, 201, 301, 404, 500, 503)
  val Methods: Vector[String] = Vector("GET", "GET", "GET", "POST", "PUT", "DELETE")
  val Paths: Vector[String] =
    Vector("/", "/login", "/api/items", "/api/items/42", "/api/orders", "/health")
  val BatchSizes: Vector[Int] = Vector(10, 100, 1000)
  /** Batch sizes and query window widths take turns with this period. */
  val Turn = 3
  /** Every `NewFieldEvery`-th batch of a client carries a field no earlier
    * batch had, so the stream schema keeps growing.
    */
  val NewFieldEvery = 5

  /** An independent random stream for (seed, a, b). */
  def rng(seed: Long, a: Long, b: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ a * 0xC2B2AE3D27D4EB4FL ^
      b * 0x165667B19E3779F9L)

  final case class Event(seq: Long, host: Int, status: Int, latencyMs: Double,
                         level: String, method: Int, path: Int, bytes: Int) {
    def message: String = s"${Methods(method)} ${Paths(path)} ${Statuses(status)}"
  }

  def event(r: SplittableRandom, seq: Long): Event = {
    val lv = r.nextInt(100)
    Event(seq, r.nextInt(Hosts.size), r.nextInt(Statuses.size),
      r.nextInt(500000) / 1000.0,
      if (lv < 5) "error" else if (lv < 20) "warn" else "info",
      r.nextInt(Methods.size), r.nextInt(Paths.size), r.nextInt(65536))
  }

  /** Nested JSON of one event, as a log shipper would send it. */
  def json(e: Event, extra: String*): String = {
    val sb = new StringBuilder(256)
    sb ++= s"""{"host":"${Hosts(e.host)}","status":${Statuses(e.status)},"""
    sb ++= String.format(Locale.ROOT, "\"latency_ms\":%.3f,", Double.box(e.latencyMs))
    sb ++= s""""level":"${e.level}","message":"${e.message}","""
    sb ++= s""""req":{"method":"${Methods(e.method)}","path":"${Paths(e.path)}","bytes":${e.bytes}},"""
    sb ++= s""""seq":${e.seq}"""
    extra.grouped(2).foreach { case Seq(k, v) => sb ++= s""","$k":"$v"""" }
    sb += '}'
    sb.result()
  }

  final case class Batch(id: String, events: Int, json: String)

  /** Batch `k` of client `client`: 10, 100 or 1000 events in turn, tagged
    * with the batch id (`tag` keeps ids of replayed copies distinct); every
    * [[NewFieldEvery]]-th batch adds a new field.
    */
  def batch(seed: Long, client: Int, k: Int, tag: String = ""): Batch = {
    val r = rng(seed, 1000L + client, k)
    // sizes take turns, so any three consecutive batches of a client carry
    // one of each size and a short run sees the same size mix on any seed
    val size = BatchSizes((k + client) % Turn)
    val id = s"${tag}c$client-b$k"
    val extra =
      if (k % NewFieldEvery == NewFieldEvery - 1)
        Seq(s"x_c${client}_${k / NewFieldEvery}", "v") else Nil
    val body = (0 until size).iterator
      .map(i => json(event(r, i.toLong), Seq("batch_id", id) ++ extra: _*))
      .mkString("[", ",", "]")
    Batch(id, size, body)
  }

  val SqlAgg: String => String = s =>
    s"SELECT host, status, count(*) AS n, avg(latency_ms) AS avg_latency " +
      s"FROM $s GROUP BY host, status"
  val SqlList: String => String = s =>
    s"SELECT * FROM $s WHERE level = 'error' ORDER BY p_timestamp DESC LIMIT 100"
  val CountBins = 30

  def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString

  /** A time window, minute aligned, `[startMs, endMs)`. */
  final case class Window(startMs: Long, endMs: Long) {
    def range: graft.query.TimeRange = graft.query.TimeRange(
      java.time.Instant.ofEpochMilli(startMs), java.time.Instant.ofEpochMilli(endMs))
  }

  /** Expected answers of the three read ops for one window. */
  final case class Expected(agg: Map[(String, Int), (Long, Double)],
                            list: Seq[Long], counts: Seq[Long])
}

/** The preloaded `query` stream: `minutes` minutes of history, `perMinute`
  * events per minute at evenly spaced, unique timestamps. Event `i` is
  * `Gen.event` of a seeded stream, so the expected answer of every query
  * follows from the same arrays the stream was written from.
  */
final class History(seed: Long, val minutes: Int, val perMinute: Int) {
  import Gen._
  require(60000 % perMinute == 0, "perMinute must divide a minute in ms")

  val n: Int = minutes * perMinute
  val baseMs: Long = java.time.Instant.parse("2025-01-06T00:00:00Z").toEpochMilli
  val stepMs: Long = 60000L / perMinute
  val events: Array[Event] = {
    val r = rng(seed, 7, 0)
    Array.tabulate(n)(i => event(r, i.toLong))
  }
  def tsMs(i: Int): Long = baseMs + i * stepMs
  /** Bytes of the events as JSON, the base of `stored_bytes_per_input_byte`. */
  lazy val jsonBytes: Long = events.iterator.map(json(_).length.toLong).sum
  /** Identifies the history corpus a record was measured on. */
  lazy val corpusId: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    events.foreach(e => md.update(json(e).getBytes("UTF-8")))
    md.digest().take(6).map(b => f"$b%02x").mkString
  }

  /** The columns the ingest path would give these events. */
  val schema: StructType = StructType(Seq(
    StructField("host", StringType), StructField("status", DoubleType),
    StructField("latency_ms", DoubleType), StructField("level", StringType),
    StructField("message", StringType), StructField("req.method", StringType),
    StructField("req.path", StringType), StructField("req.bytes", DoubleType),
    StructField("seq", DoubleType), StructField("p_timestamp", TimestampType),
    StructField("p_user_agent", StringType), StructField("p_src_ip", StringType),
    StructField("p_format", StringType)))

  def rows: Seq[Row] = events.indices.map { i =>
    val e = events(i)
    Row(Hosts(e.host), Statuses(e.status).toDouble, e.latencyMs, e.level,
      e.message, Methods(e.method), Paths(e.path), e.bytes.toDouble,
      e.seq.toDouble, new java.sql.Timestamp(tsMs(i)), "perfbench",
      "127.0.0.1", "json")
  }

  val Widths: Vector[Int] = Vector(15, 60, minutes)
  require(minutes >= 60, "history must span at least an hour")

  /** The `k`-th window of reader `client`: 15 min, 1 h or the whole
    * history wide.
    */
  def window(client: Int, k: Int): Window = {
    val r = rng(seed, 2000L + client, k)
    // widths take turns like batch sizes; the seed places the windows
    val w = Widths((k + client) % Turn)
    val start = baseMs + r.nextInt(minutes - w + 1) * 60000L
    Window(start, start + w * 60000L)
  }

  private def firstAtOrAfter(ms: Long): Int =
    math.min(n.toLong, math.max(0L, (ms - baseMs + stepMs - 1) / stepMs)).toInt

  def expected(w: Window): Expected = {
    val lo = firstAtOrAfter(w.startMs)
    val hi = firstAtOrAfter(w.endMs)
    val agg = (lo until hi).groupBy { i =>
      (Hosts(events(i).host), Statuses(events(i).status))
    }.map { case (k, is) =>
      k -> (is.size.toLong, is.iterator.map(events(_).latencyMs).sum / is.size)
    }
    val list = (hi - 1 to lo by -1).iterator
      .filter(events(_).level == "error").take(100).map(_.toLong).toSeq
    val bin = math.max(1L, (w.endMs - w.startMs + CountBins - 1) / CountBins)
    val counts = Array.fill(CountBins)(0L)
    (lo until hi).foreach(i => counts(((tsMs(i) - w.startMs) / bin).toInt) += 1)
    Expected(agg, list, counts.toSeq)
  }
}
