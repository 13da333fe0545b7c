package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.http.GraftHttpServer
import graft.ingest.IngestPipeline

/** The timed phase: when it started, when each client finished its last
  * op, and the events acked in between.
  */
final case class Timed(startMs: Long, startNs: Long, clientEndNs: Map[Int, Long],
                       ackedEvents: Long) {
  def elapsedS: Double = (clientEndNs.values.max - startNs) / 1e9
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      workDir: String, cpus: Int, source: String)

/** One HTTP connection of a load-generating client. */
final class Client(base: String) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  def post(path: String, body: String, headers: (String, String)*): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .timeout(java.time.Duration.ofSeconds(120))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
}

/** A completed client op: `kind` is ingest, sql_agg, sql_list, counts or
  * page (one console page load); `client` is the closed-loop client that
  * ran it.
  */
final case class Sample(kind: String, client: Int, startNs: Long, endNs: Long,
                        ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** The served-path benchmark: an in-process [[GraftHttpServer]] on a local
  * Spark session, driven by closed-loop clients over HTTP.
  *
  *  - `ingest`: 4 writers POST seeded batches of 10/100/1000 nested events
  *    to one stream. Unit: one ingest request.
  *  - `query`: 1 reader repeats the console page load (counts, sql_list,
  *    sql_agg) over seeded 15 min / 1 h / 3 h windows of a preloaded
  *    3 h history stream whose answers are known. Unit: one page load.
  */
final class Bench(o: Opts) {
  import Bench._

  private val mapper = new ObjectMapper()
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val failures = new ConcurrentLinkedQueue[String]()
  private val attemptedOps = new AtomicLong
  private val failedOps = new AtomicLong
  private val samples = new ConcurrentLinkedQueue[Sample]()
  @volatile private var timing = false
  private val clientId = ThreadLocal.withInitial[Int](() => -1)
  private val acked = new AtomicLong
  private val ackedBytes = new AtomicLong

  private val root: Path = Paths.get(o.workDir, "root")
  private val stream = o.workload match {
    case "query" => "history"
    case _ => "app"
  }
  /** Streams that took ingests, with their acked event counts. */
  private val ingestedStreams = mutable.LinkedHashMap.empty[String, AtomicLong]

  var spark: SparkSession = _
  private var server: GraftHttpServer = _
  private var base = ""
  private var history: History = _
  private var firstPostMs = Long.MaxValue

  private def fail(msg: String): Unit = { failures.add(msg); () }

  /** Progress to stderr, in seconds since the JVM started. */
  private def phase(name: String): Unit =
    System.err.println(f"perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s: $name")

  /** Time one op; a false result or an exception fails it. Only requests
    * count towards attempted and failed ops, not the page loads made of
    * them.
    */
  private def op(kind: String)(body: => Boolean): Boolean = {
    val request = kind != "page"
    if (request) attemptedOps.incrementAndGet()
    val s = System.nanoTime()
    val ok =
      try body
      catch { case e: Exception => fail(s"$kind: $e"); false }
    if (!ok && request) failedOps.incrementAndGet()
    if (timing) samples.add(Sample(kind, clientId.get, s, System.nanoTime(), ok))
    ok
  }

  private def json(s: String): JsonNode =
    try mapper.readTree(s) catch { case _: Exception => mapper.nullNode() }

  // ------------------------------------------------------------- client ops

  private[perfbench] def ingest(c: Client, to: String, b: Gen.Batch): Boolean = op("ingest") {
    val count = synchronized {
      firstPostMs = math.min(firstPostMs, System.currentTimeMillis())
      ingestedStreams.getOrElseUpdate(to, new AtomicLong)
    }
    val (st, body) = c.post("/api/v1/ingest", b.json, "X-P-Stream" -> to)
    val ok = st == 200 && json(body).path("events").asLong(-1) == b.events
    if (ok) {
      acked.addAndGet(b.events); count.addAndGet(b.events)
      ackedBytes.addAndGet(b.json.getBytes(UTF_8).length.toLong)
    } else fail(s"ingest ${b.id}: HTTP $st ${body.take(200)}")
    ok
  }

  private def sql(c: Client, q: String, w: Gen.Window): (Int, JsonNode) = {
    val body = mapper.createObjectNode().put("query", q)
      .put("startTime", Gen.iso(w.startMs)).put("endTime", Gen.iso(w.endMs))
    val (st, out) = c.post("/api/v1/query", mapper.writeValueAsString(body))
    (st, json(out))
  }

  private def counts(c: Client, s: String, w: Gen.Window): (Int, JsonNode) = {
    val body = mapper.createObjectNode().put("stream", s)
      .put("startTime", Gen.iso(w.startMs)).put("endTime", Gen.iso(w.endMs))
      .put("numBins", Gen.CountBins)
    val (st, out) = c.post("/api/v1/counts", mapper.writeValueAsString(body))
    (st, json(out))
  }

  private def verdict(kind: String, st: Int, v: => Check.Verdict): Boolean =
    if (st != 200) { fail(s"$kind: HTTP $st"); false }
    else v match {
      case Some(why) => fail(why); false
      case None => true
    }

  /** One read op of `kind` over window `w` of stream `s`, its answer
    * judged by `check`.
    */
  private def read(kind: String, c: Client, s: String, w: Gen.Window)
      (check: JsonNode => Check.Verdict): Boolean = op(kind) {
    val (st, b) = kind match {
      case "counts" => counts(c, s, w)
      case "sql_list" => sql(c, Gen.SqlList(s), w)
      case _ => sql(c, Gen.SqlAgg(s), w)
    }
    verdict(kind, st, check(b))
  }

  /** A read of the history stream, checked against the generator. */
  private[perfbench] def historyRead(kind: String, c: Client, w: Gen.Window): Boolean = {
    val exp = history.expected(w)
    read(kind, c, stream, w)(kind match {
      case "counts" => Check.counts(exp.counts, _)
      case "sql_list" => Check.list(exp.list, _)
      case _ => Check.agg(exp.agg, _)
    })
  }

  /** A read of the last ten minutes of an ingested stream with no writer
    * running: its totals must be exactly the `n` acked events.
    */
  private[perfbench] def liveRead(kind: String, c: Client, s: String, n: Long): Boolean =
    read(kind, c, s, liveWindow())(kind match {
      case "counts" => b => Check.total("counts total", Check.countsTotal(b), n)
      case "sql_list" => Check.liveList
      case _ => b => Check.total("sql_agg total", Check.aggTotal(b), n)
    })

  /** The console page load over a history window: all three reads. */
  private def historyPage(c: Client, w: Gen.Window): Boolean = op("page") {
    Replay.ReadKinds.map(historyRead(_, c, w)).forall(identity)
  }

  /** The last ten minutes, up to the end of the current minute. */
  private[perfbench] def liveWindow(): Gen.Window = {
    val end = (System.currentTimeMillis() / 60000L + 1) * 60000L
    Gen.Window(end - 10 * 60000L, end)
  }

  // --------------------------------------------------------------- phases

  private def startServer(): Unit = {
    server = new GraftHttpServer(spark, root.toString, threads = 8)
    server.start()
    base = s"http://127.0.0.1:${server.boundPort}"
  }

  /** Preload the history stream through the ingest path's own append and
    * catalog commit, so reads go through the same files and catalog a
    * served stream has.
    */
  private def preloadHistory(): Unit = {
    history = new History(o.seed, HistoryMinutes, HistoryPerMinute)
    // one contiguous slice of minutes per core, so the write is parallel
    // and every minute lands in one file
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(history.rows, o.cpus), history.schema)
    val cfg = IngestPipeline.StreamConfig(stream)
    IngestPipeline.append(df, root.toString, cfg)
    graft.catalog.TxnCatalog.appendNewFilesWatermarked(spark,
      s"$root/$stream", s"$root/.stats/$stream", Seq("p_timestamp"))
    server.registerStream(stream, cfg)
  }

  private def clients(n: Int): Seq[Client] = Seq.fill(n)(new Client(base))

  /** Run `loops` (one per client) closed-loop for `seconds`, after one
    * untimed turn of the first loop: every batch size or window width once
    * (JIT, codegen and caches of the path).
    */
  private def closedLoop(loops: Seq[Int => Boolean]): Timed = {
    (0 until Gen.Turn).foreach(loops.head)
    phase("warm-up done")
    timing = true
    val startNs = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val ackedAtStart = acked.get()
    val deadline = startNs + o.seconds * 1000000000L
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val threads = loops.zipWithIndex.map { case (unit, i) =>
      new Thread(() => {
        clientId.set(i)
        var k = Gen.Turn
        while (System.nanoTime() < deadline) { unit(k); k += 1 }
        ends.put(i, System.nanoTime())
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    timing = false
    Timed(startMs, startNs, ends.asScala.toMap, acked.get() - ackedAtStart)
  }

  private def runWorkload(): Timed = o.workload match {
    case "ingest" =>
      closedLoop((0 until 4).zip(clients(4)).map { case (w, c) =>
        (k: Int) => ingest(c, stream, Gen.batch(o.seed, w, k)) })
    case "query" =>
      closedLoop((0 until Readers).zip(clients(Readers)).map { case (r, c) =>
        (k: Int) => historyPage(c, history.window(r, k)) })
  }

  /** Bytes under the server root: data, catalog and server state. */
  private def storedBytes(): Long = filesUnder(root).map(Files.size).sum

  /** The acked-event count of every ingested stream must equal its
    * `count(*)`, here and after a restart of the server on the same root.
    */
  private def checkDurable(c: Client, when: String): Unit =
    ingestedStreams.foreach { case (s, n) =>
      val w = Gen.Window((firstPostMs / 60000L - 1) * 60000L,
        (System.currentTimeMillis() / 60000L + 2) * 60000L)
      op("count") {
        val (st, r) = sql(c, s"SELECT count(*) AS n FROM $s", w)
        verdict("count", st, Check.total(s"$when count(*) of $s",
          r.path(0).path("n").asLong(-1), n.get()))
      }
    }

  private def restartServer(): Unit = {
    server.stop()
    startServer()
    (ingestedStreams.keys ++ Option.when(history != null)(stream)).foreach(
      s => server.registerStream(s, IngestPipeline.StreamConfig(s)))
  }

  def run(): Result = {
    deleteTree(root)
    Files.createDirectories(root)
    spark = graft.engine.GraftSession.local(o.cpus, "perfbench")
    startServer()
    phase("session and server up")
    if (o.workload == "query") { preloadHistory(); phase("history preloaded") }
    val timed = runWorkload()
    phase("timed phase done")
    val setupS = (timed.startMs - jvmStartMs) / 1000.0
    val all = samples.asScala.toSeq
    val inputBytes =
      if (o.workload == "query") history.jsonBytes else ackedBytes.get()
    val storedPerInputByte = storedBytes().toDouble / inputBytes
    val traced = Option.when(o.trace)(
      new Replay(this, spark, new Client(base), stream, Option(history), o.seed).run())
    phase("replay done")
    val c = new Client(base)
    checkDurable(c, "live")
    restartServer()
    checkDurable(new Client(base), "restarted")
    server.stop()
    phase("checks done")
    Result(o, setupS, timed, all, storedPerInputByte,
      attemptedOps.get(), failedOps.get(), failures.asScala.toSeq, traced,
      Option(history).map(_.corpusId).getOrElse("none"))
  }

  // ---------------------------------------------------------------- replay

  /** Events acked into stream `s` so far. */
  private[perfbench] def ackedIn(s: String): Long =
    synchronized(ingestedStreams.get(s)).map(_.get()).getOrElse(0L)
  private[perfbench] def serverStreams = server.streams
  private[perfbench] def rootDir: Path = root
}

object Bench {
  /** One reader: with two, the 4-core box ran near saturation and run
    * medians split into two modes 12-30% apart.
    */
  val Readers = 1
  val HistoryMinutes = 180
  val HistoryPerMinute = 400

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq finally s.close()
    }

  /** Regular files under `p`, none when it does not exist. */
  def filesUnder(p: Path): Seq[Path] = walk(p).filter(Files.isRegularFile(_))

  def deleteTree(p: Path): Unit = walk(p).reverse.foreach(Files.delete)
}
