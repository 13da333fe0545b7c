package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.ingest.IngestPipeline

/** The traced run's single-client replay. One client runs a fixed op
  * sequence three times: untraced, with [[LayerListener]] on, untraced
  * again. Traced, every Spark job falls inside exactly one op and the
  * counts repeat. The sequence has every op type on every workload:
  * ingests (into a scratch stream when the workload's stream is the
  * checked history) and page loads over the workload's stream.
  */
final class Replay(bench: Bench, spark: SparkSession, c: Client, stream: String,
                   history: Option[History], seed: Long) {
  import Replay._

  private val ingestTo = if (history.isDefined) "scratch" else stream
  private val spans = mutable.ArrayBuffer.empty[Span]
  private def span(name: String, s: Long, e: Long, parent: Int, op: Int): Int = {
    val id = spans.size
    spans += Span(id, name, s, e, parent, op)
    id
  }

  /** Runs the sequence; `each(kind, op)` wraps every op and returns its
    * latency in ms.
    */
  private def sequence(tag: String)(each: (String, () => Boolean) => Double)
      : Seq[(String, Double)] = {
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    (0 until IngestOps).foreach { k =>
      val b = Gen.batch(seed, ReplayClient, k, tag)
      lat += "ingest" -> each("ingest", () => bench.ingest(c, ingestTo, b))
    }
    (0 until PageLoads).foreach { k =>
      ReadKinds.foreach { kind =>
        lat += kind -> each(kind, () => history match {
          case Some(h) => bench.historyRead(kind, c, h.window(ReplayClient, k))
          case None => bench.liveRead(kind, c, stream, bench.ackedIn(stream))
        })
      }
    }
    lat.toSeq
  }

  private def timed(body: () => Boolean): (Long, Long) = {
    val s = System.currentTimeMillis()
    body()
    (s, System.currentTimeMillis())
  }

  private def drain(): Unit =
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)

  /** Parquet files under `p` and their bytes. */
  private def tree(p: Path): (Long, Long) = {
    val files = Bench.filesUnder(p).filter(_.toString.endsWith(".parquet"))
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** Per-layer summary plus the spans behind it. */
  def run(): Traced = {
    def untracedPass(tag: String) = sequence(tag) { (_, body) =>
      val (s, e) = timed(body); (e - s).toDouble
    }
    val before = untracedPass("u")
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
    val ops = mutable.ArrayBuffer.empty[(OpTrace, Long, Long)]
    val extra = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def note(name: String, v: Double): Unit =
      extra.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
    val dataDir = bench.rootDir.resolve(ingestTo)
    val statsDir = bench.rootDir.resolve(".stats").resolve(ingestTo).toString
    val traced = sequence("t") { (kind, body) =>
      val opId = ops.size
      // bench-side spans around the public calls of one layer, outside the
      // op itself so they do not add to its latency
      kind match {
        case "ingest" =>
          val b = Gen.batch(seed, ReplayClient, opId, "p")
          val s = System.currentTimeMillis()
          IngestPipeline.ingest(spark, new IngestPipeline.SchemaRegistry,
            IngestPipeline.StreamConfig(ingestTo), b.json)
          val e = System.currentTimeMillis()
          span("ingest.prepare", s, e, -1, opId)
          note("ingest.prepare_ms.ingest", (e - s).toDouble)
        case "sql_agg" | "sql_list" =>
          val q = if (kind == "sql_agg") Gen.SqlAgg(stream) else Gen.SqlList(stream)
          val w = history.map(_.window(ReplayClient, 0)).getOrElse(bench.liveWindow())
          val s = System.currentTimeMillis()
          graft.query.QueryService.query(spark, bench.serverStreams, q, w.range)
          val e = System.currentTimeMillis()
          drain()
          span("query.construct", s, e, -1, opId)
          note(s"query.construct_ms.$kind", (e - s).toDouble)
        case _ => ()
      }
      val (files0, bytes0) = tree(dataDir)
      val v0 = graft.catalog.TxnCatalog.latestVersion(statsDir).getOrElse(0L)
      val op = new OpTrace(opId, kind)
      drain()
      listener.current = op
      val (s, e) = timed(body)
      drain()
      listener.current = null
      ops += ((op, s, e))
      if (kind == "ingest") {
        val (files1, bytes1) = tree(dataDir)
        note("ingest.files.ingest", (files1 - files0).toDouble)
        note("ingest.bytes_written.ingest", (bytes1 - bytes0).toDouble)
        note("catalog.versions.ingest",
          (graft.catalog.TxnCatalog.latestVersion(statsDir).getOrElse(0L) - v0).toDouble)
      }
      (e - s).toDouble
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
    // untraced passes on both sides of the traced one, so the path warming
    // up between passes does not read as negative overhead
    val after = untracedPass("v")
    summarize(listener, ops.toSeq, extra.view.mapValues(_.toSeq).toMap,
      before ++ after, traced)
  }

  private def summarize(listener: LayerListener, ops: Seq[(OpTrace, Long, Long)],
      extra: Map[String, Seq[Double]], untraced: Seq[(String, Double)],
      traced: Seq[(String, Double)]): Traced = {
    val sites = listener.execCallSites
    val m = mutable.LinkedHashMap.empty[String, Double]
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    OpKinds.foreach { kind =>
      val mine = ops.filter(_._1.kind == kind)
      val perModule = mine.map { case (op, _, _) =>
        op.jobs.toSeq.groupBy(j => Attribution.jobModule(j.execId, sites, j.stageCallSite))
      }
      (Modules :+ "other").foreach { mod =>
        val js = perModule.map(_.getOrElse(mod, Nil))
        m(s"$mod.jobs.$kind") = mean(js.map(_.size.toDouble))
        m(s"$mod.job_ms.$kind") = mean(js.map(_.map(j => (j.endMs - j.startMs).toDouble).sum))
      }
      m(s"engine.plan_ms.$kind") = mean(mine.map(_._1.planMs))
      m(s"engine.tasks.$kind") = mean(mine.map(_._1.tasks.toDouble))
      m(s"engine.scan_bytes.$kind") = mean(mine.map(_._1.scanBytes.toDouble))
      m(s"engine.shuffle_bytes.$kind") = mean(mine.map(_._1.shuffleBytes.toDouble))
      m(s"engine.spill_bytes.$kind") = mean(mine.map(_._1.spillBytes.toDouble))
      m(s"http.latency_ms.$kind") = mean(mine.map { case (_, s, e) => (e - s).toDouble })
      m(s"http.driver_ms.$kind") = mean(mine.map { case (op, s, e) =>
        (e - s) - covered(op.jobs.toSeq.map(j => (j.startMs, j.endMs)), s, e).toDouble
      })
    }
    val dataFiles = tree(bench.rootDir.resolve(stream))._1.toDouble
    m("plans.data_files") = dataFiles
    ReadKinds.foreach { kind =>
      val read = mean(ops.filter(_._1.kind == kind).map(_._1.dataFilesRead.toDouble))
      m(s"plans.files_read.$kind") = read
      m(s"plans.files_read_frac.$kind") = if (dataFiles > 0) read / dataFiles else 0.0
    }
    extra.foreach { case (k, v) => m(k) = mean(v) }
    m("trace.overhead_frac") =
      2 * traced.map(_._2).sum / math.max(1.0, untraced.map(_._2).sum) - 1
    ops.foreach { case (op, s, e) =>
      val parent = span(op.kind, s, e, -1, op.id)
      op.jobs.foreach { j =>
        span(s"job.${Attribution.jobModule(j.execId, sites, j.stageCallSite)}",
          j.startMs, j.endMs, parent, op.id)
      }
    }
    Traced(m.toMap, spans.toSeq, traced.groupMap(_._1)(_._2))
  }
}

/** Summary, spans and single-client latencies of a traced replay. */
final case class Traced(metrics: Map[String, Double], spans: Seq[Span],
                        tracedMs: Map[String, Seq[Double]])

object Replay {
  val IngestOps = 6
  val PageLoads = 3
  /** Client id of the replay's generated batches and windows. */
  val ReplayClient = 90
  val ReadKinds: Seq[String] = Seq("counts", "sql_list", "sql_agg")
  val OpKinds: Seq[String] = "ingest" +: ReadKinds
  val Modules: Seq[String] = Seq("http", "ingest", "catalog", "query", "plans")

  /** Milliseconds of `[s, e]` covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], s: Long, e: Long): Long = {
    var end = s
    var total = 0L
    intervals.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}
