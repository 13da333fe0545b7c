package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** What one run measured. */
final case class Result(o: Opts, setupS: Double, timed: Timed,
                        samples: Seq[Sample], storedPerInputByte: Double,
                        attempted: Long,
                        failed: Long, failures: Seq[String],
                        traced: Option[Traced], corpusId: String)

/** Entry point: runs one workload and prints one JSON line with the run's
  * stamp, its checks, every end-to-end metric and, when traced, the
  * per-layer summary. Spans go to `--trace-out`.
  *
  * {{{
  * perfbench.Main --workload ingest|query --seed N --seconds S
  *   --trace 0|1 --work-dir DIR --cpus N [--source ID] [--trace-out FILE]
  * }}}
  */
object Main {

  val Workloads = Set("ingest", "query")

  /** The op whose latency is the workload's unit of work: an ingest
    * request, or a console page load (counts, sql_list and sql_agg in turn).
    */
  def unitKind(workload: String): String =
    if (workload == "ingest") "ingest" else "page"

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String =
      kv.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val o = Opts(arg("workload"), arg("seed").toLong, arg("seconds").toInt,
      arg("trace") == "1", arg("work-dir"), arg("cpus").toInt,
      kv.getOrElse("source", "unknown"))
    if (!Workloads(o.workload)) {
      System.err.println(s"unknown workload ${o.workload}"); sys.exit(2)
    }
    val bench = new Bench(o)
    val code =
      try {
        val r = bench.run()
        r.traced.foreach(t => kv.get("trace-out").foreach(writeTrace(t, r, _)))
        println(new ObjectMapper().writeValueAsString(report(r)))
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally {
        if (bench.spark != null) bench.spark.stop()
      }
    sys.exit(code)
  }

  private val mapper = new ObjectMapper()

  /** Peak resident set of this process, from the kernel. */
  def rssPeakMb(): Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    val line = scala.io.Source.fromFile(status.toFile).getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  private def stamp(r: Result): ObjectNode = {
    val s = mapper.createObjectNode()
    s.put("workload", r.o.workload).put("seed", r.o.seed)
      .put("seconds", r.o.seconds).put("trace", r.o.trace)
      .put("cpus", r.o.cpus)
      .put("xmx_mb", Runtime.getRuntime.maxMemory() / (1024 * 1024))
      .put("jdk", System.getProperty("java.version"))
      .put("spark", org.apache.spark.SPARK_VERSION)
      .put("source", r.o.source)
      .put("corpus_id", r.corpusId)
    s
  }

  def report(r: Result): ObjectNode = {
    val out = mapper.createObjectNode()
    out.set[ObjectNode]("stamp", stamp(r))
    val ok = r.samples.filter(_.ok)
    val byKind = ok.groupMap(_.kind)(_.ms)
    // each client's units up to its last whole turn of batch sizes (or
    // window widths), so every run weighs the sizes alike whichever unit
    // the deadline fell in; a client too short for a turn keeps them all
    val perClient = ok.filter(_.kind == unitKind(r.o.workload)).groupBy(_.client)
      .view.mapValues { xs =>
        val whole = xs.size / Gen.Turn * Gen.Turn
        xs.sortBy(_.startNs).take(if (whole > 0) whole else xs.size)
      }.toMap
    val unit = perClient.values.flatten.map(_.ms).toSeq
    require(unit.nonEmpty, s"no completed ${unitKind(r.o.workload)} op")
    // each client's rate over its own span, summed
    val opsPerS = perClient.values.map { xs =>
      xs.size / ((xs.map(_.endNs).max - r.timed.startNs) / 1e9)
    }.sum
    val m = out.putObject("metrics")
    m.put("setup_s", r.setupS)
    m.put("latency_p50_ms", Stats.median(unit))
    m.put("ops_per_s", opsPerS)
    m.put("stored_bytes_per_input_byte", r.storedPerInputByte)
    // recorded, not gated: with the heap fixed at -Xms = -Xmx the peak
    // shows the JVM's heap sizing more than the program
    out.put("rss_peak_mb", rssPeakMb())
    out.put("acked_events_per_s", r.timed.ackedEvents / r.timed.elapsedS)
    // every op type's percentiles with their sample counts; a percentile
    // with fewer than Stats.MinTail samples beyond it is withheld (null)
    val ops = out.putObject("ops")
    byKind.toSeq.sortBy(_._1).foreach { case (kind, xs) =>
      val o = ops.putObject(kind)
      o.put("n", xs.size)
      Seq(50.0, 90.0, 99.0).foreach { p =>
        val name = s"p${p.toInt}_ms"
        Stats.reliablePercentile(xs, p) match {
          case Some(pct) => o.put(name, pct.value)
          case None => o.putNull(name)
        }
      }
      o.put("p50_flagged", Stats.reliablePercentile(xs, 50).isEmpty)
    }
    out.put("latency_p50_n", unit.size)
      .put("latency_p50_flagged", Stats.reliablePercentile(unit, 50).isEmpty)
    out.put("elapsed_s", r.timed.elapsedS)
    val correct = r.failed == 0 && r.failures.isEmpty
    out.put("correct", correct).put("attempted", r.attempted).put("failed", r.failed)
    val f = out.putArray("failures")
    r.failures.take(20).foreach(f.add)
    r.traced.foreach { t =>
      val l = out.putObject("layers")
      t.metrics.toSeq.sortBy(_._1).foreach { case (k, v) => l.put(k, v) }
      // time spent queueing behind other clients: the loaded p50 minus the
      // same op's single-client latency
      Seq("ingest", "sql_agg").foreach { kind =>
        for (loaded <- byKind.get(kind); alone <- t.tracedMs.get(kind))
          l.put(s"http.wait_ms.$kind", Stats.median(loaded) - Stats.median(alone))
      }
    }
    out
  }

  private def writeTrace(t: Traced, r: Result, path: String): Unit = {
    val o = mapper.createObjectNode()
    o.set[ObjectNode]("stamp", stamp(r))
    val s = o.putObject("summary")
    t.metrics.toSeq.sortBy(_._1).foreach { case (k, v) => s.put(k, v) }
    val spans = o.putArray("spans")
    t.spans.foreach { sp =>
      spans.addObject().put("id", sp.id).put("name", sp.name)
        .put("start_ms", sp.startMs).put("end_ms", sp.endMs)
        .put("parent", sp.parent).put("op", sp.op)
    }
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(path), o)
  }
}
