package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchLogicSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  test("a percentile is withheld when fewer than ten samples lie beyond it") {
    val xs = (1 to 99).map(_.toDouble)
    val p90 = Stats.percentile(xs, 90).get
    assert(p90.value == 90.0 && p90.beyond == 9 && !p90.reliable)
    assert(Stats.reliablePercentile(xs, 90).isEmpty)
    val more = (1 to 100).map(_.toDouble)
    assert(Stats.reliablePercentile(more, 90).map(_.value).contains(90.0))
    assert(Stats.reliablePercentile((1 to 19).map(_.toDouble), 50).isEmpty)
    assert(Stats.reliablePercentile((1 to 20).map(_.toDouble), 50).isDefined)
    assert(Stats.percentile(Nil, 50).isEmpty)
  }

  test("median of an even count averages the middle pair") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  private val history = new History(seed = 11, minutes = 60, perMinute = 100)
  private val window = Gen.Window(history.baseMs + 15 * 60000L, history.baseMs + 30 * 60000L)
  private val exp = history.expected(window)

  /** The answer a correct server gives, built from the expectation. */
  private def aggAnswer(agg: Map[(String, Int), (Long, Double)]) = {
    val a = mapper.createArrayNode()
    agg.foreach { case ((host, status), (n, avg)) =>
      a.addObject().put("host", host).put("status", status.toDouble)
        .put("n", n).put("avg_latency", avg)
    }
    a
  }

  test("the checker accepts a right answer and catches a planted wrong one") {
    assert(Check.agg(exp.agg, aggAnswer(exp.agg)).isEmpty)
    val (k, (n, avg)) = exp.agg.head
    assert(Check.agg(exp.agg, aggAnswer(exp.agg + (k -> (n + 1, avg)))).isDefined)
    assert(Check.agg(exp.agg, aggAnswer(exp.agg + (k -> (n, avg + 0.001)))).isDefined)
    assert(Check.agg(exp.agg, aggAnswer(exp.agg - k)).isDefined)

    val list = mapper.createArrayNode()
    exp.list.foreach(s => list.addObject().put("seq", s.toDouble))
    assert(Check.list(exp.list, list).isEmpty)
    list.remove(0)
    assert(Check.list(exp.list, list).isDefined)

    val counts = mapper.createObjectNode()
    val records = counts.putArray("records")
    exp.counts.foreach(c => records.addObject().put("count", c))
    assert(Check.counts(exp.counts, counts).isEmpty)
    records.get(3).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("count", exp.counts(3) + 1)
    assert(Check.counts(exp.counts, counts).isDefined)
  }

  test("expected answers follow from the generated events") {
    val inWindow = (0 until history.n).filter { i =>
      history.tsMs(i) >= window.startMs && history.tsMs(i) < window.endMs
    }
    assert(inWindow.size == 15 * 100)
    assert(exp.agg.values.map(_._1).sum == inWindow.size)
    assert(exp.counts.sum == inWindow.size && exp.counts.size == Gen.CountBins)
    assert(exp.list.size == math.min(100, inWindow.count(history.events(_).level == "error")))
    assert(exp.list == exp.list.sorted.reverse)
  }

  test("the same seed gives the same inputs, another seed different ones") {
    assert(Gen.batch(5, 1, 3) == Gen.batch(5, 1, 3))
    assert(Gen.batch(5, 1, 3).json != Gen.batch(6, 1, 3).json)
    assert(new History(5, 60, 100).corpusId == new History(5, 60, 100).corpusId)
    assert(new History(5, 60, 100).corpusId != new History(6, 60, 100).corpusId)
    val b = Gen.batch(5, 0, Gen.NewFieldEvery - 1)
    assert(b.json.contains("\"x_c0_0\""))
    assert(mapper.readTree(b.json).size == b.events)
  }

  test("job attribution maps a known call site to its module") {
    val parquetWrite =
      """org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:473)
        |graft.ingest.IngestPipeline$.append(IngestPipeline.scala:310)
        |graft.http.IngestRoutes.appendWithStats(IngestRoutes.scala:235)""".stripMargin
    assert(Attribution.moduleOf(parquetWrite) == "ingest")
    assert(Attribution.moduleOf("org.apache.spark.rdd.RDD.count(RDD.scala:1)") == "other")
    assert(Attribution.moduleOf(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
        "graft.SparkEntry$.main(SparkEntry.scala:5)\n" +
        "graft.query.Counts$.binDensityFromStats(Counts.scala:80)") == "query")
  }

  test("an AQE stage job inherits the module of its SQL execution") {
    val execSites = Map(7L ->
      ("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
        "graft.query.ResponseWriter$.toJsonArray(ResponseWriter.scala:48)"))
    val stageSite =
      "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec.getFinalPhysicalPlan" +
        "(AdaptiveSparkPlanExec.scala:300)"
    assert(Attribution.jobModule(Some(7L), execSites, stageSite) == "query")
    assert(Attribution.jobModule(None, execSites, stageSite) == "other")
    assert(Attribution.jobModule(Some(8L), execSites,
      "graft.catalog.TxnCatalog$.commit(TxnCatalog.scala:76)") == "catalog")
  }

  test("busy time counts overlapping jobs once and clips to the op") {
    assert(Replay.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 25) == 20)
    assert(Replay.covered(Nil, 0, 10) == 0)
  }
}
