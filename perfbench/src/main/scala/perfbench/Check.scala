package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

/** Compares server answers with the answers the generator implies. Each
  * check returns `None` when the answer is right and a reason otherwise.
  */
object Check {

  type Verdict = Option[String]

  private def rows(body: JsonNode): Seq[JsonNode] =
    if (body != null && body.isArray) body.elements().asScala.toSeq else Nil

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** `sql_agg`: every (host, status) group with its count and mean latency. */
  def agg(expected: Map[(String, Int), (Long, Double)], body: JsonNode): Verdict = {
    val got = rows(body).map { r =>
      (r.path("host").asText(), r.path("status").asDouble().toInt) ->
        (r.path("n").asLong(-1), r.path("avg_latency").asDouble(Double.NaN))
    }
    if (!body.isArray) Some("sql_agg: not a JSON array")
    else if (got.size != expected.size || got.toMap.size != got.size)
      Some(s"sql_agg: ${got.size} groups, expected ${expected.size}")
    else got.collectFirst {
      case (k, (n, avg)) if !expected.get(k).exists { case (en, ea) =>
          en == n && close(ea, avg) } =>
        s"sql_agg: group $k = ($n, $avg), expected ${expected.get(k)}"
    }
  }

  /** `sql_list`: the newest error events of the window, newest first. */
  def list(expected: Seq[Long], body: JsonNode): Verdict = {
    val got = rows(body).map(_.path("seq").asDouble(-1).toLong)
    if (!body.isArray) Some("sql_list: not a JSON array")
    else if (got != expected)
      Some(s"sql_list: seq ${got.take(5).mkString(",")}.. (${got.size} rows), " +
        s"expected ${expected.take(5).mkString(",")}.. (${expected.size} rows)")
    else None
  }

  /** `counts`: one count per bin, dense. */
  def counts(expected: Seq[Long], body: JsonNode): Verdict = {
    val got = rows(body.path("records")).map(_.path("count").asLong(-1))
    if (got != expected)
      Some(s"counts: ${got.mkString(",")}, expected ${expected.mkString(",")}")
    else None
  }

  /** Total of the count column over a `sql_agg` answer. */
  def aggTotal(body: JsonNode): Long = rows(body).map(_.path("n").asLong(0)).sum

  def countsTotal(body: JsonNode): Long =
    rows(body.path("records")).map(_.path("count").asLong(0)).sum

  /** A total that must equal the acked event count. */
  def total(what: String, got: Long, want: Long): Verdict =
    if (got != want) Some(s"$what: $got, expected $want") else None

  /** `sql_list` on an ingested stream: at most 100 error rows, newest
    * first.
    */
  def liveList(body: JsonNode): Verdict = {
    val rs = rows(body)
    val ts = rs.map(_.path("p_timestamp").asText())
    if (!body.isArray) Some("sql_list: not a JSON array")
    else if (rs.size > 100) Some(s"sql_list: ${rs.size} rows > 100")
    else if (rs.exists(_.path("level").asText() != "error"))
      Some("sql_list: a row that is not level=error")
    else if (ts != ts.sorted.reverse) Some("sql_list: rows not newest first")
    else None
  }
}
