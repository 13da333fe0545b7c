package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Maps Spark work to the program module that caused it. */
object Attribution {

  /** The package of the first `graft.<module>.` frame of a long call site
    * (innermost frame first, as Spark records it), or "other".
    */
  def moduleOf(callSite: String): String =
    Option(callSite).iterator.flatMap(_.linesIterator).map(_.trim)
      .collectFirst { case Frame(m) => m }.getOrElse("other")

  private val Frame = """^(?:at\s+)?graft\.([a-z]+)\..*""".r

  /** A job belongs to the module of its SQL execution's call site when it
    * runs inside one (so AQE stage jobs inherit their query's module),
    * else to the module of its own stage's call site.
    */
  def jobModule(execId: Option[Long], execCallSites: collection.Map[Long, String],
                stageCallSite: String): String =
    execId.flatMap(execCallSites.get).map(moduleOf).filter(_ != "other")
      .getOrElse(moduleOf(stageCallSite))
}

/** One closed interval of traced work. */
final case class Span(id: Int, name: String, startMs: Long, endMs: Long,
                      parent: Int, op: Int)

/** One Spark job of a traced op. */
final class JobRec(val jobId: Int, val startMs: Long, val execId: Option[Long],
                   val stageCallSite: String) { @volatile var endMs: Long = startMs }

/** Per-op counters filled by [[LayerListener]]. */
final class OpTrace(val id: Int, val kind: String) {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  var tasks = 0L
  var scanBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var planMs = 0.0
  var dataFilesRead = 0L
}

/** Spark and SQL listener for the traced replay. The replay runs one op at
  * a time and drains the listener bus before the next op starts, so every
  * event that arrives while `current` is set belongs to that op.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {

  @volatile var current: OpTrace = null
  val execCallSites = new ConcurrentHashMap[Long, String]().asScala
  private val stageJobs = new ConcurrentHashMap[Int, OpTrace]()
  private val jobsById = new ConcurrentHashMap[Int, JobRec]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execCallSites.put(s.executionId, s.details)
    case _ => ()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val op = current
    if (op != null) op.synchronized {
      val execId = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption)
      val site = j.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      val job = new JobRec(j.jobId, j.time, execId, site)
      op.jobs += job
      jobsById.put(j.jobId, job)
      j.stageIds.foreach(s => stageJobs.put(s, op))
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobsById.remove(j.jobId)).foreach(_.endMs = j.time)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(stageJobs.get(t.stageId)).foreach { op =>
      op.synchronized {
        op.tasks += 1
        Option(t.taskMetrics).foreach { m =>
          op.scanBytes += m.inputMetrics.bytesRead
          op.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          op.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
    val op = current
    if (op != null) op.synchronized {
      op.planMs += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum.toDouble
      op.dataFilesRead += LayerListener.scans(qe.executedPlan)
        .filterNot(LayerListener.isCatalogScan)
        .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    }
  }

  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
}

object LayerListener {
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Scans of the stats catalog (under `.stats/`), not of stream data. */
  def isCatalogScan(s: FileSourceScanExec): Boolean =
    s.relation.location.rootPaths.exists(_.toString.contains("/.stats/"))
}
