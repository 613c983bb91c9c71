package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Records what the engine's listener buses report during a traced run.
  * All times are epoch milliseconds. Spans are kept in memory and turned
  * into per-layer figures by [[Layers]] when the run ends. */
final class Collector {
  import Collector._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val tasksByStage = mutable.HashMap.empty[Int, TaskAgg]
  val executions = mutable.ArrayBuffer.empty[Execution]
  val batches = mutable.ArrayBuffer.empty[Batch]
  private val drains = mutable.HashMap.empty[String, CountDownLatch]

  /** Rule-time names of the engine's two plan rewrites. */
  val rewriteRules = Set("graft.plans.SimilarityJoinRewrite", "graft.plans.RangeJoinRewrite")

  def onQe(qe: QueryExecution): Unit = {
    val tracker = qe.tracker
    val phases = tracker.phases.toSeq.map { case (n, p) =>
      Phase(n, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
    val rewriteNs = tracker.rules.collect { case (n, r) if rewriteRules(n) => r.totalTimeNs }.sum
    val names = try qe.analyzed.output.map(_.name) catch { case _: Throwable => Nil }
    synchronized {
      if (names.contains(Collector.DrainColumn)) release("qe")
      else if (phases.nonEmpty) executions += Execution(phases, rewriteNs)
    }
  }

  def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val q = Option(e.properties).flatMap(p => Option(p.getProperty(Collector.QueryProperty))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, q, e.time.toDouble, Double.NaN)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time.toDouble
      if (j.query == Collector.DrainQuery) release("jobs")
    }
  }

  def onStageCompleted(info: StageInfo): Unit = synchronized {
    for (s <- info.submissionTime; c <- info.completionTime)
      stages += Stage(info.stageId, s.toDouble, c.toDouble)
  }

  def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = tasksByStage.getOrElseUpdate(e.stageId, new TaskAgg)
    a.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) a.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
      a.shufReadB += m.shuffleReadMetrics.totalBytesRead
      a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
      a.spillB += m.diskBytesSpilled
      a.inB += m.inputMetrics.bytesRead
      a.inRows += m.inputMetrics.recordsRead
    }
  }

  def onProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val b = Batch(start, start + d.getOrElse("triggerExecution", 0L),
      d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L), p.numInputRows,
      p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.commitTimeMs).sum)
    synchronized { batches += b }
  }

  private def release(kind: String): Unit = drains.get(kind).foreach(_.countDown())

  /** Blocks until both listener queues have delivered everything posted
    * before this call: a marker job and a marker query are run, and each
    * queue is drained once its marker arrives. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val latches = synchronized {
      Seq("jobs", "qe").map { k => val l = new CountDownLatch(1); drains(k) = l; l }
    }
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Collector.QueryProperty)
    sc.setLocalProperty(Collector.QueryProperty, Collector.DrainQuery)
    try spark.range(1).selectExpr(s"id AS ${Collector.DrainColumn}").collect()
    finally sc.setLocalProperty(Collector.QueryProperty, prev)
    latches.foreach(_.await(60, TimeUnit.SECONDS))
  }
}

object Collector {
  final case class Job(id: Int, query: String, start: Double, var end: Double)
  final case class Stage(id: Int, start: Double, end: Double)
  final class TaskAgg {
    var tasks, failed = 0L
    var runMs, cpuNs, gcMs, schedMs, shufReadB, shufWriteB, spillB, inB, inRows = 0L
  }
  final case class Phase(name: String, start: Double, end: Double)
  final case class Execution(phases: Seq[Phase], rewriteNs: Long) {
    def start: Double = phases.map(_.start).minOption.getOrElse(Double.NaN)
  }
  final case class Batch(start: Double, end: Double, commitMs: Long, inputRows: Long,
                         stateRows: Long, stateCommitMs: Long)

  /** Local property carrying the id of the query whose thread started a
    * job; streaming threads inherit it from the query that starts them. */
  val QueryProperty = "perfbench.query"
  val DrainQuery = "perfbench.drain"
  val DrainColumn = "perfbench_drain"

  /** The collector of the current traced run, or null when tracing is off. */
  @volatile var active: Collector = _
}

/** Registered through `spark.sql.queryExecutionListeners`, so every session
  * gets one, the child sessions that run streaming round trips included. */
class QeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(Collector.active).foreach(_.onQe(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Option(Collector.active).foreach(_.onQe(qe))
}

final class SparkEvents(c: Collector) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = c.onJobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = c.onJobEnd(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c.onStageCompleted(e.stageInfo)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = c.onTaskEnd(e)
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => c.onProgress(p)
    case _ => ()
  }
}
