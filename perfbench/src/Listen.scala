package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Reads Spark's public counters for the traced run: jobs (with the span
  * that started them), per-stage task totals, SQL executions, AQE
  * re-plans and the planning phases of every finished query.
  */
final class Listen(rec: Rec) extends SparkListener with QueryExecutionListener {
  /** The registry row in flight, for events that carry no span property. */
  @volatile var currentOp: String = ""

  private final class StageAcc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var durMs = 0L; var maxDurMs = 0L; var inBytes = 0L; var inRecords = 0L
    var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L
    var memSpill = 0L; var diskSpill = 0L
  }
  private val stageAcc = new ConcurrentHashMap[(Int, Int), StageAcc]()
  private val jobs = new ConcurrentHashMap[Int, Map[String, Any]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val execs = new ConcurrentHashMap[Long, Map[String, Any]]()
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Rec.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, Map("id" -> e.jobId, "start" -> rec.now(), "span" -> span,
      "op" -> currentOp, "stages" -> e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j ++ Map("end" -> rec.now(),
      "ok" -> (e.jobResult == JobSucceeded)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = stageAcc.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAcc)
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      val d = e.taskInfo.duration
      a.durMs += d
      a.maxDurMs = math.max(a.maxDurMs, d)
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.memSpill += m.memoryBytesSpilled
      a.diskSpill += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val a = Option(stageAcc.remove((i.stageId, i.attemptNumber()))).getOrElse(new StageAcc)
    stages.add(Map("id" -> i.stageId, "job" -> stageJob.getOrDefault(i.stageId, -1),
      "tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
      "gc_ms" -> a.gcMs, "dur_ms" -> a.durMs, "max_dur_ms" -> a.maxDurMs,
      "in_bytes" -> a.inBytes, "in_records" -> a.inRecords,
      "sh_write" -> a.shWrite, "sh_read" -> a.shRead,
      "fetch_wait_ms" -> a.fetchWaitMs, "mem_spill" -> a.memSpill,
      "disk_spill" -> a.diskSpill))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, Map("id" -> s.executionId, "start" -> rec.now(),
        "op" -> currentOp, "replans" -> 0))
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      execs.computeIfPresent(u.executionId, (_, x) =>
        x.updated("replans", x("replans").asInstanceOf[Int] + 1))
    case x: SparkListenerSQLExecutionEnd =>
      execs.computeIfPresent(x.executionId, (_, m) => m.updated("end", rec.now()))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    query(funcName, qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    query(funcName, qe, ok = false)

  private def query(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases.map { case (k, p) => k -> (p.endTimeMs - p.startTimeMs) }
    queries.add(Map("func" -> funcName, "op" -> currentOp, "ok" -> ok,
      "analysis_ms" -> ph.getOrElse("analysis", 0L),
      "optimization_ms" -> ph.getOrElse("optimization", 0L),
      "planning_ms" -> ph.getOrElse("planning", 0L)))
  }

  def out: Map[String, Any] = Map(
    "jobs" -> jobs.values().asScala.toSeq.sortBy(_("id").asInstanceOf[Int]),
    "stages" -> stages.asScala.toSeq,
    "execs" -> execs.values().asScala.toSeq,
    "queries" -> queries.asScala.toSeq)
}
