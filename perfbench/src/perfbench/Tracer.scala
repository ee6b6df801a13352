package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans of the traced query executions, kept in memory until the run ends.
  *
  * Jobs are tied to an execution through a local property that Spark copies
  * onto every job the execution submits, including those started from the
  * broadcast and AQE threads; stages and tasks follow their job. The planning
  * phases arrive through the [[QueryExecutionListener]], which fires on the
  * listener bus after the command ends, so [[end]] drains the bus before the
  * next execution starts.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  @volatile private var current = -1
  private val stageExec = mutable.Map.empty[Int, Int]
  private val jobs      = mutable.ArrayBuffer.empty[(Int, Int)]
  private val stages    = mutable.LinkedHashMap.empty[(Int, Int), StageSpan]
  private val plans     = mutable.ArrayBuffer.empty[PlanSpan]

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def begin(exec: Int): Unit = {
    current = exec
    spark.sparkContext.setLocalProperty(ExecProperty, exec.toString)
  }

  def end(): Unit = {
    spark.sparkContext.setLocalProperty(ExecProperty, null)
    ListenerBus.drain(spark.sparkContext)
    current = -1
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(ExecProperty))).foreach { p =>
      val exec = p.toInt
      jobs += ((exec, e.jobId))
      e.stageIds.foreach(stageExec(_) = exec)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageExec.get(info.stageId).foreach { exec =>
      val s = span(exec, info.stageId, info.attemptNumber())
      s.numTasks = info.numTasks
      s.submitMs = info.submissionTime.getOrElse(-1L)
      s.endMs = info.completionTime.getOrElse(-1L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageExec.get(e.stageId).foreach { exec =>
      val s = span(exec, e.stageId, e.stageAttemptId)
      val t = e.taskInfo
      val m = e.taskMetrics
      if (m != null) {
        val deser   = m.executorDeserializeTime
        val fetchMs = if (t.gettingResultTime > 0) t.finishTime - t.gettingResultTime else 0L
        val delay   = math.max(0L, t.duration - m.executorRunTime - deser - m.resultSerializationTime - fetchMs)
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.waitMs += delay + deser
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
        s.inRows += m.inputMetrics.recordsRead
        s.inBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    if (current >= 0) {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      plans += PlanSpan(current, ms("analysis"), ms("optimization"), ms("planning"))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def span(exec: Int, stage: Int, attempt: Int): StageSpan =
    stages.getOrElseUpdate((stage, attempt), new StageSpan(exec, stage, attempt))

  def record: Map[String, Any] = synchronized {
    Map(
      "jobs"   -> jobs.map { case (exec, job) => Map("exec" -> exec, "job" -> job) },
      "stages" -> stages.values.map(_.record),
      "plans"  -> plans.map(_.record),
    )
  }
}

object Tracer {
  val ExecProperty = "perfbench.exec"

  final class StageSpan(val exec: Int, val stage: Int, val attempt: Int) {
    var numTasks     = 0
    var submitMs     = -1L
    var endMs        = -1L
    val runMs        = mutable.ArrayBuffer.empty[Long]
    var cpuNs        = 0L
    var gcMs         = 0L
    var waitMs       = 0L
    var shuffleWrite = 0L
    var shuffleRead  = 0L
    var spill        = 0L
    var inRows       = 0L
    var inBytes      = 0L

    def record: Map[String, Any] = Map(
      "exec" -> exec, "stage" -> stage, "attempt" -> attempt, "tasks" -> numTasks,
      "submit_ms" -> submitMs, "end_ms" -> endMs, "task_run_ms" -> runMs,
      "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "wait_ms" -> waitMs,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "spill_bytes" -> spill, "input_rows" -> inRows, "input_bytes" -> inBytes,
    )
  }

  final case class PlanSpan(exec: Int, analysisMs: Long, optimizationMs: Long, planningMs: Long) {
    def record: Map[String, Any] = Map(
      "exec" -> exec, "analysis_ms" -> analysisMs,
      "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    )
  }
}
