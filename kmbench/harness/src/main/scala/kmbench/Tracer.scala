package kmbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark's scheduler, task and SQL-execution events as flat JSON
  * lines, kept in memory until [[lines]] is read at the end of a run.
  * Nothing is aggregated here: the runner joins jobs to SQL executions
  * (by `spark.sql.execution.id`) and executions to program call sites. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val buf = new ConcurrentLinkedQueue[String]()

  def lines: Seq[String] = buf.toArray(Array.empty[String]).toSeq

  private def mark(fields: (String, Any)*): Unit = buf.add(Tracer.json(fields))

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      mark("ev" -> "sql_start", "id" -> e.executionId,
        "root" -> e.rootExecutionId.getOrElse(e.executionId),
        "desc" -> e.description, "t" -> e.time)
    case e: SparkListenerSQLExecutionEnd =>
      mark("ev" -> "sql_end", "id" -> e.executionId, "t" -> e.time)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String): String =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    mark("ev" -> "job_start", "job" -> e.jobId, "t" -> e.time,
      "stages" -> e.stageIds, "exec" -> prop("spark.sql.execution.id"),
      "root" -> prop("spark.sql.execution.root.id"),
      "callsite" -> prop("callSite.short"))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    mark("ev" -> "job_end", "job" -> e.jobId, "t" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    mark("ev" -> "stage", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "tasks" -> s.numTasks, "submit" -> s.submissionTime.getOrElse(-1L),
      "done" -> s.completionTime.getOrElse(-1L), "ok" -> s.failureReason.isEmpty)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long =
      m.map(f).getOrElse(0L)
    mark("ev" -> "task", "stage" -> e.stageId, "ok" -> i.successful,
      "launch" -> i.launchTime, "finish" -> i.finishTime,
      "run_ms" -> metric(_.executorRunTime),
      "cpu_ns" -> metric(_.executorCpuTime),
      "gc_ms" -> metric(_.jvmGCTime),
      "sw_bytes" -> metric(_.shuffleWriteMetrics.bytesWritten),
      "sr_bytes" -> metric(t =>
        t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      "spill" -> metric(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      "in_bytes" -> metric(_.inputMetrics.bytesRead),
      "in_recs" -> metric(_.inputMetrics.recordsRead),
      "out_recs" -> metric(_.outputMetrics.recordsWritten))
  }

  // Catalyst phases (analysis, optimization, planning) of every
  // Dataset action, stamped with the start of its first phase.
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    mark("ev" -> "qe", "func" -> funcName,
      "t" -> phases.values.map(_.startTimeMs).minOption.getOrElse(-1L),
      "plan_ms" -> phases.values.map(_.durationMs).sum)
  }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    mark("ev" -> "qe_failed", "func" -> funcName)
}

object Tracer {
  /** A value that is already JSON text. */
  final case class Raw(json: String)

  def json(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${quote(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => quote(s)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(String.valueOf(other))
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').result()
  }
}
