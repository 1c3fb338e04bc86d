package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** What a traced run learns from Spark itself, kept in memory and written
  * out once the run ends. A `SparkListener` records every job, stage and
  * SQL execution with its wall-clock window; a `QueryExecutionListener`
  * records every completed action with its duration, and names the
  * artifact an action wrote when its output lies under the artifact root.
  * The benchmark attributes these records to its own spans by time, since
  * all load comes from one thread. */
final class Trace(artifactRoot: String) extends SparkListener with QueryExecutionListener {
  import Trace._

  val jobs = ArrayBuffer.empty[Job]
  val stages = scala.collection.mutable.Map.empty[Int, Stage]
  val execs = ArrayBuffer.empty[SqlExec]
  val actions = ArrayBuffer.empty[Action]

  private val artifactPath =
    ("(?:" + java.util.regex.Pattern.quote(artifactRoot) +
      "/|graft_art_)([A-Za-z0-9_]+?)_[0-9]+").r

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val m = e.stageInfo.taskMetrics
    stages(e.stageInfo.stageId) =
      if (m == null) Stage(e.stageInfo.numTasks, 0L, 0L, 0L)
      else Stage(e.stageInfo.numTasks, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execs += SqlExec(s.executionId, s.time, s.description) }
    case s: SparkListenerSQLExecutionEnd =>
      synchronized { execs.find(_.id == s.executionId).foreach(_.endMs = s.time) }
    case _ =>
  }

  private def artifactOf(qe: QueryExecution): String =
    artifactPath.findFirstMatchIn(qe.logical.toString.takeWhile(_ != '\n'))
      .map(_.group(1)).getOrElse("")

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      actions += Action(func, durationNs / 1e6, artifactOf(qe), ok = true)
    }

  override def onFailure(func: String, qe: QueryExecution, error: Exception): Unit =
    synchronized {
      actions += Action(func, 0.0, artifactOf(qe), ok = false)
    }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.map(j => Map("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stages)).toList,
      "stages" -> stages.toList.sortBy(_._1).map { case (id, s) =>
        Map("id" -> id, "tasks" -> s.tasks, "run_ms" -> s.runMs,
          "shuffle_bytes" -> s.shuffleBytes, "spill_bytes" -> s.spillBytes) },
      "sql" -> execs.map(x => Map("id" -> x.id, "start_ms" -> x.startMs, "end_ms" -> x.endMs,
        "desc" -> x.desc)).toList,
      "actions" -> actions.map(a => Map("func" -> a.func, "ms" -> a.ms,
        "artifact" -> a.artifact, "ok" -> a.ok)).toList)
  }
}

object Trace {
  final case class Job(id: Int, startMs: Long, stages: Seq[Int], var endMs: Long = -1L)
  final case class Stage(tasks: Int, runMs: Long, shuffleBytes: Long, spillBytes: Long)
  final case class SqlExec(id: Long, startMs: Long, desc: String, var endMs: Long = -1L)
  final case class Action(func: String, ms: Double, artifact: String, ok: Boolean)
}
