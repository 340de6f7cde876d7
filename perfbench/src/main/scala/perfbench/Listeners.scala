package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener state for the traced run. Both listeners record only while
  * `on` is set, so the untraced pass of a traced run pays nothing but
  * the flag check.
  */
object Listeners {
  @volatile var on = false

  final class StageAcc(val stageId: Int) {
    @volatile var submit = 0.0
    @volatile var complete = 0.0
    @volatile var failed = false
    var tasks = 0L
    var failedTasks = 0L
    var taskMs = 0L
    var waitMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
    def toMap: Map[String, Any] = synchronized(Map("stage" -> stageId,
      "submit" -> submit, "complete" -> complete, "failed" -> failed,
      "tasks" -> tasks, "failed_tasks" -> failedTasks, "task_ms" -> taskMs,
      "wait_ms" -> waitMs, "shuffle_write" -> shuffleWrite,
      "shuffle_read" -> shuffleRead, "spill" -> spill, "input" -> input,
      "output" -> output))
  }

  final case class JobRec(job: Int, start: Double, description: String, stages: Seq[Int]) {
    @volatile var end = 0.0
    @volatile var ok = true
  }

  val jobs = TrieMap.empty[Int, JobRec]
  val stages = TrieMap.empty[Int, StageAcc]
  val catalyst = new ConcurrentLinkedQueue[Map[String, Any]]

  def reset(): Unit = { jobs.clear(); stages.clear(); catalyst.clear() }

  /** Record one query's planning phases from its tracker. */
  def recordPhases(func: String, qe: QueryExecution, ok: Boolean): Unit =
    if (on) {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> Seq(p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
      catalyst.add(Map("func" -> func, "ok" -> ok, "end" -> Clock.ms(),
        "phases" -> phases))
    }

  /** Jobs, stages and Catalyst records seen while `on`, as JSON-ready maps. */
  def dump(): Map[String, Any] = Map(
    "jobs" -> jobs.values.toSeq.sortBy(_.job).map(j => Map(
      "job" -> j.job, "start" -> j.start, "end" -> j.end,
      "ok" -> j.ok, "description" -> j.description, "stages" -> j.stages)),
    "stages" -> stages.values.toSeq.sortBy(_.stageId).map(_.toMap),
    "catalyst" -> catalyst.asScala.toSeq)

  /** Wait (bounded) until every recorded job has ended: the listener
    * bus delivers events asynchronously.
    */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.exists(_.end == 0.0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }
}

/** Spark execution layer: jobs, stages and per-stage task aggregates. */
final class TraceSparkListener extends SparkListener {
  import Listeners._

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, e.time.toDouble, desc.take(2000),
      e.stageIds))
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageAcc(s)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach { j =>
      j.ok = e.jobResult == JobSucceeded
      j.end = e.time.toDouble
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.submit = e.stageInfo.submissionTime
        .getOrElse(System.currentTimeMillis()).toDouble
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.complete = e.stageInfo.completionTime
        .getOrElse(System.currentTimeMillis()).toDouble
      s.failed = e.stageInfo.failureReason.isDefined
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stages.get(e.stageId).foreach { s =>
      val info = e.taskInfo
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (info != null && info.failed) s.failedTasks += 1
        if (info != null && s.submit > 0)
          s.waitMs += math.max(0L, info.launchTime - s.submit.toLong)
        if (m != null) {
          s.taskMs += m.executorRunTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
          s.output += m.outputMetrics.bytesWritten
        }
      }
    }
}

/** Catalyst layer: the planning phases of every query action, in any
  * session (registered through `spark.sql.queryExecutionListeners`, so
  * Thrift connections' sessions report too). `toRdd` is not an action
  * the listener sees; query_keys records those phases itself.
  */
final class CatalystListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = Listeners.recordPhases(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = Listeners.recordPhases(funcName, qe, ok = false)
}
