package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters for one call, filled from listener events. */
final class CallStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedWaitMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var outputB = 0L
}

final case class JobSpan(jobId: Int, call: Int, start: Long, var end: Long,
    stageIds: Seq[Int])
final case class StageSpan(stageId: Int, call: Int, submit: Long,
    var end: Long)
final case class BatchSample(call: Int, batchId: Long, ms: Long,
    rows: Long)

/** Attributes Spark work to benchmark calls from outside the program:
  * every call runs with the local property [[Tracer.CallProp]] set, so
  * its jobs and stages (and through them, its tasks) carry the call id.
  * Planning phases come from `QueryExecution.tracker`, micro-batches from
  * the streaming progress events. Everything stays in memory until the
  * run writes its report.
  */
final class Tracer extends SparkListener {
  import Tracer.CallProp

  val byCall = mutable.HashMap.empty[Int, CallStats]
  val jobs = mutable.ArrayBuffer.empty[JobSpan]
  val stages = mutable.HashMap.empty[Int, StageSpan]
  private val jobById = mutable.HashMap.empty[Int, JobSpan]
  /** (start, end) epoch-ms of each analysis/optimization/planning phase. */
  val planPhases = mutable.ArrayBuffer.empty[(Long, Long)]

  private def stats(call: Int): CallStats =
    byCall.getOrElseUpdate(call, new CallStats)

  private def callOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(CallProp)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val c = callOf(e.properties)
    val j = JobSpan(e.jobId, c, e.time, -1L, e.stageIds)
    jobs += j
    jobById(e.jobId) = j
    stats(c).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val c = callOf(e.properties)
      val submit = e.stageInfo.submissionTime
        .getOrElse(System.currentTimeMillis())
      stages(e.stageInfo.stageId) = StageSpan(e.stageInfo.stageId, c,
        submit, -1L)
      stats(c).stages += 1
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages.get(e.stageInfo.stageId).foreach(_.end =
        e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.get(e.stageId)
    val s = stats(st.map(_.call).getOrElse(-1))
    s.tasks += 1
    if (e.reason != Success) s.failedTasks += 1
    if (e.taskInfo != null) {
      s.taskMs += e.taskInfo.duration
      st.foreach(x =>
        s.schedWaitMs += math.max(0L, e.taskInfo.launchTime - x.submit))
    }
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.spillB += m.diskBytesSpilled
      s.outputB += m.outputMetrics.bytesWritten
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.values.foreach(p =>
        planPhases += ((p.startTimeMs, p.endTimeMs)))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
  }
}

object Tracer {
  val CallProp = "perfbench.call"
}

/** Micro-batch latency and input rows per streaming progress event —
  * needed for the end-to-end numbers, so it is attached in every run.
  * `onBatch` lets the caller observe state (compactions) right after a
  * batch commits.
  */
final class BatchListener(onBatch: Long => Unit)
    extends StreamingQueryListener {
  val samples = mutable.ArrayBuffer.empty[BatchSample]
  @volatile var currentCall = -1

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ms = Option(p.durationMs.get("triggerExecution"))
      .map(_.longValue).getOrElse(p.batchDuration)
    // AvailableNow ends with an empty no-data trigger; only batches that
    // consumed input are micro-batches of the workload
    if (p.numInputRows > 0) {
      synchronized {
        samples += BatchSample(currentCall, p.batchId, ms, p.numInputRows)
      }
      onBatch(p.batchId)
    }
  }
}
