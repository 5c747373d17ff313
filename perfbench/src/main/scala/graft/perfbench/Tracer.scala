package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark's own events through its public listener APIs while
  * attached: jobs, stages (with their tasks' metrics summed per stage
  * attempt), SQL executions, query planning phases and streaming
  * micro-batches. Every record carries epoch-ms times; the report step
  * places them under the harness's call spans by time. Kept in memory,
  * written out when the run ends. */
final class Tracer(spark: SparkSession) {
  private val jobs = mutable.ArrayBuffer[Map[String, Any]]()
  private val stages = mutable.ArrayBuffer[Map[String, Any]]()
  private val executions = mutable.ArrayBuffer[Map[String, Any]]()
  private val plans = mutable.ArrayBuffer[Map[String, Any]]()
  private val batches = mutable.ArrayBuffer[Map[String, Any]]()
  private val jobStarts = mutable.Map[Int, (Long, Seq[Int])]()
  private val execStarts = mutable.Map[Long, Long]()
  private val taskAgg = mutable.Map[(Int, Int), Array[Double]]()

  // per stage attempt: tasks, failed, duration ms, run ms, cpu ns, gc ms,
  // peak memory, shuffle read, fetch wait ms, shuffle write, spill memory,
  // spill disk, input bytes, input rows, output bytes
  private val taskFields = Seq("tasks", "failed_tasks", "duration_ms", "run_ms",
    "cpu_ns", "gc_ms", "peak_mem", "shuffle_read", "fetch_wait_ms",
    "shuffle_write", "spill_mem", "spill_disk", "input_bytes", "input_rows",
    "output_bytes")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStarts(e.jobId) = (e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (start, stageIds) =>
        jobs += Map("id" -> e.jobId, "start" -> start, "end" -> e.time,
          "stages" -> stageIds, "ok" -> (e.jobResult == JobSucceeded))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = taskAgg.getOrElseUpdate((e.stageId, e.stageAttemptId),
        new Array[Double](taskFields.size))
      a(0) += 1
      if (!e.taskInfo.successful) a(1) += 1
      a(2) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a(3) += m.executorRunTime
        a(4) += m.executorCpuTime
        a(5) += m.jvmGCTime
        a(6) = math.max(a(6), m.peakExecutionMemory.toDouble)
        a(7) += m.shuffleReadMetrics.totalBytesRead
        a(8) += m.shuffleReadMetrics.fetchWaitTime
        a(9) += m.shuffleWriteMetrics.bytesWritten
        a(10) += m.memoryBytesSpilled
        a(11) += m.diskBytesSpilled
        a(12) += m.inputMetrics.bytesRead
        a(13) += m.inputMetrics.recordsRead
        a(14) += m.outputMetrics.bytesWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      val agg = taskAgg.remove((s.stageId, s.attemptNumber()))
        .getOrElse(new Array[Double](taskFields.size))
      stages += (Map[String, Any]("id" -> s.stageId, "attempt" -> s.attemptNumber(),
        "start" -> s.submissionTime.getOrElse(-1L),
        "end" -> s.completionTime.getOrElse(-1L),
        "ok" -> s.failureReason.isEmpty) ++ taskFields.zip(agg))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => execStarts(s.executionId) = s.time
        case x: SparkListenerSQLExecutionEnd =>
          execStarts.remove(x.executionId).foreach { start =>
            executions += Map("id" -> x.executionId, "start" -> start, "end" -> x.time)
          }
        case _ =>
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, ok: Boolean): Unit = Tracer.this.synchronized {
      plans += Map("ok" -> ok, "phases" -> qe.tracker.phases.map { case (k, p) =>
        k -> Seq(p.startTimeMs, p.endTimeMs) })
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      val d = p.durationMs
      def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches += Map("query" -> p.runId.toString, "batch" -> p.batchId,
        "start" -> start, "end" -> (start + dur("triggerExecution")),
        "input_rows" -> p.numInputRows,
        "add_batch_ms" -> dur("addBatch"), "planning_ms" -> dur("queryPlanning"),
        "commit_ms" -> (dur("walCommit") + dur("commitOffsets")),
        "trigger_ms" -> dur("triggerExecution"),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "state_stores" -> p.stateOperators.map(_.numStateStoreInstances.toLong).sum,
        "late_rows" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits for every event already posted, then stops listening. */
  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def toMap: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toList, "stages" -> stages.toList,
      "executions" -> executions.toList, "plans" -> plans.toList,
      "batches" -> batches.toList)
  }
}
