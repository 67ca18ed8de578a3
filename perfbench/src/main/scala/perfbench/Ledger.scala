package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One Spark job as the listener saw it: wall interval (epoch ms) and the
  * largest peak execution memory of any of its tasks.
  */
final class JobRec(val id: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var peakExecMemB: Long = 0L
}

/** One micro-batch progress report of a streaming query. */
final case class BatchRec(query: String, batchId: Long, timestampMs: Long,
    durationsMs: Map[String, Long], inputRows: Long, stateRows: Long,
    stateCommitMs: Long, stateMemB: Long)

/** Cumulative engine counters at one instant; a window's cost is the
  * difference of two marks taken after [[org.apache.spark.BenchBus.drain]].
  */
final case class Mark(jobs: Int, batches: Int, stages: Long, tasks: Long,
    failedTasks: Long, execRunMs: Long, execCpuNs: Long, gcMs: Long,
    shuffleReadB: Long, shuffleWriteB: Long, spillB: Long)

/** The engine-side ledger: a SparkListener for jobs, stages and task
  * metrics and a StreamingQueryListener for micro-batch progress. Both
  * are registered for every run (they are counters, not spans); the
  * listener bus calls them on its own thread, so state is guarded.
  */
final class Ledger extends SparkListener {
  private val jobs = ArrayBuffer.empty[JobRec]
  private val jobById = scala.collection.mutable.Map.empty[Int, JobRec]
  private val jobOfStage = scala.collection.mutable.Map.empty[Int, JobRec]
  private val batches = ArrayBuffer.empty[BatchRec]
  private var stages, tasks, failedTasks, execRunMs, execCpuNs, gcMs = 0L
  private var shuffleReadB, shuffleWriteB, spillB = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, e.time)
    jobs += j; jobById(e.jobId) = j
    e.stageIds.foreach(s => jobOfStage(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      execRunMs += m.executorRunTime
      execCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleReadB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      jobOfStage.get(e.stageId).foreach(j =>
        j.peakExecMemB = math.max(j.peakExecMemB, m.peakExecutionMemory))
    }
  }

  def mark(): Mark = synchronized {
    Mark(jobs.size, batches.size, stages, tasks, failedTasks, execRunMs, execCpuNs,
      gcMs, shuffleReadB, shuffleWriteB, spillB)
  }

  def jobsBetween(a: Mark, b: Mark): Seq[JobRec] = synchronized { jobs.slice(a.jobs, b.jobs).toSeq }

  def batchesBetween(a: Mark, b: Mark): Seq[BatchRec] =
    synchronized { batches.slice(a.batches, b.batches).toSeq }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      val rec = BatchRec(Option(p.name).getOrElse(p.id.toString), p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
          .map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum,
        ops.map(_.memoryUsedBytes).sum)
      Ledger.this.synchronized { batches += rec }
    }
  }

  /** Engine counters accrued between two marks. */
  def window(a: Mark, b: Mark): Map[String, Double] = {
    val js = jobsBetween(a, b)
    val mb = 1024.0 * 1024.0
    Map(
      "jobs" -> (b.jobs - a.jobs).toDouble,
      "stages" -> (b.stages - a.stages).toDouble,
      "tasks" -> (b.tasks - a.tasks).toDouble,
      "failed_tasks" -> (b.failedTasks - a.failedTasks).toDouble,
      "exec_run_s" -> (b.execRunMs - a.execRunMs) / 1e3,
      "exec_cpu_s" -> (b.execCpuNs - a.execCpuNs) / 1e9,
      "gc_s" -> (b.gcMs - a.gcMs) / 1e3,
      "shuffle_read_mb" -> (b.shuffleReadB - a.shuffleReadB) / mb,
      "shuffle_write_mb" -> (b.shuffleWriteB - a.shuffleWriteB) / mb,
      "spill_mb" -> (b.spillB - a.spillB) / mb,
      "peak_exec_mem_mb" -> (if (js.isEmpty) 0.0 else js.map(_.peakExecMemB).max / mb))
  }
}
