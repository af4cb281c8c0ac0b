package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One finished Spark job: submission and end time (epoch ms) and the
  * stages it declared. */
final case class JobRec(id: Int, start: Long, end: Long, stageIds: Seq[Int])

/** One completed stage attempt, with the task-level totals the per-layer
  * metrics read. `taskMs` holds every successful task's duration. */
final case class StageRec(id: Int, attempt: Int, name: String, start: Long,
    end: Long, tasks: Int, inputBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, taskMs: Array[Long]) {
  /** max/median task duration; 1.0 for stages with fewer than two tasks */
  def skew: Double =
    if (taskMs.length < 2) 1.0
    else {
      val s = taskMs.sorted
      val mid = s.length / 2
      val med =
        if (s.length % 2 == 1) s(mid).toDouble else (s(mid - 1) + s(mid)) / 2.0
      s.last / math.max(med, 1.0)
    }
}

/** One streaming micro-batch progress report of the drain started by
  * the query span `span`. */
final case class BatchRec(span: Int, batchId: Long, durationsMs: Map[String, Long],
    stateRows: Long)

/** The traced run's SparkListener: records every job and stage into
  * memory, nothing else. Events arrive on the listener-bus thread, so
  * every access is synchronized; the runner reads the records only after
  * [[SparkTracer.fence]] has shown that the bus has delivered every event
  * of the work before it.
  */
final class SparkTracer extends SparkListener {
  private val jobStarts = mutable.HashMap.empty[Int, (Long, Seq[Int])]
  private val taskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private var lastJobEnd = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (start, ids) =>
      jobs += JobRec(e.jobId, start, e.time, ids)
    }
    lastJobEnd = math.max(lastJobEnd, e.jobId)
    notifyAll()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && e.taskInfo.successful)
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val durations = taskMs.remove((si.stageId, si.attemptNumber()))
        .map(_.toArray).getOrElse(Array.empty[Long])
      val start = si.submissionTime.getOrElse(0L)
      stages += StageRec(si.stageId, si.attemptNumber(), si.name, start,
        si.completionTime.getOrElse(start), si.numTasks,
        if (m == null) 0L else m.inputMetrics.bytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.diskBytesSpilled, durations)
    }

  /** Block until the job `jobId` has been delivered. Jobs end in order on
    * the single closed-loop client, and the bus delivers in order, so
    * every earlier job and stage event has been delivered too. */
  def fence(jobId: Int, timeoutMs: Long = 30000L): Unit = synchronized {
    val until = System.currentTimeMillis + timeoutMs
    while (lastJobEnd < jobId && System.currentTimeMillis < until)
      wait(100L)
  }

  /** Take (and forget) every job and stage recorded so far. */
  def drain(): (Seq[JobRec], Seq[StageRec]) = synchronized {
    val out = (jobs.toList, stages.toList)
    jobs.clear(); stages.clear()
    out
  }
}

/** Micro-batch progress of the streaming drains. `onQueryStarted` runs
  * synchronously inside `DataStreamWriter.start()`, on the client thread,
  * so the span current at that moment owns the drain; progress and
  * termination arrive later on the bus and are matched by run id.
  */
final class StreamTracer(currentSpan: () => Int) extends StreamingQueryListener {
  import StreamingQueryListener._
  private val owner = mutable.HashMap.empty[java.util.UUID, Int]
  private val batches = mutable.ArrayBuffer.empty[BatchRec]
  private var started = 0
  private var terminated = 0

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    owner(e.runId) = currentSpan()
    started += 1
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val durations = p.durationMs.entrySet.toArray
      .map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]])
      .map(en => en.getKey -> en.getValue.longValue).toMap
    batches += BatchRec(owner.getOrElse(p.runId, -1), p.batchId, durations,
      p.stateOperators.map(_.numRowsTotal).sum)
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized {
    terminated += 1
    notifyAll()
  }

  /** Block until every started drain has reported its termination — its
    * last progress event precedes that on the bus. */
  def fence(timeoutMs: Long = 30000L): Unit = synchronized {
    val until = System.currentTimeMillis + timeoutMs
    while (terminated < started && System.currentTimeMillis < until)
      wait(100L)
  }

  def drain(): Seq[BatchRec] = synchronized {
    val out = batches.toList
    batches.clear()
    out
  }
}
