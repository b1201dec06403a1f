package graft.perfbench

import java.time.Instant
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Execution-layer and streaming-layer counters for the traced run, read
  * from Spark's public listener events only. Registered after set-up and
  * never in the end-to-end run.
  *
  * Jobs are keyed by the job group the benchmark sets around each query
  * (`pb/<pass>/<index>`); jobs started on threads that did not inherit a
  * group are attributed later by start time (the client is closed-loop,
  * so at most one query is in flight). Tasks and stages attach to their
  * job through the stage ids in the job-start event. Every callback's
  * own time is summed in `busNanos`: that is the tracing cost paid on the
  * listener-bus thread.
  */
final class Tracer extends SparkListener {
  import Tracer._

  val jobs     = mutable.LinkedHashMap.empty[Int, Job]
  val streams  = mutable.ArrayBuffer.empty[Long] // query-start times, epoch ms
  val batches  = mutable.LinkedHashMap.empty[(String, Long), Batch]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val drained  = new CountDownLatch(1)
  @volatile var busNanos = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally busNanos += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
    jobs(e.jobId) = new Job(e.jobId, group, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      if (j.group.contains(DrainGroup)) drained.countDown()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      e.reason match { case Success => case _ => j.taskFailures += 1 }
      val m = e.taskMetrics
      if (m != null) {
        val i = e.taskInfo
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        if (i.finishTime > 0)
          j.schedDelayMs += math.max(0L, i.finishTime - i.launchTime - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
        j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputB += m.inputMetrics.bytesRead
        j.outputB += m.outputMetrics.bytesWritten
      }
    }
  }

  // Streaming events from every session reach the context's listener bus,
  // including the private sessions the streaming audits create.
  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case s: StreamingQueryListener.QueryStartedEvent =>
        streams += Instant.parse(s.timestamp).toEpochMilli
      case p: StreamingQueryListener.QueryProgressEvent =>
        val pr = p.progress
        val dur = Option(pr.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        batches((pr.runId.toString, pr.batchId)) = Batch(
          Instant.parse(pr.timestamp).toEpochMilli, dur, pr.stateOperators.map(_.numRowsTotal).sum)
      case _ =>
    }
  }

  /** Blocks until every event posted before this call has been handled:
    * runs a one-task marker job and waits for its end event, which the bus
    * delivers after everything queued ahead of it. */
  def drain(sc: SparkContext): Unit = {
    sc.setJobGroup(DrainGroup, "perfbench listener drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    if (!drained.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 60 s")
  }
}

object Tracer {
  val DrainGroup  = "perfbench-drain"
  val JobGroupKey = "spark.jobGroup.id" // the property SparkContext.setJobGroup sets

  final class Job(val id: Int, val group: Option[String], val startMs: Long) {
    var endMs = -1L
    var stages, tasks, taskFailures = 0L
    var runMs, cpuNs, gcMs, schedDelayMs = 0L
    var shuffleReadB, shuffleWriteB, spillB, inputB, outputB = 0L
  }

  final case class Batch(startMs: Long, durationMs: Long, stateRows: Long)

  /** Length of the union of `[start, end)` intervals clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var reach = lo
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }
}
