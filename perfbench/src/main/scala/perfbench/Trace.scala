package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * Tracing from outside the engine. Spans are recorded by the harness around
 * its own calls into each layer; Spark jobs and stages come from a
 * [[SparkListener]], micro-batch progress from a [[StreamingQueryListener]].
 * Everything stays in memory and is written out once, at the end of the run.
 * With tracing off nothing is registered and spans cost one branch.
 */
final class Tracer(val enabled: Boolean, val runId: String) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  /** Time `f` as a span named `name`, child of the innermost open span. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, System.currentTimeMillis(), -1L, parent)
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endMs = System.currentTimeMillis())
      }
    }

  def allSpans: Seq[Span] = spans.toSeq

  val jobs = new JobLog
  val progress = new ProgressLog

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(progress)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(progress)
  }

  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbench.ListenerBus.waitUntilEmpty(sc)
}

object Tracer {

  final case class Span(id: Int, name: String, startMs: Long, endMs: Long, parent: Int)

  final case class Stage(
      id: Int, details: String, runMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long,
      inRecords: Long, outBytes: Long, outRecords: Long,
      taskRunMs: Seq[Long])

  final case class Job(
      id: Int, desc: String, startMs: Long, endMs: Long, stageIds: Seq[Int])

  /** Job and stage records, with per-task run times for the skew figure. */
  final class JobLog extends SparkListener {
    private val started = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
    private val stagesById = scala.collection.mutable.Map.empty[Int, Stage]
    private val taskTimes = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      started(e.jobId) = Job(e.jobId, desc, e.time, -1L, e.stageIds)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.get(e.jobId).foreach(j => started(e.jobId) = j.copy(endMs = e.time))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskMetrics != null)
        taskTimes.getOrElseUpdate(e.stageId, ArrayBuffer.empty) +=
          e.taskMetrics.executorRunTime
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stagesById(i.stageId) =
        if (m == null)
          Stage(i.stageId, i.details, 0, 0, 0, 0, 0, 0, 0, Nil)
        else Stage(i.stageId, i.details, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
          taskTimes.remove(i.stageId).map(_.toSeq).getOrElse(Nil))
    }

    def finishedJobs: Seq[Job] = synchronized(started.values.filter(_.endMs >= 0).toSeq)
    def stages: Map[Int, Stage] = synchronized(stagesById.toMap)
  }

  final case class Epoch(
      batchId: Long, startMs: Long, durations: Map[String, Long], inputRows: Long) {
    def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
    def endMs: Long = startMs + triggerMs
  }

  def epochOf(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Epoch = {
    import scala.jdk.CollectionConverters._
    Epoch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows)
  }

  /** Micro-batch progress as the listener receives it. */
  final class ProgressLog extends StreamingQueryListener {
    import StreamingQueryListener._
    private val buf = ArrayBuffer.empty[Epoch]
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      if (e.progress.numInputRows > 0) buf += epochOf(e.progress)
    }
    def epochs: Seq[Epoch] = synchronized(buf.toSeq)
  }
}
