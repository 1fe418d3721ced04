package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Span recorder built only on Spark's public listener APIs.
  *
  * The calling thread names the span it is in (`enter`); every Spark job
  * is parented by the span whose name its submitting thread carried as
  * the `perfbench.span` local property when the job started (Spark
  * copies local properties into broadcast, subquery and streaming
  * threads). Micro-batch jobs are keyed by the streaming batch id
  * instead, so each batch's jobs land on that batch. Stage and task
  * metrics roll up to the job's span. Everything is kept in memory and
  * dumped once at the end of the run. */
final class Spans(sc: SparkContext) extends SparkListener {
  import Spans._

  private val recorded = mutable.ArrayBuffer.empty[SpanRec]
  @volatile private var current: String = null

  /** Span boundaries set by the calling thread: run → pass/day → op →
    * phase. */
  def enter(id: String, parent: String, kind: String): Unit = {
    recorded += SpanRec(id, parent, kind, System.currentTimeMillis(), -1L)
    current = id
    sc.setLocalProperty(SpanKey, id)
  }

  def exit(id: String, resume: String): Unit = {
    val i = recorded.lastIndexWhere(_.id == id)
    if (i >= 0) recorded(i) = recorded(i).copy(endMs = System.currentTimeMillis())
    current = resume
    sc.setLocalProperty(SpanKey, resume)
  }

  /** A span timed outside any live session (the session builds). */
  def record(s: SpanRec): Unit = recorded += s

  // ------------------------------------------------------ listener side

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]
  private val aggs = mutable.LinkedHashMap.empty[String, Agg]
  private val batches = mutable.ArrayBuffer.empty[BatchRec]
  @volatile private var drained = Set.empty[String]

  private def spanOfJob(jobId: Int): String =
    jobs.get(jobId).map(_.span).getOrElse("unattributed")

  private def aggOf(stageId: Int): Agg =
    aggs.getOrElseUpdate(stageJob.get(stageId).map(spanOfJob)
      .getOrElse("unattributed"), new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val batch = p.flatMap(pp => Option(pp.getProperty(BatchKey)))
    val span = batch.map(b => s"batch=$b")
      .orElse(p.flatMap(pp => Option(pp.getProperty(SpanKey))))
      .getOrElse(Option(current).getOrElse("unattributed"))
    jobs(e.jobId) = JobRec(e.jobId, span, e.time, -1L)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    aggs.getOrElseUpdate(span, new Agg).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      jobs(e.jobId) = j.copy(endMs = e.time)
      if (j.span.startsWith(DrainPrefix)) drained += j.span
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val si = e.stageInfo
      stageSubmit((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { aggOf(e.stageInfo.stageId).stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = aggOf(e.stageId)
    a.tasks += 1
    val info = e.taskInfo
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { s =>
      a.waitMs += math.max(0L, info.launchTime - s)
    }
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    }
  }

  /** Blocks until every event posted before this call has been
    * delivered: a marker job's end event trails all earlier events on
    * the listener's queue. */
  def drain(tag: String): Unit = {
    val span = DrainPrefix + tag
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, span)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(SpanKey, prev)
    val deadline = System.currentTimeMillis() + 30000L
    while (!drained.contains(span) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Spans.this.synchronized {
        val p = e.progress
        batches += BatchRec(p.batchId, p.numInputRows,
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
          java.time.Instant.parse(p.timestamp).toEpochMilli)
      }
  }

  // ------------------------------------------------------------- dump

  def dump: TraceOut = synchronized {
    def kept(span: String) = !span.startsWith(DrainPrefix)
    TraceOut(recorded.toList, jobs.values.filter(j => kept(j.span)).toList,
      aggs.collect { case (k, a) if kept(k) => k -> a.out }.toMap, batches.toList)
  }
}

object Spans {
  val SpanKey = "perfbench.span"
  /** Local property MicroBatchExecution stamps on each batch's jobs. */
  val BatchKey = "streaming.sql.batchId"
  val DrainPrefix = "drain/"

  final case class SpanRec(id: String, parent: String, kind: String,
                           startMs: Long, endMs: Long)
  final case class JobRec(id: Int, span: String, startMs: Long, endMs: Long)
  final case class BatchRec(batch: Long, rows: Long, triggerMs: Long, startMs: Long)
  final case class AggOut(jobs: Long, stages: Long, tasks: Long,
    taskCpuS: Double, taskRunS: Double, taskWaitS: Double, gcS: Double,
    spillMb: Double, shuffleWriteMb: Double, shuffleReadMb: Double)
  final case class TraceOut(spans: Seq[SpanRec], jobs: Seq[JobRec],
    aggs: Map[String, AggOut], batches: Seq[BatchRec])

  final class Agg {
    var jobs, stages, tasks = 0L
    var cpuNs, runMs, waitMs, gcMs = 0L
    var spillBytes, shuffleWriteBytes, shuffleReadBytes = 0L
    def out = AggOut(jobs, stages, tasks, cpuNs / 1e9, runMs / 1e3,
      waitMs / 1e3, gcMs / 1e3, spillBytes / 1e6, shuffleWriteBytes / 1e6,
      shuffleReadBytes / 1e6)
  }
}
