package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `parent` is the id of
  * the span that caused this one (0 = none known when it was recorded, to
  * be resolved by time containment when the trace is read). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, end: Double, attrs: Map[String, Double])

/** Epoch milliseconds at sub-millisecond resolution. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory span store plus the listeners that feed it.
  *
  * Driver-side spans (workload, pass, entry, build, sink) are opened by the
  * benchmark around its own calls into the engine; the span id rides on the
  * SparkContext local property [[Tracer.SpanKey]], so every job submitted
  * meanwhile (including from a streaming query's thread, which inherits the
  * property when it starts) names its parent. Jobs, stages, planning phases,
  * micro-batches and RDD block writes come from a [[SparkListener]], a
  * [[QueryExecutionListener]] and a [[StreamingQueryListener]], attached
  * only while [[recording]]. Nothing is written until the run ends.
  */
final class Tracer {
  import Tracer.SpanKey

  @volatile private var attached: Option[SparkSession] = None
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** streaming run id -> entry span id, for micro-batch parents. */
  private val runParents = new ConcurrentHashMap[String, java.lang.Long]()

  def recording: Boolean = attached.isDefined
  def nextId(): Long = ids.incrementAndGet()
  /** Keeps `s` if recording. */
  def add(s: Span): Unit = if (recording) record(s)
  /** Keeps `s` regardless. */
  def record(s: Span): Unit = { spans.add(s); () }

  /** Runs `body` as a span; jobs it submits from this thread carry its id. */
  def span[T](sc: SparkContext, parent: Long, kind: String, name: String)
      (body: => T): T = {
    val id = nextId()
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = Clock.nowMs
    try body
    finally {
      sc.setLocalProperty(SpanKey, prev)
      add(Span(id, parent, kind, name, t0, Clock.nowMs, Map.empty))
    }
  }

  def bindRun(runId: java.util.UUID, entrySpan: Long): Unit = {
    runParents.put(runId.toString, entrySpan); ()
  }

  private val jobs = new JobListener(this)
  private val plans = new PlanListener(this)
  private val streams = new StreamListener(this)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
    attached = Some(spark)
  }

  /** Waits until every event posted so far has been delivered, then stops
    * recording. */
  def detach(): Unit = attached.foreach { spark =>
    SparkBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
    attached = None
  }

  /** Every recorded span, micro-batches re-parented to their entry. */
  def all: Seq[Span] = spans.asScala.toSeq.map { s =>
    if (s.kind == "microbatch")
      s.copy(parent = Option(runParents.get(s.name)).map(_.longValue).getOrElse(0L))
    else s
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Jobs and stages, with task metrics summed per stage. */
private final class JobListener(t: Tracer) extends SparkListener {
  private final case class Job(span: Long, parent: Long, start: Double,
      stageIds: Seq[Int])
  private val jobs = new ConcurrentHashMap[Int, Job]()
  /** stage id -> span id of the job that first listed it. */
  private val stageJob = new ConcurrentHashMap[Int, Long]()
  private val submitted = new ConcurrentHashMap[Int, Double]()
  private val taskSums = new ConcurrentHashMap[(Int, Int), Array[Double]]()

  // Per-stage task sums, in this order.
  private val fields = Array("tasks", "tasks_failed", "run_ms", "cpu_ms",
    "gc_ms", "delay_ms", "input_bytes", "input_rows", "shuffle_write_bytes",
    "shuffle_read_bytes", "fetch_wait_ms", "spill_mem_bytes",
    "spill_disk_bytes", "peak_mem_bytes")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    val id = t.nextId()
    jobs.put(e.jobId, Job(id, parent, e.time.toDouble, e.stageIds))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { j =>
      // A stage this job lists but that was not submitted after the job
      // began is a reused shuffle output: Spark skips it.
      val skipped = j.stageIds.count(s =>
        !Option(submitted.get(s)).exists(_ >= j.start))
      val failed = if (e.jobResult == JobSucceeded) 0.0 else 1.0
      t.add(Span(j.span, j.parent, "job", s"job ${e.jobId}", j.start,
        e.time.toDouble, Map("stages" -> (j.stageIds.size - skipped).toDouble,
          "stages_skipped" -> skipped.toDouble, "failed" -> failed)))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    submitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()).toDouble)
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = taskSums.computeIfAbsent((e.stageId, e.stageAttemptId),
      _ => new Array[Double](fields.length))
    val i = e.taskInfo
    val m = e.taskMetrics
    a.synchronized {
      a(0) += 1
      if (i.failed || i.killed) a(1) += 1
      if (m != null) {
        val gettingResult =
          if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        a(2) += m.executorRunTime
        a(3) += m.executorCpuTime / 1e6
        a(4) += m.jvmGCTime
        a(5) += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        a(6) += m.inputMetrics.bytesRead
        a(7) += m.inputMetrics.recordsRead
        a(8) += m.shuffleWriteMetrics.bytesWritten
        a(9) += m.shuffleReadMetrics.totalBytesRead
        a(10) += m.shuffleReadMetrics.fetchWaitTime
        a(11) += m.memoryBytesSpilled
        a(12) += m.diskBytesSpilled
        a(13) = math.max(a(13), m.peakExecutionMemory.toDouble)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val sums = Option(taskSums.remove((s.stageId, s.attemptNumber())))
      .getOrElse(new Array[Double](fields.length))
    val start = s.submissionTime.getOrElse(0L).toDouble
    t.add(Span(t.nextId(), stageJob.getOrDefault(s.stageId, 0L), "stage",
      s"stage ${s.stageId}.${s.attemptNumber()}", start,
      s.completionTime.map(_.toDouble).getOrElse(start),
      fields.zip(sums).toMap))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      val now = Clock.nowMs
      t.add(Span(t.nextId(), 0L, "block", b.blockId.name, now, now,
        Map("bytes" -> (b.memSize + b.diskSize).toDouble)))
    }
  }
}

/** Catalyst phase times of every executed query plan. */
private final class PlanListener(t: Tracer) extends QueryExecutionListener {
  private def record(funcName: String, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      t.add(Span(t.nextId(), 0L, "plan", funcName,
        ph.values.map(_.startTimeMs).min.toDouble,
        ph.values.map(_.endTimeMs).max.toDouble,
        Map("analysis_ms" -> ms("analysis"),
          "optimization_ms" -> ms("optimization"),
          "planning_ms" -> ms("planning"))))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(funcName, qe)
}

/** One span per streaming micro-batch, named by its query's run id. */
private final class StreamListener(t: Tracer) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val state = p.stateOperators.toSeq
    val attrs = d.map { case (k, v) => s"ms.$k" -> v }.toMap ++ Map(
      "input_rows" -> p.numInputRows.toDouble,
      "state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
      "state_mem_bytes" -> state.map(_.memoryUsedBytes).sum.toDouble,
      "state_commit_ms" -> state.map(_.commitTimeMs).sum.toDouble)
    t.add(Span(t.nextId(), 0L, "microbatch", p.runId.toString, start,
      start + d.getOrElse("triggerExecution", 0.0), attrs))
  }
}
