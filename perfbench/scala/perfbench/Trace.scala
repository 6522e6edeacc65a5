package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in milliseconds since the tracer started. `parent`
  * is the span that caused it (0 for the workload root). */
final case class Span(
    id: Long, parent: Long, kind: String, name: String, start: Double, end: Double)

/** Records spans and per-layer counters for the traced passes.
  *
  * Span tree: workload → call (query / snapshot / refresh / round) →
  * build | action → Spark job → stage, plus one span per streaming
  * micro-batch. The client opens and closes the workload, call and phase
  * spans; the three listeners added by `attach` add the Spark ones. Every
  * phase runs under its own job group, which links a job to the phase, step
  * and layer that launched it. Jobs launched on a stream's own thread carry
  * the stream's group instead and count as the current action. The listener
  * bus is drained at every call end, so an event is always delivered while
  * its call is still the current one.
  *
  * The listeners are only registered between `attach` and `detach`, that is
  * during the traced passes; the untraced passes of the same run measure
  * the time the tracing itself adds. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - nano0) / 1e6
  private def fromEpoch(ms: Long): Double = (ms - epoch0).toDouble

  @volatile var recording = false
  private var nextId = 1L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Map.empty[Long, (Long, String, String, Double)]
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  /** Jobs launched while constructing, per step. */
  val stepBuildJobs: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  private val streamState = mutable.Map.empty[String, (Double, Double)]

  /** Per job group of the current call: its phase span, layer, step and
    * whether it is the action; and the phase span of the current call's
    * action (where jobs on a stream thread are attached). */
  private val groups = mutable.Map.empty[String, (Long, String, String, Boolean)]
  @volatile private var actionSpan = 0L
  private val jobSpan = mutable.Map.empty[Int, (Long, Double)]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]

  def add(key: String, v: Double): Unit =
    if (recording) synchronized { counters(key) += v }

  def begin(parent: Long, kind: String, name: String): Long = synchronized {
    val id = nextId
    nextId += 1
    open(id) = (parent, kind, name, nowMs)
    id
  }

  def end(id: Long): Double = synchronized {
    val (parent, kind, name, start) = open.remove(id).get
    val e = nowMs
    if (recording) spans += Span(id, parent, kind, name, start, e)
    e - start
  }

  def phase(group: String, span: Long, layer: String, step: String, isAction: Boolean): Unit =
    synchronized {
      groups(group) = (span, layer, step, isAction)
      if (isAction) actionSpan = span
    }

  /** Closes a call: drains the bus, then splits the call's wall time into
    * time with at least one Spark job running and time without. */
  def endCall(start: Double, end: Double): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val clipped = jobIntervals.map { case (s, e) => (s max start, e min end) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var busy = 0.0
      var cur = Double.NegativeInfinity
      clipped.foreach { case (s, e) =>
        if (e > cur) { busy += e - (s max cur); cur = e }
      }
      jobIntervals.clear()
      groups.clear()
      add("spark.exec_ms", busy)
      add("driver_ms", (end - start) - busy)
    }
  }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
  private var gc0 = 0.0

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(groups.get)
      val id = nextId
      nextId += 1
      jobSpan(e.jobId) = (id, fromEpoch(e.time))
      spans += Span(id, group.fold(actionSpan)(_._1), "job", s"job ${e.jobId}",
        fromEpoch(e.time), fromEpoch(e.time))
      e.stageIds.foreach(s => stageJob(s) = id)
      counters("spark.jobs") += 1
      group.foreach { case (_, layer, step, isAction) =>
        if (!isAction) {
          stepBuildJobs(step) += 1
          if (layer == "queries") counters("queries.build_jobs") += 1
        }
        if (layer == "store") counters("store.write_jobs") += 1
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording) synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, start) =>
        val end = fromEpoch(e.time)
        val i = spans.lastIndexWhere(_.id == id)
        if (i >= 0) spans(i) = spans(i).copy(end = end)
        jobIntervals += ((start, end))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (recording) synchronized {
        val si = e.stageInfo
        val parent = stageJob.getOrElse(si.stageId, actionSpan)
        for (s <- si.submissionTime; c <- si.completionTime) {
          spans += Span(nextId, parent, "stage", s"stage ${si.stageId}", fromEpoch(s), fromEpoch(c))
          nextId += 1
        }
        counters("spark.stages") += 1
        counters("spark.tasks") += si.numTasks
        val m = si.taskMetrics
        if (m != null) {
          counters("spark.cpu_ms") += m.executorCpuTime / 1e6
          counters("spark.task_run_ms") += m.executorRunTime
          counters("spark.gc_ms") += m.jvmGCTime
          counters("spark.shuffle_read_bytes") +=
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          counters("spark.shuffle_fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
          counters("spark.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
          counters("spark.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (recording && e.reason != Success) synchronized { counters("spark.failed_tasks") += 1 }
  }

  private def record(qe: QueryExecution): Unit = if (recording) synchronized {
    counters("spark.plan_ms") += qe.tracker.phases.values.map(_.durationMs).sum
    val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    scans.foreach { s =>
      s.metrics.get("numOutputRows").foreach(m => counters("sources.scan_rows") += m.value)
      s.metrics.get("filesSize").foreach(m => counters("sources.scan_bytes") += m.value)
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording) synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.withDefaultValue(0.0)
        counters("streaming.batches") += 1
        counters("streaming.batch_ms") += d("triggerExecution")
        counters("streaming.add_batch_ms") += d("addBatch")
        counters("streaming.plan_ms") += d("queryPlanning")
        counters("spark.plan_ms") += d("queryPlanning")
        counters("streaming.commit_ms") += d("walCommit") + d("commitOffsets")
        counters("streaming.state_commit_ms") += p.stateOperators.map(_.commitTimeMs.toDouble).sum
        streamState(p.id.toString) = (
          p.stateOperators.map(_.numRowsTotal.toDouble).sum,
          p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
        val start = fromEpoch(java.time.Instant.parse(p.timestamp).toEpochMilli)
        spans += Span(nextId, actionSpan, "batch", s"${p.name} batch ${p.batchId}",
          start, start + d("triggerExecution"))
        nextId += 1
      }
  }

  /** Registers the listeners and starts counting. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
    gc0 = gcMs
    recording = true
  }

  /** Stops counting once every posted event is delivered, and removes the
    * listeners. */
  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    add("jvm.gc_ms", gcMs - gc0)
    recording = false
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }

  /** State rows and bytes held by the streams at their last progress. */
  def streamStateTotals: (Double, Double) = synchronized {
    (streamState.values.map(_._1).sum, streamState.values.map(_._2).sum)
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Self time by span kind: each span's duration minus the part of it
    * that its children cover. */
  def selfMs: Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (c.start max s.start, c.end min s.end))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var cur = Double.NegativeInfinity
        cs.foreach { case (a, b) =>
          if (b > cur) { covered += b - (a max cur); cur = b }
        }
        (s.end - s.start) - covered
      }.sum
    }
  }
}
