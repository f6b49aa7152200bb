package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans.VoxelScanExec

/** One timed interval. Times are seconds since the run's clock origin;
  * `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, layer: String, start: Double, end: Double)

/** In-memory span store, written once at run end. */
final class Spans {
  private val originNanos = System.nanoTime()
  /** Wall-clock epoch millis at the clock origin (Spark events carry epoch millis). */
  val originEpochMs: Double = System.currentTimeMillis().toDouble
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def now: Double = (System.nanoTime() - originNanos) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - originEpochMs) / 1e3

  def reserve(): Int = synchronized { nextId += 1; nextId }
  def add(s: Span): Unit = synchronized { buf += s }
  def add(parent: Int, name: String, layer: String, start: Double, end: Double): Int = synchronized {
    val id = reserve(); buf += Span(id, parent, name, layer, start, end); id
  }

  /** Time `body` as a span under `parent`, returning its result. */
  def timed[T](parent: Int, name: String, layer: String)(body: => T): T = {
    val t0 = now
    val v = body
    add(parent, name, layer, t0, now)
    v
  }

  def all: Seq[Span] = synchronized(buf.toList)
}

/** Listener-side totals for one operation class (e.g. `cutout_small`). */
final class OpStats {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, resultBytes, gcMs, gettingResultMs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, spill, broadcastBlockBytes = 0L
  var analysisMs, optimizationMs, planningMs, sqlBroadcastBytes = 0L
  var scanRows, scanChunks, scanBytes = 0L
  var batches, inputRows = 0L
  val streamMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "result_bytes" -> resultBytes, "gc_ms" -> gcMs,
    "getting_result_ms" -> gettingResultMs, "sched_delay_ms" -> schedDelayMs,
    "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead, "spill" -> spill,
    "broadcast_block_bytes" -> broadcastBlockBytes,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "sql_broadcast_bytes" -> sqlBroadcastBytes,
    "scan_rows" -> scanRows, "scan_chunks" -> scanChunks, "scan_bytes" -> scanBytes,
    "batches" -> batches, "input_rows" -> inputRows, "stream_ms" -> streamMs.toMap)
}

/** The Spark side of the traced run: a SparkListener (tasks, jobs, stages,
  * broadcast blocks), a QueryExecutionListener (planning phases and the
  * executed plan's SQL metrics) and a StreamingQueryListener (micro-batch
  * phases). Events are attributed to the operation running on the driver;
  * [[end]] drains the listener bus so nothing leaks into the next one. */
final class Tracer(spark: SparkSession, spans: Spans) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  val byClass = mutable.LinkedHashMap.empty[String, OpStats]
  @volatile private var cur: OpStats = new OpStats
  @volatile private var curSpan: Int = -1
  private val jobStart = mutable.Map.empty[Int, Long]

  private val streams = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      cur.batches += 1
      cur.inputRows += p.numInputRows
      p.durationMs.asScala.foreach { case (k, v) => cur.streamMs(k) += v.longValue }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  def remove(): Unit = {
    org.apache.spark.perfbenchshim.Drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }

  def begin(cls: String, spanId: Int): Unit = {
    cur = byClass.getOrElseUpdate(cls, new OpStats)
    curSpan = spanId
  }

  def end(): Unit = org.apache.spark.perfbenchshim.Drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    cur.jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).filter(_ => curSpan >= 0).foreach { t0 =>
      spans.add(curSpan, "job", "spark", spans.fromEpochMs(t0), spans.fromEpochMs(e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = cur.stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = cur
    val info = e.taskInfo
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val getting = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.resultBytes += m.resultSize
      s.gcMs += m.jvmGCTime
      s.gettingResultMs += getting
      s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - getting)
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isBroadcast && i.blockId.name.contains("piece") && i.storageLevel.isValid)
      cur.broadcastBlockBytes += i.memSize + i.diskSize
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val s = cur
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    s.analysisMs += ms("analysis")
    s.optimizationMs += ms("optimization")
    s.planningMs += ms("planning")
    collectWithSubqueries(qe.executedPlan) {
      case v: VoxelScanExec =>
        s.scanRows += v.metrics("numOutputRows").value
        s.scanChunks += v.metrics("chunksFetched").value
        s.scanBytes += v.metrics("bytesFetched").value
      case b: BroadcastExchangeExec =>
        s.sqlBroadcastBytes += b.metrics("dataSize").value
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
