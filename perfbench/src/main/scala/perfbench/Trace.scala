package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable
import scala.util.control.NonFatal
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call the benchmark makes into a layer. */
final case class Span(id: Int, layer: String, name: String, start: Long,
    end: Long, parent: Int, op: Int)

/** In-memory span recorder. Disabled, `span` is a plain call.
  *
  * Parents come from a per-thread stack; a span opened on a thread with
  * an empty stack (a pipeline task on the runner's pool) hangs under the
  * innermost span open on the operation's own thread. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  @volatile private var opId = -1
  @volatile private var opThread: Thread = null
  @volatile private var opTop = 0

  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId.getAndIncrement().toInt
      val onOpThread = Thread.currentThread eq opThread
      val parent = stack.get.headOption.getOrElse(if (onOpThread) 0 else opTop)
      stack.set(id :: stack.get)
      if (onOpThread) opTop = id
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        if (onOpThread) opTop = stack.get.headOption.getOrElse(0)
        spans.synchronized(spans += Span(id, layer, name, t0, t1, parent, opId))
      }
    }

  /** The root span of operation `id`; every span opened inside it, on
    * any thread, carries the id. */
  def op[T](id: Int, name: String)(f: => T): T =
    if (!enabled) f
    else {
      opId = id
      opThread = Thread.currentThread
      try span("bench.op", name)(f)
      finally { opThread = null; opId = -1 }
    }

  def count(layer: String): Int = all.count(_.layer == layer)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Per layer: total span time and self time (span time not covered by
    * any child span), in seconds. */
  def layerTimes: Map[String, (Double, Double)] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      val total = xs.map(s => s.end - s.start).sum
      val self = xs.map { s =>
        val covered = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
            if (b <= hi) (acc, hi)
            else (acc + b - math.max(a, hi), b)
          }._1
        s.end - s.start - covered
      }.sum
      layer -> (total / 1e9, self / 1e9)
    }
  }
}

object SparkCounters {
  /** Display names of a file write's row, byte and file metrics. */
  private val WriteMetrics = Map("number of output rows" -> 0, "written output" -> 1,
    "number of written files" -> 2)
  /** The local property that names the layer a thread's Spark jobs
    * belong to, where one can be told from the thread. */
  val Tag = "perfbench.layer"
  val SourceTag = "sources"
  val WriteTag = "operators"
}

/** Spark's own counters, read through its public listener interfaces.
  * Registered only for a traced run. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  import SparkCounters._
  val jobs, jobStages, stages, tasks = new LongAdder
  val taskWaitMs, runMs, cpuNs, gcMs = new LongAdder
  val inputBytes, inputRows, shuffleWrite, shuffleRead, spill, resultBytes = new LongAdder
  val sourceBytes, sourceRows = new LongAdder
  val peakExecMem = new AtomicLong
  val analysisMs, optimizationMs, planningMs = new LongAdder
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), Long]
  private val stageTag = new ConcurrentHashMap[Int, String]
  private val execTag = new ConcurrentHashMap[Long, String]
  /** Accumulator id → (SQL execution, 0/1/2 for rows/bytes/files) of
    * every write node's metrics, and their final values. */
  private val writeMetric = new ConcurrentHashMap[Long, (Long, Int)]
  private val written = new ConcurrentHashMap[(Long, Int), Long]
  /** (start, end) wall-clock ms of every job, for the time with none. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]
  private val jobStart = new ConcurrentHashMap[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    jobStages.add(e.stageInfos.size)
    jobStart.put(e.jobId, e.time)
    Option(e.properties).flatMap(p => Option(p.getProperty(Tag)).map(t => (p, t))).foreach {
      case (p, tag) =>
        e.stageIds.foreach(stageTag.put(_, tag))
        Option(p.getProperty("spark.sql.execution.id")).foreach(id => execTag.put(id.toLong, tag))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t0 => jobIntervals.add((t0, e.time)))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.increment()
    val i = e.stageInfo
    stageSubmit.put((i.stageId, i.attemptNumber()),
      i.submissionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageSubmit.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageSubmit.get((e.stageId, e.stageAttemptId))).foreach { t0 =>
      taskWaitMs.add(math.max(0L, e.taskInfo.launchTime - t0))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime); cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      inputBytes.add(m.inputMetrics.bytesRead)
      inputRows.add(m.inputMetrics.recordsRead)
      if (stageTag.get(e.stageId) == SourceTag) {
        sourceBytes.add(m.inputMetrics.bytesRead)
        sourceRows.add(m.inputMetrics.recordsRead)
      }
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      resultBytes.add(m.resultSize)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    try {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      analysisMs.add(ms("analysis")); optimizationMs.add(ms("optimization"))
      planningMs.add(ms("planning"))
    } catch { case NonFatal(_) => () }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** A write command's row, byte and file counts are driver-side SQL
    * metrics: found by name in the plan an execution starts with, their
    * values arrive as driver accumulator updates when it ends. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => writeNodes(s.executionId, s.sparkPlanInfo)
    case s: SparkListenerSQLAdaptiveExecutionUpdate => writeNodes(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerDriverAccumUpdates =>
      u.accumUpdates.foreach { case (acc, v) =>
        Option(writeMetric.get(acc)).foreach(k => written.merge(k, v, _ + _))
      }
    case _ =>
  }

  /** Adaptive execution re-plans a write under new metrics: every plan
    * an execution reports is searched. */
  private def writeNodes(execution: Long, p: SparkPlanInfo): Unit = {
    if (p.nodeName.contains("InsertInto") || p.nodeName.contains("Write"))
      p.metrics.foreach { m =>
        WriteMetrics.get(m.name).foreach(i => writeMetric.put(m.accumulatorId, (execution, i)))
      }
    p.children.foreach(writeNodes(execution, _))
  }

  /** (rows, bytes, files) written by the SQL executions whose jobs ran
    * under `tag`. Read after the listener bus has drained. */
  def written(tag: String): (Long, Long, Long) = {
    val ws = written.asScala.toSeq.filter { case ((id, _), _) => execTag.get(id) == tag }
    def of(i: Int) = ws.collect { case ((_, `i`), v) => v }.sum
    (of(0), of(1), of(2))
  }

  /** Stages a job listed but never ran: their shuffle output was reused. */
  def stagesSkipped: Long = math.max(0L, jobStages.sum - stages.sum)

  /** Time inside `ops` (start, end ms) during which no Spark job ran. */
  def noJobSeconds(ops: Seq[(Long, Long)]): Double = {
    val js = jobIntervals.asScala.toSeq.sortBy(_._1)
    ops.map { case (a, b) =>
      val covered = js.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
        .filter { case (s, e) => e > s }
        .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (s, e)) =>
          if (e <= hi) (acc, hi) else (acc + e - math.max(s, hi), e)
        }._1
      (b - a) - covered
    }.sum / 1e3
  }

  /** Structured Streaming's per-trigger progress: phase durations,
    * input rows and state size of every micro-batch. */
  val streams = new StreamProgress

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  /** Marks files landing for the streams, to time how long they wait
    * for the trigger that reads them. */
  def landed(epochMs: Long): Unit = streams.landings.add(epochMs)
}

final class StreamProgress extends StreamingQueryListener {
  val triggers, inputRows = new LongAdder
  val durationMs = new ConcurrentHashMap[String, LongAdder]
  val stateRows, stateMemBytes = new AtomicLong
  val landings = new ConcurrentLinkedQueue[Long]
  /** (query name, trigger start epoch ms, input rows) of every trigger. */
  val starts = new ConcurrentLinkedQueue[(String, Long, Long)]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    triggers.increment()
    inputRows.add(p.numInputRows)
    p.durationMs.asScala.foreach { case (k, v) =>
      durationMs.computeIfAbsent(k, _ => new LongAdder).add(v)
    }
    val state = p.stateOperators.toSeq
    stateRows.accumulateAndGet(state.map(_.numRowsTotal).sum, math.max)
    stateMemBytes.accumulateAndGet(state.map(_.memoryUsedBytes).sum, math.max)
    starts.add((p.name, java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows))
  }

  def seconds(phase: String): Double =
    Option(durationMs.get(phase)).map(_.sum / 1e3).getOrElse(0.0)

  /** Rows a query's triggers read. */
  def rowsOf(name: String): Long = starts.asScala.filter(_._1 == name).map(_._3).sum

  /** For every landing and every query, the time until that query's
    * first trigger after it started, in seconds. */
  def queueWaitSeconds: Double = {
    val ls = landings.asScala.toSeq.sorted
    val ts = starts.asScala.toSeq
    ls.zip(ls.drop(1).map(Some(_)) :+ None).map { case (l, next) =>
      ts.filter { case (_, t, _) => t >= l && next.forall(t < _) }
        .groupBy(_._1).values.map(q => q.map(_._2).min - l).sum
    }.sum / 1e3
  }
}

/** JVM-wide counters, read as deltas around the measured phase. */
final class JvmCounters {
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def jitMs = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  private def codegen = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gc0, jit0, cg0 = 0L

  def start(): Unit = {
    gc0 = gcMs; jit0 = jitMs; cg0 = codegen._1
    heapPools.foreach(_.resetPeakUsage())
  }

  /** (codegen s, jit s, gc s, heap peak MB) since `start`. Codegen time
    * is the compile count times Spark's sampled mean compile time. */
  def read(): (Double, Double, Double, Double) = {
    val (n, meanMs) = codegen
    ((n - cg0) * meanMs / 1e3, (jitMs - jit0) / 1e3, (gcMs - gc0) / 1e3,
      heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }
}
