package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a call into a public entry point (recorded
  * exactly) or a layer slice inferred from stack samples. `parent` is
  * the id of the enclosing span, -1 at top level.
  */
case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int)

/** Engine counters of one job group, accumulated from listener events. */
class Counters {
  val values = new ConcurrentHashMap[String, AtomicLong]()
  def add(k: String, v: Long): Unit =
    values.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
  def snapshot: Map[String, Long] = values.asScala.map { case (k, v) => k -> v.get }.toMap
}

/** Records spans, per-job-group engine counters (SparkListener +
  * QueryExecutionListener) and layer time from stack samples of the
  * driver thread and the executor task threads. Installed only on
  * traced runs; everything is kept in memory and written at the end.
  */
class Tracer(val enabled: Boolean, sampleMs: Int = 10) {
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var open = List.empty[Int]
  // name of the open top-level span: the group of jobs submitted without
  // a job group (by a session the program builds itself)
  @volatile private var openTop: String = null
  // wall-clock anchor: spans are kept in nanoTime, listener events in ms
  val anchorNs: Long = System.nanoTime()
  val anchorMs: Long = System.currentTimeMillis()
  def toMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6
  // per-query planning/plan-shape records: (planning start ms, counter, value)
  val planRecords = java.util.Collections.synchronizedList(new java.util.ArrayList[(Long, String, Long)]())
  val groups = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  // job intervals (ms since epoch) per group, for driver-only time
  val jobIntervals = new ConcurrentHashMap[String, java.util.List[Array[Long]]]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobGroupOf = new ConcurrentHashMap[Int, String]()

  def counters(group: String): Counters = groups.computeIfAbsent(group, _ => new Counters)

  /** Times `body` as a span named `name`, tagging its Spark jobs with
    * the job group of the same name.
    */
  def span[T](name: String, spark: Option[SparkSession] = None)(body: => T): T = {
    val id = spans.length
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, name, System.nanoTime(), -1L, parent)
    open = id :: open
    if (parent < 0) openTop = name
    val tag = if (enabled) spark else None
    tag.foreach(_.sparkContext.setJobGroup(name, name))
    val cg0 = Tracer.codegenCount
    try body
    finally {
      if (enabled) counters(name).add("codegen_classes", Tracer.codegenCount - cg0)
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      open = open.tail
      if (parent < 0) openTop = null
      tag.foreach(s => if (!s.sparkContext.isStopped) s.sparkContext.clearJobGroup())
    }
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .orElse(Option(openTop)).getOrElse("none")
      jobGroupOf.put(e.jobId, g)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageGroup.put(s, g))
      counters(g).add("jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val g = jobGroupOf.getOrDefault(e.jobId, "none")
      val s = jobStart.getOrDefault(e.jobId, e.time)
      jobIntervals.computeIfAbsent(g, _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Array[Long]]()))
        .add(Array(s.longValue, e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      counters(stageGroup.getOrDefault(e.stageInfo.stageId, "none")).add("stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counters(stageGroup.getOrDefault(e.stageId, "none"))
      c.add("tasks", 1)
      if (e.reason != Success) c.add("task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        c.add("task_busy_ms", m.executorRunTime)
        c.add("task_cpu_ns", m.executorCpuTime)
        c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        c.add("shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        c.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        c.add("input_rows", m.inputMetrics.recordsRead)
        c.add("input_bytes", m.inputMetrics.bytesRead)
        // the scheduler delay Spark's UI shows: task wall not spent
        // running, deserializing or shipping the result
        val info = e.taskInfo
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        c.add("sched_wait_ms", math.max(0L, delay))
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    // delivered on the listener bus, so the job group of the calling
    // thread is gone: records carry the planning start time instead and
    // are attributed to the span open at that time
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      val t = if (phases.isEmpty) System.currentTimeMillis() else phases.map(_.startTimeMs).min
      def add(k: String, v: Long): Unit = planRecords.add((t, k, v))
      add("plan_ns", phases.map(_.durationMs).sum * 1000000L)
      Tracer.Plans.foreach(qe.executedPlan) {
        case b: BroadcastExchangeExec =>
          b.metrics.get("dataSize").foreach(m => add("broadcast_bytes", m.value))
        case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] =>
          s.metrics.get("numOutputRows").foreach(m => add("csv_rows", m.value))
        case _ => ()
      }
    }
  }

  // ------------------------------------------------------------ sampling

  /** Layer time from stack samples: every `sampleMs` the driver thread
    * is attributed to the layer of its innermost `graft.*` frame and each
    * executor task thread parsing CSV to `io.csv`. Consecutive driver
    * samples of one layer become one span under the open top-level span;
    * driver time outside any sub-layer stays the top-level span's own.
    * A sampling interval inside a top-level span that overran `sampleMs`
    * by more than `GapFactor` times is time the samples did not observe;
    * its excess is kept in `gapNs` and counts as unaccounted.
    */
  @volatile private var sampling = false
  private var sampler: Thread = _
  val layerNs = new ConcurrentHashMap[String, AtomicLong]()
  val gapNs = new AtomicLong()
  private val sampled = mutable.ArrayBuffer.empty[(String, Long, Long, Int)]

  def startSampling(main: Thread): Unit = {
    sampling = true
    val mx = ManagementFactory.getThreadMXBean
    sampler = new Thread(() => {
      var last = System.nanoTime()
      var cur: (String, Long, Int) = null
      var workers = Array.empty[Long]
      var tick = 0
      while (sampling) {
        Thread.sleep(sampleMs)
        val now = System.nanoTime()
        val dt = now - last
        last = now
        val parent = open.lastOption.getOrElse(-1)
        if (parent >= 0 && dt > Tracer.GapFactor * sampleMs * 1000000L) gapNs.addAndGet(dt - sampleMs * 1000000L)
        val layer = if (parent < 0) null else Tracer.driverLayer(main.getStackTrace)
        if (cur != null && (layer == null || layer != cur._1 || parent != cur._3)) {
          sampled.synchronized(sampled += ((cur._1, cur._2, now - dt, cur._3)))
          cur = null
        }
        if (layer != null) {
          layerNs.computeIfAbsent(layer, _ => new AtomicLong()).addAndGet(dt)
          if (cur == null) cur = (layer, now - dt, parent)
        }
        if (tick % 20 == 0) workers = Tracer.taskThreadIds
        tick += 1
        if (workers.nonEmpty) {
          val parsing = mx.getThreadInfo(workers, Int.MaxValue).count(i => i != null && Tracer.isCsv(i.getStackTrace))
          if (parsing > 0) layerNs.computeIfAbsent("io.csv", _ => new AtomicLong()).addAndGet(dt * parsing)
        }
      }
      if (cur != null) sampled.synchronized(sampled += ((cur._1, cur._2, System.nanoTime(), cur._3)))
    }, "perfbench-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  def stopSampling(): Unit = {
    sampling = false
    if (sampler != null) sampler.join()
    sampled.synchronized {
      sampled.foreach { case (name, s, e, parent) => spans += Span(spans.length, name, s, e, parent) }
      sampled.clear()
    }
  }
}

object Tracer {
  object Plans extends AdaptiveSparkPlanHelper

  val GapFactor = 5

  def codegenCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Waits, outside any timed window, until the JIT compilers have been
    * idle for `quietMs` (their total compilation time stops growing), at
    * most `capMs`; returns the wait in seconds. Compilations queued by
    * earlier work (Derby's boot) then do not compete with the timed run
    * for the cores.
    */
  def quiesceJit(quietMs: Long = 300, capMs: Long = 15000): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var still = 0L
    while (still < quietMs && (System.nanoTime() - t0) / 1000000 < capMs) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now == last) still += 50 else { still = 0; last = now }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** CPU time of the whole JVM: every thread, JIT and GC included. */
  def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Ids of the executor task threads, found without a stack walk. */
  def taskThreadIds: Array[Long] = {
    var root = Thread.currentThread().getThreadGroup
    while (root.getParent != null) root = root.getParent
    val all = new Array[Thread](root.activeCount() * 2 + 16)
    val n = root.enumerate(all, true)
    all.take(n).filter(_.getName.startsWith("Executor task launch")).map(_.getId)
  }

  def isCsv(st: Array[StackTraceElement]): Boolean =
    st.exists { f =>
      val c = f.getClassName
      c.startsWith("org.apache.spark.sql.catalyst.csv") || c.startsWith("com.univocity") ||
        c.startsWith("org.apache.spark.sql.execution.datasources.csv")
    }

  /** Layer of the innermost program frame of a driver stack; null when
    * the time belongs to the enclosing entry-point span itself.
    */
  def driverLayer(st: Array[StackTraceElement]): String = {
    val i = st.indexWhere(_.getClassName.startsWith("graft."))
    if (i < 0) return null
    val c = st(i).getClassName
    if (c.startsWith("graft.io.Xlsx")) "io.xlsx"
    else if (c == "graft.io.Shapefile$" || c.startsWith("graft.io.Shapefile$$")) "io.shp"
    else if (c.startsWith("graft.io.Sources")) "io.csv"
    else if (c.startsWith("graft.io.ShapefileWriter") || c.startsWith("graft.io.GeoJsonSink") ||
      c.startsWith("graft.jobs.SpatialExport")) "jobs.spatial_export"
    else if (c.startsWith("graft.jobs.Fixtures")) "jobs.fixtures"
    else if (c.startsWith("graft.jobs.LoadPortalMain")) {
      val writing = st.take(i).exists(_.getClassName.contains("DataFrameWriter"))
      if (writing) "jobs.reports" else null
    }
    else null
  }
}
