package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Times the workload's ops and, in a traced run, attributes their time
  * and work to layers.
  *
  * Untraced, an op costs two `nanoTime` reads and a GC-counter read: no
  * listener is registered and [[span]] is a plain call. Traced, a
  * `SparkListener` and a `QueryExecutionListener` accumulate engine
  * counters while an op of the measured loop is open, [[span]] times each
  * call into a module, and every op is closed only after the listener bus
  * drained (outside the op's wall time), so nothing leaks into the next
  * op. Counters are totals over the measured loop; [[Main]] divides them
  * by the number of unit ops. */
final class Tracer(spark: SparkSession, val tracing: Boolean) {

  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val totals = mutable.LinkedHashMap.empty[String, Double]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  def add(name: String, v: Double): Unit = totals.synchronized {
    totals(name) = totals.getOrElse(name, 0.0) + v
  }
  def total(name: String): Double = totals.synchronized(totals.getOrElse(name, 0.0))
  /** Records a latency of the measured loop (ignored during warm-up). */
  def sample(kind: String, seconds: Double): Unit =
    if (measuring) samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds

  // ── JVM meters (both modes: each is a counter read) ──────────────────
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMillis: Long = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum
  private val jit = ManagementFactory.getCompilationMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)
  var gcInOpsS = 0.0
  private var gcLoop0 = 0L
  private var jitLoop0 = 0L
  private var loopGcMillis = 0L
  private var loopJitMillis = 0L
  @volatile private var liveAfterGcPeak = 0L
  @volatile var measuring = false

  // Heap in use right after each collection: the live set plus whatever
  // the collector left behind. Its maximum over the measured loop is the
  // footprint figure; the pools' raw peak mostly reflects young-gen sizing.
  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (measuring &&
          n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools.exists(_.getName == pool) => u.getUsed }.sum
        if (after > liveAfterGcPeak) liveAfterGcPeak = after
      }
  }
  gcBeans.foreach {
    case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
    case _ =>
  }

  /** Marks the start of the measured loop: resets the heap peaks. */
  def startLoop(): Unit = {
    if (tracing) drain()
    heapPools.foreach(_.resetPeakUsage())
    liveAfterGcPeak = 0L
    gcLoop0 = gcMillis
    jitLoop0 = if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L
    measuring = true
  }

  def endLoop(): Unit = {
    measuring = false
    loopGcMillis = gcMillis - gcLoop0
    loopJitMillis =
      if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime - jitLoop0 else 0L
  }

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** Largest heap in use after a collection during the loop; heap in use
    * at the loop's end if no collection ran. */
  def liveHeapPeakMb: Double =
    (if (liveAfterGcPeak > 0) liveAfterGcPeak
     else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  def loopGcS: Double = loopGcMillis / 1000.0
  def loopJitS: Double = loopJitMillis / 1000.0

  // ── ops and spans ────────────────────────────────────────────────────
  @volatile private var recording = false
  @volatile private var kind = ""
  private var spanInOpS = 0.0
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Runs one op of the measured loop. A thrown exception counts the op
    * as failed and is not rethrown; the op's latency is kept only on
    * success. */
  def op[T](k: String)(body: => T): Option[T] = {
    attempted += 1
    kind = k
    spanInOpS = 0.0
    jobSpans.synchronized(jobSpans.clear())
    recording = tracing
    val gc0 = gcMillis
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r =
      try Some(body)
      catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"$k: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
          None
      }
    val dt = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    gcInOpsS += (gcMillis - gc0) / 1000.0
    if (r.isDefined) sample(k, dt)
    if (tracing) {
      drain()
      recording = false
      val covered = jobSpans.synchronized(coveredMillis(jobSpans.toSeq, ms0, ms1))
      add("spark.driver_s", math.max(0.0, dt - covered / 1000.0))
      add("trace.op_wall_s", dt)
      add("trace.unattributed_s", math.max(0.0, dt - spanInOpS))
    }
    r
  }

  /** Times one call into a module (traced runs, measured loop only). */
  def span[T](layer: String)(body: => T): T =
    if (!tracing || !measuring) body
    else {
      val t0 = System.nanoTime()
      try body
      finally {
        val d = (System.nanoTime() - t0) / 1e9
        add(layer, d)
        if (recording) spanInOpS += d
      }
    }

  /** Whether `df`'s executed plan (after an action) read a cached relation. */
  def readsCache(df: DataFrame): Boolean =
    Tracer.planHelper.find(df.queryExecution.executedPlan)(_.isInstanceOf[InMemoryTableScanExec]).isDefined

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  private def coveredMillis(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      add("spark.jobs", 1)
      jobSpans.synchronized(jobStart(e.jobId) = e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording) {
      jobSpans.synchronized(jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time))))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (recording) add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (recording && e.taskMetrics != null) {
        val m = e.taskMetrics
        add("spark.tasks", 1)
        add("spark.exec_run_s", m.executorRunTime / 1000.0)
        add("spark.exec_cpu_s", m.executorCpuTime / 1e9)
        add("spark.task_gc_s", m.jvmGCTime / 1000.0)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.spill_bytes", m.diskBytesSpilled.toDouble)
        add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("spark.input_records", m.inputMetrics.recordsRead.toDouble)
        add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add(s"kind.$kind.input_records", m.inputMetrics.recordsRead.toDouble)
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = if (recording) {
      add("spark.actions", 1)
      val p = qe.tracker.phases
      def ms(phase: String) = p.get(phase).map(_.durationMs / 1000.0).getOrElse(0.0)
      add("spark.analysis_s", ms(QueryPlanningTracker.ANALYSIS))
      add("spark.optimization_s", ms(QueryPlanningTracker.OPTIMIZATION))
      add("spark.planning_s", ms(QueryPlanningTracker.PLANNING))
    }
  }

  if (tracing) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }
}

object Tracer {
  private val planHelper = new AdaptiveSparkPlanHelper {}
}
