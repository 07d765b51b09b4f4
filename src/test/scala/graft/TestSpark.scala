package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (Spark startup is the
  * dominant cost; suites must not stop() it). 16 threads: the suite grew
  * past 45 min on local[4] (27 suites × real lake/streaming work run
  * SEQUENTIALLY in the forked JVM); no test depends on the partition
  * count — the two that touch parallelism (FanOutSpec) read
  * spark.sql.shuffle.partitions at runtime. Not the full 32: concurrent
  * suites (build.sbt testForkedParallel) each run multi-task jobs, and
  * oversubscribing every hardware thread with shuffle+GC helps nothing. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("16")
  val Sf = "/root/testdata/sf0.001"

  /** This run's temp root under `java.io.tmpdir`, deleted recursively by
    * one JVM exit hook: every spec's lakes, checkpoints and staging dirs
    * live under it, so a test run leaves `/tmp` as it found it. */
  private lazy val runRoot: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft-test-run-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => graft.etl.Scratch.rm(r)))
    r
  }

  /** A child of the shared session (`newSession()`: same SparkContext and
    * cache, its own SQL conf, catalogs, temp views and query listeners)
    * with `confs` set. Suites run concurrently on the shared session, so
    * a conf a test needs goes here, never on [[spark]]. */
  def child(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** `body` on a [[child]] session with `confs` set. */
  def withConf[T](confs: (String, String)*)(body: SparkSession => T): T = body(child(confs: _*))

  /** A fresh directory under this run's temp root. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(runRoot, prefix)

  /** True iff some scan in the plan string carries a NON-empty
    * PartitionFilters list naming the `year` partition column — the one
    * place the fragile plan-string parsing lives (plan formats shift
    * across Spark versions; fix it here, not per spec). Matches INSIDE
    * the bracket list only: the scan's output schema also spells "year",
    * which a whole-plan contains() would false-positive on. */
  def hasPartitionGuard(plan: String): Boolean =
    "PartitionFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(plan)
      .exists(_.group(1).contains("year"))

  /** (jobs, tasks) the body's actions launch. */
  def jobsAndTasks(body: => Unit): (Int, Int) = {
    val (jobs, tasks, _) = cost(body)
    (jobs, tasks)
  }

  /** Rows the body's tasks read from their input files (the tasks'
    * `inputMetrics.recordsRead`): what the scans kept after file and row
    * group pruning. */
  def inputRecords(body: => Unit): Long = cost(body)._3

  /** (jobs, tasks, input records) of the body's actions. The listener
    * counts only jobs of a job group of this call's own — suites share
    * the session and run concurrently — and a marker job in a second
    * group drains the listener bus: events arrive in order, so once the
    * marker's start is seen every job and task end of the body has been
    * counted. */
  private def cost(body: => Unit): (Int, Int, Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val group = s"cost-${java.util.UUID.randomUUID()}"
    val marker = s"$group-drained"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val records = new java.util.concurrent.atomic.AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            jobs.incrementAndGet()
            tasks.addAndGet(e.stageInfos.map(_.numTasks).sum)
            e.stageIds.foreach(stages.add)
          case Some(`marker`) => drained.countDown()
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null) {
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
          ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus never delivered the marker job")
    } finally sc.removeSparkListener(listener)
    (jobs.get, tasks.get, records.get)
  }

  /** The executed plans of the queries `body` runs on `s`. A session's
    * listener sees only that session's queries, and its calls arrive late
    * but in order, so the body's are those between a start and an end
    * marker query: earlier queries of `s` may still arrive after the
    * listener is registered. */
  def executedPlans(s: SparkSession)(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    def marker() = s"marker_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val (start, end) = (marker(), marker())
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val name = qe.analyzed.schema.fieldNames.find(n => n == start || n == end).getOrElse("")
        seen.add(name -> qe.executedPlan)
        if (name == end) drained.countDown()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def runMarker(name: String): Unit = {
      s.range(1).select(org.apache.spark.sql.functions.lit(1).as(name)).collect(); ()
    }
    s.listenerManager.register(listener)
    try {
      runMarker(start)
      body
      runMarker(end)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus never delivered the end marker")
    } finally s.listenerManager.unregister(listener)
    seen.asScala.toSeq.dropWhile(_._1 != start).drop(1).takeWhile(_._1 != end).map(_._2)
  }
}
