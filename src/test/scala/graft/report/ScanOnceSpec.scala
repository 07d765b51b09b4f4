package graft.report

import java.time.LocalDate
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.PartitionedLake

/** A report and a dashboard filter change each run one action that reads
  * its slice's files once: one file scan of the input, and at most one of
  * each dimension table, in the executed plan. */
class ScanOnceSpec extends AnyFunSuite {

  /** The executed plans of the queries `body` runs on `s`, a child session
    * whose listeners see only its own queries. Listener calls arrive late
    * but in order, so the body's are those between a start and an end
    * marker query: earlier queries of `s` may still arrive after the
    * listener is registered. */
  private def executedPlans(s: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    def marker() = s"marker_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val (start, end) = (marker(), marker())
    val seen = new ConcurrentLinkedQueue[(String, SparkPlan)]
    val drained = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val name = qe.analyzed.schema.fieldNames.find(n => n == start || n == end).getOrElse("")
        seen.add(name -> qe.executedPlan)
        if (name == end) drained.countDown()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def runMarker(name: String): Unit = { s.range(1).select(lit(1).as(name)).collect(); () }
    s.listenerManager.register(listener)
    try {
      runMarker(start)
      body
      runMarker(end)
      assert(drained.await(60, TimeUnit.SECONDS), "the listener bus never delivered the end marker")
    } finally s.listenerManager.unregister(listener)
    seen.asScala.toSeq.dropWhile(_._1 != start).drop(1).takeWhile(_._1 != end).map(_._2)
  }

  /** Every file scan a plan runs, through adaptive stages and subqueries;
    * a reused exchange reads nothing again. */
  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case _: ReusedExchangeExec => Nil
    case f: FileSourceScanExec => Seq(f)
    case other => (other.children ++ other.subqueries).flatMap(fileScans)
  }

  /** Scans per input root, by the root's last path element. */
  private def scansByRoot(plan: SparkPlan): Map[String, Int] =
    fileScans(plan).flatMap(_.relation.location.rootPaths.map(_.getName))
      .groupMapReduce(identity)(_ => 1)(_ + _)

  test("a report on a data day scans its day directory once, each dimension at most once") {
    val date = LocalDate.of(2000, 6, 15)
    TestSpark.withConf() { s =>
      Report.metrics(s, TestSpark.Sf, date) // resolves the base tables and the lake
      val day = new Path(PartitionedLake.dayDir(PartitionedLake.ensureLineitemLake(s, TestSpark.Sf),
        date)).getName
      val plans = executedPlans(s) { Report.metrics(s, TestSpark.Sf, date); () }
      assert(plans.size == 1, s"a report ran ${plans.size} queries")
      val scans = scansByRoot(plans.head)
      assert(scans.get(day).contains(1), s"day directory scans: $scans\n${plans.head}")
      assert(scans.getOrElse("supplier.parquet", 0) <= 1 && scans.getOrElse("orders.parquet", 0) <= 1,
        s"dimension scans: $scans\n${plans.head}")
    }
  }

  test("a dashboard filter change scans lineitem once, each dimension at most once") {
    val f = Dashboard.Filters(LocalDate.of(1995, 1, 1), LocalDate.of(2001, 12, 31),
      priorities = Some(Seq("1-URGENT", "2-HIGH")))
    TestSpark.withConf() { s =>
      Dashboard.open(s, TestSpark.Sf, f) // resolves the base tables
      val plans = executedPlans(s) { Dashboard.open(s, TestSpark.Sf, f); () }
      assert(plans.size == 1, s"a filter change ran ${plans.size} queries")
      val scans = scansByRoot(plans.head)
      assert(scans.get("lineitem.parquet").contains(1), s"lineitem scans: $scans\n${plans.head}")
      assert(scans.getOrElse("supplier.parquet", 0) <= 1 && scans.getOrElse("orders.parquet", 0) <= 1,
        s"dimension scans: $scans\n${plans.head}")
    }
  }
}
