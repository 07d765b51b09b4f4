package graft.report

import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.PartitionedLake

/** A report and a dashboard filter change each run one action that reads
  * its slice's files once: one file scan of its lake leaf in the executed
  * plan, and no scan of a base table (the lake carries the dimension
  * columns). */
class ScanOnceSpec extends AnyFunSuite {

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
    // a day no other spec caches: sessions share one cache manager, so a
    // report on a day another suite has cached reads an InMemoryRelation
    // and plans no file scan at all
    val date = LocalDate.of(1997, 3, 12)
    TestSpark.withConf() { s =>
      Report.metrics(s, TestSpark.Sf, date) // resolves the base tables and the lake
      val day = new Path(PartitionedLake.dayDir(PartitionedLake.ensureLineitemLake(s, TestSpark.Sf),
        date)).getName
      val plans = TestSpark.executedPlans(s) { Report.metrics(s, TestSpark.Sf, date); () }
      assert(plans.size == 1, s"a report ran ${plans.size} queries")
      val scans = scansByRoot(plans.head)
      assert(scans == Map(day -> 1), s"file scans: $scans\n${plans.head}")
      assert(!scans.contains("supplier.parquet") && !scans.contains("orders.parquet"),
        s"dimension scans: $scans\n${plans.head}")
    }
  }

  test("a dashboard filter change scans the ship-date leaf once, no base table") {
    val f = Dashboard.Filters(LocalDate.of(1995, 1, 1), LocalDate.of(2001, 12, 31),
      priorities = Some(Seq("1-URGENT", "2-HIGH")))
    TestSpark.withConf() { s =>
      Dashboard.open(s, TestSpark.Sf, f) // resolves the base tables and builds the lake
      val leaf = new Path(PartitionedLake.lineitemByShipRoot(TestSpark.Sf)).getName
      val plans = TestSpark.executedPlans(s) { Dashboard.open(s, TestSpark.Sf, f); () }
      assert(plans.size == 1, s"a filter change ran ${plans.size} queries")
      val scans = scansByRoot(plans.head)
      assert(scans == Map(leaf -> 1), s"file scans: $scans\n${plans.head}")
      assert(Seq("lineitem.parquet", "supplier.parquet", "orders.parquet").forall(!scans.contains(_)),
        s"base-table scans: $scans\n${plans.head}")
    }
  }
}
