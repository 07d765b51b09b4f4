package graft.report

import java.time.{LocalDate, LocalDateTime}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{lit, round}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.{PartitionedLake, Scratch}
import graft.model.{Schemas, Tables}

/** Report metrics + HTML, including the empty-day branch
  * (generate_report.py:72-84) — SURVEY §7.4 trap 5. */
class ReportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("metrics on a day with data are internally consistent") {
    val m = Report.metrics(spark, TestSpark.Sf, LocalDate.of(2000, 6, 15))
    assert(m.nTx > 0)
    assert(m.totalRevenue > 0)
    assert(m.netRevenue == m.totalRevenue - m.totalFees)
    assert(m.bestRevenue >= m.worstRevenue)
    assert(m.perTruck.nonEmpty)
    // per-truck revenues sum back to the total (exact cents arithmetic)
    val perTruckSum = math.round(m.perTruck.map(t => t.revenue * 100).sum) / 100.0
    assert(perTruckSum == m.totalRevenue)
    // fee model: only card-like ('urgent') methods carry a fee
    assert(m.perPayment.filter(p => !p.method.toLowerCase.contains("urgent"))
      .forall(_.fee == 0.0))
  }

  test("empty day yields zeroed metrics, not nulls or a crash") {
    val m = Report.metrics(spark, TestSpark.Sf, LocalDate.of(1990, 1, 1))
    assert(m.nTx == 0)
    assert(m.totalRevenue == 0.0 && m.avgTx == 0.0 && m.netRevenue == 0.0)
    assert(m.bestTruck == "n/a" && m.worstTruck == "n/a")
    assert(m.perTruck.isEmpty && m.perPayment.isEmpty)
  }

  test("HTML renders data and empty variants") {
    val full = Report.renderHtml(Report.metrics(spark, TestSpark.Sf, LocalDate.of(2000, 6, 15)))
    assert(full.contains("<table>") && full.contains("Net revenue"))
    val empty = Report.renderHtml(Report.metrics(spark, TestSpark.Sf, LocalDate.of(1990, 1, 1)))
    assert(empty.contains("No transactions recorded"))
    assert(empty.startsWith("<!DOCTYPE html>"))
  }

  test("the faces over a cached day slice read the cache, never the lake") {
    val date = LocalDate.of(2000, 6, 15)
    val slice = Report.daySlice(spark, TestSpark.Sf, date).cache()
    try {
      val dfs = Seq(
        Report.metricsDFFrom(spark, TestSpark.Sf, date, slice),
        Report.perTruckDF(spark, TestSpark.Sf, slice),
        Report.perPaymentDF(spark, TestSpark.Sf, slice))
      dfs.foreach(_.collect())
      val lakeRoot = graft.etl.PartitionedLake.lakeRoot(TestSpark.Sf)
      def occurrences(s: String, sub: String): Int =
        s.sliding(sub.length).count(_ == sub)
      // every slice consumer must read the in-memory relation: each lake
      // FileScan in the executed plan sits INSIDE an InMemoryRelation
      // (cached-plan) block — a direct re-scan would print a lake FileScan
      // without a matching InMemoryRelation
      dfs.map(_.queryExecution.executedPlan.toString).foreach { s =>
        assert(s.contains("InMemoryTableScan"),
          s"report aggregate must read the cached slice:\n$s")
        assert(occurrences(s, lakeRoot) <= occurrences(s, "InMemoryRelation"),
          s"report aggregate must not re-scan the lake outside the cache:\n$s")
      }
    } finally { val _ = slice.unpersist() }
  }

  // ── one directory, one action ─────────────────────────────────────

  private val DataDay = LocalDate.of(2000, 6, 15)
  private val EmptyDay = LocalDate.of(1990, 1, 1)
  private def lake = PartitionedLake.ensureLineitemLake(spark, TestSpark.Sf)

  test("a report runs one action: <= 2 jobs on a data day, none on an empty day") {
    // first calls build the lake and resolve the base tables (memoized)
    Report.metrics(spark, TestSpark.Sf, DataDay)
    Report.metrics(spark, TestSpark.Sf, EmptyDay)
    val (dataJobs, _) = TestSpark.jobsAndTasks { Report.metrics(spark, TestSpark.Sf, DataDay); () }
    val (emptyJobs, _) = TestSpark.jobsAndTasks { Report.metrics(spark, TestSpark.Sf, EmptyDay); () }
    assert(dataJobs <= 2, s"data day ran $dataJobs jobs")
    // an empty day's plan folds to an empty local relation
    assert(emptyJobs == 0, s"empty day ran $emptyJobs jobs")
  }

  test("the day slice reads only its day's directory") {
    val dir = new Path(PartitionedLake.dayDir(lake, DataDay))
    val qualified = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(dir)
    val files = Report.daySlice(spark, TestSpark.Sf, DataDay).inputFiles.toSeq
    assert(files.nonEmpty)
    assert(files.forall(f => new Path(f).getParent == qualified), files.mkString("\n"))
  }

  test("the day slice has the inferred lake schema, for a present and a missing day") {
    val inferred = PartitionedLake.read(spark, lake).schema
    assert(Report.daySlice(spark, TestSpark.Sf, DataDay).schema == inferred)
    assert(Report.daySlice(spark, TestSpark.Sf, EmptyDay).schema == inferred)
  }

  /** The report as the three DataFrame faces compute it over one slice. */
  private def fromFaces(date: LocalDate, sf: String = TestSpark.Sf): Report.ReportMetrics = {
    val slice = Report.daySlice(spark, sf, date)
    val k = Report.metricsDFFrom(spark, sf, date, slice).collect()(0)
    val trucks = Report.perTruckDF(spark, sf, slice).collect().toSeq
      .map(r => Report.TruckRow(r.getString(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
    val pays = Report.perPaymentDF(spark, sf, slice).orderBy("method").collect().toSeq
      .map(r => Report.PaymentRow(r.getString(0), r.getLong(1) / 100.0, r.getLong(2) / 100.0))
    Report.ReportMetrics(k.getString(0), k.getDouble(1), k.getLong(2), k.getDouble(3),
      k.getString(4), k.getDouble(5), k.getString(6), k.getDouble(7), k.getDouble(8),
      k.getDouble(9), trucks, pays)
  }

  test("metrics equals the DataFrame faces on every day of a month") {
    val days = (1 to 30).map(LocalDate.of(2000, 6, _))
    val present = days.filter(d =>
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(PartitionedLake.dayDir(lake, d))))
    assert(present.nonEmpty && present.size < days.size, "the month must mix data and empty days")
    // the days are independent, so four run at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val pairs = Await.result(Future.traverse(days)(d =>
        Future((d, Report.metrics(spark, TestSpark.Sf, d), fromFaces(d)))), 5.minutes)
      pairs.foreach { case (d, folded, faces) => assert(folded == faces, s"on $d") }
    } finally pool.shutdown()
  }

  private def ts(day: Int) = LocalDateTime.of(1996, 3, day, 0, 0)
  private def line(order: Long, supp: Long, price: Double, day: Int) =
    Row(order, 1L, supp, 1, 1.0, price, 0.0, 0.0, "N", "O", ts(day))
  private def order(key: Long, priority: String) = Row(key, 1L, "O", 1.0, ts(1), priority)

  /** `body` over a fresh sf dir holding these `supplier`, `orders` and
    * `lineitem` rows; the dir's memoized tables and derived lake are
    * dropped afterwards. */
  private def withFixture(suppliers: Seq[Row], orders: Seq[Row], lines: Seq[Row])
                         (body: String => Unit): Unit = {
    val dir = TestSpark.tempDir("report-fixture").toString
    def write(name: String, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, Schemas.byName(name))
        .coalesce(1).write.parquet(s"$dir/$name.parquet")
    write("supplier", suppliers); write("orders", orders); write("lineitem", lines)
    try body(dir) finally {
      Tables.invalidate(dir)
      Scratch.rm(java.nio.file.Paths.get(PartitionedLake.lakeRoot(dir)))
    }
  }

  test("every line counts in the day totals; unmatched keys stay out of the tables") {
    // supplier 2 has no name, supplier 42 and order 99 do not exist
    withFixture(Seq(Row(1L, "S1", 1, 10.0), Row(2L, null, 2, 20.0), Row(3L, "S3", 3, 30.0)),
      Seq(order(10L, "1-URGENT"), order(11L, "2-HIGH"), order(12L, "5-LOW")),
      Seq(line(10, 1, 100.0, 1), line(11, 2, 50.5, 1), line(12, 3, 20.0, 1),
        line(99, 1, 7.0, 1), line(11, 42, 3.25, 1), line(10, 3, 1.0, 2))) { dir =>
      val day = LocalDate.of(1996, 3, 1)
      val m = Report.metrics(spark, dir, day)
      assert(m.nTx == 5 && m.totalRevenue == 180.75)
      assert(m.perTruck.map(t => (t.name, t.revenue, t.nTx)) ==
        Seq(("S1", 107.0, 2L), (null, 50.5, 1L), ("S3", 20.0, 1L)))
      assert(m.perPayment.map(p => (p.method, p.revenue)) ==
        Seq(("1-URGENT", 100.0), ("2-HIGH", 53.75), ("5-LOW", 20.0)))
      assert(m == fromFaces(day, dir))
    }
  }

  test("best and worst take name and revenue from one group, an unnamed supplier included") {
    // day 1: the unnamed supplier 2 has the top revenue; day 2: it ties
    // supplier 1 at the bottom, and one line's order has no priority
    withFixture(Seq(Row(1L, "S1", 1, 10.0), Row(2L, null, 2, 20.0), Row(3L, "S3", 3, 30.0)),
      Seq(order(10L, "1-URGENT"), order(11L, null)),
      Seq(line(10, 1, 10.0, 1), line(10, 2, 500.0, 1), line(10, 3, 20.0, 1),
        line(10, 2, 10.0, 2), line(11, 1, 10.0, 2), line(10, 3, 30.0, 2))) { dir =>
      val (top, tie) = (LocalDate.of(1996, 3, 1), LocalDate.of(1996, 3, 2))
      val m1 = Report.metrics(spark, dir, top)
      assert((m1.bestTruck, m1.bestRevenue) == ((null, 500.0)))
      assert((m1.worstTruck, m1.worstRevenue) == (("S1", 10.0)))
      assert(m1 == fromFaces(top, dir))
      val m2 = Report.metrics(spark, dir, tie)
      assert((m2.bestTruck, m2.bestRevenue) == (("S3", 30.0)))
      assert((m2.worstTruck, m2.worstRevenue) == ((null, 10.0)))
      assert(m2.perTruck.map(_.name) == Seq("S3", null, "S1"))
      assert(m2.perPayment == Seq(Report.PaymentRow(null, 10.0, 0.0),
        Report.PaymentRow("1-URGENT", 40.0, 0.8)))
      assert(m2 == fromFaces(tie, dir))
    }
  }

  // ── the fold alone, on hand-built rows ────────────────────────────────

  /** Spark's `round(x)` on a double, as a long. */
  private def sparkRound(x: org.apache.spark.sql.Column): Long =
    spark.range(1).select(round(x).cast("long")).head().getLong(0)

  test("fold: a revenue tie between two suppliers breaks on the name") {
    val m = Report.fold(DataDay, 1000L, 5L,
      Seq(("Supplier#B", 500L, 2L), ("Supplier#A", 500L, 3L)), Seq(("5-LOW", 1000L)))
    assert(m.bestTruck == "Supplier#B" && m.bestRevenue == 5.0)
    assert(m.worstTruck == "Supplier#A" && m.worstRevenue == 5.0)
    assert(m.perTruck.map(_.name) == Seq("Supplier#A", "Supplier#B"))
    assert(m.totalFees == 0.0 && m.netRevenue == 10.0)
  }

  test("fold: a revenue tie with an unnamed supplier ranks the name above the null") {
    val m = Report.fold(DataDay, 1000L, 2L,
      Seq((null, 500L, 1L), ("Supplier#A", 500L, 1L)), Seq((null, 400L), ("1-URGENT", 600L)))
    assert(m.bestTruck == "Supplier#A" && m.bestRevenue == 5.0)
    assert(m.worstTruck == null && m.worstRevenue == 5.0)
    assert(m.perTruck.map(_.name) == Seq(null, "Supplier#A"))
    assert(m.perPayment.map(p => (p.method, p.fee)) == Seq((null, 0.0), ("1-URGENT", 0.12)))
  }

  test("fold: an average of exactly .5 cents rounds half up, as Spark's round") {
    val m = Report.fold(DataDay, 5L, 2L, Seq(("Supplier#A", 5L, 2L)), Nil)
    assert(sparkRound(lit(5L) / lit(2L)) == 3L)
    assert(m.avgTx == 0.03)
    assert(m.perTruck.map(_.avgTx) == Seq(0.03))
  }

  test("fold: an URGENT fee of exactly .5 cents rounds half up, as Spark's round") {
    val m = Report.fold(DataDay, 1125L, 4L, Seq(("Supplier#A", 1125L, 4L)),
      Seq(("1-URGENT", 125L), ("2-HIGH", 1000L)))
    assert(sparkRound(lit(125L) * 0.02) == 3L)
    assert(m.perPayment == Seq(Report.PaymentRow("1-URGENT", 1.25, 0.03),
      Report.PaymentRow("2-HIGH", 10.0, 0.0)))
    assert(m.totalFees == 0.03 && m.netRevenue == 11.22)
  }

  test("report sink writes the reference's key scheme") {
    val dir = graft.TestSpark.tempDir("graft-report").toString
    val date = LocalDate.of(2000, 6, 15)
    val p = Report.save("<html></html>", dir, date)
    assert(p.getFileName.toString == "daily-report-2000-06-15.html")
    assert(java.nio.file.Files.readString(p) == "<html></html>")
  }
}
