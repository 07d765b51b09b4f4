package graft.report

import java.time.{LocalDate, LocalDateTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.{PartitionedLake, Scratch}
import graft.model.{Schemas, Tables}

/** The dashboard session: filters apply everywhere, charts agree with the
  * underlying slice and with their Catalyst formulations, and a filter
  * change costs one grouping action. */
class DashboardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val filters = Dashboard.Filters(
    from = LocalDate.of(2000, 1, 1), to = LocalDate.of(2000, 12, 31),
    priorities = Some(Seq("1-URGENT", "2-HIGH")))

  /** The nine aggregate charts in the reference page's order. */
  private def aggregateCharts(d: Dashboard, methods: Seq[String]): Seq[(String, DataFrame)] = Seq(
    "kpis" -> d.kpis, "dailyTrend" -> d.dailyTrend,
    "dayOfMonthHistogram" -> d.dayOfMonthHistogram,
    "revenueBySupplier" -> d.revenueBySupplier, "priorityCounts" -> d.priorityCounts,
    "paymentMix" -> d.paymentMix, "truckPaymentMatrix" -> d.truckPaymentMatrix(methods),
    "topDays" -> d.topDays(10), "perTruckSummary" -> d.perTruckSummary)

  test("charts are internally consistent over one filtered slice") {
    val d = Dashboard.open(spark, TestSpark.Sf, filters)
    try {
      val kpi = d.kpis.collect()(0)
      val nTx = kpi.getLong(1)
      assert(nTx > 0)
      // daily trend totals the same revenue as the KPI row
      val trendSum = d.dailyTrend.agg(sum(round(col("revenue") * 100).cast("long")))
        .collect()(0).getLong(0)
      assert(trendSum / 100.0 == kpi.getDouble(0))
      // histogram counts total the KPI count
      val histSum = d.dayOfMonthHistogram.agg(sum("n_tx")).collect()(0).getLong(0)
      assert(histSum == nTx)
      // priority filter actually applied
      val prios = d.priorityCounts.collect().map(_.getString(0)).toSet
      assert(prios.subsetOf(Set("1-URGENT", "2-HIGH")))
      // top days are a prefix of the ordered trend
      assert(d.topDays(5).count() <= 5)
      assert(d.rawHead(10).count() == 10)
    } finally d.close()
  }

  /** Jobs of a whole session — `open`, the nine aggregate charts and
    * `rawHead` — at this suite's data: 3 measured (2 for `open`'s one
    * grouping-sets aggregate over the ship-date leaf, its shuffle stage
    * and its result, and 1 for `rawHead`'s ordered limit). Joining the
    * fact to its dimensions per filter change ran 7 (4 for `open`, 3 for
    * `rawHead`); `open` as a union of two group-bys ran 7 by itself, and a
    * session over a cached slice with one Catalyst plan per chart ran
    * ~41. */
  private val SessionJobBudget = 3

  test("a filter change is one grouping action; aggregate charts run no job") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    var d: Dashboard = null
    val (openJobs, _) = TestSpark.jobsAndTasks { d = Dashboard.open(spark, TestSpark.Sf, filters) }
    val chartJobs = aggregateCharts(d, Seq("1-URGENT", "2-HIGH")).map { case (name, df) =>
      val (jobs, _) = TestSpark.jobsAndTasks { df.collect(); () }
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collect { case r: LogicalRelation => r }.isEmpty, s"$name reads the source files")
      name -> jobs
    }
    assert(chartJobs.forall(_._2 == 0), s"aggregate charts launched jobs: $chartJobs")
    val raw = d.rawHead(10)
    val (rawJobs, _) = TestSpark.jobsAndTasks { raw.collect(); () }
    assert(raw.queryExecution.optimizedPlan.collect { case m: InMemoryRelation => m }.isEmpty,
      "rawHead reads a cache")
    val total = openJobs + chartJobs.map(_._2).sum + rawJobs
    assert(openJobs > 0 && rawJobs > 0)
    assert(total <= SessionJobBudget,
      s"a session ran $total jobs (open $openJobs, charts $chartJobs, rawHead $rawJobs)")
  }

  test("date-range filter bounds the slice inclusively") {
    val oneDay = Dashboard.Filters(LocalDate.of(2000, 6, 15), LocalDate.of(2000, 6, 15))
    val d = Dashboard.open(spark, TestSpark.Sf, oneDay)
    try {
      val dates = d.dailyTrend.collect().map(_.getDate(0).toString).toSet
      assert(dates == Set("2000-06-15"))
    } finally d.close()
  }

  /** Each fold against its Catalyst formulation over the same slice:
    * rows in order, column names, types and nullability. */
  private def assertChartsEqual(sf: String, f: Dashboard.Filters, methods: Seq[String],
                                nonEmpty: Boolean): Unit = {
    val ref = CatalystCharts.slice(spark, sf, f).cache()
    try {
      val d = Dashboard.open(spark, sf, f)
      CatalystCharts.charts(ref, methods).zip(aggregateCharts(d, methods)).foreach {
        case ((name, want), (_, got)) =>
          assert(got.schema == want.schema, s"$name schema for $f")
          assert(got.collect().toSeq == want.collect().toSeq, s"$name rows for $f")
      }
      assert((d.kpis.collect()(0).getLong(1) > 0) == nonEmpty, s"slice of $f")
    } finally { val _ = ref.unpersist() }
  }

  private val AllMethods = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private def day(y: Int, m: Int, d: Int) = LocalDate.of(y, m, d)

  for ((label, f, methods, nonEmpty) <- Seq(
      ("the whole history", Dashboard.Filters(day(1995, 1, 1), day(2001, 12, 31)), AllMethods, true),
      ("two years with a priority IN-list, a pivot value absent from the slice",
        Dashboard.Filters(day(1996, 1, 1), day(1997, 12, 31), None,
          Some(Seq("1-URGENT", "2-HIGH", "3-MEDIUM"))),
        Seq("1-URGENT", "5-LOW", "9-NONE"), true),
      ("six weeks with a supplier and a priority IN-list",
        Dashboard.Filters(day(1998, 3, 1), day(1998, 4, 11),
          Some(Seq("Supplier#000000001", "Supplier#000000004", "Supplier#000000007")),
          Some(Seq("2-HIGH", "5-LOW"))),
        Seq("2-HIGH", "5-LOW"), true),
      ("one day", Dashboard.Filters(day(1995, 6, 6), day(1995, 6, 6)), AllMethods, true),
      ("an empty range", Dashboard.Filters(day(2010, 1, 1), day(2010, 12, 31)), AllMethods,
        false)))
    test(s"every aggregate chart equals its Catalyst formulation: $label") {
      assertChartsEqual(TestSpark.Sf, f, methods, nonEmpty)
    }

  test("folds keep Spark's nulls: null prices, supplier names and priorities") {
    val dir = graft.TestSpark.tempDir("dash-nulls").toString
    def write(name: String, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, Schemas.byName(name))
        .coalesce(1).write.parquet(s"$dir/$name.parquet")
    def ts(day: Int) = LocalDateTime.of(1996, 3, day, 0, 0)
    def line(order: Long, supp: Long, price: java.lang.Double, day: Int) =
      Row(order, 1L, supp, 1, 1.0, price, 0.05, 0.0, "N", "O", ts(day))
    write("supplier", Seq(Row(1L, "S1", 1, 10.0), Row(2L, null, 2, null), Row(3L, "S3", 3, 30.0)))
    write("orders", Seq(Row(10L, 1L, "O", 1.0, ts(1), "1-URGENT"),
      Row(11L, 1L, "O", 1.0, ts(1), null), Row(12L, 1L, "O", 1.0, ts(1), "2-HIGH")))
    write("lineitem", Seq(
      line(10, 1, 100.0, 1), line(11, 2, 50.5, 1), line(12, 3, null, 1),
      line(10, 3, null, 2), line(11, 3, null, 2), // a day whose every price is null
      line(12, 2, 20.25, 3), line(11, 1, 7.0, 3),
      line(99, 1, 8.0, 3), line(10, 42, 9.0, 3))) // no order 99, no supplier 42
    try {
      assert(Tables.lineitem(spark, dir).count() == 9)
      assertChartsEqual(dir, Dashboard.Filters(day(1996, 3, 1), day(1996, 3, 31)),
        Seq("1-URGENT", "2-HIGH"), nonEmpty = true)
    } finally {
      Tables.invalidate(dir)
      Scratch.rm(java.nio.file.Paths.get(PartitionedLake.lakeRoot(dir)))
    }
  }

  private val RawCols = Seq("l_orderkey", "l_shipdate", "s_name", "o_orderpriority")

  /** `rawHead(k)` against the ordered limit over the base tables' joined
    * slice: the same schema and the same rows in order. Lines that tie on
    * (`l_shipdate`, `l_orderkey`) may come in either order, and the last
    * tied group may be cut at any of its members, so rows compare as
    * multisets per key and the cut group as a sub-multiset. */
  private def assertRawHead(f: Dashboard.Filters, k: Int): Seq[Row] = {
    val want = CatalystCharts.slice(spark, TestSpark.Sf, f).select(RawCols.map(col): _*)
      .orderBy(col("l_shipdate").desc, col("l_orderkey")).limit(k)
    val got = Dashboard.open(spark, TestSpark.Sf, f).rawHead(k)
    assert(got.schema == want.schema, s"rawHead schema for $f")
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    def key(r: Row) = (r.get(1), r.get(0))
    assert(g.map(key) == w.map(key), s"rawHead($k) keys for $f")
    def byKey(rows: Seq[Row]) = rows.groupBy(key).view.mapValues(_.map(_.toString).sorted).toMap
    val (wantByKey, cut) = (byKey(w), w.lastOption.map(key))
    byKey(g).foreach { case (kk, rows) =>
      if (cut.contains(kk)) {
        val tied = CatalystCharts.slice(spark, TestSpark.Sf, f).select(RawCols.map(col): _*)
          .collect().toSeq.filter(key(_) == kk).map(_.toString)
        assert(rows.diff(tied).isEmpty, s"rawHead($k) rows of the cut key $kk for $f")
      } else assert(rows == wantByKey(kk), s"rawHead($k) rows of $kk for $f")
    }
    g
  }

  for ((label, f, k, shape) <- Seq[(String, Dashboard.Filters, Int, Seq[Row] => Boolean)](
      ("fewer lines than k", Dashboard.Filters(day(1998, 3, 1), day(1998, 3, 3)), 1000,
        rows => rows.nonEmpty && rows.size < 1000),
      ("k spans several days", Dashboard.Filters(day(1995, 1, 1), day(2001, 12, 31)), 60,
        rows => rows.size == 60 && rows.map(_.get(1).toString.take(10)).distinct.size > 3),
      ("a sliver with supplier and priority IN-lists",
        Dashboard.Filters(day(1996, 1, 1), day(1998, 12, 31),
          Some(Seq("Supplier#000000001", "Supplier#000000004", "Supplier#000000007")),
          Some(Seq("2-HIGH", "5-LOW"))), 10,
        rows => rows.size == 10)))
    test(s"rawHead equals the base tables' ordered limit: $label") {
      val rows = assertRawHead(f, k)
      assert(shape(rows), s"the case's rows: $rows")
    }

  test("rawHead of an empty slice is empty, with its schema, and runs no job") {
    val f = Dashboard.Filters(day(2010, 1, 1), day(2010, 12, 31))
    val raw = Dashboard.open(spark, TestSpark.Sf, f).rawHead(10)
    val (jobs, _) = TestSpark.jobsAndTasks { assert(raw.collect().isEmpty); () }
    assert(jobs == 0, s"an empty rawHead ran $jobs jobs")
    assert(raw.schema == CatalystCharts.slice(spark, TestSpark.Sf, f).select(RawCols.map(col): _*).schema)
  }

  test("the ship-date leaf holds exactly the lines joined to a supplier and an order") {
    PartitionedLake.ensureLineitemLake(spark, TestSpark.Sf)
    val leaf = spark.read.parquet(PartitionedLake.lineitemByShipRoot(TestSpark.Sf))
    val cols = PartitionedLake.lineitemByShipSchema.fieldNames.toSeq
    assert(leaf.columns.toSeq == cols)
    val joined = Tables.lineitem(spark, TestSpark.Sf)
      .join(Tables.supplier(spark, TestSpark.Sf), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, TestSpark.Sf), col("l_orderkey") === col("o_orderkey"))
      .withColumn("l_shipday", to_date(col("l_shipdate")))
      .select(cols.map(col): _*)
    assert(leaf.count() == joined.count() && leaf.count() > 0)
    assert(leaf.exceptAll(joined).isEmpty && joined.exceptAll(leaf).isEmpty)
  }

  test("an unfiltered whole-range rawHead reads at most a quarter of the leaf") {
    val d = Dashboard.open(spark, TestSpark.Sf, Dashboard.Filters(day(1990, 1, 1), day(2010, 12, 31)))
    val leafRows = spark.read.parquet(PartitionedLake.lineitemByShipRoot(TestSpark.Sf)).count()
    val read = TestSpark.inputRecords { d.rawHead(50).collect(); () }
    assert(read > 0 && read * 4 <= leafRows, s"rawHead(50) read $read of the leaf's $leafRows rows")
  }
}

/** Test-only Catalyst reference for the nine aggregate charts: their
  * groupBy/pivot/orderBy formulations over the joined and filtered slice,
  * which [[Dashboard]]'s driver-side folds replace. */
private object CatalystCharts {

  private def rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
  private def cents(c: Column) = round(c * 100).cast("long")

  def slice(spark: SparkSession, sfDir: String, f: Dashboard.Filters): DataFrame = {
    val joined = Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.supplier(spark, sfDir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
    val dated = joined.filter(
      to_date(col("l_shipdate")).between(lit(f.from.toString), lit(f.to.toString)))
    val withSup = f.suppliers.fold(dated)(xs => dated.filter(col("s_name").isin(xs: _*)))
    f.priorities.fold(withSup)(xs => withSup.filter(col("o_orderpriority").isin(xs: _*)))
  }

  def charts(slice: DataFrame, methods: Seq[String]): Seq[(String, DataFrame)] = {
    val kpis = {
      val tot = slice.agg(
        sum(cents(rev)).as("rc"),
        count(lit(1)).as("n_tx"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("n_card"))
      val daily = slice
        .groupBy(to_date(col("l_shipdate")).as("date"))
        .agg(sum(cents(rev)).as("drc"))
        .agg(sum("drc").as("rc_sum"), count(lit(1)).as("n_days"))
      tot.crossJoin(daily).select(
        (col("rc") / 100.0).as("total_revenue"),
        col("n_tx"),
        (round(col("rc") / col("n_tx")) / 100.0).as("avg_tx"),
        (round(col("rc_sum") / col("n_days")) / 100.0).as("avg_daily_revenue"),
        (round(lit(10000.0) * col("n_card") / col("n_tx")) / 100.0).as("card_pct"))
    }
    val dailyTrend = slice.groupBy(to_date(col("l_shipdate")).as("date"))
      .agg((sum(cents(rev)) / 100.0).as("revenue"))
      .orderBy("date")
    val dayOfMonthHistogram = slice.groupBy(dayofmonth(col("l_shipdate")).as("day"))
      .agg(count(lit(1)).as("n_tx")).orderBy("day")
    val revenueBySupplier = slice.groupBy("s_name")
      .agg((sum(cents(rev)) / 100.0).as("revenue"))
      .orderBy(col("revenue").desc, col("s_name"))
    val priorityCounts = slice.groupBy("o_orderpriority").count().orderBy("o_orderpriority")
    val paymentMix = slice.groupBy(col("o_orderpriority").as("method"))
      .agg(count(lit(1)).as("n_tx"), (sum(cents(rev)) / 100.0).as("revenue"))
      .orderBy("method")
    val truckPaymentMatrix = {
      val wide = slice.groupBy("s_name").pivot("o_orderpriority", methods).agg(count(lit(1)))
      methods.foldLeft(wide) { (df, m) =>
        val clean = "n_" + m.toLowerCase.replaceAll("[^a-z0-9]+", "_")
        df.withColumn(clean, coalesce(col(s"`$m`"), lit(0L))).drop(m)
      }.orderBy("s_name")
    }
    val topDays = slice.groupBy(to_date(col("l_shipdate")).as("date"))
      .agg(sum(cents(rev)).as("rc"), count(lit(1)).as("n_tx"))
      .orderBy(col("rc").desc, col("date"))
      .limit(10)
      .select(col("date"), (col("rc") / 100.0).as("revenue"), col("n_tx"))
    val perTruckSummary = slice.groupBy("s_name", "s_nationkey", "s_acctbal")
      .agg(sum(cents(rev)).as("rc"), count(lit(1)).as("n_tx"))
      .select(
        col("s_name"), col("s_nationkey"), col("s_acctbal"),
        (col("rc") / 100.0).as("revenue"),
        (round(col("rc") / col("n_tx")) / 100.0).as("avg_tx"),
        col("n_tx"))
      .orderBy(col("revenue").desc, col("s_name"))
    Seq("kpis" -> kpis, "dailyTrend" -> dailyTrend, "dayOfMonthHistogram" -> dayOfMonthHistogram,
      "revenueBySupplier" -> revenueBySupplier, "priorityCounts" -> priorityCounts,
      "paymentMix" -> paymentMix, "truckPaymentMatrix" -> truckPaymentMatrix,
      "topDays" -> topDays, "perTruckSummary" -> perTruckSummary)
  }
}
