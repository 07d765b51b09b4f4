package graft.report

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.PartitionedLake

/** The interactive-dashboard session (ref: pipeline/dashboard.py, SURVEY
  * §3.3): one filtered view of the fact table shared by every chart query.
  *
  * The reference's dashboard reads a lake denormalized at extract time
  * (pipeline/ETL/extract.py:86-109); so does this one. The slice is read
  * from the lineitem lake's ship-date leaf
  * ([[graft.etl.PartitionedLake.ensureLineitemLake]]): the lines that
  * match a supplier and an order, carrying the columns the charts read,
  * range-clustered by ship day. A filter change joins nothing and
  * broadcasts nothing, and its date range reads only the files that
  * overlap it.
  *
  * The reference re-executes the whole script per UI interaction — about
  * fifteen aggregate queries over one filtered view. Here a filter change
  * ([[Dashboard.open]]) is ONE Spark action over ONE scan of the slice:
  * a grouping-sets aggregate collects its per-day and per-(supplier,
  * priority) groups, each with its exact cent sum and line count. Their
  * number is bounded by the days in range and the dimension sizes, not by
  * the fact table. Every aggregate chart is a fold of those groups on the
  * driver, returned as a local DataFrame whose collect runs no Spark job
  * (asserted by DashboardSpec); only [[rawHead]] reads the slice again,
  * and only its newest days. At 100 TB that one aggregate stays the whole
  * distributed cost of a filter change.
  *
  * Filters mirror the reference's sidebar exactly: inclusive date range
  * (P8), supplier IN-list, priority IN-list (P9) — ref dashboard.py:98-109.
  *
  * Every chart is oracle-backed (q55–q59, q62): money rides as exact
  * integer cents, ties are broken totally, and functionally-dependent
  * attributes travel as GROUP BY keys — never `first()` (the A8 trap,
  * ref dashboard.py:320-321 `'fsa_rating': 'first'`, which is
  * row-order-dependent in a distributed engine). Each fold computes what
  * Spark's aggregate would: a null-only sum is null, `round` is
  * [[Report.roundHalfUp]], and orders are Spark's (ASC NULLS FIRST,
  * DESC NULLS LAST, strings by UTF-8 bytes).
  */
final class Dashboard private (
    slice: DataFrame, days: Seq[Dashboard.Day], cells: Seq[Dashboard.Cell]) {

  import Dashboard._

  private def local(schema: StructType, rows: Seq[Row]): DataFrame =
    slice.sparkSession.createDataFrame(rows.asJava, schema)

  /** KPI row (ref :117-132): revenue, tx count, avg ticket, avg daily
    * revenue, card-share-of-transactions — all over the FILTERED slice.
    * `avg_daily_revenue` is the two-level aggregate (mean of exact daily
    * cent sums); `card_pct` is the reference's
    * `(payment_method == 'card').sum() / len * 100` with '1-URGENT' as the
    * card-like method. An empty slice gives `(null, 0, null, null, null)`. */
  def kpis: DataFrame = {
    val rc = total(days.map(_.rc))
    val nTx = days.map(_.n).sum
    val nCard = cells.filter(_.priority == CardMethod).map(_.n).sum
    local(KpisSchema, Seq(Row(
      money(rc), nTx, avg(rc, nTx), avg(rc, days.size.toLong),
      if (nTx == 0) null else Report.roundHalfUp(10000.0 * nCard / nTx) / 100.0)))
  }

  /** Daily revenue trend (ref :143). */
  def dailyTrend: DataFrame =
    local(DailyTrendSchema, days.sortBy(_.date.toEpochDay).map(d => Row(d.date, money(d.rc))))

  /** Hourly histogram analog — day-of-month histogram here (ref :156-157). */
  def dayOfMonthHistogram: DataFrame =
    local(HistogramSchema, days.groupMapReduce(_.date.getDayOfMonth)(_.n)(_ + _).toSeq.sorted
      .map { case (day, n) => Row(day, n) })

  /** Revenue by supplier, descending (ref :177-178). */
  def revenueBySupplier: DataFrame =
    local(RevenueBySupplierSchema, cells.groupMap(_.supplier)(_.rc).toSeq
      .map { case (s, rcs) => (s, total(rcs)) }
      .sortBy { case (s, rc) => (rc, s) }(byRevenueThenName)
      .map { case (s, rc) => Row(s, money(rc)) })

  /** Priority mix for the pie chart (ref :230-231). */
  def priorityCounts: DataFrame =
    local(PriorityCountsSchema, cells.groupMapReduce(_.priority)(_.n)(_ + _).toSeq
      .sortBy(_._1)(sparkString).map { case (p, n) => Row(p, n) })

  /** Payment-method mix: grouped counts AND revenue per method — the pie
    * (ref :257-258 `value_counts`) and the revenue bar (:267-268) from the
    * same groups. */
  def paymentMix: DataFrame =
    local(PaymentMixSchema, cells.groupBy(_.priority).toSeq.sortBy(_._1)(sparkString)
      .map { case (p, cs) => Row(p, cs.map(_.n).sum, money(total(cs.map(_.rc)))) })

  /** Payment preference by truck (ref :268-281 grouped bar): the
    * truck × payment count matrix, one `n_<method>` column per value of
    * `methods` in order (the PIVOT with pinned values it replaces; at
    * 100 TB always pass the value list). Every truck in the slice gets a
    * row, and absent combinations surface as 0, like the chart's empty
    * bars. */
  def truckPaymentMatrix(methods: Seq[String]): DataFrame = {
    val schema = StructType(StructField("s_name", StringType) +:
      methods.map(m => StructField("n_" + m.toLowerCase.replaceAll("[^a-z0-9]+", "_"), LongType,
        nullable = false)))
    local(schema, cells.groupBy(_.supplier).toSeq.sortBy(_._1)(sparkString).map { case (s, cs) =>
      Row.fromSeq(s +: methods.map(m => cs.filter(_.priority == m).map(_.n).sum))
    })
  }

  /** Per-truck performance table (ref :316-325): revenue sum/avg/count plus
    * the truck's own attributes (`fsa_rating`/`has_card_reader` analogs —
    * here `s_nationkey`/`s_acctbal`). The reference fetches those with
    * pandas `first()`; distributed, that is non-deterministic, so the
    * functionally-dependent columns ride as GROUP BY keys instead —
    * deterministic output (the A8 trap, properly). */
  def perTruckSummary: DataFrame =
    local(PerTruckSchema, cells.groupBy(c => (c.supplier, c.nation, c.acctbal)).toSeq
      .map { case (k, cs) => (k, total(cs.map(_.rc)), cs.map(_.n).sum) }
      .sortBy { case (k, rc, _) => (rc, k._1) }(byRevenueThenName)
      .map { case ((s, nation, acctbal), rc, n) => Row(s, nation, acctbal, money(rc), avg(rc, n), n) })

  /** Top-k revenue days with their transaction counts (ref :296-300). */
  def topDays(k: Int): DataFrame =
    local(TopDaysSchema, days
      .sortBy(d => (d.rc, d.date.toEpochDay))(Ordering.Tuple2(centsDesc, Ordering.Long))
      .take(k).map(d => Row(d.date, money(d.rc), d.n)))

  /** Raw explorer page (ref :342): the slice's `k` newest lines, by
    * `l_shipdate` descending then `l_orderkey`. The day groups say how
    * many lines each day holds, so the newest days that together hold
    * `k` lines (all days, if the slice holds fewer) are known before any
    * read: one ordered-limit action over the slice from the oldest of
    * them on, which prunes the leaf to those days' files. Whole days are
    * kept, so ties fall exactly as over the whole slice. An empty slice
    * is a local empty frame (no job). */
  def rawHead(k: Int): DataFrame = {
    def page(lines: DataFrame) = lines.select("l_orderkey", "l_shipdate", "s_name", "o_orderpriority")
    val newest = days.sortBy(-_.date.toEpochDay)
    val held = newest.scanLeft(0L)(_ + _.n).tail
    newest.lift(held.indexWhere(_ >= k)).orElse(newest.lastOption) match {
      case None => local(page(slice).schema, Nil)
      case Some(cutoff) => page(slice.where(col("l_shipday") >= lit(cutoff.date)))
        .orderBy(col("l_shipdate").desc, col("l_orderkey")).limit(k)
    }
  }

  /** The session holds no cached data and nothing to release; callers may
    * still scope a session with it. */
  def close(): Unit = ()
}

object Dashboard {

  final case class Filters(
      from: LocalDate,
      to: LocalDate,
      suppliers: Option[Seq[String]] = None,
      priorities: Option[Seq[String]] = None)

  /** One ship day of the slice: its cent sum (null when no line of the day
    * has a price) and line count. */
  private[report] final case class Day(date: LocalDate, rc: Option[Long], n: Long)

  /** One (supplier, priority) group of the slice; the supplier's own
    * attributes ride as keys. */
  private[report] final case class Cell(
      supplier: String, nation: Integer, acctbal: java.lang.Double, priority: String,
      rc: Option[Long], n: Long)

  private val CardMethod = "1-URGENT"

  private def rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
  private def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")

  /** Spark's `sum` of group sums: null when every group's is. */
  private def total(rcs: Seq[Option[Long]]): Option[Long] = rcs.flatten.reduceOption(_ + _)
  /** `rc / 100.0`. */
  private def money(rc: Option[Long]): Any = rc.fold[Any](null)(_ / 100.0)
  /** `round(rc / n) / 100.0`; a non-null sum implies `n > 0`. */
  private def avg(rc: Option[Long], n: Long): Any =
    rc.fold[Any](null)(c => Report.roundHalfUp(c.toDouble / n) / 100.0)

  /** ASC NULLS FIRST on UTF-8 bytes, as Spark orders strings. */
  private val sparkString: Ordering[String] =
    Ordering.by((s: String) => Option(s).map(UTF8String.fromString))
  /** DESC NULLS LAST on a nullable cent sum. */
  private val centsDesc: Ordering[Option[Long]] = Ordering.Option(Ordering.Long).reverse
  private val byRevenueThenName = Ordering.Tuple2(centsDesc, sparkString)

  private def schema(fields: (String, DataType, Boolean)*): StructType =
    StructType(fields.map { case (n, t, nullable) => StructField(n, t, nullable) })
  private val KpisSchema = schema(("total_revenue", DoubleType, true), ("n_tx", LongType, false),
    ("avg_tx", DoubleType, true), ("avg_daily_revenue", DoubleType, true),
    ("card_pct", DoubleType, true))
  private val DailyTrendSchema = schema(("date", DateType, true), ("revenue", DoubleType, true))
  private val HistogramSchema = schema(("day", IntegerType, true), ("n_tx", LongType, false))
  private val RevenueBySupplierSchema =
    schema(("s_name", StringType, true), ("revenue", DoubleType, true))
  private val PriorityCountsSchema =
    schema(("o_orderpriority", StringType, true), ("count", LongType, false))
  private val PaymentMixSchema = schema(("method", StringType, true), ("n_tx", LongType, false),
    ("revenue", DoubleType, true))
  private val PerTruckSchema = schema(("s_name", StringType, true),
    ("s_nationkey", IntegerType, true), ("s_acctbal", DoubleType, true),
    ("revenue", DoubleType, true), ("avg_tx", DoubleType, true), ("n_tx", LongType, false))
  private val TopDaysSchema = schema(("date", DateType, true), ("revenue", DoubleType, true),
    ("n_tx", LongType, false))

  /** Open a session over the lake's ship-date leaf
    * ([[PartitionedLake.ensureLineitemLake]]): lines already joined to
    * their supplier and order, read with its declared schema, so a filter
    * change runs no join and no inference job. The date range is a
    * predicate on the leaf's `DATE` column `l_shipday`, which prunes its
    * files and row groups by their footer statistics. The supplier and
    * priority IN-lists apply to the leaf's columns, and the slice's
    * per-day and per-(supplier, priority) groups are collected in one
    * action: one scan grouped by the sets `(date)` and `(s_name,
    * s_nationkey, s_acctbal, o_orderpriority)`, whose rows
    * `grouping(date)` tells apart. */
  def open(spark: SparkSession, sfDir: String, f: Filters): Dashboard = {
    PartitionedLake.ensureLineitemLake(spark, sfDir)
    val dated = spark.read.schema(PartitionedLake.lineitemByShipSchema)
      .parquet(PartitionedLake.lineitemByShipRoot(sfDir))
      .where(col("l_shipday").between(lit(f.from), lit(f.to)))
    val withSup = f.suppliers.fold(dated)(xs => dated.filter(col("s_name").isin(xs: _*)))
    val slice = f.priorities.fold(withSup)(xs => withSup.filter(col("o_orderpriority").isin(xs: _*)))

    val cellKeys = Seq("s_name", "s_nationkey", "s_acctbal", "o_orderpriority").map(col)
    val (cellRows, dayRows) = slice.withColumnRenamed("l_shipday", "date")
      .groupingSets(Seq(Seq(col("date")), cellKeys), col("date") +: cellKeys: _*)
      .agg(grouping("date").as("cell"), sum(cents(rev)).as("rc"), count(lit(1)).as("n"))
      .collect().toSeq.partition(_.getAs[Byte]("cell") == 1)
    def rc(r: Row) = Option(r.getAs[java.lang.Long]("rc")).map(_.longValue)
    new Dashboard(slice,
      dayRows.map(r => Day(r.getAs[java.sql.Date]("date").toLocalDate, rc(r), r.getAs[Long]("n"))),
      cellRows.map(r => Cell(r.getAs[String]("s_name"), r.getAs[Integer]("s_nationkey"),
        r.getAs[java.lang.Double]("s_acctbal"), r.getAs[String]("o_orderpriority"),
        rc(r), r.getAs[Long]("n"))))
  }
}
