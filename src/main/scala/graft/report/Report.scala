package graft.report

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.PartitionedLake

/** The daily-report pipeline (ref: pipeline/report-lambda/
  * generate_report.py): read exactly one day's partition from the lake,
  * compute the financial KPI set, render HTML on the driver.
  *
  * Spark restatement of the Lambda (SURVEY §3.2): the reference builds
  * the day's S3 prefix by hand (generate_report.py:32) and reads only it;
  * [[daySlice]] does the same — it reads the `year=Y/month=M/day=D`
  * directory alone, so a report never lists the rest of the lake. Like
  * the reference's extract (pipeline/ETL/extract.py:86-109), the lake is
  * denormalized when it is built: every line already carries its
  * supplier's `s_name` and its order's `o_orderpriority`
  * ([[PartitionedLake.lineitemLakeSchema]]), so no report reads a
  * dimension. The report is then ONE Spark action over ONE scan of that
  * directory: one grouping-sets aggregate whose sets are the whole day,
  * each supplier and each priority — at most a few hundred rows, which
  * [[fold]] turns into [[ReportMetrics]] on the driver; the template
  * renders there too.
  *
  * All money rides as exact integer cents (order-independent at any
  * partition count); the fee model is the reference's 2%-of-revenue on
  * card-like methods (generate_report.py:124-142), with `o_orderpriority`
  * standing in for `payment_method` and 'urgent' for 'card'.
  *
  * Empty-day semantics (generate_report.py:72-84): a day with no rows
  * yields zeroed metrics and "n/a" best/worst — never a crash or a null —
  * and the HTML renders a "no data" banner.
  */
object Report {

  final case class TruckRow(name: String, revenue: Double, nTx: Long, avgTx: Double)
  final case class PaymentRow(method: String, revenue: Double, fee: Double)

  final case class ReportMetrics(
      reportDate: String,
      totalRevenue: Double,
      nTx: Long,
      avgTx: Double,
      bestTruck: String,
      bestRevenue: Double,
      worstTruck: String,
      worstRevenue: Double,
      totalFees: Double,
      netRevenue: Double,
      perTruck: Seq[TruckRow],
      perPayment: Seq[PaymentRow])

  /** "Yesterday" in UTC — the reference's default window
    * (generate_report.py:24-29 / F8); every job entry point takes the date
    * as a parameter so tests and backfills are deterministic. */
  def yesterday(): LocalDate = LocalDate.now(java.time.ZoneOffset.UTC).minusDays(1)

  private def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")
  private def rev = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** The day slice: the lake's `year=Y/month=M/day=D` directory read
    * alone ([[PartitionedLake.readDay]]) with the lake's schema
    * ([[PartitionedLake.lineitemLakeSchema]]: `lineitem`'s columns plus
    * `has_s`, `s_name`, `has_o`, `o_orderpriority`) — no other day is
    * listed or read, and a day without data is an empty slice. */
  def daySlice(spark: SparkSession, sfDir: String, date: LocalDate): DataFrame =
    PartitionedLake.readDay(spark, PartitionedLake.ensureLineitemLake(spark, sfDir), date,
      PartitionedLake.lineitemLakeSchema(spark, sfDir))

  /** (rc, n_tx): the day's revenue cents and line count, one row. */
  private def dayTotals(slice: DataFrame): DataFrame =
    slice.agg(coalesce(sum(cents(rev)), lit(0L)).as("rc"), count(lit(1)).as("n_tx"))

  /** (s_name, rc, n_tx) over the slice's lines with a matched supplier. */
  private def bySupplier(slice: DataFrame): DataFrame =
    slice.filter(col("has_s")).groupBy("s_name")
      .agg(sum(cents(rev)).as("rc"), count(lit(1)).as("n_tx"))

  /** (o_orderpriority, rc) over the slice's lines with a matched order. */
  private def byPriority(slice: DataFrame): DataFrame =
    slice.filter(col("has_o")).groupBy("o_orderpriority").agg(sum(cents(rev)).as("rc"))

  /** Single-row scalar-metrics plan (the CORRECTNESS-gated face of the
    * report, q44). Best/worst are the supplier groups with the highest
    * and lowest (revenue, name), a null name ranking below every name, so
    * a revenue tie breaks on the name exactly like q18, and each name
    * comes with its own group's revenue. [[metrics]] computes the same
    * values by [[fold]]; ReportSpec keeps the two equal. */
  def metricsDF(spark: SparkSession, sfDir: String, date: LocalDate): DataFrame =
    metricsDFFrom(spark, sfDir, date, daySlice(spark, sfDir, date))

  /** Same plan over a caller-supplied slice. */
  def metricsDFFrom(spark: SparkSession, sfDir: String, date: LocalDate,
                    slice: DataFrame): DataFrame = {
    // a struct orders field by field with nulls first, as the fold does
    val key = struct(col("rc"), col("s_name"))
    def named(group: String) =
      when(col(group).isNull, lit("n/a")).otherwise(col(s"$group.s_name"))
    val bestWorst = bySupplier(slice)
      .agg(max(key).as("best"), min(key).as("worst"))
      .select(named("best").as("best_truck"), coalesce(col("best.rc"), lit(0L)).as("best_rc"),
        named("worst").as("worst_truck"), coalesce(col("worst.rc"), lit(0L)).as("worst_rc"))

    val fees = perPaymentDF(spark, sfDir, slice)
      .agg(coalesce(sum("fee_cents"), lit(0L)).as("fee_c"))

    dayTotals(slice).crossJoin(bestWorst).crossJoin(fees).select(
      lit(date.toString).as("report_date"),
      (col("rc") / 100.0).as("total_revenue"),
      col("n_tx"),
      when(col("n_tx") === 0, 0.0)
        .otherwise(round(col("rc") / col("n_tx")) / 100.0).as("avg_tx"),
      col("best_truck"),
      (col("best_rc") / 100.0).as("best_revenue"),
      col("worst_truck"),
      (col("worst_rc") / 100.0).as("worst_revenue"),
      (col("fee_c") / 100.0).as("total_fees"),
      ((col("rc") - col("fee_c")) / 100.0).as("net_revenue"))
  }

  /** Per-payment-method revenue + processing fee (2% on card-like methods,
    * group-level rounding like the reference's per-method cost dict). */
  def perPaymentDF(spark: SparkSession, sfDir: String, slice: DataFrame): DataFrame =
    byPriority(slice).select(
      col("o_orderpriority").as("method"), col("rc"),
      when(lower(col("o_orderpriority")).contains("urgent"), round(col("rc") * 0.02).cast("long"))
        .otherwise(0L).as("fee_cents"))

  /** Per-truck revenue table (ref generate_report.py:92-96). */
  def perTruckDF(spark: SparkSession, sfDir: String, slice: DataFrame): DataFrame =
    bySupplier(slice)
      .select(col("s_name").as("name"), (col("rc") / 100.0).as("revenue"), col("n_tx"),
        (round(col("rc") / col("n_tx")) / 100.0).as("avg_tx"))
      .orderBy(col("rc").desc, col("name"))

  /** Run the full report job for one date in ONE Spark action over one
    * scan of the day slice and no dimension read. One aggregate groups the
    * slice's own columns by the sets `()`, `(has_s, s_name)` and
    * `(has_o, o_orderpriority)`, where `has_s`/`has_o` flag a key that
    * matched when the lake was built: the day set counts every line, and
    * the keyed sets keep the inner joins' meaning once [[fold]] drops
    * their unmatched groups. Each set's rows are told apart by
    * `grouping_id()`; at most one row per supplier plus one per priority
    * plus one (none for an empty day, whose plan Spark folds to an empty
    * relation). */
  def metrics(spark: SparkSession, sfDir: String, date: LocalDate): ReportMetrics = {
    val lines = daySlice(spark, sfDir, date)
      .select(col("has_s"), col("s_name"), col("has_o"), col("o_orderpriority"),
        cents(rev).as("c"))
    // rows are (has_s, s_name, has_o, o_orderpriority, g, rc, n), where g is
    // grouping_id() over the four keys, the first key its high bit
    val (dayId, supplierId, priorityId) = (15L, 3L, 12L)
    val rows = lines
      .groupingSets(Seq(Nil, Seq(col("has_s"), col("s_name")),
        Seq(col("has_o"), col("o_orderpriority"))),
        col("has_s"), col("s_name"), col("has_o"), col("o_orderpriority"))
      .agg(grouping_id().as("g"), sum("c").as("rc"), count(lit(1)).as("n"))
      .collect().toSeq.groupBy(_.getLong(4)).withDefaultValue(Nil)
    val day = rows(dayId).headOption
    fold(date, day.filterNot(_.isNullAt(5)).fold(0L)(_.getLong(5)), day.fold(0L)(_.getLong(6)),
      rows(supplierId).filter(_.getBoolean(0)).map(r => (r.getString(1), r.getLong(5), r.getLong(6))),
      rows(priorityId).filter(_.getBoolean(2)).map(r => (r.getString(3), r.getLong(5))))
  }

  /** Spark's `round(x)` on a double: HALF_UP on the shortest decimal
    * form of `x` (`BigDecimal(x)`, not the exact binary value). */
  private[report] def roundHalfUp(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** The report from its grouped rows, computed as [[metricsDFFrom]],
    * [[perTruckDF]] and [[perPaymentDF]] compute it: `dayCents`/`nTx`
    * are the whole day, `suppliers` the (name, cents, lines) and
    * `priorities` the (method, cents) groups of the matched lines. A null
    * name or method is a group of its own and sorts first, as in Spark. */
  def fold(date: LocalDate, dayCents: Long, nTx: Long,
           suppliers: Seq[(String, Long, Long)],
           priorities: Seq[(String, Long)]): ReportMetrics = {
    val byKey = Ordering.by[(String, Long, Long), (Long, Option[String])] {
      case (n, c, _) => (c, Option(n)) }
    val best = suppliers.maxOption(byKey)
    val worst = suppliers.minOption(byKey)
    val fees = priorities.map { case (m, c) =>
      (m, c, if (Option(m).exists(_.toLowerCase.contains("urgent"))) roundHalfUp(c * 0.02) else 0L)
    }
    val feeC = fees.map(_._3).sum
    ReportMetrics(
      reportDate = date.toString,
      totalRevenue = dayCents / 100.0, nTx = nTx,
      avgTx = if (nTx == 0) 0.0 else roundHalfUp(dayCents.toDouble / nTx) / 100.0,
      bestTruck = best.fold("n/a")(_._1), bestRevenue = best.fold(0L)(_._2) / 100.0,
      worstTruck = worst.fold("n/a")(_._1), worstRevenue = worst.fold(0L)(_._2) / 100.0,
      totalFees = feeC / 100.0, netRevenue = (dayCents - feeC) / 100.0,
      perTruck = suppliers.sortBy { case (n, c, _) => (-c, Option(n)) }.map { case (n, c, k) =>
        TruckRow(n, c / 100.0, k, roundHalfUp(c.toDouble / k) / 100.0) },
      perPayment = fees.sortBy(f => Option(f._1)).map { case (m, c, f) => PaymentRow(m, c / 100.0, f / 100.0) })
  }

  /** Driver-side HTML render (ref generate_report.py:160-387). */
  def renderHtml(m: ReportMetrics): String = {
    def money(d: Double) = f"$$$d%,.2f"
    val body =
      if (m.nTx == 0)
        s"""<p class="empty">No transactions recorded on ${m.reportDate}.</p>"""
      else {
        val truckRows = m.perTruck.map(t =>
          s"<tr><td>${t.name}</td><td>${money(t.revenue)}</td><td>${t.nTx}</td><td>${money(t.avgTx)}</td></tr>")
          .mkString("\n")
        val payRows = m.perPayment.map(p =>
          s"<tr><td>${p.method}</td><td>${money(p.revenue)}</td><td>${money(p.fee)}</td></tr>")
          .mkString("\n")
        s"""<ul>
           |  <li>Total revenue: ${money(m.totalRevenue)}</li>
           |  <li>Transactions: ${m.nTx}</li>
           |  <li>Average transaction: ${money(m.avgTx)}</li>
           |  <li>Best seller: ${m.bestTruck} (${money(m.bestRevenue)})</li>
           |  <li>Worst seller: ${m.worstTruck} (${money(m.worstRevenue)})</li>
           |  <li>Processing fees: ${money(m.totalFees)}</li>
           |  <li>Net revenue: ${money(m.netRevenue)}</li>
           |</ul>
           |<h2>Per-seller</h2>
           |<table><tr><th>Seller</th><th>Revenue</th><th>Tx</th><th>Avg</th></tr>
           |$truckRows</table>
           |<h2>Payment methods</h2>
           |<table><tr><th>Method</th><th>Revenue</th><th>Fee</th></tr>
           |$payRows</table>""".stripMargin
      }
    s"""<!DOCTYPE html>
       |<html><head><title>Daily report ${m.reportDate}</title></head>
       |<body><h1>Daily report — ${m.reportDate}</h1>
       |$body
       |</body></html>""".stripMargin
  }

  /** Report sink (S10): write the HTML under `outDir` with the reference's
    * key scheme `reports/daily-report-<date>.html`. */
  def save(html: String, outDir: String, date: LocalDate): java.nio.file.Path = {
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve(s"daily-report-$date.html"), html)
  }
}
