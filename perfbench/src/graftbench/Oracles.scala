package graftbench

import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.{Row, SparkSession}

import graft.report.{Dashboard, Report}

/** Independent expected outputs. None of them calls the module under
  * test: the ETL model replays the watermark loop in plain Scala, and the
  * report and dashboard oracles are SQL over the raw parquet files,
  * without the lake, the table registry or the cache. */
object Oracles {

  /** Spark's `round(x)` on a double: HALF_UP on the decimal expansion. */
  def roundHalfUp(x: Double): Double = BigDecimal(x).setScale(0, RoundingMode.HALF_UP).toDouble

  def micros(ts: Timestamp): Long = {
    val i = ts.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  def micros(t: LocalDateTime): Long = {
    val i = t.toInstant(ZoneOffset.UTC)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  // ── ETL: the reference's 3-hourly watermark loop ─────────────────────

  final case class Raw(eventId: java.lang.Long, ts: java.lang.Long, userId: java.lang.Long,
                       eventType: String, value: java.lang.Double)

  /** One cleaned lake row: (event_id, ts µs, user_id, event_type, value,
    * year, month, day). */
  final case class Out(eventId: Long, ts: Long, userId: Long, eventType: String,
                       value: Double, year: Int, month: Int, day: Int)

  def rawEvents(spark: SparkSession, sf: String, upTo: LocalDateTime): Array[Raw] =
    graft.model.Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("ts") <= org.apache.spark.sql.functions.lit(Timestamp.valueOf(upTo)))
      .select("event_id", "ts", "user_id", "event_type", "value").collect()
      .map { r =>
        def l(i: Int) = if (r.isNullAt(i)) null else java.lang.Long.valueOf(r.getLong(i))
        Raw(l(0), if (r.isNullAt(1)) null else micros(r.getTimestamp(1)), l(2),
          if (r.isNullAt(3)) null else r.getString(3),
          if (r.isNullAt(4)) null else java.lang.Double.valueOf(r.getDouble(4)))
      }

  /** The cleaning stage: drop null/zero values and rows with a null
    * critical column, keep the smallest event_id per (ts, user_id,
    * event_type, value), derive year/month/day in UTC, round the value to
    * cents. */
  def clean(rows: Seq[Raw]): Seq[Out] =
    rows.filter(r => r.value != null && r.value.doubleValue != 0.0 && r.eventId != null &&
        r.ts != null && r.userId != null && r.eventType != null)
      .groupBy(r => (r.ts.longValue, r.userId.longValue, r.eventType, r.value.doubleValue))
      .values.map(_.minBy(_.eventId.longValue)).toSeq
      .map { r =>
        val t = LocalDateTime.ofEpochSecond(Math.floorDiv(r.ts.longValue, 1000000L),
          (Math.floorMod(r.ts.longValue, 1000000L) * 1000).toInt, ZoneOffset.UTC)
        Out(r.eventId, r.ts, r.userId, r.eventType,
          roundHalfUp(r.value.doubleValue * 100) / 100.0, t.getYear, t.getMonthValue, t.getDayOfMonth)
      }

  /** Replays the batches of the watermark loop. Each cycle extracts the
    * rows with `ts <= end` and `ts > floor_to_second(watermark) + 1 s`
    * (the state file keeps whole seconds), cleans them, and, when the
    * batch is not empty, moves the watermark to its largest `ts`. Returns
    * each cycle's cleaned batch and the final watermark. */
  def batches(raw: Array[Raw], ends: Seq[LocalDateTime], wm0: Option[Long]): (Seq[Seq[Out]], Option[Long]) = {
    val sorted = raw.filter(_.ts != null).sortBy(_.ts.longValue)
    var wm = wm0
    val out = ends.map { end =>
      val hi = micros(end)
      val lo = wm.map(w => w - Math.floorMod(w, 1000000L) + 1000000L)
      val b = clean(sorted.toSeq.filter(r => r.ts <= hi && lo.forall(r.ts > _)))
      if (b.nonEmpty) wm = Some(b.map(_.ts).max)
      b
    }
    (out, wm)
  }

  def outOf(r: Row): Out = Out(r.getAs[Long]("event_id"), micros(r.getAs[Timestamp]("ts")),
    r.getAs[Long]("user_id"), r.getAs[String]("event_type"), r.getAs[Double]("value"),
    r.getAs[Int]("year"), r.getAs[Int]("month"), r.getAs[Int]("day"))

  /** Multiset comparison; returns a one-line difference or None. */
  def diff(got: Seq[Out], want: Seq[Out]): Option[String] = {
    val g = got.groupBy(identity).view.mapValues(_.size).toMap
    val w = want.groupBy(identity).view.mapValues(_.size).toMap
    val missing = w.iterator.map { case (k, n) => n - g.getOrElse(k, 0) }.filter(_ > 0).sum
    val extra = g.iterator.map { case (k, n) => n - w.getOrElse(k, 0) }.filter(_ > 0).sum
    if (missing == 0 && extra == 0) None
    else Some(s"rows got=${got.size} want=${want.size} missing=$missing extra=$extra")
  }

  // ── Report: KPIs from the raw star schema ────────────────────────────

  private def rawViews(spark: SparkSession, sf: String): Unit = Seq("lineitem", "supplier", "orders")
    .foreach(t => spark.read.parquet(s"$sf/$t.parquet").createOrReplaceTempView(s"bench_raw_$t"))

  private val CentsSql = "CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)"

  /** Expected `Report.metrics` for each date, recomputed in three SQL
    * aggregates (whole day, per supplier, per order priority). */
  def reports(spark: SparkSession, sf: String, dates: Seq[LocalDate]): Map[LocalDate, Report.ReportMetrics] = {
    rawViews(spark, sf)
    val inList = dates.distinct.map(d => s"DATE'$d'").mkString(", ")
    val day = s"CAST(l.l_shipdate AS DATE)"
    def q(sql: String) = spark.sql(sql).collect().toSeq
    val tot = q(s"SELECT $day, SUM($CentsSql), COUNT(*) FROM bench_raw_lineitem l WHERE $day IN ($inList) GROUP BY 1")
      .map(r => r.getDate(0).toLocalDate -> ((r.getLong(1), r.getLong(2)))).toMap
    val bySup = q(s"""SELECT $day, s.s_name, SUM($CentsSql), COUNT(*) FROM bench_raw_lineitem l
                     |JOIN bench_raw_supplier s ON l.l_suppkey = s.s_suppkey
                     |WHERE $day IN ($inList) GROUP BY 1, 2""".stripMargin)
      .groupBy(_.getDate(0).toLocalDate)
    val byPri = q(s"""SELECT $day, o.o_orderpriority, SUM($CentsSql) FROM bench_raw_lineitem l
                     |JOIN bench_raw_orders o ON l.l_orderkey = o.o_orderkey
                     |WHERE $day IN ($inList) GROUP BY 1, 2""".stripMargin)
      .groupBy(_.getDate(0).toLocalDate)
    dates.distinct.map { d =>
      val (rc, n) = tot.getOrElse(d, (0L, 0L))
      val sups = bySup.getOrElse(d, Nil).map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy { case (name, c, _) => (-c, name) }
      val pays = byPri.getOrElse(d, Nil).map { r =>
        val m = r.getString(1); val c = r.getLong(2)
        val fee = if (m.toLowerCase.contains("urgent")) roundHalfUp(c * 0.02).toLong else 0L
        (m, c, fee)
      }.sortBy(_._1)
      val feeC = pays.map(_._3).sum
      // best/worst break revenue ties on the supplier name, both by max/min
      val byKey = sups.sortBy { case (name, c, _) => (c, name) }
      val best = byKey.lastOption
      val worst = byKey.headOption
      d -> Report.ReportMetrics(
        reportDate = d.toString,
        totalRevenue = rc / 100.0, nTx = n,
        avgTx = if (n == 0) 0.0 else roundHalfUp(rc.toDouble / n) / 100.0,
        bestTruck = best.map(_._1).getOrElse("n/a"), bestRevenue = best.map(_._2).getOrElse(0L) / 100.0,
        worstTruck = worst.map(_._1).getOrElse("n/a"), worstRevenue = worst.map(_._2).getOrElse(0L) / 100.0,
        totalFees = feeC / 100.0, netRevenue = (rc - feeC) / 100.0,
        perTruck = sups.map { case (name, c, k) =>
          Report.TruckRow(name, c / 100.0, k, roundHalfUp(c.toDouble / k) / 100.0) },
        perPayment = pays.map { case (m, c, f) => Report.PaymentRow(m, c / 100.0, f / 100.0) })
    }.toMap
  }

  // ── Dashboard: KPI row and revenue-by-supplier for one filter set ────

  final case class DashExpected(kpis: Seq[Any], revenueBySupplier: Seq[(String, Double)])

  def dashboard(spark: SparkSession, sf: String, f: Dashboard.Filters): DashExpected = {
    rawViews(spark, sf)
    def lits(xs: Seq[String]) = xs.map(x => "'" + x.replace("'", "''") + "'").mkString(", ")
    val where = Seq(
      Some(s"l.l_shipdate >= CAST('${f.from} 00:00:00' AS TIMESTAMP_NTZ)"),
      Some(s"l.l_shipdate < CAST('${f.to.plusDays(1)} 00:00:00' AS TIMESTAMP_NTZ)"),
      f.suppliers.map(xs => s"s.s_name IN (${lits(xs)})"),
      f.priorities.map(xs => s"o.o_orderpriority IN (${lits(xs)})")).flatten.mkString(" AND ")
    val rows = spark.sql(
      s"""SELECT CAST(l.l_shipdate AS DATE) d, s.s_name, o.o_orderpriority,
         |       SUM($CentsSql) rc, COUNT(*) n
         |FROM bench_raw_lineitem l
         |JOIN bench_raw_supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN bench_raw_orders o ON l.l_orderkey = o.o_orderkey
         |WHERE $where GROUP BY 1, 2, 3""".stripMargin).collect().toSeq
      .map(r => (r.getDate(0).toLocalDate, r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val kpis =
      if (rows.isEmpty) Seq[Any](null, 0L, null, null, null)
      else {
        val rc = rows.map(_._4).sum
        val n = rows.map(_._5).sum
        val nCard = rows.filter(_._3 == "1-URGENT").map(_._5).sum
        val days = rows.map(_._1).distinct.size
        Seq[Any](rc / 100.0, n, roundHalfUp(rc.toDouble / n) / 100.0,
          roundHalfUp(rc.toDouble / days) / 100.0, roundHalfUp(10000.0 * nCard / n) / 100.0)
      }
    val bySup = rows.groupBy(_._2).map { case (s, xs) => (s, xs.map(_._4).sum / 100.0) }.toSeq
      .sortBy { case (s, rev) => (-rev, s) }
    DashExpected(kpis, bySup)
  }
}
