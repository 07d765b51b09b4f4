package graftbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Clean, PartitionedLake, SnapshotLake}
import graft.incremental.Incremental
import graft.model.Tables
import graft.report.{Dashboard, Report}

/** What a workload shares with [[Main]]. `breakCheck` corrupts the first
  * expected value, to show that a failing check counts as a failed op. */
final class Ctx(val spark: SparkSession, val sf: String, val runDir: Path, val fixtures: Path,
                val tracer: Tracer, val seed: Long, val breakCheck: Boolean)

/** One output check. A failed per-op check counts its op as failed; a
  * failed whole-run check counts as one more failed op. */
final case class Check(name: String, ok: Boolean, detail: String, perOp: Boolean)

trait Workload {
  def name: String
  /** The kind of op `op_p50_s` and the planned op count refer to. */
  def unitKind: String
  /** Unit ops the measured loop runs for a run of `seconds` seconds. The
    * count depends on `seconds` only, so every run does the same work. */
  def plannedOps(seconds: Int): Int
  /** Reads the data's shape once (ranges, names) for the generator. */
  def profile(c: Ctx): Unit
  /** Builds a fresh fixture under `dir`; the last one built is measured. */
  def fixture(c: Ctx, dir: Path): Unit
  def warmup(c: Ctx): Unit
  def loop(c: Ctx, n: Int, deadlineNs: Long): Unit
  def checks(c: Ctx): Seq[Check]
  /** Workload facts kept in the run record. */
  def record(c: Ctx): Map[String, Any]
  /** Per-layer values of this workload's modules (traced run). */
  def layers(c: Ctx): Map[String, Double]
}

object Workloads {
  val all: Seq[Workload] = Seq(EtlCycles, ReportDaily, DashboardSession, LakeHistory)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))

  def ts(t: LocalDateTime): Timestamp = Timestamp.valueOf(t)

  def eventsOrigin(events: DataFrame): LocalDateTime =
    events.agg(min("ts")).collect()(0).getTimestamp(0).toLocalDateTime.toLocalDate.atStartOfDay

  def shipRange(spark: SparkSession, sf: String): (LocalDate, LocalDate) = {
    val r = Tables.lineitem(spark, sf).agg(min("l_shipdate"), max("l_shipdate")).collect()(0)
    (r.getAs[LocalDateTime](0).toLocalDate, r.getAs[LocalDateTime](1).toLocalDate)
  }

  def parquetFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

import Workloads._

// ── etl_cycles ──────────────────────────────────────────────────────────

/** The reference's ETL: 3-hourly `Incremental.runBatch` cycles over the
  * `events` stand-in, each cycle's source bounded at the cycle's end,
  * through `Clean.cleanEvents` and `PartitionedLake.append` into a fresh
  * lake with a fresh state file. */
object EtlCycles extends Workload {
  val name = "etl_cycles"
  val unitKind = "cycle"
  // ≈ seconds per cycle on a 4-core box at local[4]; sizes the loop only
  private val NominalCycleS = 0.65

  def plannedOps(seconds: Int): Int = math.max(8, math.round(seconds / NominalCycleS).toInt)

  private var events: DataFrame = _
  private var origin: LocalDateTime = _
  private var lake: String = _
  private var inc: Incremental = _
  private val ends = mutable.ArrayBuffer.empty[LocalDateTime]
  private val appended = mutable.ArrayBuffer.empty[Option[Long]]
  private var repeat: Option[Long] = None

  def profile(c: Ctx): Unit = {
    events = Tables.events(c.spark, c.sf)
    origin = eventsOrigin(events)
  }

  def fixture(c: Ctx, dir: Path): Unit = {
    Files.createDirectories(dir)
    lake = dir.resolve("lake").toString
    inc = Incremental(dir.resolve("state").toString)
  }

  /** One cycle: `runBatch` untraced; traced, the same calls made one by
    * one so each module's share is timed. */
  private def cycle(c: Ctx, inc: Incremental, lake: String, end: LocalDateTime): Long = {
    val src = events.filter(col("ts") <= lit(ts(end)))
    if (!c.tracer.tracing) inc.runBatch(src, lake)
    else {
      val t = c.tracer
      t.span("incremental.state_s")(inc.readState())
      val (cleaned, n, maxTs) = t.span("clean.batch_s") {
        val cl = Clean.cleanEvents(inc.extract(src, "ts")).persist()
        val r = cl.agg(count(lit(1)), max(col("ts"))).collect()(0)
        (cl, r.getLong(0), r.getTimestamp(1))
      }
      try {
        if (n > 0) {
          t.span("partitioned_lake.append_s")(PartitionedLake.append(cleaned, lake))
          t.span("incremental.state_s")(inc.writeState(maxTs))
        }
        n
      } finally { val _ = cleaned.unpersist() }
    }
  }

  def warmup(c: Ctx): Unit = {
    val dir = c.runDir.resolve("warmup")
    val w = Incremental(dir.resolve("state").toString)
    Inputs.cycleEnds(origin, 1, 3, None).foreach(e => cycle(c, w, dir.resolve("lake").toString, e))
  }

  def loop(c: Ctx, n: Int, deadlineNs: Long): Unit = {
    val planned = Inputs.cycleEnds(origin, 1, n, Some(new Gen(c.seed, 1)))
    planned.takeWhile(_ => System.nanoTime() < deadlineNs).foreach { e =>
      ends += e
      appended += c.tracer.op("cycle")(cycle(c, inc, lake, e))
    }
    // the same source again: the watermark must make this a no-op
    ends.lastOption.foreach(e => repeat = c.tracer.op("repeat")(cycle(c, inc, lake, e)))
  }

  def checks(c: Ctx): Seq[Check] = {
    val raw = Oracles.rawEvents(c.spark, c.sf, ends.last)
    val (batches, _) = Oracles.batches(raw, ends.toSeq, None)
    val want = if (c.breakCheck) batches.head.drop(1) +: batches.tail else batches
    val perCycle = want.zip(appended).zipWithIndex.collect { case ((b, Some(got)), i) =>
      Check(s"cycle $i rows", got == b.size, s"appended=$got expected=${b.size}", perOp = true)
    }
    val rep = repeat.map(r => Check("repeated cycle appends nothing", r == 0L, s"appended=$r", perOp = true))
    val lakeRows = c.spark.read.parquet(lake).collect().toSeq.map(Oracles.outOf)
    val whole = Oracles.diff(lakeRows, want.flatten)
    perCycle ++ rep :+ Check("final lake equals the replayed batches", whole.isEmpty,
      whole.getOrElse(s"rows=${lakeRows.size}"), perOp = false)
  }

  def record(c: Ctx): Map[String, Any] = Map(
    "rows_appended" -> appended.flatten.sum,
    "cycle_rows" -> appended.map(_.getOrElse(-1L)).toSeq,
    "cycle_ends" -> ends.map(_.toString).toSeq,
    "lake_files" -> parquetFiles(java.nio.file.Paths.get(lake)).size)

  def layers(c: Ctx): Map[String, Double] = {
    val n = appended.size + 1.0
    Map(
      "incremental.state_s" -> c.tracer.total("incremental.state_s") / n,
      "clean.batch_s" -> c.tracer.total("clean.batch_s") / n,
      "partitioned_lake.append_s" -> c.tracer.total("partitioned_lake.append_s") / n,
      "partitioned_lake.files" -> parquetFiles(java.nio.file.Paths.get(lake)).size.toDouble)
  }
}

// ── report_daily ────────────────────────────────────────────────────────

/** The daily report: `Report.metrics` + `Report.renderHtml` for seeded
  * dates over the day-partitioned lineitem lake (pre-built, so its build
  * is never part of a run). */
object ReportDaily extends Workload {
  val name = "report_daily"
  val unitKind = "report"
  private val NominalReportS = 2.0

  def plannedOps(seconds: Int): Int = math.max(4, math.round(seconds / NominalReportS).toInt)

  private var lo: LocalDate = _
  private var hi: LocalDate = _
  private val done = mutable.ArrayBuffer.empty[(LocalDate, Option[(Report.ReportMetrics, String)])]

  def profile(c: Ctx): Unit = {
    val (a, b) = shipRange(c.spark, c.sf)
    lo = a; hi = b
  }

  def fixture(c: Ctx, dir: Path): Unit = {
    PartitionedLake.ensureLineitemLake(c.spark, c.sf)
    Tables.supplier(c.spark, c.sf); Tables.orders(c.spark, c.sf)
    ()
  }

  /** One report: `Report.metrics` untraced; traced, its steps one by one
    * over the same cached day slice. */
  private def report(c: Ctx, d: LocalDate): (Report.ReportMetrics, String) = {
    val t = c.tracer
    if (!t.tracing) {
      val m = Report.metrics(c.spark, c.sf, d)
      (m, Report.renderHtml(m))
    } else {
      val slice = t.span("report.slice_s")(Report.daySlice(c.spark, c.sf, d)).cache()
      val m = try {
        val k = t.span("report.kpis_s")(Report.metricsDFFrom(c.spark, c.sf, d, slice).collect()(0))
        val trucks = t.span("report.per_truck_s")(Report.perTruckDF(c.spark, c.sf, slice).collect()).toSeq
          .map(r => Report.TruckRow(r.getString(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
        val pays = t.span("report.per_payment_s")(
          Report.perPaymentDF(c.spark, c.sf, slice).orderBy("method").collect()).toSeq
          .map(r => Report.PaymentRow(r.getString(0), r.getLong(1) / 100.0, r.getLong(2) / 100.0))
        Report.ReportMetrics(k.getString(0), k.getDouble(1), k.getLong(2), k.getDouble(3),
          k.getString(4), k.getDouble(5), k.getString(6), k.getDouble(7), k.getDouble(8),
          k.getDouble(9), trucks, pays)
      } finally { val _ = slice.unpersist() }
      (m, t.span("report.render_s")(Report.renderHtml(m)))
    }
  }

  def warmup(c: Ctx): Unit =
    Inputs.reportDates(new Gen(c.seed, 101), lo, hi, 1).foreach(d => report(c, d))

  def loop(c: Ctx, n: Int, deadlineNs: Long): Unit =
    Inputs.reportDates(new Gen(c.seed, 2), lo, hi, n)
      .takeWhile(_ => System.nanoTime() < deadlineNs)
      .foreach(d => done += d -> c.tracer.op("report")(report(c, d)))

  def checks(c: Ctx): Seq[Check] = {
    val want = Oracles.reports(c.spark, c.sf, done.map(_._1).toSeq)
    done.toSeq.zipWithIndex.collect { case ((d, Some((m, html))), i) =>
      val w0 = want(d)
      val w = if (c.breakCheck && i == 0) w0.copy(totalRevenue = w0.totalRevenue + 0.01) else w0
      val htmlOk = html.contains(d.toString) && (m.nTx > 0 || html.contains("No transactions"))
      Check(s"report $d", m == w && htmlOk,
        if (m == w) s"nTx=${m.nTx} html=$htmlOk" else s"got=$m want=$w", perOp = true)
    }
  }

  def record(c: Ctx): Map[String, Any] = Map(
    "dates" -> done.map(_._1.toString).toSeq,
    "rows_kept" -> done.flatMap(_._2).map(_._1.nTx).sum,
    "empty_days" -> done.flatMap(_._2).count(_._1.nTx == 0))

  def layers(c: Ctx): Map[String, Double] = {
    val n = math.max(1, done.size).toDouble
    val kept = done.flatMap(_._2).map(_._1.nTx).sum.toDouble
    Seq("report.slice_s", "report.kpis_s", "report.per_truck_s", "report.per_payment_s",
      "report.render_s").map(k => k -> c.tracer.total(k) / n).toMap +
      ("report.rows_read_per_row_kept" ->
        (if (kept > 0) c.tracer.total("kind.report.input_records") / kept else 0.0))
  }
}

// ── dashboard_session ───────────────────────────────────────────────────

/** An interactive session: each seeded filter change runs
  * `Dashboard.open` and then the ten chart calls in the reference page's
  * order, collecting each. */
object DashboardSession extends Workload {
  val name = "dashboard_session"
  /** The unit op is one chart interaction: the first chart of a session
    * includes the filter change (open + cache fill), the other nine read
    * the cache. Whole sessions are `run_s` and the record's
    * `dash_session_p50_s`. */
  val unitKind = "interaction"
  private val NominalSessionS = 4.5
  private val Charts = 10

  /** Charts in the loop: whole sessions, at least two. */
  def plannedOps(seconds: Int): Int = Charts * math.max(2, math.round(seconds / NominalSessionS).toInt)

  private var lo: LocalDate = _
  private var hi: LocalDate = _
  private var suppliers: IndexedSeq[String] = _
  private var priorities: IndexedSeq[String] = _
  private val done = mutable.ArrayBuffer.empty[(Dashboard.Filters, Option[(Row, Seq[Row])])]
  private var charts = 0
  private var cacheHits = 0

  def profile(c: Ctx): Unit = {
    val (a, b) = shipRange(c.spark, c.sf)
    lo = a; hi = b
    suppliers = Tables.supplier(c.spark, c.sf).select("s_name").collect().map(_.getString(0)).sorted.toIndexedSeq
    priorities = Tables.orders(c.spark, c.sf).select("o_orderpriority").distinct().collect()
      .map(_.getString(0)).sorted.toIndexedSeq
  }

  def fixture(c: Ctx, dir: Path): Unit = {
    Tables.lineitem(c.spark, c.sf); Tables.supplier(c.spark, c.sf); Tables.orders(c.spark, c.sf)
    ()
  }

  /** The page, top to bottom (reference dashboard line order). */
  private def page(db: Dashboard): Seq[() => DataFrame] = Seq(
    () => db.kpis, () => db.dailyTrend, () => db.dayOfMonthHistogram, () => db.revenueBySupplier,
    () => db.priorityCounts, () => db.paymentMix, () => db.truckPaymentMatrix(priorities),
    () => db.topDays(10), () => db.perTruckSummary, () => db.rawHead(50))

  /** One filter change; returns the KPI row and the revenue-by-supplier
    * table for the check. */
  private def session(c: Ctx, f: Dashboard.Filters): (Row, Seq[Row]) = {
    val t = c.tracer
    val (db, openS) = seconds(t.span("dashboard.open_s")(Dashboard.open(c.spark, c.sf, f)))
    try {
      val results = page(db).zipWithIndex.map { case (chart, i) =>
        val (rows, dt) = seconds(t.span(if (i == 0) "dashboard.fill_s" else "dashboard.chart_s") {
          val df = chart()
          val rows = df.collect().toSeq
          if (t.tracing && t.measuring) { charts += 1; if (t.readsCache(df)) cacheHits += 1 }
          rows
        })
        t.sample(if (i == 0) "fill" else "chart", dt)
        t.sample("interaction", if (i == 0) dt + openS else dt)
        rows
      }
      (results(0).head, results(3))
    } finally db.close()
  }

  /** One session shaped like the loop's second (an unfiltered range),
    * from its own seed stream. */
  def warmup(c: Ctx): Unit =
    Inputs.dashboardFilters(new Gen(c.seed, 102), lo, hi, suppliers, priorities, 2)
      .drop(1).foreach(f => session(c, f))

  def loop(c: Ctx, n: Int, deadlineNs: Long): Unit =
    Inputs.dashboardFilters(new Gen(c.seed, 3), lo, hi, suppliers, priorities, n / Charts)
      .takeWhile(_ => System.nanoTime() < deadlineNs)
      .foreach(f => done += f -> c.tracer.op("session")(session(c, f)))

  def checks(c: Ctx): Seq[Check] = done.toSeq.zipWithIndex.collect { case ((f, Some((kpi, bySup))), i) =>
    val w = Oracles.dashboard(c.spark, c.sf, f)
    val wantKpis = if (c.breakCheck && i == 0) w.kpis.updated(1, -1L) else w.kpis
    val gotBySup = bySup.map(r => (r.getString(0), r.getDouble(1)))
    val ok = kpi.toSeq == wantKpis && gotBySup == w.revenueBySupplier
    Check(s"session $i $f", ok,
      if (ok) s"n_tx=${kpi.get(1)} suppliers=${gotBySup.size}"
      else s"kpis got=${kpi.toSeq} want=$wantKpis; suppliers got=${gotBySup.size} want=${w.revenueBySupplier.size}",
      perOp = true)
  }

  def record(c: Ctx): Map[String, Any] = Map(
    "filters" -> done.map(_._1.toString).toSeq,
    "slice_rows" -> done.map(_._2.map(_._1.get(1)).getOrElse(-1L)).toSeq)

  def layers(c: Ctx): Map[String, Double] = {
    val n = math.max(1, done.size).toDouble
    Seq("dashboard.open_s", "dashboard.fill_s", "dashboard.chart_s").map(k => k -> c.tracer.total(k) / n).toMap +
      ("dashboard.cache_hit_ratio" -> (if (charts > 0) cacheHits.toDouble / charts else 0.0))
  }
}

// ── lake_history ────────────────────────────────────────────────────────

/** The cleaned 3-hourly batches appended through the `graftlake`
  * connector to a manifest lake that already holds [[LakeHistory.PreDays]]
  * days and 18 hours of history, one version per cycle (pre-built, copied
  * fresh for each run). After each simulated day the day's rows are read
  * back at head, plus one seeded time-travel read. */
object LakeHistory extends Workload {
  val name = "lake_history"
  val unitKind = "cycle"
  /** Days of history in the pre-built lake: 8 commits a day. */
  val PreDays = 12
  private val CyclesPerDay = 24 / Inputs.CycleHours
  // the history ends at 18:00, so the first two measured cycles complete
  // a day and its reads follow them
  private val QuarterDay = CyclesPerDay / 4
  private val BaseCycles = PreDays * CyclesPerDay + 3 * QuarterDay
  private val NominalQuarterDayS = 11.0

  def plannedOps(seconds: Int): Int =
    QuarterDay * math.max(1, math.round(seconds / NominalQuarterDayS).toInt)

  private var events: DataFrame = _
  private var origin: LocalDateTime = _
  private var root: String = _
  private var inc: Incremental = _
  private def baseDir(c: Ctx) = c.fixtures.resolve("history")
  // every cycle in order: (end, version it committed or None when empty)
  private val cycles = mutable.ArrayBuffer.empty[(LocalDateTime, Option[Long])]
  private val measuredCycles = mutable.ArrayBuffer.empty[(LocalDateTime, Option[Long], Double, Long)]
  // reads: (kind, version, day, rows)
  private val reads = mutable.ArrayBuffer.empty[(String, Long, LocalDate, Option[Seq[Oracles.Out]])]
  private val growth = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var resolves = 0

  def profile(c: Ctx): Unit = {
    events = Tables.events(c.spark, c.sf)
    origin = eventsOrigin(events)
    cycles.clear()
    val lines = Files.readAllLines(baseDir(c).resolve("cycles.tsv")).asScala
    lines.foreach { l =>
      val f = l.split("\t")
      cycles += LocalDateTime.parse(f(0)) -> Option(f(1)).filter(_ != "-").map(_.toLong)
    }
  }

  def fixture(c: Ctx, dir: Path): Unit = {
    copyTree(baseDir(c).resolve("base"), dir)
    root = dir.resolve("lake").toString
    inc = Incremental(dir.resolve("state").toString)
  }

  /** One cycle through the connector; returns the rows appended. */
  def cycle(spark: SparkSession, t: Tracer, events: DataFrame, inc: Incremental,
            root: String, end: LocalDateTime): Long = {
    val src = events.filter(col("ts") <= lit(ts(end)))
    t.span("incremental.state_s")(inc.readState())
    val (cleaned, n, maxTs) = t.span("clean.batch_s") {
      val cl = Clean.cleanEvents(inc.extract(src, "ts")).persist()
      val r = cl.agg(count(lit(1)), max(col("ts"))).collect()(0)
      (cl, r.getLong(0), r.getTimestamp(1))
    }
    try {
      if (n > 0) {
        t.span("snapshot_lake.commit_s")(
          cleaned.write.format("graftlake").mode("append").option("statsCols", "ts").save(root))
        t.span("incremental.state_s")(inc.writeState(maxTs))
      }
      n
    } finally { val _ = cleaned.unpersist() }
  }

  private def read(c: Ctx, version: Option[Long], day: LocalDate): Seq[Oracles.Out] = {
    val r = c.tracer.span("graftlake.load_s") {
      val b = c.spark.read.format("graftlake")
      version.fold(b)(v => b.option("versionAsOf", v.toString)).load(root)
    }
    c.tracer.span("graftlake.scan_s")(
      r.filter(col("ts") >= lit(ts(day.atStartOfDay)) && col("ts") < lit(ts(day.plusDays(1).atStartOfDay)))
        .collect()).toSeq.map(Oracles.outOf)
  }

  private def head: Long = SnapshotLake.currentVersion(root).getOrElse(0L)

  def warmup(c: Ctx): Unit = {
    val dir = c.runDir.resolve("warmup")
    val w = Incremental(dir.resolve("state").toString)
    Inputs.cycleEnds(origin, 1, 1, None)
      .foreach(e => cycle(c.spark, c.tracer, events, w, dir.resolve("lake").toString, e))
    read(c, Some(PreDays.toLong), origin.toLocalDate.plusDays(1))
    ()
  }

  def loop(c: Ctx, n: Int, deadlineNs: Long): Unit = {
    val g = new Gen(c.seed, 4)
    val ends = Inputs.cycleEnds(origin, BaseCycles + 1, n, Some(new Gen(c.seed, 5)))
    ends.zipWithIndex.takeWhile(_ => System.nanoTime() < deadlineNs).foreach { case (e, i) =>
      val before = head
      val t0 = System.nanoTime()
      val rows = c.tracer.op("cycle")(cycle(c.spark, c.tracer, events, inc, root, e))
      val dt = (System.nanoTime() - t0) / 1e9
      val v = Some(head).filter(_ > before)
      cycles += e -> v
      measuredCycles += ((e, v, dt, rows.getOrElse(0L)))
      if ((BaseCycles + 1 + i) % CyclesPerDay == 0) dayBoundary(c, g, e)
    }
  }

  /** After a day's last cycle: resolve head and its file listing, read the
    * day back at head, and read a seeded day at a seeded older version. */
  private def dayBoundary(c: Ctx, g: Gen, end: LocalDateTime): Unit = {
    val ((v, files), rs) = seconds(c.tracer.span("snapshot_lake.resolve_s") {
      val h = SnapshotLake.currentVersion(root).getOrElse(0L)
      (h, SnapshotLake.files(root, h))
    })
    resolves += 1
    val yesterday = end.minusMinutes(Inputs.JitterMinutes + 1L).toLocalDate
    reads += (("read", v, yesterday, c.tracer.op("read")(read(c, None, yesterday))))
    // the version is drawn from the middle fifth of the history: a read's
    // cost grows with the files of its version
    val tv = g.int((v * 2 / 5).toInt.max(1), (v * 3 / 5).toInt.max(1)).toLong
    val lastEnd = cycles.filter(_._2.exists(_ <= tv)).last._1
    val days = lastEnd.toLocalDate.toEpochDay - origin.toLocalDate.toEpochDay
    val td = origin.toLocalDate.plusDays(g.int(0, days.toInt).toLong)
    reads += (("tt_read", tv, td, c.tracer.op("tt_read")(read(c, Some(tv), td))))
    growth += Map("version" -> v, "files" -> files.size, "resolve_s" -> rs,
      "read_s" -> c.tracer.samples.get("read").flatMap(_.lastOption),
      "tt_version" -> tv, "tt_read_s" -> c.tracer.samples.get("tt_read").flatMap(_.lastOption))
  }

  def checks(c: Ctx): Seq[Check] = {
    val raw = Oracles.rawEvents(c.spark, c.sf, cycles.last._1)
    val (batches, _) = Oracles.batches(raw, cycles.map(_._1).toSeq, None)
    val byVersion = cycles.map(_._2).zip(batches).collect { case (Some(v), b) => v -> b }
    val versionsOk = Check("one version per non-empty cycle",
      byVersion.map(_._1) == (1L to byVersion.size.toLong) &&
        cycles.map(_._2).zip(batches).forall { case (v, b) => v.isDefined == b.nonEmpty },
      s"versions=${byVersion.size}", perOp = false)
    versionsOk +: reads.toSeq.zipWithIndex.collect { case ((k, v, d, Some(got)), i) =>
      val want0 = byVersion.filter(_._1 <= v).flatMap(_._2)
        .filter(o => LocalDate.of(o.year, o.month, o.day) == d)
      val want = if (c.breakCheck && i == 0) want0.drop(1) else want0
      val dif = Oracles.diff(got, want.toSeq)
      Check(s"$k v$v $d", dif.isEmpty, dif.getOrElse(s"rows=${got.size}"), perOp = true)
    }
  }

  private def bytes(root: String): (Double, Double) = {
    val s = Files.walk(java.nio.file.Paths.get(root))
    try {
      val fs = s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
      val (data, meta) = fs.partition(_.toString.endsWith(".parquet"))
      (meta.map(Files.size).sum.toDouble, data.map(Files.size).sum.toDouble)
    } finally s.close()
  }

  def record(c: Ctx): Map[String, Any] = {
    val base = Files.readAllLines(baseDir(c).resolve("commits.tsv")).asScala.map { l =>
      val f = l.split("\t"); Map("version" -> f(0).toLong, "commit_s" -> f(1).toDouble)
    }
    Map(
      "pre_days" -> PreDays,
      "base_commits" -> base.toSeq,
      "measured_cycles" -> measuredCycles.map { case (e, v, s, n) =>
        Map("end" -> e.toString, "version" -> v, "cycle_s" -> s, "rows" -> n) }.toSeq,
      "day_boundaries" -> growth.toSeq,
      "rows_appended" -> measuredCycles.map(_._4).sum,
      "head_version" -> head)
  }

  def layers(c: Ctx): Map[String, Double] = {
    val nCycles = math.max(1, measuredCycles.size).toDouble
    val nReads = math.max(1, reads.size).toDouble
    val v = head
    val (meta, data) = bytes(root)
    val kept = reads.flatMap(_._4).map(_.size).sum.toDouble
    val readRecords = c.tracer.total("kind.read.input_records") + c.tracer.total("kind.tt_read.input_records")
    Map(
      "incremental.state_s" -> c.tracer.total("incremental.state_s") / nCycles,
      "clean.batch_s" -> c.tracer.total("clean.batch_s") / nCycles,
      "snapshot_lake.commit_s" -> c.tracer.total("snapshot_lake.commit_s") / nCycles,
      "snapshot_lake.resolve_s" -> c.tracer.total("snapshot_lake.resolve_s") / math.max(1, resolves),
      "snapshot_lake.versions" -> v.toDouble,
      "snapshot_lake.files" -> SnapshotLake.files(root, v).size.toDouble,
      "snapshot_lake.meta_bytes" -> meta,
      "snapshot_lake.data_bytes" -> data,
      "graftlake.load_s" -> c.tracer.total("graftlake.load_s") / nReads,
      "graftlake.scan_s" -> c.tracer.total("graftlake.scan_s") / nReads,
      "graftlake.rows_read_per_row_kept" -> (if (kept > 0) readRecords / kept else 0.0))
  }

  /** Builds the shared history once: the un-jittered cycles up to 18:00
    * of day [[PreDays]] + 1, with each commit's wall time kept for the
    * growth curve. */
  def prepare(spark: SparkSession, sf: String, fixtures: Path): Unit = {
    val out = fixtures.resolve("history")
    if (Files.exists(out.resolve("cycles.tsv"))) return
    val tmp = fixtures.resolve("history.tmp")
    if (Files.exists(tmp)) Main.deleteTree(tmp)
    val ev = Tables.events(spark, sf)
    val org = eventsOrigin(ev)
    val r = tmp.resolve("base").resolve("lake").toString
    val w = Incremental(tmp.resolve("base").resolve("state").toString)
    val t = new Tracer(spark, tracing = false)
    val cyc = new StringBuilder
    val com = new StringBuilder
    Inputs.cycleEnds(org, 1, BaseCycles, None).foreach { e =>
      val before = SnapshotLake.currentVersion(r).getOrElse(0L)
      val (_, s) = seconds(cycle(spark, t, ev, w, r, e))
      val v = SnapshotLake.currentVersion(r).filter(_ > before)
      cyc ++= s"$e\t${v.fold("-")(_.toString)}\n"
      v.foreach(x => com ++= s"$x\t$s\n")
    }
    Files.writeString(tmp.resolve("commits.tsv"), com.toString)
    Files.writeString(tmp.resolve("cycles.tsv"), cyc.toString)
    Files.move(tmp, out)
    ()
  }
}
