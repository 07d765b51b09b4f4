package graft.queries

import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.report.Dashboard

/** Oracle-backed dashboard session (ref: pipeline/dashboard.py:117-342):
  * each chart of [[graft.report.Dashboard]] as a CORRECTNESS entry, all
  * folded from the SAME session's groups (one session per sf dir,
  * memoized below: one grouping action feeds every chart, as
  * DashboardSpec asserts).
  *
  * The pinned sidebar state: two-year inclusive date range + a
  * payment-method IN-list ('1-URGENT','2-HIGH','3-MEDIUM', with
  * o_orderpriority standing in for payment_method per SURVEY §7.1), so
  * every chart exercises the filter-then-aggregate path, not the raw
  * table. The DuckDB oracle rebuilds the identical slice as a CTE.
  */
object DashboardQueries {

  private val From       = LocalDate.of(1996, 1, 1)
  private val To         = LocalDate.of(1997, 12, 31)
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM")

  /** One dashboard session per (Spark session, sf dir): the six chart
    * queries share its groups exactly like one interactive user. */
  private val sessions = new graft.etl.Memo[(SparkSession, String), Dashboard]
  private def dash(s: SparkSession, d: String): Dashboard =
    sessions((s, d)) {
      Dashboard.open(s, d, Dashboard.Filters(From, To, None, Some(Priorities)))
    }

  /** The filtered session slice as a DuckDB CTE — the oracle twin of
    * Dashboard.open's slice. Dashboard.open reads the lake's
    * denormalized ship-date leaf; the oracle joins the base tables
    * itself, so it also checks how the leaf was built. */
  private val sliceCte =
    s"""slice AS (
       |  SELECT l.l_shipdate, l.l_extendedprice, l.l_discount,
       |         s.s_name, s.s_nationkey, s.s_acctbal, o.o_orderpriority
       |  FROM lineitem l
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  JOIN orders o   ON l.l_orderkey = o.o_orderkey
       |  WHERE CAST(l.l_shipdate AS DATE) BETWEEN DATE '${From}' AND DATE '${To}'
       |    AND o.o_orderpriority IN (${Priorities.map(p => s"'$p'").mkString(", ")}))""".stripMargin

  private val centsSql = "CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)"
  private val rcSql    = s"CAST(sum($centsSql) AS BIGINT)"

  val defs: Vector[Q] = Vector(

    // ── Financial-overview KPI row over the FILTERED slice
    //    (dashboard.py:117-132): revenue / count / avg ticket / avg daily
    //    revenue (two-level aggregate) / card-share-of-transactions.
    Q("q55_dash_kpis",
      s"""WITH $sliceCte,
         |t AS (SELECT $rcSql AS rc, count(*) AS n_tx,
         |             sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS n_card
         |      FROM slice),
         |d AS (SELECT CAST(sum(drc) AS BIGINT) AS rc_sum, count(*) AS n_days FROM (
         |        SELECT $rcSql AS drc FROM slice GROUP BY CAST(l_shipdate AS DATE)))
         |SELECT rc / 100.0 AS total_revenue,
         |       n_tx,
         |       round(rc / n_tx) / 100.0 AS avg_tx,
         |       round(rc_sum / n_days) / 100.0 AS avg_daily_revenue,
         |       round(CAST(10000.0 AS DOUBLE) * n_card / n_tx) / 100.0 AS card_pct
         |FROM t CROSS JOIN d""".stripMargin) { (s, d) =>
      dash(s, d).kpis
    },

    // ── Per-truck performance table (dashboard.py:316-325) — the
    //    first()-aggregate trap done right: the functionally-dependent
    //    truck attributes are GROUP BY keys, so the result is
    //    deterministic under any partitioning (A8).
    Q("q56_dash_truck_summary",
      s"""WITH $sliceCte,
         |g AS (SELECT s_name, s_nationkey, s_acctbal,
         |             $rcSql AS rc, count(*) AS n_tx
         |      FROM slice GROUP BY 1, 2, 3)
         |SELECT s_name, s_nationkey, s_acctbal,
         |       rc / 100.0 AS revenue,
         |       round(rc / n_tx) / 100.0 AS avg_tx,
         |       n_tx
         |FROM g ORDER BY revenue DESC, s_name""".stripMargin) { (s, d) =>
      dash(s, d).perTruckSummary
    },

    // ── Payment-method mix: grouped counts (pie, dashboard.py:257-258) +
    //    revenue per method (bar, :267-268) in one pass.
    Q("q57_dash_payment_mix",
      s"""WITH $sliceCte
         |SELECT o_orderpriority AS method,
         |       count(*) AS n_tx,
         |       $rcSql / 100.0 AS revenue
         |FROM slice GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      dash(s, d).paymentMix
    },

    // ── Daily revenue trend over the filtered slice (dashboard.py:143).
    Q("q58_dash_daily_trend",
      s"""WITH $sliceCte
         |SELECT CAST(l_shipdate AS DATE) AS date,
         |       $rcSql / 100.0 AS revenue
         |FROM slice GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      dash(s, d).dailyTrend
    },

    // ── Payment preference by truck (dashboard.py:268-281): the
    //    truck × method count matrix via PIVOT with pinned values — the
    //    oracle's conditional-SUM columns are the relational spelling of
    //    the same plan (one hash aggregate, no second shuffle).
    Q("q62_dash_truck_payment_pivot",
      s"""WITH $sliceCte
         |SELECT s_name,
         |       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_1_urgent,
         |       CAST(sum(CASE WHEN o_orderpriority = '2-HIGH'   THEN 1 ELSE 0 END) AS BIGINT) AS n_2_high,
         |       CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n_3_medium
         |FROM slice GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      dash(s, d).truckPaymentMatrix(Priorities)
    },

    // ── Top-10 revenue days with tx counts (dashboard.py:296-300);
    //    ties broken by date so the LIMIT edge is total-ordered.
    Q("q59_dash_top_days",
      s"""WITH $sliceCte,
         |g AS (SELECT CAST(l_shipdate AS DATE) AS date,
         |             $rcSql AS rc, count(*) AS n_tx
         |      FROM slice GROUP BY 1)
         |SELECT date, rc / 100.0 AS revenue, n_tx
         |FROM g ORDER BY rc DESC, date LIMIT 10""".stripMargin) { (s, d) =>
      dash(s, d).topDays(10)
    }
  )
}
