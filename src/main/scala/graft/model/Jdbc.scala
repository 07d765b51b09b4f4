package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The JDBC source (S1) — the reference's extraction path
  * (ref: pipeline/ETL/extract.py:84-109 `pd.read_sql` over pymysql, with
  * the denormalizing fact⋈dims query and the incremental `WHERE ft.at >`
  * bound injected as SQL text, :103-107).
  *
  * Spark restatement: `spark.read.format("jdbc")` with either `dbtable`
  * (predicate/column pushdown handled by Catalyst's JDBC relation) or a
  * pushed-down `query`. The incremental bound goes through `.filter`, which
  * JDBCRelation compiles into the remote WHERE clause — same effect as the
  * reference's string-built SQL, but composable with the rest of the plan.
  *
  * At scale the reader parallelizes with `partitionColumn`/`lowerBound`/
  * `upperBound`/`numPartitions` — N concurrent range-queries instead of the
  * reference's single-connection full pull into one process.
  *
  * No database ships in this environment, so the testdata parquet star
  * schema stands in for RDS everywhere else in the repo (sanctioned by
  * SURVEY §2.1); this module carries the reader so a user pointing the
  * engine at a real MySQL gets the reference's exact extraction semantics.
  * [[JdbcSpec]] exercises option assembly without connecting.
  */
object Jdbc {

  final case class Conn(url: String, user: String, password: String,
                        driver: String = "com.mysql.cj.jdbc.Driver")

  /** The reference's denormalizing extraction query (extract.py:87-101),
    * restated over generic fact/dim names. Given as a JDBC reader's
    * `query` option, the join runs DB-side exactly like the reference;
    * the alternative — three `dbtable` reads joined in Spark — is
    * preferable once dims are mirrored to the lake. */
  def denormalizingQuery(since: Option[Timestamp]): String = {
    val bound = since.map(ts => s"WHERE ft.at > '$ts'").getOrElse("")
    s"""SELECT ft.transaction_id, ft.at, ft.total,
       |       ft.truck_id, ft.payment_method_id,
       |       dt.truck_name, dt.truck_description, dt.has_card_reader,
       |       dt.fsa_rating, pm.payment_method
       |FROM FACT_Transaction ft
       |JOIN DIM_Truck dt ON ft.truck_id = dt.truck_id
       |JOIN DIM_Payment_Method pm ON ft.payment_method_id = pm.payment_method_id
       |$bound""".stripMargin.trim
  }

  /** Reader over a whole table; Catalyst pushes filters and projections
    * into the remote query. Parallel range-partitioned when `partitioning`
    * is given. */
  def table(spark: SparkSession, conn: Conn, table: String,
            partitioning: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", conn.url)
      .option("driver", conn.driver)
      .option("user", conn.user)
      .option("password", conn.password)
      .option("dbtable", table)
    partitioning.fold(base) { case (col, lo, hi, n) =>
      base.option("partitionColumn", col)
        .option("lowerBound", lo.toString)
        .option("upperBound", hi.toString)
        .option("numPartitions", n.toString)
    }.load()
  }
}
