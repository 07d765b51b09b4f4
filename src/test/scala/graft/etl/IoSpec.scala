package graft.etl

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Jdbc

/** CSV stage hand-off, JDBC reader assembly, and catalog registration. */
class IoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("CSV stage round-trip preserves rows and timestamp values under an explicit schema") {
    val events = graft.model.Tables.events(spark, TestSpark.Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val dir = graft.TestSpark.tempDir("graft-csv").toString + "/stage"
    Csv.write(events, dir)
    val back = Csv.read(spark, dir, graft.streaming.StreamingJobs.eventsSchema)
    assert(back.count() == events.count())
    val a = events.agg(sum("event_id"), max("ts")).collect()(0)
    val b = back.agg(sum("event_id"), max("ts")).collect()(0)
    assert(a.getLong(0) == b.getLong(0))
    assert(a.getTimestamp(1) == b.getTimestamp(1), "ts must survive the CSV hop")
  }

  test("JDBC denormalizing query carries the incremental bound only when state exists") {
    val full = Jdbc.denormalizingQuery(None)
    assert(full.contains("JOIN DIM_Truck") && full.contains("JOIN DIM_Payment_Method"))
    assert(!full.contains("WHERE"))
    val inc = Jdbc.denormalizingQuery(Some(Timestamp.valueOf("2024-03-01 10:11:12")))
    assert(inc.contains("WHERE ft.at > '2024-03-01 10:11:12"))
  }

  test("live JDBC round-trip: range-partitioned read with the timestamp bound pushed into the database") {
    val df = graft.queries.JdbcQueries.jdbcEvents(spark, TestSpark.Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("JDBCRelation"), "must read through the real JDBC relation")
    assert(plan.contains("numPartitions=8"), "must be a range-partitioned parallel pull")
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts".r.findFirstIn(plan).nonEmpty,
      s"incremental ts bound must reach the database's WHERE clause; plan:\n$plan")
    assert(df.rdd.getNumPartitions == 8)
    val expected = graft.model.Tables.events(spark, TestSpark.Sf)
      .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp"))
    assert(df.count() == expected.count())
    val a = df.agg(sum("event_id"), max("ts")).collect()(0)
    val b = expected.agg(sum("event_id"), max("ts")).collect()(0)
    assert(a.getLong(0) == b.getLong(0), "event_id sum must survive the database hop")
    assert(a.getTimestamp(1) == b.getTimestamp(1), "µs timestamps must survive the database hop")
  }

  test("catalog-registered lake table answers SQL with partition pruning") {
    val root = PartitionedLake.ensureLineitemLake(spark, TestSpark.Sf)
    PartitionedLake.registerTable(spark, "lineitem_lake", new java.io.File(root).getAbsolutePath)
    val df = spark.sql(
      "SELECT count(*) AS n FROM lineitem_lake WHERE year = 2000 AND month = 6")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    val expected = graft.model.Tables.lineitem(spark, TestSpark.Sf)
      .filter(year(col("l_shipdate")) === 2000 && month(col("l_shipdate")) === 6).count()
    assert(df.collect()(0).getLong(0) == expected)
  }
}
