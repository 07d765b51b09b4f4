package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Edge semantics of the cleaning operators the reference implies
  * (transform.py:10-46) — SURVEY §5 item 2. */
class CleanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def df(rows: Row*) =
    spark.createDataFrame(rows.asJava, schema)

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dropNullOrZero removes null and zero measures, keeps negatives") {
    val in = df(
      Row(1L, ts("2024-01-01 10:00:00"), 7L, "a", null),
      Row(2L, ts("2024-01-01 10:00:00"), 7L, "a", 0.0),
      Row(3L, ts("2024-01-01 10:00:00"), 7L, "a", -5.0),
      Row(4L, ts("2024-01-01 10:00:00"), 7L, "a", 2.5))
    val out = Clean.dropNullOrZero("value")(in).select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(3L, 4L))
  }

  test("dropNullCritical drops a row when any critical column is null") {
    val in = df(
      Row(1L, null, 7L, "a", 1.0),
      Row(2L, ts("2024-01-01 10:00:00"), null, "a", 1.0),
      Row(3L, ts("2024-01-01 10:00:00"), 7L, "a", 1.0))
    val out = Clean.dropNullCritical(Seq("ts", "user_id"))(in)
    assert(out.count() == 1)
  }

  test("dedupKeepFirst keeps the lowest order key, independent of partitioning") {
    val rows = Seq(
      Row(30L, ts("2024-01-01 10:00:00"), 7L, "a", 1.0),
      Row(10L, ts("2024-01-01 10:00:00"), 7L, "a", 1.0),
      Row(20L, ts("2024-01-01 10:00:00"), 7L, "a", 1.0),
      Row(5L, ts("2024-01-01 11:00:00"), 7L, "a", 1.0))
    // same input in different partition layouts must give identical output
    val results = Seq(1, 3).map { parts =>
      val in = spark.createDataFrame(rows.asJava, schema).repartition(parts)
      Clean.dedupKeepFirst(Seq("ts", "user_id", "event_type", "value"), "event_id")(in)
        .select("event_id").collect().map(_.getLong(0)).toSet
    }
    assert(results.head == Set(10L, 5L))
    assert(results.distinct.size == 1)
  }

  test("dedupKeepFirst is idempotent") {
    val in = df(
      Row(1L, ts("2024-01-01 10:00:00"), 7L, "a", 1.0),
      Row(2L, ts("2024-01-01 10:00:00"), 7L, "a", 1.0))
    val once = Clean.dedupKeepFirst(Seq("ts"), "event_id")(in)
    val twice = Clean.dedupKeepFirst(Seq("ts"), "event_id")(once)
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("penceToPounds divides by 100 as double") {
    val in = df(Row(1L, ts("2024-01-01 10:00:00"), 7L, "a", 1999.0))
    val out = Clean.penceToPounds("value")(in).select("value").collect()(0).getDouble(0)
    assert(out == 19.99)
  }

  test("cleanEvents on an empty frame yields an empty frame with the full schema") {
    val out = Clean.cleanEvents(spark.createDataFrame(Seq.empty[Row].asJava, schema))
    assert(out.columns.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "year", "month", "day"))
    assert(out.count() == 0)
  }

  /** The reference for `cleanEvents`: the four-key formulation, which
    * dedups on (ts, user_id, event_type, value) and then derives
    * year/month/day. */
  private def fourKeyClean(events: DataFrame): DataFrame =
    events
      .transform(Clean.dropNullOrZero("value"))
      .transform(Clean.dropNullCritical(Seq("event_id", "ts", "user_id", "event_type", "value")))
      .transform(Clean.dedupKeepFirst(Seq("ts", "user_id", "event_type", "value"), "event_id"))
      .transform(Clean.derivePartitionCols("ts"))
      .select(
        col("event_id"), col("ts"), col("user_id"), col("event_type"),
        (round(col("value") * 100) / 100.0).as("value"),
        col("year"), col("month"), col("day"))

  /** sf0.001 events plus duplicates the dedup must resolve: one key under
    * several event ids, keys on both sides of midnight UTC, and null and
    * zero measures. */
  private lazy val baseEvents = graft.model.Tables.events(spark, TestSpark.Sf)
    .select("event_id", "ts", "user_id", "event_type", "value")
  private lazy val id0 = baseEvents.agg(max("event_id")).collect()(0).getLong(0) + 1
  private lazy val dirtyEvents: DataFrame = {
    val before = Timestamp.from(java.time.Instant.parse("2024-03-31T23:59:59.999999Z"))
    val after = Timestamp.from(java.time.Instant.parse("2024-04-01T00:00:00Z"))
    val injected = Seq(
      Row(id0 + 2, before, 1L, "click", 1.5), Row(id0, before, 1L, "click", 1.5),
      Row(id0 + 1, before, 1L, "click", 1.5),
      Row(id0 + 4, after, 1L, "click", 1.5), Row(id0 + 3, after, 1L, "click", 1.5),
      Row(id0 + 5, after, 2L, "click", 1.5),
      Row(id0 + 6, after, 1L, "click", null), Row(id0 + 7, after, 1L, "click", 0.0),
      Row(id0 + 8, before, 1L, "view", 0.0), Row(id0 + 9, before, 1L, "view", -2.25))
    // every sf0.001 row once more under a new id: each key then has two ids
    val again = baseEvents.withColumn("event_id", col("event_id") + id0 + 100)
    baseEvents.unionByName(spark.createDataFrame(injected.asJava, schema)).unionByName(again)
  }

  test("cleanEvents equals the four-key dedup on duplicated, midnight-straddling events") {
    val got = Clean.cleanEvents(dirtyEvents)
    val want = fourKeyClean(dirtyEvents)
    assert(got.schema == want.schema)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g.size == w.size && g.toSet == w.toSet)
    assert(g.size == g.toSet.size, "dedup must leave one row per key")
    // keep-first per key among the injected rows; null and zero measures go
    val kept = g.map(_.getLong(0)).filter(id => id >= id0 && id < id0 + 100).toSet
    assert(kept == Set(id0, id0 + 3, id0 + 5, id0 + 9))
    assert(g.filter(_.getLong(0) == id0).map(r => (r.getInt(5), r.getInt(6), r.getInt(7))) ==
      Seq((2024, 3, 31)))
    assert(g.filter(_.getLong(0) == id0 + 3).map(r => (r.getInt(5), r.getInt(6), r.getInt(7))) ==
      Seq((2024, 4, 1)))
  }

  /** Every shuffle in a plan, looking inside adaptive query stages. */
  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(plan) { case e: ShuffleExchangeExec => e }

  /** The executed plan of the file write into `dir` that `body` runs. */
  private def writePlan(dir: String)(body: => Unit): SparkPlan = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (collect(qe.executedPlan) {
          case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) => c.outputPath
        }.exists(_.toString.endsWith(dir))) seen.put(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val p = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(p != null, s"no write into $dir was reported")
      p
    } finally spark.listenerManager.unregister(listener)
  }

  test("a day-partitioned batch write shuffles once; a whole-table clean hashes all seven keys") {
    val dir = graft.TestSpark.tempDir("graft-clean").resolve("lake").toString
    val plan = writePlan(dir) {
      PartitionedLake.append(Clean.cleanEvents(Clean.partitionByDay("ts")(dirtyEvents)), dir)
    }
    // the day hash serves the dedup window and the writer's per-day repartition
    assert(shuffles(plan).map(_.outputPartitioning).collect {
      case h: HashPartitioning => h.expressions.size
    } == Seq(3), s"expected one exchange, on the day:\n$plan")
    assert(PartitionedLake.read(spark, dir).count() == Clean.cleanEvents(dirtyEvents).count())

    val whole = Clean.cleanEvents(dirtyEvents)
    whole.collect()
    val keys = shuffles(whole.queryExecution.executedPlan).map(_.outputPartitioning).collect {
      case h: HashPartitioning => h.expressions.size
    }
    assert(keys.contains(7), s"the whole-table dedup must hash on all seven keys: $keys")
  }
}
