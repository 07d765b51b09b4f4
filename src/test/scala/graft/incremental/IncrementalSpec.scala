package graft.incremental

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.{Clean, PartitionedLake}
import graft.model.Tables

/** The incremental contract (§2.9a/b/c): multi-batch union equals the
  * full scan, the +1 s watermark boundary drops same-second stragglers,
  * empty batches and failed writes leave state untouched, and a batch
  * costs one write. */
class IncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val events = Tables.events(spark, TestSpark.Sf)

  test("batch1 ∪ batch2 over a moving watermark equals one full-scan clean") {
    val dir = graft.TestSpark.tempDir("graft-inc").toString
    val lake = s"$dir/lake"
    val inc = Incremental(dir)

    // split the stream at its midpoint timestamp: run on the first half,
    // then on the whole table (second batch sees only post-watermark rows)
    val split = events.agg(min("ts"), max("ts")).collect()(0)
    val cut = new Timestamp((split.getTimestamp(0).getTime + split.getTimestamp(1).getTime) / 2)

    val n1 = inc.runBatch(events.filter(col("ts") <= lit(cut)), lake)
    assert(n1 > 0)
    val w1 = inc.readState().get
    val n2 = inc.runBatch(events, lake)
    assert(n2 > 0)

    val lakeRows = PartitionedLake.read(spark, lake)
    val expected = Clean.cleanEvents(events)
      // the watermark policy drops rows in the same second as w1 that only
      // appear in batch 2 — replicate the reference's loss semantics:
      .filter(col("ts") <= lit(cut) || col("ts") > lit(inc.adjustedBound(w1)))
    assert(lakeRows.count() == expected.count())
    val a = lakeRows.agg(sum("event_id")).collect()(0).getLong(0)
    val b = expected.agg(sum("event_id")).collect()(0).getLong(0)
    assert(a == b, "same rows, not just same count")
  }

  test("watermark +1s boundary drops same-second stragglers (extract.py:51-53)") {
    val dir = graft.TestSpark.tempDir("graft-inc").toString
    val inc = Incremental(dir)
    inc.writeState(Timestamp.valueOf("2024-01-01 10:00:00"))
    val schema = graft.streaming.StreamingJobs.eventsSchema
    val rows = Seq(
      org.apache.spark.sql.Row(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "a", 1.0), // == watermark: dropped
      org.apache.spark.sql.Row(2L, Timestamp.valueOf("2024-01-01 10:00:01"), 1L, "a", 1.0), // == bound, strict '>': dropped
      org.apache.spark.sql.Row(3L, Timestamp.valueOf("2024-01-01 10:00:02"), 1L, "a", 1.0),
      org.apache.spark.sql.Row(4L, Timestamp.valueOf("2024-01-01 10:01:00"), 1L, "a", 1.0))
    val src = spark.createDataFrame(rows.asJava, schema)
    val got = inc.extract(src, "ts").select("event_id").collect().map(_.getLong(0)).toSet
    // bound = watermark + 1s = 10:00:01, filter is strictly greater
    assert(got == Set(3L, 4L))
  }

  test("empty batch short-circuits: no lake write, no state advance") {
    val dir = graft.TestSpark.tempDir("graft-inc").toString
    val lake = s"$dir/lake"
    val inc = Incremental(dir)
    val w = Timestamp.valueOf("2999-01-01 00:00:00") // beyond all data
    inc.writeState(w)
    val n = inc.runBatch(events, lake)
    assert(n == 0)
    assert(inc.readState().contains(w), "state must not advance on an empty batch")
    assert(!Files.exists(java.nio.file.Paths.get(lake)), "no write on an empty batch")
  }

  test("a batch is one write: ≤ 2 jobs when non-empty, ≤ 4 when empty") {
    val dir = graft.TestSpark.tempDir("graft-inc").toString
    val lake = s"$dir/lake"
    val inc = Incremental(dir)
    val (full, fullTasks) = TestSpark.jobsAndTasks { assert(inc.runBatch(events, lake) > 0) }
    // one shuffle map stage and the write: no persist, no separate collect
    assert(full <= 2, s"non-empty batch ran $full jobs ($fullTasks tasks)")
    val (empty, _) = TestSpark.jobsAndTasks { assert(inc.runBatch(events, lake) == 0) }
    // the persist + collect + write formulation ran 4 jobs on an empty batch
    assert(empty <= 4, s"empty batch ran $empty jobs")
  }

  /** Every parquet file under `root` with its size and modification time. */
  private def parquetFiles(root: String): Map[String, (Long, Long)] = {
    val s = Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
    finally s.close()
  }

  test("an empty batch into an existing lake changes no data file and keeps the state") {
    val dir = graft.TestSpark.tempDir("graft-inc").toString
    val lake = s"$dir/lake"
    val inc = Incremental(dir)
    assert(inc.runBatch(events, lake) > 0)
    val w = inc.readState().get
    val before = parquetFiles(lake)
    assert(before.nonEmpty)
    assert(inc.runBatch(events, lake) == 0) // the watermark leaves nothing
    assert(parquetFiles(lake) == before, "an empty batch must not add or rewrite a data file")
    assert(inc.readState().contains(w), "state must not advance on an empty batch")
  }

  test("a failing write rethrows and leaves the state file as it was") {
    val dir = graft.TestSpark.tempDir("graft-inc").toString
    val lake = java.nio.file.Paths.get(dir, "lake")
    Files.writeString(lake, "not a directory") // the lake root is a regular file
    val inc = Incremental(dir)
    inc.writeState(Timestamp.valueOf("2000-01-01 00:00:00")) // before all data
    val stateFile = java.nio.file.Paths.get(dir, "pipeline-state", "last_run.txt")
    val state = Files.readString(stateFile)
    intercept[Exception] { inc.runBatch(events, lake.toString) }
    assert(Files.readString(stateFile) == state, "a failed write must not advance the state")
    assert(Files.readString(lake) == "not a directory")
  }

  test("first run (no state) extracts everything") {
    val dir = graft.TestSpark.tempDir("graft-inc").toString
    val inc = Incremental(dir)
    assert(inc.readState().isEmpty)
    assert(inc.extract(events, "ts").count() == events.count())
  }
}
