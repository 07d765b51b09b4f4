package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The mapGroupsWithState sessionizer must agree with the batch window
  * plan (q46) when the stream is drained through it. */
class SessionizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streamed sessionization equals the batch q46 result") {
    import spark.implicits._
    val dir = graft.TestSpark.tempDir("graft-sess").toString
    graft.model.Tables.events(spark, TestSpark.Sf)
      .filter(col("ts").isNotNull)
      .select("user_id", "ts", "event_id")
      .write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, event_id LONG")
      .parquet(dir)
      .as[StreamingJobs.SessionEvent]
    val q = StreamingJobs.sessionize(stream, graft.queries.Temporal.GapMicros)
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("sessions_stream")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    val batch = graft.SparkEntry.queries("q46_user_sessions")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    assert(streamed == batch)
  }
}
