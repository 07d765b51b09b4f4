package graft.model

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pinned-schema contract: every testdata table matches, and drift is a
  * descriptive error, not a silent re-interpretation. */
class SchemasSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("every table loads under its pinned schema") {
    Tables.names.foreach { n =>
      assert(Tables.load(spark, TestSpark.Sf, n).columns.nonEmpty, s"table $n")
    }
  }

  test("drift fails fast naming the offending column") {
    val wrong = StructType(Seq(
      StructField("r_regionkey", LongType), // pinned type is Integer
      StructField("r_name", StringType)))
    val e = intercept[IllegalStateException] {
      Schemas.validate("region", Schemas.region, wrong)
    }
    assert(e.getMessage.contains("region"))
    assert(e.getMessage.contains("r_regionkey"))
  }

  test("missing column is reported as missing") {
    val truncated = StructType(Seq(StructField("r_regionkey", IntegerType)))
    val e = intercept[IllegalStateException] {
      Schemas.validate("region", Schemas.region, truncated)
    }
    assert(e.getMessage.contains("<missing>"))
  }

  /** The generator has shipped `events.ts` as both TIMESTAMP(NANOS)
    * (LongType under nanosAsLong) and plain timestamp[us] (NTZ / UTC
    * micros). All are the same instants; the reader must normalize every
    * legal encoding to the same canonical TimestampType micros. */
  test("events reader normalizes all equivalent ts encodings identically") {
    import org.apache.spark.sql.functions._
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val sample = Tables.events(spark, TestSpark.Sf)
      .filter(col("ts").isNotNull).limit(50).select(cols.map(col): _*).cache()
    assert(sample.schema("ts").dataType == TimestampType)
    val expect = sample.select("event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toMap

    val base = graft.TestSpark.tempDir("graft-events-enc").toString
    // legacy: TIMESTAMP(NANOS) surfaces as LongType nanos under nanosAsLong
    sample.withColumn("ts", unix_micros(col("ts")) * 1000L)
      .write.parquet(s"$base/nanos/events.parquet")
    // current testdata: timestamp[us] without UTC adjustment → TimestampNTZ
    sample.withColumn("ts", col("ts").cast(TimestampNTZType))
      .write.parquet(s"$base/ntz/events.parquet")
    // UTC-adjusted micros → TimestampType straight through
    sample.write.parquet(s"$base/tz/events.parquet")

    Seq("nanos", "ntz", "tz").foreach { enc =>
      val got = Tables.events(spark, s"$base/$enc")
      assert(got.schema("ts").dataType == TimestampType, enc)
      val gm = got.select("event_id", "ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toMap
      assert(gm == expect, s"ts values drifted under the $enc encoding")
    }
    sample.unpersist()
  }

  test("a non-equivalent events.ts encoding is still hard drift") {
    import org.apache.spark.sql.functions._
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.TestSpark.tempDir("graft-events-bad").toString
    Tables.events(spark, TestSpark.Sf).limit(5)
      .withColumn("ts", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .select(cols.map(col): _*)
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException] { Tables.events(spark, dir) }
    assert(e.getMessage.contains("events"))
    assert(e.getMessage.contains("ts"))
  }
}
