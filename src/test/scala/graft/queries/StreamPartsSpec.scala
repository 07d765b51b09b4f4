package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The streaming-drain width rule ([[StreamingQueries.streamParts]]):
  * floor at the small-scale profiled width, one partition per 4 MB of
  * staged compressed source, capped at the box's parallelism — the rule
  * that took the O(horizon) stream-stream joins from a fixed demo-tuned
  * width 8 to the full box at 100× (SCALE.md round 18). */
class StreamPartsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def dirOfBytes(n: Int): String = {
    val d = graft.TestSpark.tempDir("graft-streamparts")
    Files.write(d.resolve("blob.bin"), new Array[Byte](n))
    d.toString
  }

  test("small inputs keep the profiled floor") {
    assert(StreamingQueries.streamParts(spark, dirOfBytes(1 << 20), 8) == 8)
  }

  test("width scales one partition per 4 MB of staged source") {
    // the rule also caps at the box's parallelism, so on a <12-core box
    // the uncapped expectation of 12 would fail spuriously (ADVICE r18)
    val cores = spark.sparkContext.defaultParallelism
    assert(StreamingQueries.streamParts(spark, dirOfBytes(48 << 20), 8)
      == math.max(8, math.min(cores, 12)))
  }

  test("width caps at the box's parallelism") {
    val cores = spark.sparkContext.defaultParallelism
    assert(StreamingQueries.streamParts(spark, dirOfBytes(512 << 20), 8)
      == math.max(8, cores))
  }

  test("an unreadable source falls back to the floor, never throws") {
    assert(StreamingQueries.streamParts(spark, "/nonexistent/dir", 8) == 8)
  }
}
