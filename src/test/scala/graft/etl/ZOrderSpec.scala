package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The Z-order layout's data-skipping claim, measured: per-file
  * (suppkey, partkey) rectangles must be tight enough that a
  * two-dimension box predicate intersects strictly fewer files than under
  * a one-dimension sorted layout — plus the correctness floor that layout
  * never changes query results.
  */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("interleave is monotone in locality: neighbors share high bits") {
    import spark.implicits._
    val df = Seq((3L, 5L), (3L, 6L), (900L, 17000L)).toDF("a", "b")
      .select(ZOrder.interleave(col("a"), col("b")).as("z"))
    val Array(z1, z2, z3) = df.collect().map(_.getLong(0))
    // nearby points interleave to nearby z values; distant points don't
    assert(math.abs(z1 - z2) < 64)
    assert(math.abs(z1 - z3) > 1000000)
  }

  test("z-ordered lake preserves rows and the box query's results") {
    val root = ZOrder.ensureZorderedLineitem(spark, TestSpark.Sf)
    val raw = graft.model.Tables.lineitem(spark, TestSpark.Sf)
    val z = spark.read.parquet(root)
    assert(z.count() == raw.count())
    def box(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("l_suppkey").between(2, 7) && col("l_partkey").between(10, 150))
        // cents-long sum: order-independent, so the row-order change the
        // layout introduces cannot produce FP-jitter false negatives
        .agg(count(lit(1)), sum(round(col("l_extendedprice") * 100).cast("long")))
        .collect().head
    assert(box(z) == box(raw), "layout must never change results")
  }

  test("two-dim box intersects fewer files under z-order than 1-d sort") {
    val work = graft.TestSpark.tempDir("graft-zorder-cmp").toString
    val raw = graft.model.Tables.lineitem(spark, TestSpark.Sf)
      .select("l_suppkey", "l_partkey")
    val files = 16
    ZOrder.write(graft.model.Tables.lineitem(spark, TestSpark.Sf),
      "l_suppkey", "l_partkey", files, s"$work/z")
    // the 1-d strawman: range-partition + sort by suppkey only
    graft.model.Tables.lineitem(spark, TestSpark.Sf)
      .repartitionByRange(files, col("l_suppkey"))
      .sortWithinPartitions("l_suppkey")
      .write.mode("overwrite").parquet(s"$work/sorted")

    // the discriminating query: a SECOND-dimension-only filter (bottom 1/8
    // of the partkey domain). The suppkey-sorted layout leaves every file
    // spanning the full partkey range, so footer stats prune NOTHING; the
    // z-curve's files are key-plane rectangles, so most sit entirely above
    // the stripe and are skipped.
    val pMax = raw.agg(max("l_partkey")).collect().head.getLong(0)
    def intersecting(dir: String): (Int, Int) = {
      val parts = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val hits = parts.count { f =>
        val mm = spark.read.parquet(f.getAbsolutePath)
          .agg(min("l_partkey")).collect().head
        // file rectangle touches the stripe ⇒ a footer-stats reader scans it
        mm.getLong(0) <= pMax / 8
      }
      (hits, parts.length)
    }
    val (zHit, zFiles) = intersecting(s"$work/z")
    val (sortedHit, sortedFiles) = intersecting(s"$work/sorted")
    assert(sortedHit == sortedFiles,
      s"1-d sort must degrade to scanning every file on a partkey filter " +
        s"($sortedHit of $sortedFiles)")
    assert(zHit * 2 <= zFiles,
      s"z-order must skip the majority of files on the same filter " +
        s"($zHit of $zFiles intersect)")
  }
}
