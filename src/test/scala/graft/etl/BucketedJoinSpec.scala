package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Co-located bucketed join: two facts bucketed on the join key with the
  * same bucket count must join with ZERO exchanges on either input — the
  * write-once-join-many shape for repeated fact-to-fact joins at scale. */
class BucketedJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("equal-bucketed fact tables sort-merge join without a shuffle") {
    val dir = graft.TestSpark.tempDir("graft-bucketed").toString
    val li = graft.model.Tables.lineitem(spark, TestSpark.Sf)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val ord = graft.model.Tables.orders(spark, TestSpark.Sf)
      .select("o_orderkey", "o_orderpriority")
    PartitionedLake.writeBucketed(spark, li, "li_bucketed", s"$dir/li", 8, "l_orderkey")
    PartitionedLake.writeBucketed(spark, ord, "ord_bucketed", s"$dir/ord", 8, "o_orderkey")

    // Force SMJ on a CHILD session (shared context + catalog, own conf):
    // a set/restore on the shared session is a conf race against any
    // suite planning concurrently under testForkedParallel — PlanShape's
    // broadcast assertions would intermittently see the -1 world.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = s2.table("li_bucketed")
        .join(s2.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
      val agg = joined.groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val rows = agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // the AQE string appends the pre-execution "Initial Plan" — assert
      // on the Final Plan section only
      val plan = agg.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)

      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scans must be bucketed:\n$plan")
      // the ONLY exchange allowed is the post-join groupBy shuffle; the
      // join inputs read aligned buckets directly from the scans
      val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 1, s"bucketed join must not shuffle its inputs:\n$plan")

      // and the result equals the plain (unbucketed) join
      val expected = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }
}
