package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, upper}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.SnapshotLake

/** The append-only tail source under its actual contract: every append
  * commit's rows arrive downstream exactly once whatever the drain
  * cadence, change and physical commits are skipped (never re-emitted,
  * never stall the follower), and the per-batch transform runs before
  * the exactly-once append. */
class LakeTailSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot(tag: String): String =
    graft.TestSpark.tempDir(s"graft-tail-$tag").toString + "/lake"

  private def kv(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, s"v$i")).toDF("k", "v")

  private def contents(root: String): Map[Long, String] =
    SnapshotLake.read(spark, root)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap

  private val idx = SnapshotLake.IndexSpec(Seq("k"), None)

  /** Appends interleaved with every kind of non-append commit. The tail
    * must deliver exactly the three appends' rows. */
  private def buildSrc(root: String, step: () => Unit): Unit = {
    SnapshotLake.append(kv(0, 10), root, idx); step()
    SnapshotLake.merge(spark, root,
      Seq((3L, "X3", false), (7L, "dead", true)).toDF("k", "v", "__del"),
      "k", idx, Some("__del")); step() // change commit: skipped
    SnapshotLake.append(kv(10, 20), root, idx); step()
    SnapshotLake.compact(spark, root); step() // physical: skipped
    SnapshotLake.deleteWhere(spark, root, Seq(5L).toDF("k")); step() // skipped
    SnapshotLake.append(kv(20, 25), root, idx); step()
  }

  // append-only view: the merge/delete never reach the tail consumer
  private val appendsOnly: Map[Long, String] =
    (0 until 25).map(i => i.toLong -> s"v$i").toMap

  test("per-commit and one-shot drains deliver exactly the appended rows, skipping change and physical commits") {
    val src = newRoot("src")
    val dstA = newRoot("dstA")
    buildSrc(src, () => { LakeTail.drain(spark, src, dstA, identity, idx); () })
    val dstB = newRoot("dstB")
    val applied = LakeTail.drain(spark, src, dstB, identity, idx)
    assert(applied == (1L to 6L), s"one-shot drain consumes all six: $applied")
    assert(contents(dstA) == appendsOnly, "per-commit cadence")
    assert(contents(dstB) == appendsOnly, "one-shot cadence")
    // the source head DIFFERS (merge/delete applied there) — the tail is
    // an append bus, not a replica; that asymmetry is the contract
    assert(contents(src) != appendsOnly)
    assert(contents(src)(3L) == "X3")
    // one destination commit per source version (skips commit empty)
    assert(SnapshotLake.currentVersion(dstA).contains(6L))
    assert(SnapshotLake.currentVersion(dstB).contains(6L))
  }

  test("replayed drains and batches are no-ops; a compaction is never re-emitted") {
    val src = newRoot("src")
    buildSrc(src, () => ())
    val dst = newRoot("dst")
    LakeTail.drain(spark, src, dst, identity, idx)
    assert(LakeTail.drain(spark, src, dst, identity, idx).isEmpty)
    val replay = LakeTail.applyVersion(spark, src, dst, 3L, identity, idx)
    assert(replay == 3L, "replay resolves to the original tagged commit")
    assert(SnapshotLake.currentVersion(dst).contains(6L), "no new commit")
    assert(contents(dst) == appendsOnly, "no duplicated rows")
    // compacting the source again feeds nothing but advances position
    SnapshotLake.compact(spark, src)
    assert(LakeTail.drain(spark, src, dst, identity, idx) == Seq(7L))
    assert(contents(dst) == appendsOnly)
    assert(SnapshotLake.tagVersion(dst, "tail-v7").isDefined)
  }

  test("a commit that EMPTIES the source never stalls the tail; the empty state is skipped past") {
    val src = newRoot("empty-src")
    SnapshotLake.append(kv(0, 10), src, idx) // v1
    // v2 whole-drops every file: the state lists NO files — the shape
    // that used to throw inside the skipped-commit schema read
    SnapshotLake.deleteMatching(spark, src,
      Seq(graft.etl.FileStats.Range("k", Some("0"), Some("9"))), idx)
    SnapshotLake.append(kv(10, 15), src, idx) // v3
    val dst = newRoot("empty-dst")
    val applied = LakeTail.drain(spark, src, dst, identity, idx)
    assert(applied == (1L to 3L), s"the empty v2 must not stall: $applied")
    assert(contents(dst) == (0 until 15).map(i => i.toLong -> s"v$i").toMap)
    assert(SnapshotLake.tagVersion(dst, "tail-v2").isDefined,
      "the skipped empty commit still advances the applied tag")
    assert(LakeTail.drain(spark, src, dst, identity, idx).isEmpty)
  }

  test("a skipped commit whose empty-state walk would cross the vacuum horizon falls back to the destination schema") {
    val src = newRoot("vac-src")
    SnapshotLake.append(kv(0, 10), src, idx) // v1
    val dst = newRoot("vac-dst")
    LakeTail.drain(spark, src, dst, identity, idx) // dst applied v1
    // v2 whole-drops everything (state lists NO files), v3 is another
    // change commit over the still-empty state
    SnapshotLake.deleteMatching(spark, src,
      Seq(graft.etl.FileStats.Range("k", Some("0"), Some("9"))), idx)
    SnapshotLake.deleteWhere(spark, src, Seq(99L).toDF("k"))
    // vacuum to the last 2 versions: v1's record is GONE — the schema
    // walk from v2/v3 finds no file-bearing version inside the horizon
    // and must stop at the retention edge instead of throwing
    SnapshotLake.vacuum(src, keepVersions = 2)
    val applied = LakeTail.drain(spark, src, dst, identity, idx)
    assert(applied == Seq(2L, 3L), s"both skipped commits advance: $applied")
    assert(SnapshotLake.tagVersion(dst, "tail-v2").isDefined)
    assert(SnapshotLake.tagVersion(dst, "tail-v3").isDefined)
    assert(contents(dst) == (0 until 10).map(i => i.toLong -> s"v$i").toMap,
      "the destination content is untouched by the skipped commits")
  }

  test("the per-batch transform runs on every emitted batch (and on no skipped one)") {
    val src = newRoot("src")
    SnapshotLake.append(kv(0, 5), src, idx)
    SnapshotLake.compact(spark, src)
    SnapshotLake.append(kv(5, 8), src, idx)
    val dst = newRoot("dst")
    val applied = LakeTail.drain(spark, src, dst,
      df => df.withColumn("v", upper(col("v"))).filter(col("k") =!= 6L), idx)
    assert(applied == (1L to 3L))
    assert(contents(dst) ==
      (0 until 8).filter(_ != 6).map(i => i.toLong -> s"V$i").toMap)
  }
}
