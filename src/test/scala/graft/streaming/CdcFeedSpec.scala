package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.SnapshotLake

/** The change-feed source under its actual contract: the drained
  * destination reconstructs the source head whatever the drain cadence,
  * replays are no-ops through the tag state, and physical-only source
  * commits advance progress without feeding rows. */
class CdcFeedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot(tag: String): String =
    graft.TestSpark.tempDir(s"graft-cdcfeed-$tag").toString + "/lake"

  private def kv(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, s"v$i")).toDF("k", "v")

  private def contents(root: String): Map[Long, String] =
    SnapshotLake.read(spark, root)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap

  private val idx = SnapshotLake.IndexSpec(Seq("k"), None)

  /** Five heterogeneous source commits; `step` is called after each so a
    * per-commit drain can interleave with the build. */
  private def buildSrc(root: String, step: () => Unit): Unit = {
    SnapshotLake.append(kv(0, 10), root, idx); step()
    SnapshotLake.append(kv(10, 20), root, idx); step()
    SnapshotLake.merge(spark, root,
      Seq((3L, "X3", false), (7L, "dead", true)).toDF("k", "v", "__del"),
      "k", idx, Some("__del")); step()
    SnapshotLake.deleteWhere(spark, root, Seq(5L, 15L).toDF("k")); step()
    SnapshotLake.compact(spark, root); step()
  }

  private val expected: Map[Long, String] =
    ((0 until 20).map(i => i.toLong -> s"v$i").toMap + (3L -> "X3"))
      .removedAll(Seq(7L, 5L, 15L))

  test("per-commit drain and one-shot drain both reconstruct the source head") {
    val src = newRoot("src")
    val dstA = newRoot("dstA")
    buildSrc(src, () => { CdcFeed.drain(spark, src, dstA, "k", idx); () })
    val dstB = newRoot("dstB")
    val applied = CdcFeed.drain(spark, src, dstB, "k", idx)
    assert(applied == (1L to 5L), s"one-shot drain applies all five: $applied")
    assert(contents(dstA) == expected, "per-commit cadence")
    assert(contents(dstB) == expected, "one-shot cadence")
    assert(contents(src) == expected, "both equal the source head itself")
    // both cadences commit once per source version (bootstrap + 4 applies)
    assert(SnapshotLake.currentVersion(dstA).contains(5L))
    assert(SnapshotLake.currentVersion(dstB).contains(5L))
  }

  test("replayed drains and replayed batches are no-ops through the tag state") {
    val src = newRoot("src")
    buildSrc(src, () => ())
    val dst = newRoot("dst")
    CdcFeed.drain(spark, src, dst, "k", idx)
    assert(CdcFeed.drain(spark, src, dst, "k", idx).isEmpty, "caught-up drain")
    // a crash-replayed single batch yields its original destination version
    val v3dst = CdcFeed.applyVersion(spark, src, dst, "k", 3L, idx)
    assert(v3dst == 3L, "replay resolves to the original tagged commit")
    assert(SnapshotLake.currentVersion(dst).contains(5L), "no new commit")
    assert(contents(dst) == expected, "no duplicated rows")
  }

  test("a physical-only source commit feeds zero rows but advances the applied tag") {
    val src = newRoot("src")
    SnapshotLake.append(kv(0, 10), src, idx)
    val dst = newRoot("dst")
    CdcFeed.drain(spark, src, dst, "k", idx)
    val n1 = SnapshotLake.read(spark, dst).count()
    SnapshotLake.compact(spark, src) // v2: physical only
    val applied = CdcFeed.drain(spark, src, dst, "k", idx)
    assert(applied == Seq(2L), "the compaction version is consumed")
    assert(SnapshotLake.read(spark, dst).count() == n1, "zero rows fed")
    assert(SnapshotLake.tagVersion(dst, "cdf-v2").isDefined,
      "progress advanced — the follower will not re-diff the compaction")
    assert(CdcFeed.drain(spark, src, dst, "k", idx).isEmpty)
  }

  test("a late filtered consumer: feed a lake that only ever saw half the history") {
    // start following AFTER v2 by seeding the destination with a pinned
    // copy of v2 under v2's tag — the catch-up bootstrap a new consumer
    // of an existing lake performs (Delta's startingVersion)
    val src = newRoot("src")
    buildSrc(src, () => ())
    val dst = newRoot("dst")
    SnapshotLake.appendOnce(
      SnapshotLake.read(spark, src, Some(2L)), dst, "cdf-v2", idx)
    val applied = CdcFeed.drain(spark, src, dst, "k", idx)
    assert(applied == (3L to 5L), s"only the unseen suffix applies: $applied")
    assert(contents(dst) == expected)
  }

  test("empty-batch merge leaves the destination relation intact under later applies") {
    // the compaction batch commits an empty merge; subsequent real
    // applies must still target correctly (no stray blind files breaking
    // candidate discovery)
    val src = newRoot("src")
    SnapshotLake.append(kv(0, 10), src, idx)
    val dst = newRoot("dst")
    CdcFeed.drain(spark, src, dst, "k", idx)
    SnapshotLake.compact(spark, src) // v2: empty batch
    CdcFeed.drain(spark, src, dst, "k", idx)
    SnapshotLake.merge(spark, src,
      Seq((4L, "X4", false)).toDF("k", "v", "__del"), "k", idx, Some("__del"))
    CdcFeed.drain(spark, src, dst, "k", idx)
    assert(contents(dst) == contents(src))
    assert(contents(dst)(4L) == "X4")
  }
}
