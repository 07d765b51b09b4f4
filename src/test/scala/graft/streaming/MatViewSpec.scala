package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.SnapshotLake

/** The incrementally-maintained materialized view under its actual
  * contract: bit-equal to the from-scratch aggregate after EVERY source
  * commit at every refresh cadence, groups appear and vanish with their
  * rows, replays are no-ops, and physical-only commits feed nothing. */
class MatViewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot(tag: String): String =
    graft.TestSpark.tempDir(s"graft-mv-$tag").toString + "/lake"

  private def rows(lo: Int, hi: Int, grp: Int => String, v: Int => Long) =
    (lo until hi).map(i => (i.toLong, grp(i), v(i))).toDF("k", "g", "cents")

  private def mvContents(root: String): Map[String, (Long, Long)] =
    SnapshotLake.read(spark, root).collect()
      .map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_v"))).toMap

  private def fromScratch(root: String): Map[String, (Long, Long)] =
    SnapshotLake.read(spark, root).groupBy("g")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("cents").as("s"))
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n"), r.getAs[Long]("s"))).toMap

  private val idx = SnapshotLake.IndexSpec(Seq("k"), None)

  /** Heterogeneous source history; `step` fires after each commit. */
  private def buildSrc(root: String, step: () => Unit): Unit = {
    SnapshotLake.append(rows(0, 10, i => if (i < 5) "a" else "b", _ * 10L),
      root, idx); step()
    SnapshotLake.append(rows(10, 14, _ => "c", _ * 10L), root, idx); step()
    // update: key 2 moves group a→b and changes value; key 6 changes value
    SnapshotLake.merge(spark, root,
      Seq((2L, "b", 777L, false), (6L, "b", 0L, false),
        (13L, "dead", 0L, true)).toDF("k", "g", "cents", "__del"),
      "k", idx, Some("__del")); step()
    SnapshotLake.compact(spark, root); step() // physical only
    // delete every remaining row of group c — the group must VANISH
    SnapshotLake.deleteWhere(spark, root, Seq(10L, 11L, 12L).toDF("k")); step()
  }

  test("per-commit refresh equals the from-scratch aggregate after every source version") {
    val src = newRoot("src")
    val mv = newRoot("mv")
    buildSrc(src, () => {
      MatView.refresh(spark, src, mv, "k", "g", "cents", idx)
      assert(mvContents(mv) == fromScratch(src),
        s"view must track the head at ${SnapshotLake.currentVersion(src)}")
      ()
    })
    // group c vanished with its last row — not a zero row
    assert(!mvContents(mv).contains("c"))
    assert(mvContents(mv).keySet == Set("a", "b"))
  }

  test("one-shot refresh over the whole history equals the per-commit cadence") {
    val src = newRoot("src")
    buildSrc(src, () => ())
    val mv = newRoot("mv")
    val applied = MatView.refresh(spark, src, mv, "k", "g", "cents", idx)
    assert(applied == (1L to 5L))
    assert(mvContents(mv) == fromScratch(src))
    // replayed refresh and replayed single batch are no-ops
    assert(MatView.refresh(spark, src, mv, "k", "g", "cents", idx).isEmpty)
    val dv = MatView.applyVersion(spark, src, mv, "k", "g", "cents", 3L, idx)
    assert(SnapshotLake.tagVersion(mv, "mv-v3").contains(dv))
    assert(mvContents(mv) == fromScratch(src), "no double-applied deltas")
    // the compaction (v4) fed zero deltas but advanced the follower
    assert(SnapshotLake.tagVersion(mv, "mv-v4").isDefined)
  }

  test("later source commits keep refreshing incrementally") {
    val src = newRoot("src")
    buildSrc(src, () => ())
    val mv = newRoot("mv")
    MatView.refresh(spark, src, mv, "k", "g", "cents", idx)
    // a brand-new group appears after the view exists
    SnapshotLake.append(rows(20, 23, _ => "d", _ => 5L), src, idx)
    assert(MatView.refresh(spark, src, mv, "k", "g", "cents", idx) == Seq(6L))
    assert(mvContents(mv) == fromScratch(src))
    assert(mvContents(mv)("d") == ((3L, 15L)))
  }
}
