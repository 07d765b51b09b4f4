package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The round-13 table operations on the snapshot lake: RESTORE to
  * version, zero-copy clone, predicate (copy-on-write) DELETE with the
  * whole-file-drop fast path, metadata-only aggregates, and constraint-
  * checked ingest — each under its actual production contract.
  */
class TableOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot(prefix: String): String =
    graft.TestSpark.tempDir(prefix).toString + "/lake"

  private def rows(root: String, v: Option[Long] = None): Set[Long] =
    SnapshotLake.read(spark, root, v)
      .select("x").collect().map(_.getLong(0)).toSet

  // ── RESTORE ─────────────────────────────────────────────────────────

  test("restore rewinds the head to a prior version's state in one O(diff) commit, keeping history") {
    val root = newRoot("graft-restore")
    SnapshotLake.append(Seq(1L, 2L, 3L).toDF("x"), root) // v1
    SnapshotLake.append(Seq(4L, 5L).toDF("x"), root) // v2
    SnapshotLake.deleteWhere(spark, root, Seq(2L).toDF("x")) // v3 (tombstone)
    SnapshotLake.compact(spark, root) // v4 materializes
    assert(rows(root) == Set(1L, 3L, 4L, 5L))

    val rv = SnapshotLake.restore(root, 2L)
    assert(rv == 5L)
    // head IS v2's state again — tombstone gone, all five rows visible
    assert(rows(root) == Set(1L, 2L, 3L, 4L, 5L))
    // the undone versions remain time-travelable (history preserved)
    assert(rows(root, Some(3L)) == Set(1L, 3L, 4L, 5L))
    assert(rows(root, Some(4L)) == Set(1L, 3L, 4L, 5L))
    val hist = SnapshotLake.history(root)
    assert(hist.exists(ci => ci.version == 5L && ci.op == "restore" && ci.base == 2L))
    // the restore commit's record is the diff, not a full listing: the
    // restored files are v2's own (no data was moved)
    assert(SnapshotLake.files(root, 5L).toSet == SnapshotLake.files(root, 2L).toSet)
    // the lake keeps working: append on top of the restored state
    SnapshotLake.append(Seq(6L).toDF("x"), root)
    assert(rows(root) == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // vacuum keeps the restored head readable (its files are referenced
    // by the retained manifests even though v2 itself ages out)
    SnapshotLake.vacuum(root, keepVersions = 2)
    assert(rows(root) == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  // ── zero-copy CLONE ─────────────────────────────────────────────────

  test("cloneTo is zero-copy (shared inodes), isolated both ways, and survives source vacuum") {
    val src = newRoot("graft-clone-src")
    val idx = SnapshotLake.IndexSpec(Seq("x"), Some("x"))
    SnapshotLake.append(Seq(1L, 2L, 3L).toDF("x"), src, idx)
    SnapshotLake.append(Seq(4L, 5L).toDF("x"), src, idx)
    val dst = newRoot("graft-clone-dst")
    assert(SnapshotLake.cloneTo(src, dst) == 1L)

    // every cloned data file is the SAME inode as the source's (a hard
    // link, not a copy — zero data bytes moved)
    val srcFiles = SnapshotLake.files(src, 2L)
    assert(SnapshotLake.files(dst, 1L).toSet == srcFiles.toSet)
    srcFiles.foreach { f =>
      val a = Files.getAttribute(Paths.get(src, f), "unix:ino")
      val b = Files.getAttribute(Paths.get(dst, f), "unix:ino")
      assert(a == b, s"$f must be hard-linked, not copied")
    }
    assert(rows(dst) == Set(1L, 2L, 3L, 4L, 5L))
    // the index cloned too: metadata-only count and pruned reads work
    assert(SnapshotLake.fastCount(dst).contains(5L))
    val pruned = SnapshotLake.readPruned(spark, dst,
      Seq(FileStats.Range("x", Some("4"), None)))
    assert(pruned.kept < pruned.total)
    assert(pruned.df.select("x").collect().map(_.getLong(0)).toSet == Set(4L, 5L))

    // independent evolution: divergent writes never cross
    SnapshotLake.append(Seq(6L).toDF("x"), dst)
    SnapshotLake.deleteWhere(spark, src, Seq(1L).toDF("x"))
    assert(rows(src) == Set(2L, 3L, 4L, 5L))
    assert(rows(dst) == Set(1L, 2L, 3L, 4L, 5L, 6L))

    // source compaction + vacuum unlinks the source's names — the clone
    // still reads through its own links (shared inodes survive)
    SnapshotLake.compact(spark, src)
    SnapshotLake.vacuum(src, keepVersions = 1)
    srcFiles.foreach(f => assert(!Files.exists(Paths.get(src, f)),
      "vacuum should have unlinked the source's pre-compaction names"))
    assert(rows(dst) == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  // ── predicate DELETE (copy-on-write) ────────────────────────────────

  test("deleteMatching classifies files: carried untouched, whole-dropped by metadata, rewritten survivors") {
    val root = newRoot("graft-delmatch")
    val idx = SnapshotLake.IndexSpec(Seq("x"), None)
    // four key-range files: [0,9], [10,19], [20,29], [30,39]
    (0 until 4).foreach { i =>
      SnapshotLake.append(
        spark.range(i * 10L, i * 10L + 10).select(col("id").as("x"),
          (col("id") * 2).as("y")).coalesce(1), root, idx)
    }
    val before = SnapshotLake.files(root, 4L)
    // DELETE WHERE x BETWEEN 10 AND 25: file2 [10,19] whole-drops,
    // file3 [20,29] rewrites, files 1 and 4 are carried
    val r = SnapshotLake.deleteMatching(spark, root,
      Seq(FileStats.Range("x", Some("10"), Some("25"))))
    assert(r == SnapshotLake.DeleteResult(5L, carried = 2, dropped = 1,
      rewritten = 1))
    assert(rows(root) == ((0L to 9L) ++ (26L to 39L)).toSet)
    // the carried files are IDENTICAL manifest entries (no rewrite)
    val after = SnapshotLake.files(root, 5L).toSet
    val carried = before.filter(after)
    assert(carried.size == 2, s"two files must carry verbatim: $carried")
    // pre-delete version still time-travels
    assert(rows(root, Some(4L)) == (0L until 40L).toSet)
  }

  test("path-derived partition ranges compare as the column's declared type, not per-value shape") {
    // a string-typed partition column holding one numeric-LOOKING value
    // next to a non-numeric one: the declared type is StringType, so
    // the row-level predicate compares as string — the metadata
    // classification must agree.
    // String semantics: "25" ∈ ["1","3"] (lexical), "abc" ∉.
    val root = newRoot("graft-partnum")
    val idx = SnapshotLake.IndexSpec(Seq("x"), None)
    SnapshotLake.appendPartitioned(
      spark.range(0, 10).select(col("id").as("x"), lit("25").as("p"))
        .repartition(1), root, Seq("p"), idx)
    SnapshotLake.appendPartitioned(
      spark.range(10, 20).select(col("id").as("x"), lit("abc").as("p"))
        .repartition(1), root, Seq("p"), idx)
    // metadata count must match the row-level predicate's string semantics
    val c = SnapshotLake.fastCountWhere(spark, root,
      Seq(FileStats.Range("p", Some("1"), Some("3")))).get
    assert(c.rows == 10L, s"p='25' is inside ['1','3'] as a string: $c")
    assert(c.metadataFiles == 1 && c.scannedFiles == 0,
      s"the all-'25' file proves whole-match from its path tuple: $c")
    // the delete must remove exactly what the row predicate matches —
    // under the per-value numeric inference the '25' file classified
    // DISJOINT (25.0 ∉ [1.0, 3.0]) and its rows wrongly survived
    val r = SnapshotLake.deleteMatching(spark, root,
      Seq(FileStats.Range("p", Some("1"), Some("3"))), idx)
    assert(r.dropped == 1 && r.rewritten == 0,
      s"the p='25' file whole-drops by metadata: $r")
    assert(rows(root) == (10L until 20L).toSet,
      "exactly the string-matching rows are gone")
    // an integer partition column compares numerically:
    // p=9 < p=25 numerically even though '9' > '25' lexically
    val num = newRoot("graft-partnum-all")
    SnapshotLake.appendPartitioned(
      spark.range(0, 5).select(col("id").as("x"), lit(9).as("p"))
        .repartition(1), num, Seq("p"), idx)
    SnapshotLake.appendPartitioned(
      spark.range(5, 10).select(col("id").as("x"), lit(25).as("p"))
        .repartition(1), num, Seq("p"), idx)
    val cn = SnapshotLake.fastCountWhere(spark, num,
      Seq(FileStats.Range("p", Some("3"), Some("10")))).get
    assert(cn.rows == 5L && cn.metadataFiles == 1,
      s"numeric listing: only p=9 is inside [3,10]: $cn")
  }

  test("deleteMatching never drops or deletes NULL rows (they fail the predicate)") {
    val root = newRoot("graft-delnull")
    val idx = SnapshotLake.IndexSpec(Seq("x"), None)
    // one file entirely inside the delete range EXCEPT a NULL row — the
    // non-zero null count must veto the whole-file drop, and the rewrite
    // must keep the NULL row
    SnapshotLake.append(
      Seq(Some(10L), Some(11L), None).toDF("x").coalesce(1), root, idx)
    val r = SnapshotLake.deleteMatching(spark, root,
      Seq(FileStats.Range("x", Some("0"), Some("100"))))
    assert(r.dropped == 0 && r.rewritten == 1,
      s"a file holding a NULL must rewrite, never whole-drop: $r")
    val left = SnapshotLake.read(spark, root)
      .collect().map(row => Option(row.get(0)))
    assert(left.toSeq == Seq(None), "the NULL row must survive the delete")
  }

  // ── metadata-only aggregates ────────────────────────────────────────

  test("fastCount and statsRange answer from sidecars alone, and refuse when metadata can't be exact") {
    val root = newRoot("graft-fast")
    val idx = SnapshotLake.IndexSpec(Seq("x"), None)
    SnapshotLake.append(spark.range(0, 100).select(col("id").as("x")), root, idx)
    SnapshotLake.append(spark.range(100, 150).select(col("id").as("x")), root, idx)
    assert(SnapshotLake.fastCount(root).contains(150L))
    val r = SnapshotLake.statsRange(root, "x").get
    assert(r.min.toDouble == 0d && r.max.toDouble == 149d)
    assert(SnapshotLake.fastCount(root, Some(1L)).contains(100L))
    // live tombstones make metadata counts non-exact: must refuse
    SnapshotLake.deleteWhere(spark, root, Seq(5L).toDF("x"))
    assert(SnapshotLake.fastCount(root).isEmpty)
    assert(SnapshotLake.statsRange(root, "x").isEmpty)
    // materializing the vector restores the metadata path
    SnapshotLake.compact(spark, root)
    assert(SnapshotLake.fastCount(root).contains(149L))
    // a commit without the rows sidecar (pre-round-13 history) refuses too
    val legacy = newRoot("graft-fast-legacy")
    SnapshotLake.append(Seq(1L, 2L).toDF("x"), legacy)
    val dir = SnapshotLake.files(legacy, 1L).head
    Files.delete(Paths.get(legacy, dir.substring(0, dir.lastIndexOf('/')), "_rows.json"))
    assert(SnapshotLake.fastCount(legacy).isEmpty)
  }

  test("fastCountWhere counts interior files from metadata, scans only the boundary, and stays exact") {
    val root = newRoot("graft-fastwhere")
    val idx = SnapshotLake.IndexSpec(Seq("x"), None)
    (0 until 4).foreach { i =>
      SnapshotLake.append(
        spark.range(i * 10L, i * 10L + 10).select(col("id").as("x"))
          .coalesce(1), root, idx)
    }
    def scanCount(lo: Long, hi: Long): Long =
      SnapshotLake.read(spark, root).filter(col("x").between(lo, hi)).count()
    // interior band: file [10,19] metadata-counted, [20,29] scanned at the
    // boundary, [0,9]/[30,39] pruned
    val r = SnapshotLake.fastCountWhere(spark, root,
      Seq(FileStats.Range("x", Some("10"), Some("25")))).get
    assert(r == SnapshotLake.CountWhere(scanCount(10, 25), 1, 1, 2))
    assert(r.rows == 16L)
    // open-ended predicate: every file whole-matches — zero scans
    val all = SnapshotLake.fastCountWhere(spark, root,
      Seq(FileStats.Range("x", Some("0"), None))).get
    assert(all == SnapshotLake.CountWhere(40L, 4, 0, 0))
    // a missing rows sidecar downgrades its file to a scan, result exact
    val f2 = SnapshotLake.files(root, 2L).filterNot(SnapshotLake.files(root, 1L).toSet).head
    Files.delete(Paths.get(root, f2.substring(0, f2.lastIndexOf('/')), "_rows.json"))
    val down = SnapshotLake.fastCountWhere(spark, root,
      Seq(FileStats.Range("x", Some("10"), Some("25")))).get
    assert(down.rows == 16L && down.metadataFiles == 0 && down.scannedFiles == 2)
    // live tombstones make any metadata count inexact: refuse
    SnapshotLake.deleteWhere(spark, root, Seq(12L).toDF("x"))
    assert(SnapshotLake.fastCountWhere(spark, root,
      Seq(FileStats.Range("x", Some("10"), Some("25")))).isEmpty)
  }

  test("fastCountWhere never metadata-counts a file holding NULLs in a predicate column") {
    val root = newRoot("graft-fastnull")
    val idx = SnapshotLake.IndexSpec(Seq("x"), None)
    SnapshotLake.append(
      Seq(Some(1L), Some(2L), None).toDF("x").coalesce(1), root, idx)
    val r = SnapshotLake.fastCountWhere(spark, root,
      Seq(FileStats.Range("x", Some("0"), Some("100")))).get
    // the NULL row fails the predicate: the file must be SCANNED (its
    // null count is non-zero) and the exact answer is 2, not 3
    assert(r == SnapshotLake.CountWhere(2L, 0, 1, 0))
  }

  // ── constraint-checked ingest ───────────────────────────────────────

  test("appendChecked commits clean data and aborts the whole commit naming the violated constraint") {
    val root = newRoot("graft-check")
    val cs = Seq(
      "x_positive" -> (col("x") > 0L),
      "y_nonempty" -> (col("y") =!= lit("")))
    val v = SnapshotLake.appendChecked(
      Seq((1L, "a"), (2L, "b")).toDF("x", "y"), root, cs)
    assert(v == 1L)
    // NULL passes (SQL CHECK semantics: only FALSE violates)
    SnapshotLake.appendChecked(
      Seq((Some(3L), null: String)).toDF("x", "y"), root, cs)
    assert(SnapshotLake.read(spark, root).count() == 3L)
    val ex = intercept[Exception] {
      SnapshotLake.appendChecked(
        Seq((4L, "d"), (-5L, "e")).toDF("x", "y"), root, cs)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("x_positive")),
      s"the error must name the violated constraint: ${msgs(ex)}")
    // NOTHING committed: the head is still the last clean version
    assert(SnapshotLake.currentVersion(root).contains(2L))
    assert(SnapshotLake.read(spark, root).count() == 3L)
  }

  // ── write-audit-publish ─────────────────────────────────────────────

  test("staged batches are invisible until published; discard removes a rejected one; tagged publish is exactly-once") {
    val root = newRoot("graft-wap")
    val idx = SnapshotLake.IndexSpec(Seq("x"), None)
    SnapshotLake.append(Seq(1L, 2L).toDF("x"), root, idx)

    val good = SnapshotLake.stageAppend(Seq(3L, 4L).toDF("x"), root, idx)
    val bad = SnapshotLake.stageAppend(Seq(-9L).toDF("x"), root, idx)
    // invisible: head unchanged, no version moved
    assert(SnapshotLake.currentVersion(root).contains(1L))
    assert(rows(root) == Set(1L, 2L))
    // the audit reads the staged rows directly…
    assert(SnapshotLake.readStaged(spark, root, good)
      .collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    // …or audits by METADATA: the staged commit dir's sidecars carry row
    // counts and ranges without reading a data byte
    val dir = good.files.head.substring(0, good.files.head.lastIndexOf('/'))
    assert(FileStats.readRowsSidecar(root, dir).values.sum == good.rows)
    val badDir = bad.files.head.substring(0, bad.files.head.lastIndexOf('/'))
    val badRange = FileStats.readStatsSidecar(root, badDir).values
      .flatMap(_.get("x")).head
    assert(badRange.min.toDouble < 0, "the metadata audit catches the bad batch")

    SnapshotLake.discard(root, bad)
    bad.files.foreach(f => assert(!Files.exists(Paths.get(root, f))))
    assert(!Files.isDirectory(Paths.get(root, badDir)),
      "discard sweeps the emptied commit dir and its sidecars")

    val v = SnapshotLake.publish(root, good, Some("wap-b1"))
    assert(v == 2L)
    assert(rows(root) == Set(1L, 2L, 3L, 4L))
    // a crash-replayed publish of the same tag is a no-op returning the
    // original version (the duplicate staged files would be orphans)
    assert(SnapshotLake.publish(root, good, Some("wap-b1")) == 2L)
    assert(SnapshotLake.currentVersion(root).contains(2L))
  }

  test("appendExpect quarantines violating rows with their violation names, commits clean rows") {
    val root = newRoot("graft-expect")
    val quar = newRoot("graft-expect-q")
    val ex = Seq(
      "x_positive" -> (col("x") > 0L),
      "x_small" -> (col("x") < 100L))
    val df = Seq(1L, 2L, -3L, 200L, -400L).toDF("x")
    val r = SnapshotLake.appendExpect(df, root, quar, ex)
    assert(r.clean == 1L && r.quarantine.contains(1L))
    assert(rows(root) == Set(1L, 2L))
    val q = SnapshotLake.read(spark, quar)
      .select("x", "_violated").collect()
      .map(row => row.getLong(0) -> row.getString(1)).toMap
    assert(q == Map(-3L -> "x_positive", 200L -> "x_small",
      -400L -> "x_positive"))
    // an EMPTY batch takes both paths without committing quarantine
    val r2 = SnapshotLake.appendExpect(Seq(-500L).toDF("x")
      .withColumn("x", col("x") * -1).filter(col("x") < 0),
      root, quar, ex)
    assert(r2.quarantine.isEmpty, "no violating rows ⇒ no quarantine commit")
    // all-clean batch: quarantine untouched
    val r3 = SnapshotLake.appendExpect(Seq(7L).toDF("x"), root, quar, ex)
    assert(r3.quarantine.isEmpty)
    assert(SnapshotLake.currentVersion(quar).contains(1L))
    assert(rows(root) == Set(1L, 2L, 7L))
  }
}
