package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The snapshot-lake commit protocol under its actual contract:
  * reader isolation while commits land, CAS version allocation under
  * racing writers, append ∥ compact reconciliation, and vacuum retention.
  */
class SnapshotLakeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot(): String =
    graft.TestSpark.tempDir("graft-snap-spec").toString + "/lake"

  private def rows(root: String, v: Option[Long] = None): Set[Long] =
    SnapshotLake.read(spark, root, v)
      .select("x").collect().map(_.getLong(0)).toSet

  test("a pinned version is immutable while later appends and compactions land") {
    val root = newRoot()
    val v1 = SnapshotLake.append(Seq(1L, 2L, 3L).toDF("x"), root)
    assert(v1 == 1L)
    val v2 = SnapshotLake.append(Seq(4L, 5L).toDF("x"), root)
    val v3 = SnapshotLake.compact(spark, root)
    val v4 = SnapshotLake.append(Seq(6L).toDF("x"), root)
    assert(Seq(v2, v3, v4) == Seq(2L, 3L, 4L))
    assert(rows(root, Some(1L)) == Set(1L, 2L, 3L))
    assert(rows(root, Some(2L)) == Set(1L, 2L, 3L, 4L, 5L))
    // v3 = compaction: same content as v2 on different files
    assert(rows(root, Some(3L)) == Set(1L, 2L, 3L, 4L, 5L))
    assert(SnapshotLake.files(root, 3L) != SnapshotLake.files(root, 2L))
    assert(SnapshotLake.files(root, 3L).size < SnapshotLake.files(root, 2L).size)
    assert(rows(root) == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("racing appenders get distinct versions and no commit is lost") {
    val root = newRoot()
    val n = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val results = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            SnapshotLake.append(Seq(i.toLong * 10, i.toLong * 10 + 1).toDF("x"), root)
        })
      }.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(results.toSet.size == n, s"CAS must allocate distinct versions: $results")
      assert(results.toSet == (1L to n.toLong).toSet)
      assert(rows(root) ==
        (0 until n).flatMap(i => Seq(i.toLong * 10, i.toLong * 10 + 1)).toSet)
    } finally pool.shutdownNow()
  }

  test("append ∥ compact: concurrent commits never lose rows and every read is a committed snapshot") {
    val root = newRoot()
    SnapshotLake.append(Seq(-1L).toDF("x"), root)
    val appends = 12
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Set[Long])]()
    try {
      val appender = pool.submit(new Runnable {
        def run(): Unit = (0 until appends).foreach { i =>
          SnapshotLake.append(Seq(i.toLong).toDF("x"), root)
        }
      })
      val compactor = pool.submit(new Runnable {
        def run(): Unit = while (!stop.get()) SnapshotLake.compact(spark, root)
      })
      val reader = pool.submit(new Runnable {
        def run(): Unit = while (!stop.get()) {
          // a reader resolves SOME committed version and must see exactly
          // that version's content — record what it saw for the replay
          // check below (manifests are retained, so the claim is testable
          // after the fact)
          val v = SnapshotLake.currentVersion(root).get
          observed.add((v, rows(root, Some(v))))
          ()
        }
      })
      appender.get(180, java.util.concurrent.TimeUnit.SECONDS)
      stop.set(true)
      compactor.get(120, java.util.concurrent.TimeUnit.SECONDS)
      reader.get(120, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdownNow()

    // no append lost through any interleaving with the compactor
    assert(rows(root) == (Set(-1L) ++ (0 until appends).map(_.toLong)),
      "concurrent compaction must not lose or duplicate appended rows")
    // every snapshot a reader observed replays identically from its
    // manifest — i.e. reads were never torn, they were real versions
    import scala.jdk.CollectionConverters._
    val perVersion = observed.asScala.toVector.groupBy(_._1)
    perVersion.foreach { case (v, obs) =>
      val replay = rows(root, Some(v))
      obs.foreach { case (_, seen) =>
        assert(seen == replay, s"reader at v$v saw $seen, manifest replays $replay")
      }
    }
    // row sets grow monotonically across versions (append-only content)
    val versions = (1L to SnapshotLake.currentVersion(root).get)
    versions.sliding(2).foreach {
      case Seq(a, b) =>
        assert(rows(root, Some(a)).subsetOf(rows(root, Some(b))),
          s"v$a must be a subset of v$b")
      case _ =>
    }
  }

  test("vacuum drops old manifests and unreferenced files but keeps the retained window readable") {
    val root = newRoot()
    (1 to 4).foreach(i => SnapshotLake.append(Seq(i.toLong).toDF("x"), root))
    SnapshotLake.compact(spark, root) // v5 rewrites everything
    val before = SnapshotLake.files(root, 1L)
    SnapshotLake.vacuum(root, keepVersions = 2)
    // v1-v3 manifests gone, v4/v5 retained and correct
    assert(SnapshotLake.currentVersion(root).contains(5L))
    intercept[Exception](SnapshotLake.files(root, 1L))
    assert(rows(root, Some(4L)) == Set(1L, 2L, 3L, 4L))
    assert(rows(root, Some(5L)) == Set(1L, 2L, 3L, 4L))
    // v1's physical file is still referenced by retained v4 → must survive;
    // after vacuuming down to just v5 (compacted files only) it must go
    assert(Files.exists(java.nio.file.Paths.get(root, before.head)))
    SnapshotLake.vacuum(root, keepVersions = 1)
    assert(!Files.exists(java.nio.file.Paths.get(root, before.head)),
      "files referenced by no retained manifest must be deleted")
    assert(rows(root, Some(5L)) == Set(1L, 2L, 3L, 4L))
  }

  // ── copy-on-write merge + change feed ─────────────────────────────

  private def kv(lo: Long, hi: Long) =
    (lo until hi).map(k => (k, s"v$k")).toDF("k", "v").repartition(1)

  private val kvIdx = SnapshotLake.IndexSpec(Seq("k"), None)

  test("merge rewrites only the files whose key range may hold an update, carries the rest verbatim") {
    val root = newRoot()
    for (i <- 0 until 4) // files [0,100) [100,200) [200,300) [300,400)
      SnapshotLake.append(kv(i * 100L, i * 100L + 100), root, kvIdx)
    val pre = SnapshotLake.files(root, 4L)
    val updates = Seq((10L, "NEW10", false), (110L, "NEW110", false),
      (9999L, "INSERTED", false), (120L, "", true))
      .toDF("k", "v", "__del")
    val v5 = SnapshotLake.merge(spark, root, updates, "k", kvIdx, Some("__del"))
    assert(v5 == 5L)
    val post = SnapshotLake.files(root, 5L)
    // files [200,300) and [300,400) hold no update keys → carried verbatim
    val carried = post.toSet intersect pre.toSet
    assert(carried.size == 2, s"expected 2 untouched files, carried=$carried")
    val m = SnapshotLake.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.size == 400, "400 base − 1 delete + 1 insert; updates replace in place")
    assert(m(10L) == "NEW10" && m(110L) == "NEW110" && m(9999L) == "INSERTED")
    assert(!m.contains(120L), "tombstoned key must be gone")
    assert(m(11L) == "v11" && m(210L) == "v210", "unmatched rows survive")
  }

  test("an un-indexed commit is always a merge candidate (conservative rewrite)") {
    val root = newRoot()
    SnapshotLake.append(kv(0, 100), root) // no stats
    SnapshotLake.append(kv(100, 200), root, kvIdx)
    SnapshotLake.merge(spark, root,
      Seq((50L, "X", false)).toDF("k", "v", "__del"), "k", kvIdx, Some("__del"))
    val m = SnapshotLake.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(50L) == "X" && m.size == 200)
    // the blind commit was rewritten; the indexed one (range-disjoint
    // from the update) was carried
    val carried = SnapshotLake.files(root, 3L).toSet intersect
      SnapshotLake.files(root, 2L).toSet
    assert(carried == (SnapshotLake.files(root, 2L).toSet --
      SnapshotLake.files(root, 1L).toSet))
  }

  test("changeFeed classifies insert/delete/update from the manifest diff and reads no carried file") {
    val root = newRoot()
    for (i <- 0 until 4)
      SnapshotLake.append(kv(i * 100L, i * 100L + 100), root, kvIdx)
    val updates = Seq((10L, "NEW10", false), (9999L, "INSERTED", false),
      (120L, "", true)).toDF("k", "v", "__del")
    SnapshotLake.merge(spark, root, updates, "k", kvIdx, Some("__del"))
    val feed = SnapshotLake.changeFeed(spark, root, 4L, 5L, "k")
      .collect().map(r => (r.getString(2), r.getLong(0), r.getString(1))).toSet
    assert(feed == Set(
      ("insert", 9999L, "INSERTED"),
      ("delete", 120L, "v120"),
      ("update_preimage", 10L, "v10"),
      ("update_postimage", 10L, "NEW10")),
      s"got $feed")
    // rows of carried files, and untouched rows of rewritten files,
    // cancel or never enter: the feed is exactly the logical change set
  }

  test("changeFeed across a pure compaction is empty (physical moves cancel)") {
    val root = newRoot()
    SnapshotLake.append(kv(0, 50), root, kvIdx)
    SnapshotLake.append(kv(50, 100), root, kvIdx)
    val v3 = SnapshotLake.compact(spark, root)
    assert(SnapshotLake.changeFeed(spark, root, 2L, v3, "k").count() == 0)
  }

  test("deleteWhere is merge-on-read: zero data files rewritten, readers anti-join, time travel predates it") {
    val root = newRoot()
    SnapshotLake.append(kv(0, 100), root, kvIdx)
    SnapshotLake.append(kv(100, 200), root, kvIdx)
    val v3 = SnapshotLake.deleteWhere(spark, root,
      Seq(10L, 110L, 150L).toDF("k"))
    assert(v3 == 3L)
    assert(SnapshotLake.files(root, 3L) == SnapshotLake.files(root, 2L),
      "a DV delete must rewrite no data file")
    assert(SnapshotLake.deletesOf(root, 3L).nonEmpty)
    def keys(v: Option[Long] = None) = SnapshotLake.read(spark, root, v)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(keys() == ((0L until 200L).toSet -- Set(10L, 110L, 150L)))
    assert(keys(Some(2L)) == (0L until 200L).toSet,
      "the pinned pre-delete version still sees the rows")
    // later appends carry the tombstones forward
    SnapshotLake.append(kv(200, 210), root, kvIdx)
    assert(!keys().contains(10L) && keys().contains(205L))
    // pruned reads pay the same anti-join
    val scan = SnapshotLake.readPruned(spark, root,
      Seq(FileStats.Range("k", Some("100"), Some("199"))))
    assert(scan.df.select("k").collect().map(_.getLong(0)).toSet ==
      ((100L until 200L).toSet -- Set(110L, 150L)))
    // history shows the delete as a zero-row commit
    assert(SnapshotLake.history(root).find(_.version == 3L)
      .exists(c => c.op == "delete" && c.rows == 0L))
  }

  test("compact materializes deletion vectors; a cleared key can then be re-upserted") {
    val root = newRoot()
    SnapshotLake.append(kv(0, 100), root, kvIdx)
    SnapshotLake.deleteWhere(spark, root, Seq(7L).toDF("k"))
    // tombstone-wins: merging the key back while its vector is live shows nothing
    SnapshotLake.merge(spark, root,
      Seq((7L, "BACK")).toDF("k", "v"), "k", kvIdx)
    def m() = SnapshotLake.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!m().contains(7L), "live tombstone suppresses the re-upsert")
    val vc = SnapshotLake.compact(spark, root)
    assert(SnapshotLake.deletesOf(root, vc).isEmpty,
      "compaction clears the vector")
    assert(!m().contains(7L) && m().size == 99)
    // with the vector cleared, the upsert takes
    SnapshotLake.merge(spark, root, Seq((7L, "BACK")).toDF("k", "v"), "k", kvIdx)
    assert(m()(7L) == "BACK" && m().size == 100)
    // retention: once pre-compaction versions age out, vacuum reaps the
    // tombstone files along with the replaced data files
    val tomb = SnapshotLake.deletesOf(root, 2L).head
    assert(Files.exists(java.nio.file.Paths.get(root, tomb)))
    SnapshotLake.vacuum(root, keepVersions = 1)
    assert(!Files.exists(java.nio.file.Paths.get(root, tomb)),
      "unreferenced tombstone files are vacuumed")
    assert(m()(7L) == "BACK" && m().size == 100)
  }

  test("changeFeed sees deletion vectors: an in-range DV delete feeds delete rows, a pre-range one never resurfaces") {
    val root = newRoot()
    for (i <- 0 until 4)
      SnapshotLake.append(kv(i * 100L, i * 100L + 100), root, kvIdx)
    SnapshotLake.deleteWhere(spark, root, Seq(42L, 242L).toDF("k")) // v5
    // in-range pure-DV delete: no file changed, yet the feed must carry it
    val feed = SnapshotLake.changeFeed(spark, root, 4L, 5L, "k")
      .collect().map(r => (r.getString(2), r.getLong(0))).toSet
    assert(feed == Set(("delete", 42L), ("delete", 242L)), s"got $feed")
    // pre-range delete + in-range compaction: the materialization must
    // CANCEL (the rows were already logically absent at fromV) — only the
    // explicitly-merged change may surface
    SnapshotLake.merge(spark, root, Seq((7L, "UPD")).toDF("k", "v"), "k", kvIdx)
    val v7 = SnapshotLake.compact(spark, root)
    val feed2 = SnapshotLake.changeFeed(spark, root, 5L, v7, "k")
      .collect().map(r => (r.getString(2), r.getLong(0), r.getString(1))).toSet
    assert(feed2 == Set(
      ("update_preimage", 7L, "v7"), ("update_postimage", 7L, "UPD")),
      s"materializing a pre-range delete must not re-emit it: $feed2")
  }

  test("compactSmall bin-packs only the sub-threshold files, carries big ones, and leaves vectors live") {
    val root = newRoot()
    SnapshotLake.append(kv(0, 5000), root, kvIdx) // one big file
    for (i <- 0 until 3) // three small trailing commits
      SnapshotLake.append(kv(5000L + i * 10, 5000L + i * 10 + 10), root, kvIdx)
    SnapshotLake.deleteWhere(spark, root, Seq(5005L, 17L).toDF("k"))
    val big = SnapshotLake.files(root, 1L).head
    val minBytes = Files.size(java.nio.file.Paths.get(root, big))
    val v = SnapshotLake.compactSmall(spark, root, minBytes, partitions = 1,
      index = kvIdx)
    val post = SnapshotLake.files(root, v)
    assert(post.contains(big), "the big file must be carried verbatim")
    assert(post.size == 2, s"three small files bin-pack into one: $post")
    assert(SnapshotLake.deletesOf(root, v).nonEmpty,
      "compactSmall is physical only — the vector stays live")
    val ks = SnapshotLake.read(spark, root)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(ks == ((0L until 5000L).toSet ++
      (5000L until 5030L).toSet -- Set(5005L, 17L)))
    // below-threshold backlog of one: a second pass is a no-op version
    assert(SnapshotLake.compactSmall(spark, root, minBytes) == v)
  }

  test("racing appends and DV deletes reconcile: no appended row lost, every tombstone enforced") {
    val root = newRoot()
    SnapshotLake.append(kv(0, 100), root, kvIdx)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      val tasks: Seq[java.util.concurrent.Callable[Long]] =
        (0 until 3).map { i =>
          new java.util.concurrent.Callable[Long] {
            def call(): Long =
              SnapshotLake.append(kv(100L + i * 10, 100L + i * 10 + 10), root, kvIdx)
          }
        } ++ (0 until 3).map { i =>
          new java.util.concurrent.Callable[Long] {
            def call(): Long =
              SnapshotLake.deleteWhere(spark, root, Seq(i * 7L).toDF("k"))
          }
        }
      import scala.jdk.CollectionConverters._
      val vs = pool.invokeAll(tasks.asJava).asScala.map(_.get())
      // six racing commits, all distinct versions, none lost
      assert(vs.toSet.size == 6 && SnapshotLake.currentVersion(root).contains(7L))
    } finally pool.shutdown()
    // every append's rows present, every tombstone enforced — whatever
    // interleaving the CAS loops resolved to (appends carry the current
    // vector forward; deletes carry the current file list)
    val ks = SnapshotLake.read(spark, root)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(ks == ((0L until 130L).toSet -- Set(0L, 7L, 14L)))
  }

  test("history reports op, base, files, and footer-derived added rows per retained commit") {
    val root = newRoot()
    SnapshotLake.append(kv(0, 50), root)
    SnapshotLake.appendOnce(kv(50, 80), root, "b1")
    SnapshotLake.compact(spark, root)
    SnapshotLake.merge(spark, root, Seq((10L, "X")).toDF("k", "v"), "k")
    val h = SnapshotLake.history(root)
    assert(h.map(c => (c.version, c.op, c.base, c.tag, c.rows)) == Seq(
      (1L, "append", 0L, None, 50L),
      (2L, "append", 1L, Some("b1"), 30L),
      (3L, "compact", 2L, None, 0L),
      (4L, "merge", 3L, None, 80L))) // un-indexed base: full rewrite
    assert(h.forall(_.nFiles > 0))
    SnapshotLake.vacuum(root, keepVersions = 2)
    assert(SnapshotLake.history(root).map(_.version) == Seq(3L, 4L),
      "vacuumed versions drop out of history")
  }

  test("schema evolution: a later commit adds a column; mergeSchema surfaces it, a pinned version predates it") {
    val root = newRoot()
    SnapshotLake.append(kv(0, 10), root)
    SnapshotLake.append(
      (10L until 20L).map(k => (k, s"v$k", k * 10)).toDF("k", "v", "w")
        .repartition(1), root, mergeSchema = true)
    val evolved = SnapshotLake.read(spark, root)
    assert(evolved.columns.toSet == Set("k", "v", "w"))
    val wByK = evolved.select("k", "w").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(wByK(5L).isEmpty && wByK(15L).contains(150L))
    // the pinned pre-evolution version never sees the column
    assert(SnapshotLake.read(spark, root, Some(1L)).columns.toSet == Set("k", "v"))
  }

  // ── concurrent-rewrite conflict fence (round 12) ─────────────────────
  // The onBeforeCommit seam injects the racing commit BETWEEN candidate
  // discovery and the CAS attempt — the exact window where round 11's
  // append-style reconcile would have carried the winner's rewrites as
  // "racing appends" and duplicated every survivor row of the overlap.

  private def upd(pairs: (Long, String)*) = pairs.toDF("k", "v")

  test("racing merges on overlapping keys: exactly one commits, the loser aborts, zero duplicated rows") {
    val root = newRoot()
    for (i <- 0 until 4) // files [0,100) [100,200) [200,300) [300,400)
      SnapshotLake.append(kv(i * 100L, i * 100L + 100), root, kvIdx)
    var fired = false
    val ex = intercept[java.util.ConcurrentModificationException] {
      SnapshotLake.merge(spark, root, upd(10L -> "A10"), "k", kvIdx,
        onBeforeCommit = () => if (!fired) {
          fired = true // key 20 lives in the same [0,100) file as key 10
          SnapshotLake.merge(spark, root, upd(20L -> "B20"), "k", kvIdx)
          ()
        })
    }
    assert(ex.getMessage.contains("merge"))
    assert(SnapshotLake.currentVersion(root).contains(5L),
      "only the winner committed")
    val m = SnapshotLake.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val n = SnapshotLake.read(spark, root).count()
    assert(n == 400L && m.size == 400, s"no duplicated rows: count=$n")
    assert(m(20L) == "B20" && m(10L) == "v10",
      "the winner's rewrite holds; the aborted loser changed nothing")
  }

  test("racing merges on disjoint files both commit; neither loses the other's rewrite") {
    val root = newRoot()
    for (i <- 0 until 4)
      SnapshotLake.append(kv(i * 100L, i * 100L + 100), root, kvIdx)
    var fired = false
    val vA = SnapshotLake.merge(spark, root, upd(10L -> "A10"), "k", kvIdx,
      onBeforeCommit = () => if (!fired) {
        fired = true // key 210 lives in [200,300) — disjoint from [0,100)
        SnapshotLake.merge(spark, root, upd(210L -> "B210"), "k", kvIdx)
        ()
      })
    assert(vA == 6L, "loser of the version race retries and lands after")
    val m = SnapshotLake.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(SnapshotLake.read(spark, root).count() == 400L && m.size == 400)
    assert(m(10L) == "A10" && m(210L) == "B210",
      "both disjoint rewrites survive — reconcile is against the current listing")
  }

  test("merge aborts when a racing compaction rewrote its touched files; compact aborts on the reverse race") {
    val root = newRoot()
    for (i <- 0 until 2)
      SnapshotLake.append(kv(i * 100L, i * 100L + 100), root, kvIdx)
    var fired = false
    intercept[java.util.ConcurrentModificationException] {
      SnapshotLake.merge(spark, root, upd(10L -> "A10"), "k", kvIdx,
        onBeforeCommit = () => if (!fired) {
          fired = true; SnapshotLake.compact(spark, root); ()
        })
    }
    assert(rows2(root).size == 200 && rows2(root)(10L) == "v10")
    // reverse: a merge lands while a compaction is rewriting
    var fired2 = false
    intercept[java.util.ConcurrentModificationException] {
      SnapshotLake.compact(spark, root,
        onBeforeCommit = () => if (!fired2) {
          fired2 = true
          SnapshotLake.merge(spark, root, upd(10L -> "M10"), "k", kvIdx)
          ()
        })
    }
    val m = rows2(root)
    assert(m.size == 200 && m(10L) == "M10",
      "the merge's rewrite holds; the aborted compaction changed nothing")
    assert(SnapshotLake.read(spark, root).count() == 200L, "no duplicated rows")
  }

  test("mergeOnce same-tag zombie replay yields inside the CAS loop instead of double-applying") {
    val root = newRoot()
    SnapshotLake.append(kv(0, 100), root, kvIdx)
    var fired = false
    var innerV = -1L
    val outerV = SnapshotLake.mergeOnce(spark, root, upd(10L -> "X10"),
      "k", tag = "cdc-b7", index = kvIdx,
      onBeforeCommit = () => if (!fired) {
        fired = true // the successor replay races past the zombie
        innerV = SnapshotLake.mergeOnce(spark, root, upd(10L -> "X10"),
          "k", tag = "cdc-b7", index = kvIdx)
        ()
      })
    assert(innerV == 2L && outerV == 2L,
      "the zombie returns the successor's version — the merge applied once")
    assert(SnapshotLake.currentVersion(root).contains(2L))
    assert(SnapshotLake.read(spark, root).count() == 100L)
    assert(rows2(root)(10L) == "X10")
  }

  private def rows2(root: String): Map[Long, String] =
    SnapshotLake.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  // ── log-structured manifests + indexed tags (round 12) ───────────────

  private def recordPath(root: String, v: Long) =
    java.nio.file.Paths.get(root, "_manifests", f"v$v%09d.json")
  private def ckptPath(root: String, v: Long) =
    java.nio.file.Paths.get(root, "_manifests", f"v$v%09d.ckpt.json")
  private def ickptPath(root: String, v: Long) =
    java.nio.file.Paths.get(root, "_manifests", f"v$v%09d.ickpt.json")

  test("commit records are O(change) over a 120-commit history; resolution rides checkpoints") {
    val root = newRoot()
    for (i <- 0 until 120)
      SnapshotLake.append(Seq(i.toLong).toDF("x"), root)
    // every log record lists ONE added file + fixed fields — its size
    // must not grow with the version (the full-listing scheme's v120
    // manifest was ~120 paths ≈ 6 KB and grew linearly)
    val sizes = (1L to 120L).map(v => Files.size(recordPath(root, v)))
    assert(sizes.max < 1024,
      s"a log record grew with table size: max=${sizes.max} bytes")
    assert(math.abs(sizes.last - sizes.head) < 128,
      "first and last record must cost the same bytes")
    // checkpoints at every CkptEvery-th commit: a FULL one anchors each
    // 100-commit stretch (v10, v110), the ones between are INCREMENTAL
    // deltas against their full base — O(change) bytes, like the records
    assert(Files.exists(ckptPath(root, 10L)) && Files.exists(ckptPath(root, 110L)))
    assert(!Files.exists(ckptPath(root, 120L)) && Files.exists(ickptPath(root, 120L)))
    assert(!Files.exists(ckptPath(root, 119L)) && !Files.exists(ickptPath(root, 119L)))
    assert(Files.size(ickptPath(root, 120L)) < Files.size(ckptPath(root, 110L)),
      "an incremental checkpoint costs less than its full base")
    // resolving a version costs O(CkptEvery) manifest reads, not O(v)
    SnapshotLake.manifestReads.set(0L)
    assert(SnapshotLake.files(root, 117L).size == 117)
    assert(SnapshotLake.manifestReads.get() <= 11,
      s"resolution read ${SnapshotLake.manifestReads.get()} manifests for v117")
    // full read still sees every row
    assert(SnapshotLake.read(spark, root).count() == 120L)
  }

  test("incremental checkpoints reconstruct exactly (adds AND removes), and vacuum sweeps danglers") {
    val root = newRoot()
    for (i <- 0 until 15)
      SnapshotLake.append(Seq(i.toLong).toDF("x"), root) // v1..v15; full ckpt @10
    SnapshotLake.compact(spark, root) // v16: rewrites all 15 files into 1
    for (i <- 15 until 19)
      SnapshotLake.append(Seq(i.toLong).toDF("x"), root) // v17..v20
    // the v20 checkpoint is incremental against the v10 full base, so it
    // must carry the compaction's REMOVES (all 15 pre-compaction files),
    // not just adds
    assert(Files.exists(ickptPath(root, 20L)) && !Files.exists(ckptPath(root, 20L)))
    val expect = SnapshotLake.files(root, 20L)
    assert(expect.size == 5, "1 compacted + 4 appended files")
    // pin the ickpt READ path (this JVM's resolve cache holds v20 from
    // the write): a fresh copy of the lake has fresh cache keys, and its
    // resolution must go ickpt + full base + zero records
    val root2 = newRoot()
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(root), new java.io.File(root2))
    SnapshotLake.manifestReads.set(0L)
    assert(SnapshotLake.files(root2, 20L) == expect,
      "base-plus-delta reconstruction equals the record replay")
    assert(SnapshotLake.manifestReads.get() <= 3,
      s"ickpt resolution read ${SnapshotLake.manifestReads.get()} manifests")
    assert(SnapshotLake.read(spark, root2).count() == 19L)
    // vacuum to cutoff 16: the cutoff checkpoint is FULL, and the v20
    // ickpt (base v10, now below the cutoff) is swept rather than left
    // dangling; v20 still resolves by replaying records from the cutoff
    SnapshotLake.vacuum(root, keepVersions = 5)
    assert(Files.exists(ckptPath(root, 16L)))
    assert(!Files.exists(ickptPath(root, 20L)),
      "an ickpt whose full base fell out of retention is deleted")
    assert(SnapshotLake.files(root, 20L) == expect)
    assert(SnapshotLake.read(spark, root).count() == 19L)
  }

  test("segmented full checkpoints reuse clean segments by reference, rewrite dirty ones, and vacuum GCs unreferenced segments") {
    val oldSeg = SnapshotLake.SegEntries
    val oldFull = SnapshotLake.FullCkptEveryCommits
    val oldFloor = SnapshotLake.segOrphanGraceFloorMs
    SnapshotLake.SegEntries = 3
    SnapshotLake.FullCkptEveryCommits = 10 // every checkpoint is full here
    SnapshotLake.segOrphanGraceFloorMs = 0L // single-threaded: GC now
    try {
      val root = newRoot()
      val idx = SnapshotLake.IndexSpec(Seq("x"), None)
      def segsOf(v: Long): Seq[String] = {
        val json = Files.readString(ckptPath(root, v))
        """seg-[0-9a-f-]+\.json""".r.findAllIn(json).toVector
      }
      for (i <- 0 until 10)
        SnapshotLake.append(Seq(i.toLong).toDF("x"), root, idx) // v1..v10
      // the v10 full checkpoint freezes the 10-file vector into
      // 3-entry segments, keeping a mutable tail
      val segs10 = segsOf(10L)
      assert(segs10.size == 2, s"freeze 10 files at SegEntries=3: $segs10")
      segs10.foreach(s => assert(Files.exists(
        java.nio.file.Paths.get(root, "_manifests", s))))
      // v11: metadata whole-drop of x=1's single-row file — dirties
      // exactly the FIRST segment, leaves the second untouched
      SnapshotLake.deleteMatching(spark, root,
        Seq(graft.etl.FileStats.Range("x", Some("1"), Some("1"))))
      for (i <- 10 until 19)
        SnapshotLake.append(Seq(i.toLong).toDF("x"), root, idx) // v12..v20
      val segs20 = segsOf(20L)
      assert(segs20.contains(segs10(1)),
        "a clean segment carries to the next full checkpoint BY REFERENCE")
      assert(!segs20.contains(segs10(0)),
        "a segment a remove touched is re-frozen under a new name")
      // reconstruction equals record replay, pinned through a fresh copy
      // (fresh cache keys force the segment read path)
      val expect = SnapshotLake.files(root, 20L)
      val root2 = newRoot()
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(root), new java.io.File(root2))
      assert(SnapshotLake.files(root2, 20L) == expect,
        "segments + tail concatenate to the exact replay order")
      assert(SnapshotLake.read(spark, root2).count() == 18L) // 19 rows − x=1
      // vacuum to cutoff 19: the cutoff checkpoint SHARES the aged-out
      // v10 base's clean segment; v10's dirty-original segment loses its
      // last reference and is GC'd; everything retained still resolves
      SnapshotLake.vacuum(root, keepVersions = 2)
      assert(!Files.exists(
        java.nio.file.Paths.get(root, "_manifests", segs10(0))),
        "an unreferenced segment is swept with its last checkpoint")
      assert(Files.exists(
        java.nio.file.Paths.get(root, "_manifests", segs10(1))),
        "a segment the cutoff checkpoint references survives its " +
          "original checkpoint's deletion")
      assert(segsOf(19L).contains(segs10(1)))
      assert(SnapshotLake.files(root, 20L) == expect)
      assert(SnapshotLake.read(spark, root).count() == 18L)
    } finally {
      SnapshotLake.SegEntries = oldSeg
      SnapshotLake.FullCkptEveryCommits = oldFull
      SnapshotLake.segOrphanGraceFloorMs = oldFloor
    }
  }

  test("a checkpoint missing its segment degrades to record replay and the next checkpoint heals it") {
    // the residual grace-floor race (ADVICE r18): a checkpointer that
    // took longer than segOrphanGraceFloorMs between writeSeg and link
    // can have its segment swept, leaving the linked checkpoint
    // dangling. Checkpoints are acceleration, records are truth — a
    // dangling one must degrade to replay, not fail its version forever.
    val oldSeg = SnapshotLake.SegEntries
    val oldFull = SnapshotLake.FullCkptEveryCommits
    SnapshotLake.SegEntries = 3
    SnapshotLake.FullCkptEveryCommits = 10 // every checkpoint is full here
    try {
      val root = newRoot()
      Files.createDirectories(java.nio.file.Paths.get(root))
      for (i <- 0 until 12) // v1..v12; the v10 full freezes segments
        SnapshotLake.commitSynthetic(root, Seq(f"data/f$i%02d.parquet"), 1L)
      val expect = SnapshotLake.files(root, 12L)
      val segs = """seg-[0-9a-f-]+\.json""".r
        .findAllIn(Files.readString(ckptPath(root, 10L))).toVector
      assert(segs.nonEmpty, "v10 full checkpoint should be segmented")
      Files.delete(java.nio.file.Paths.get(root, "_manifests", segs.head))
      // fresh observer (fresh cache keys → the real segment read path):
      // resolution must fall back to the record log below the checkpoint
      val root2 = newRoot()
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(root), new java.io.File(root2))
      assert(SnapshotLake.files(root2, 12L) == expect,
        "a dangling checkpoint must degrade to record replay")
      // the WRITE path is defensive too: the next full checkpoint (v20)
      // finds its reuse base dangling, degrades to a from-scratch
      // resolve, and the lake is healed — a fresh observer of v20 reads
      // through the new checkpoint alone
      for (i <- 12 until 20)
        SnapshotLake.commitSynthetic(root2, Seq(f"data/f$i%02d.parquet"), 1L)
      val expect20 = expect ++ (12 until 20).map(i => f"data/f$i%02d.parquet")
      val root3 = newRoot()
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(root2), new java.io.File(root3))
      assert(SnapshotLake.files(root3, 20L) == expect20)
    } finally {
      SnapshotLake.SegEntries = oldSeg
      SnapshotLake.FullCkptEveryCommits = oldFull
    }
  }

  test("a far-behind head hint finds the exact head via the walk AND via the batched-listing fallback") {
    // the object-store probe rule (CommitContention phase 4): beyond
    // probeStepLimit forward stats, currentVersion switches to one
    // directory listing — same answer, one LIST instead of
    // O(commits-behind) HEADs. Both paths must agree exactly.
    val oldLimit = SnapshotLake.probeStepLimit
    try {
      val root = newRoot()
      Files.createDirectories(java.nio.file.Paths.get(root))
      for (i <- 0 until 12)
        SnapshotLake.commitSynthetic(root, Seq(f"data/g$i%02d.parquet"), 1L)
      SnapshotLake.plantHeadHint(root, 1L) // observer 11 commits behind
      SnapshotLake.probeStepLimit = 4      // object-store mode
      assert(SnapshotLake.currentVersion(root).contains(12L))
      SnapshotLake.plantHeadHint(root, 1L)
      SnapshotLake.probeStepLimit = Int.MaxValue // POSIX pure walk
      assert(SnapshotLake.currentVersion(root).contains(12L))
    } finally SnapshotLake.probeStepLimit = oldLimit
  }

  test("segment GC honors checkpoints above the observed head and the mid-flight grace floor") {
    val oldFloor = SnapshotLake.segOrphanGraceFloorMs
    try {
      val root = newRoot()
      for (i <- 0 until 12)
        SnapshotLake.append(Seq(i.toLong).toDF("x"), root) // v1..v12
      val mdir = java.nio.file.Paths.get(root, "_manifests")
      // (a) a full checkpoint published ABOVE the head this vacuum
      // observes (a concurrent checkpointer that linked between vacuum's
      // start and its segment sweep) still pins its segments — the
      // referenced set must come from EVERY live *.ckpt.json, not the
      // (cutoff..head) range
      val pinnedSeg = "seg-pinned-by-future-ckpt.json"
      Files.writeString(mdir.resolve(pinnedSeg),
        """{"files":["data/future.parquet"]}""")
      Files.writeString(mdir.resolve("v000000099.ckpt.json"),
        s"""{"version":99,"segs":["$pinnedSeg"],"files":[],"deletes":[],"tags":{}}""")
      // (b) a fresh UNREFERENCED segment (a checkpointer mid-flight:
      // segments written, link not yet) survives a zero-grace vacuum
      // behind the seg grace floor
      val midFlight = "seg-mid-flight-write.json"
      Files.writeString(mdir.resolve(midFlight),
        """{"files":["data/midflight.parquet"]}""")
      SnapshotLake.segOrphanGraceFloorMs = 300000L
      SnapshotLake.vacuum(root, keepVersions = 3, orphanGraceMs = 0L)
      assert(Files.exists(mdir.resolve(pinnedSeg)),
        "a segment referenced by a checkpoint above the observed head survives")
      assert(Files.exists(mdir.resolve(midFlight)),
        "a fresh unreferenced segment survives behind the grace floor")
      // floor elapsed (simulated by dropping it): the mid-flight orphan
      // is reaped, the future-checkpoint-referenced segment still is not
      SnapshotLake.segOrphanGraceFloorMs = 0L
      SnapshotLake.vacuum(root, keepVersions = 3, orphanGraceMs = 0L)
      assert(Files.exists(mdir.resolve(pinnedSeg)))
      assert(!Files.exists(mdir.resolve(midFlight)),
        "past the grace floor an unreferenced segment is swept")
      assert(SnapshotLake.read(spark, root).count() == 12L)
    } finally SnapshotLake.segOrphanGraceFloorMs = oldFloor
  }

  test("a window that re-adds an already-added path falls back to resolve-based checkpoints (replay parity)") {
    val root = newRoot()
    // two commits ADD the same path — unreachable with this writer's
    // UUID data paths, but records are just files; replay appends both
    // copies, so a COMPOSED checkpoint (ickpt or segment-reuse full,
    // both fed by composeWindow) must not collapse them
    val dup = "data/dup.parquet"
    for (i <- 0 until 10)
      SnapshotLake.commitSynthetic(root, Seq(s"data/a$i.parquet"), 1L)
    // v10's checkpoint is the first full (resolve-based; no prior base)
    SnapshotLake.commitSynthetic(root, Seq(dup), 1L) // v11
    SnapshotLake.commitSynthetic(root, Seq(dup), 1L) // v12: dup in window
    for (i <- 0 until 8)
      SnapshotLake.commitSynthetic(root, Seq(s"data/b$i.parquet"), 1L)
    // v20's checkpoint composes the (10, 20] window — which holds the
    // duplicate add, so composition must bail to the resolve-based path
    val expect = SnapshotLake.files(root, 20L)
    assert(expect.count(_ == dup) == 2,
      "record replay keeps both duplicate adds")
    // the v20 checkpoint must reconstruct the SAME doubled listing —
    // pinned through a fresh copy so resolution rides the checkpoint,
    // not this JVM's resolve cache
    val root2 = newRoot()
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(root), new java.io.File(root2))
    assert(SnapshotLake.files(root2, 20L) == expect,
      "checkpoint-based state equals record replay under duplicate adds")
  }

  test("appends racing vacuum lose no commit (stale-head probe is vacuum-safe)") {
    val root = newRoot()
    val commits = 60
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val writer = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (0 until commits).foreach { i =>
          SnapshotLake.commitSynthetic(root, Seq(s"data/f$i.parquet"), 1L)
        }
      })
      val vac = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          while (!writer.isDone) {
            if (SnapshotLake.currentVersion(root).exists(_ > 5L))
              SnapshotLake.vacuum(root, keepVersions = 3)
            Thread.sleep(1)
          }
      })
      writer.get(120, java.util.concurrent.TimeUnit.SECONDS)
      vac.get(120, java.util.concurrent.TimeUnit.SECONDS)
      // every commit must be visible at the final head: a writer that
      // trusted a stale head would have linked a vacuumed slot below the
      // true head and its file would be missing here
      val cur = SnapshotLake.currentVersion(root).get
      assert(cur == commits.toLong,
        s"$commits commits must allocate versions 1..$commits, head=$cur")
      val live = SnapshotLake.files(root, cur)
      assert(live.size == commits && live.toSet.size == commits,
        s"all $commits appended files visible at head, got ${live.size}")
    } finally pool.shutdownNow()
  }

  test("vacuum victim ordering is ascending by version (probe-safety contract)") {
    val names = Vector("v12.json", "v3.ckpt.json", "v10.ickpt.json",
      "v3.json", "v10.json", "v2.json", "v12.ckpt.json")
    val dir = graft.TestSpark.tempDir("graft-vac-order")
    val paths = names.map(dir.resolve)
    val ordered = SnapshotLake.ascendingByVersion(paths)
      .map(_.getFileName.toString)
    val versions = ordered.map(_.stripPrefix("v").stripSuffix(".json")
      .stripSuffix(".ckpt").stripSuffix(".ickpt").toLong)
    assert(versions == versions.sorted,
      s"victims must delete ascending by version: $ordered")
    assert(versions.head == 2L && versions.last == 12L)
  }

  test("tag probe answers from the checkpoint index in O(1) reads, not O(versions)") {
    val root = newRoot()
    for (i <- 0 until 123)
      SnapshotLake.appendOnce(Seq(i.toLong).toDF("x"), root, s"b$i")
    SnapshotLake.manifestReads.set(0L)
    // a replay of micro-batch 5 (tag landed at version 6, far below the
    // nearest checkpoint) must resolve through the tag INDEX
    val v = SnapshotLake.appendOnce(Seq(5L).toDF("x"), root, "b5")
    assert(v == 6L, "replayed tag resolves to its original version")
    assert(SnapshotLake.manifestReads.get() <= 14,
      s"tag probe read ${SnapshotLake.manifestReads.get()} manifests " +
        "(round-11 scan cost would be ~123)")
    assert(SnapshotLake.currentVersion(root).contains(123L), "no new commit")
  }

  test("vacuum materializes the cutoff checkpoint, prunes tags below it, keeps the window readable") {
    val root = newRoot()
    for (i <- 0 until 25)
      SnapshotLake.appendOnce(Seq(i.toLong).toDF("x"), root, s"t$i")
    SnapshotLake.vacuum(root, keepVersions = 5)
    // cutoff = 21: checkpoint materialized there, older records gone
    assert(Files.exists(ckptPath(root, 21L)))
    assert(!Files.exists(recordPath(root, 20L)))
    assert(SnapshotLake.files(root, 21L).size == 21)
    assert(SnapshotLake.read(spark, root, Some(21L)).count() == 21L)
    assert(SnapshotLake.read(spark, root).count() == 25L)
    // a retained tag still reads as applied; a pruned one is forgotten —
    // retention IS the replay horizon, exactly as documented
    assert(SnapshotLake.appendOnce(Seq(22L).toDF("x"), root, "t22") == 23L)
    val replayedOld = SnapshotLake.appendOnce(Seq(2L).toDF("x"), root, "t2")
    assert(replayedOld == 26L,
      "a tag below the vacuum cutoff is out of the replay horizon")
  }

  test("legacy full-listing manifests resolve as their own base and accept delta commits on top") {
    val root = newRoot()
    // hand-write a round-11-format manifest: full state, no add/remove
    Seq(1L, 2L).toDF("x").write.parquet(s"$root/data/legacy0")
    import scala.jdk.CollectionConverters._
    val legacyFiles = {
      val s = Files.list(java.nio.file.Paths.get(root, "data/legacy0"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).map(n => s"data/legacy0/$n").toVector.sorted
      finally s.close()
    }
    Files.createDirectories(java.nio.file.Paths.get(root, "_manifests"))
    Files.writeString(recordPath(root, 1L),
      s"""{"version":1,"op":"append","base":0,"files":[${
        legacyFiles.map(f => s""""$f"""").mkString(",")}]}""")
    assert(SnapshotLake.files(root, 1L) == legacyFiles)
    // the lake predates declared schemas: a read and an append fail
    // naming it, and the append writes nothing
    val read = intercept[IllegalStateException](SnapshotLake.read(spark, root))
    assert(read.getMessage.contains(root) && read.getMessage.contains("predates declared schemas"))
    intercept[IllegalStateException](SnapshotLake.append(Seq(3L).toDF("x"), root))
    assert(SnapshotLake.currentVersion(root).contains(1L))
    // a record-only delta commit still lands on top of the legacy base
    assert(SnapshotLake.commitSynthetic(root, Seq("data/new/part-0.parquet"), 1L) == 2L)
    assert(SnapshotLake.files(root, 2L).toSet == legacyFiles.toSet + "data/new/part-0.parquet")
  }

  test("first checkpoint over an upgraded legacy lake keeps pre-upgrade idempotence tags") {
    val root = newRoot()
    import scala.jdk.CollectionConverters._
    // three round-11-format manifests, each a FULL listing carrying an
    // idempotence tag — the migration path the log-structure PR supports
    var listing = Vector.empty[String]
    for (v <- 1 to 3) {
      Seq(v.toLong).toDF("x").write.parquet(s"$root/data/legacy$v")
      val fs = {
        val s = Files.list(java.nio.file.Paths.get(root, s"data/legacy$v"))
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).map(n => s"data/legacy$v/$n").toVector.sorted
        finally s.close()
      }
      listing ++= fs
      Files.createDirectories(java.nio.file.Paths.get(root, "_manifests"))
      Files.writeString(recordPath(root, v.toLong),
        s"""{"version":$v,"op":"append","tag":"lb$v","base":${v - 1},"files":[${
          listing.map(f => s""""$f"""").mkString(",")}]}""")
    }
    // new-format (record-only: the legacy lake declares no schema)
    // commits up to the first checkpoint boundary (v10)
    for (i <- 4 to 10)
      assert(SnapshotLake.commitSynthetic(root, Seq(s"data/n$i/part-0.parquet"), 1L) == i.toLong)
    assert(Files.exists(ckptPath(root, 10L)), "checkpoint at the boundary")
    // the probe now answers from the checkpoint index — a pre-upgrade tag
    // must still read as applied, or its replay would double-append
    assert(SnapshotLake.tagVersion(root, "lb2").contains(2L),
      "pre-upgrade tag must survive into the checkpoint index")
    assert(SnapshotLake.files(root, 10L).size == 10, "no duplicated batch")
  }

  test("vacuum prunes out-of-horizon tags even when the cutoff already has a checkpoint") {
    val root = newRoot()
    for (i <- 0 until 25)
      SnapshotLake.appendOnce(Seq(i.toLong).toDF("x"), root, s"t$i")
    // cutoff = 20 lands exactly on a commit-time checkpoint (CkptEvery
    // multiple), which still holds the UNPRUNED tag map — vacuum must
    // rewrite it, not skip on EEXIST, or replay semantics at the horizon
    // would depend on where the cutoff happened to fall
    SnapshotLake.vacuum(root, keepVersions = 6)
    assert(Files.exists(ckptPath(root, 20L)))
    assert(!Files.exists(recordPath(root, 19L)))
    // in-horizon tag: still a no-op replay
    assert(SnapshotLake.appendOnce(Seq(21L).toDF("x"), root, "t21") == 22L)
    // out-of-horizon tag: deterministically forgotten (fresh commit)
    assert(SnapshotLake.appendOnce(Seq(2L).toDF("x"), root, "t2") == 26L,
      "a tag below the cutoff must read as absent after vacuum")
  }

  // ── partition-aware lake (round 13) ──────────────────────────────────

  /** (p, x) rows: partition p ∈ [0, parts), x dense over [0, n). */
  private def pk(n: Int, parts: Int) =
    (0 until n).map(i => (i.toLong % parts, i.toLong)).toDF("p", "x")

  test("partitioned appends record partition tuples in file paths; reads re-attach the columns") {
    val root = newRoot()
    SnapshotLake.appendPartitioned(pk(30, 3), root, Seq("p"))
    SnapshotLake.appendPartitioned(pk(30, 3).withColumn("x", col("x") + 100), root, Seq("p"))
    val rel = SnapshotLake.files(root, 2L)
    assert(rel.forall(_.matches("data/commit=[^/]+/p=\\d+/.*\\.parquet")),
      s"partition tuple must ride the manifest path: $rel")
    val df = SnapshotLake.read(spark, root)
    assert(df.columns.toSet == Set("p", "x"), "partition column re-attached, marker dropped")
    assert(df.count() == 60L)
    assert(df.filter(col("p") === 1).count() == 20L)
    // pinned version isolation unchanged
    assert(SnapshotLake.read(spark, root, Some(1L)).count() == 30L)
  }

  test("readPruned composes partition pruning with the stats index — both levels drop files") {
    val root = newRoot()
    // x within each partition spans a distinct band per append, so a
    // (p = 1) ∧ (x band) predicate needs BOTH pruning levels to isolate
    // one file of twelve
    val idx = SnapshotLake.IndexSpec(Seq("x"), None)
    for (b <- 0 until 4)
      SnapshotLake.appendPartitioned(
        (0 until 30).map(i => (i.toLong % 3, b * 1000L + i)).toDF("p", "x")
          .repartition(1),
        root, Seq("p"), idx)
    val all = SnapshotLake.files(root, 4L)
    assert(all.size == 12, s"4 appends × 3 partitions: ${all.size}")
    // partition level only: p = 1 keeps one file per append
    val pOnly = SnapshotLake.readPruned(spark, root,
      Seq(FileStats.Range("p", Some("1"), Some("1"))))
    assert(pOnly.kept == 4 && pOnly.total == 12, s"${pOnly.kept}/${pOnly.total}")
    assert(pOnly.df.count() == 40L)
    // composed: p = 1 ∧ x ∈ append-2's band keeps exactly one file
    val both = SnapshotLake.readPruned(spark, root, Seq(
      FileStats.Range("p", Some("1"), Some("1")),
      FileStats.Range("x", Some("2000"), Some("2999"))))
    assert(both.kept == 1 && both.total == 12, s"${both.kept}/${both.total}")
    assert(both.df.collect().map(_.getAs[Long]("x")).toSet ==
      (0 until 30).filter(_ % 3 == 1).map(i => 2000L + i).toSet)
  }

  test("merge keyed on the partition column targets files by path tuple alone") {
    val root = newRoot()
    // dimension-style lake: one partition per key, NO sidecar index —
    // candidate targeting must come entirely from the path-encoded
    // partition tuple (the "merge keyed on a partition column" case;
    // rows never move partitions because the key IS the partition)
    val dim = (0L until 6L).map(i => (i, s"v$i")).toDF("k", "payload")
    SnapshotLake.appendPartitioned(dim, root, Seq("k"))
    val before = SnapshotLake.files(root, 1L)
    val ups = Seq((2L, "V2", false), (5L, "x", true)).toDF("k", "payload", "__del")
    val v2 = SnapshotLake.merge(spark, root, ups, "k", deleteCol = Some("__del"))
    val after = SnapshotLake.files(root, v2)
    val carried = before.toSet intersect after.toSet
    assert(before.filter(f => !f.contains("/k=2/") && !f.contains("/k=5/"))
      .forall(carried), "partitions outside the update keys carried verbatim")
    assert(before.filter(f => f.contains("/k=2/") || f.contains("/k=5/"))
      .forall(f => !carried(f)), "k=2 and k=5 partitions are the rewrite targets")
    assert(after.filterNot(before.toSet).forall(_.startsWith("data/commit=")),
      "the rewrite must stay hive-partitioned")
    val got = SnapshotLake.read(spark, root)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("payload")).toMap
    assert(got == Map(0L -> "v0", 1L -> "v1", 2L -> "V2", 3L -> "v3", 4L -> "v4"),
      "k=5 deleted, k=2 upserted in place")
  }

  test("compact preserves partitioning; vacuum sweeps nested partition directories") {
    val root = newRoot()
    SnapshotLake.appendPartitioned(pk(30, 3), root, Seq("p"))
    SnapshotLake.appendPartitioned(pk(30, 3).withColumn("x", col("x") + 100), root, Seq("p"))
    val v3 = SnapshotLake.compact(spark, root)
    assert(SnapshotLake.files(root, v3).forall(_.startsWith("data/commit=")),
      "compaction rewrite keeps the hive layout")
    assert(SnapshotLake.read(spark, root).count() == 60L)
    assert(SnapshotLake.read(spark, root).filter(col("p") === 2).count() == 20L)
    SnapshotLake.vacuum(root, keepVersions = 1)
    // pre-compaction nested files referenced by no retained manifest are
    // gone, directories pruned bottom-up
    import scala.jdk.CollectionConverters._
    val w = Files.walk(java.nio.file.Paths.get(root, "data"))
    val liveParquet =
      try w.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toVector
      finally w.close()
    val retained = SnapshotLake.files(root, v3).toSet
    assert(liveParquet.size == retained.size,
      s"vacuum must reap nested pre-compaction files: ${liveParquet.size} vs ${retained.size}")
    assert(SnapshotLake.read(spark, root).count() == 60L, "head still readable")
  }

  test("mixed plain/partitioned listings read as one relation with NULL partition columns") {
    val root = newRoot()
    SnapshotLake.appendPartitioned(pk(10, 2), root, Seq("p"))
    // a plain auto-merging append into a partitioned lake: its rows
    // carry no partition value
    SnapshotLake.append(Seq(100L, 101L).toDF("x"), root, mergeSchema = true)
    val df = SnapshotLake.read(spark, root)
    assert(df.count() == 12L)
    assert(df.filter(col("p").isNull).select("x").collect()
      .map(_.getLong(0)).toSet == Set(100L, 101L),
      "plain files surface NULL partition values (the mergeSchema contract)")
  }

  test("evolve commits declare ADD COLUMN before any file carries it; widening and rewrites honor the declared schema") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val root = newRoot()
    SnapshotLake.append(Seq((1L, 10), (2L, 20)).toDF("x", "n"), root) // v1: n INT
    val evolved = StructType(Seq(
      StructField("x", LongType), StructField("n", LongType), // n widened
      StructField("tag", StringType))) // tag added
    val v2 = SnapshotLake.evolveSchema(spark, root, evolved)
    assert(v2 == 2L)
    assert(SnapshotLake.declaredSchema(root).contains(evolved))
    // visible BEFORE any file carries the column; old files null-fill
    val head = SnapshotLake.read(spark, root)
    assert(head.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("x", LongType), ("n", LongType), ("tag", StringType)))
    assert(head.collect().map(r =>
      (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet ==
      Set((1L, 10L, None), (2L, 20L, None)))
    // a version pinned below the evolve reads the pre-evolution shape
    val pinned = SnapshotLake.read(spark, root, Some(1L))
    assert(pinned.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("x", LongType), ("n", IntegerType)))
    // appends may now carry the new shape; the mixed listing aligns
    SnapshotLake.append(Seq((3L, 30L, "t3")).toDF("x", "n", "tag"), root) // v3
    def contents() = SnapshotLake.read(spark, root).collect().map(r =>
      (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
    assert(contents() == Set((1L, 10L, None), (2L, 20L, None),
      (3L, 30L, Some("t3"))))
    // refusals: drop and narrowing are rewrites, not metadata commits
    intercept[IllegalArgumentException] {
      SnapshotLake.evolveSchema(spark, root, StructType(Seq(
        StructField("x", LongType), StructField("tag", StringType))))
    }
    intercept[IllegalArgumentException] {
      SnapshotLake.evolveSchema(spark, root, StructType(Seq(
        StructField("x", LongType), StructField("n", IntegerType),
        StructField("tag", StringType))))
    }
    // rewrites read through the declared schema: a merge and a compaction
    // over the mixed pre/post-evolution files keep every value
    SnapshotLake.merge(spark, root,
      Seq((2L, 200L, "t2")).toDF("x", "n", "tag"), "x") // v4
    assert(contents() == Set((1L, 10L, None), (2L, 200L, Some("t2")),
      (3L, 30L, Some("t3"))))
    SnapshotLake.compact(spark, root) // v5: materializes declared shape
    assert(contents() == Set((1L, 10L, None), (2L, 200L, Some("t2")),
      (3L, 30L, Some("t3"))))
    // checkpoints persist the declaration: vacuum past the evolve commit
    // and the schema survives resolution from the checkpoint alone
    SnapshotLake.vacuum(root, keepVersions = 2)
    assert(SnapshotLake.declaredSchema(root).contains(evolved),
      "the declared schema must ride the checkpoint across vacuum")
    assert(contents() == Set((1L, 10L, None), (2L, 200L, Some("t2")),
      (3L, 30L, Some("t3"))))
  }

  test("schema evolution over a hive-PARTITIONED lake: declared reads keep the partition tuples") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = newRoot()
    SnapshotLake.appendPartitioned(
      Seq((1L, "a"), (2L, "b")).toDF("x", "p").repartition(1), root, Seq("p"))
    SnapshotLake.evolveSchema(spark, root, StructType(Seq(
      StructField("x", LongType), StructField("p", StringType),
      StructField("note", StringType))))
    SnapshotLake.appendPartitioned(
      Seq((3L, "a", "n3")).toDF("x", "p", "note").repartition(1),
      root, Seq("p"))
    val df = SnapshotLake.read(spark, root)
    assert(df.schema.fieldNames.toSeq == Seq("x", "p", "note"))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1),
      Option(r.getString(2)))).toSet ==
      Set((1L, "a", None), (2L, "b", None), (3L, "a", Some("n3"))))
    // the partition column still prunes through the declared read's plan
    assert(df.filter(col("p") === "b").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // and a compaction of the evolved partitioned lake round-trips
    SnapshotLake.compact(spark, root)
    assert(SnapshotLake.read(spark, root).collect().map(r =>
      (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet ==
      Set((1L, "a", None), (2L, "b", None), (3L, "a", Some("n3"))))
  }

  test("an evolve commit racing appends: both land under CAS, no row lost, the declaration survives") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = newRoot()
    SnapshotLake.append(Seq((0L, "v0")).toDF("k", "v"), root) // v1
    val decl = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("tag", StringType)))
    // four auto-merging appenders race one evolver; every CAS loser
    // retries, and an append that lands after the evolve re-checks
    // against it: its rows fit the evolved schema, `tag` null-filled
    val writers = (1 to 4).map(i => Future {
      SnapshotLake.append(Seq((i.toLong, s"v$i")).toDF("k", "v"), root, mergeSchema = true)
    }) :+ Future { SnapshotLake.evolveSchema(spark, root, decl) }
    val versions = Await.result(Future.sequence(writers), 120.seconds)
    assert(versions.sorted == (2L to 6L),
      s"five racing commits take five distinct versions: $versions")
    assert(SnapshotLake.declaredSchema(root).contains(decl),
      "the declaration survives whatever commit order the race produced")
    val head = SnapshotLake.read(spark, root)
    assert(head.schema.fieldNames.toSeq == Seq("k", "v", "tag"))
    assert(head.select("k").collect().map(_.getLong(0)).toSet ==
      (0L to 4L).toSet, "no racing append lost")
  }

  test("hive-escaped partition values decode before range classification: DELETE and fast counts see the real value") {
    val root = newRoot()
    // ':' hive-escapes to %3A and '=' to %3D in partition directory names;
    // predicates carry the UNESCAPED literal — comparing it against raw
    // path text would misclassify (a DELETE that silently deletes nothing)
    val df = Seq((1L, "a:b"), (2L, "a:b"), (3L, "c=d"), (4L, "plain"))
      .toDF("x", "cat")
    SnapshotLake.appendPartitioned(df.repartition(1), root, Seq("cat"))
    assert(SnapshotLake.files(root, 1L).exists(_.contains("%3A")),
      "the fixture must actually exercise escaped directory names")
    // metadata-exact count on the escaped value: zero files scanned
    val cnt = SnapshotLake.fastCountWhere(spark, root,
      Seq(FileStats.Range("cat", Some("a:b"), Some("a:b"))))
    assert(cnt.exists(c => c.rows == 2L && c.scannedFiles == 0),
      s"escaped partition must whole-match from metadata: $cnt")
    // DELETE on the escaped value: a whole-file drop, no rewrite, no miss
    val res = SnapshotLake.deleteMatching(spark, root,
      Seq(FileStats.Range("cat", Some("a:b"), Some("a:b"))))
    assert(res.dropped == 1 && res.rewritten == 0,
      s"the escaped partition classifies as a WHOLE drop: $res")
    assert(SnapshotLake.read(spark, root).select("x").collect()
      .map(_.getLong(0)).toSet == Set(3L, 4L))
    // numericness vote runs on DECODED values: '1.5' arrives as '1%2E5'
    // only if the writer escapes dots — it doesn't — but a mixed listing
    // with an escaped string next to numerics must still vote STRING
    val root2 = newRoot()
    SnapshotLake.appendPartitioned(
      Seq((1L, "25"), (2L, "a:b")).toDF("x", "cat").repartition(1),
      root2, Seq("cat"))
    val miss = SnapshotLake.fastCountWhere(spark, root2,
      Seq(FileStats.Range("cat", Some("a:b"), Some("a:b"))))
    assert(miss.exists(_.rows == 1L),
      s"mixed listing compares as string and still finds the row: $miss")
  }

  test("zero-row data files never enter a commit: an all-matching rewrite " +
      "and an empty append both land as file-free commits") {
    val root = newRoot()
    // NO stats index: wholeMatch can't prove the drop, so deleteMatching
    // must REWRITE — and the rewrite's survivor set is empty, which is
    // exactly the shape that leaves Spark's writer emitting a zero-row
    // parquet file (the 100× q237/q243 post-delete head carried one and
    // fastCountWhere had to class the statless file as scanned)
    SnapshotLake.append((1L to 10L).toDF("x").coalesce(1), root)
    val res = SnapshotLake.deleteMatching(spark, root,
      Seq(FileStats.Range("x", Some("1"), Some("10"))))
    assert(res.rewritten == 1 && res.dropped == 0,
      s"the statless file must classify as a rewrite: $res")
    assert(SnapshotLake.files(root, 2L).isEmpty,
      "an empty survivor set commits ZERO files, not one empty parquet")
    // the emptied table stays READABLE: zero rows under the schema
    // inherited from the nearest ancestor version that listed files
    val emptied = SnapshotLake.read(spark, root)
    assert(emptied.columns.toSeq == Seq("x") && emptied.count() == 0L)
    // an append of an empty relation: same invariant from the other side
    val v3 = SnapshotLake.append(
      (1L to 3L).toDF("x").filter(col("x") > 100L), root)
    assert(SnapshotLake.files(root, v3).isEmpty,
      "an empty append commits zero files")
    // and no committed-or-orphan zero-row parquet survives on disk either
    val dataDir = java.nio.file.Paths.get(root, "data")
    val s = java.nio.file.Files.walk(dataDir)
    val empties =
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .filter(p => spark.read.parquet(p.toString).isEmpty).toVector
      } finally s.close()
    assert(empties.isEmpty, s"zero-row parquet left on disk: $empties")
  }

  test("delete-and-recreate at the same root is never served stale state, " +
      "even with a same-size same-mtime version file") {
    val root = newRoot()
    SnapshotLake.append(Seq(1L).toDF("x").coalesce(1), root)
    val before = SnapshotLake.files(root, 1L) // warms the resolve cache
    val vf = java.nio.file.Paths.get(root, "_manifests", "v000000001.json")
    val (oldMtime, oldSize) =
      (java.nio.file.Files.getLastModifiedTime(vf), java.nio.file.Files.size(vf))
    // the recreated lake is built at a SIBLING root and moved into place,
    // so no commit-path resolve ever runs between the warm read above and
    // the stale-serve attempt below. Its file names are fresh uuids of
    // identical length (same-size version record), and the old mtime is
    // forced back — leaving fileKey (the inode) as the ONLY component of
    // the fingerprint that can tell the two lakes apart.
    val staging = newRoot()
    SnapshotLake.append(Seq(2L).toDF("x").coalesce(1), staging)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    java.nio.file.Files.move(java.nio.file.Paths.get(staging),
      java.nio.file.Paths.get(root))
    assume(java.nio.file.Files.size(vf) == oldSize,
      "recreated version record must be same-size for this pin")
    java.nio.file.Files.setLastModifiedTime(vf, oldMtime)
    val after = SnapshotLake.files(root, 1L)
    assert(after != before,
      "resolve must see the recreated lake's files, not the cached state")
    assert(rows(root) == Set(2L))
  }

  test("the publish seam: a deterministically race-losing publisher forces CAS retries; the commit lands intact") {
    val root = newRoot()
    SnapshotLake.append(Seq(1L).toDF("x"), root) // v1 through the default (POSIX) publisher
    val losses = new java.util.concurrent.atomic.AtomicInteger(3)
    val observedTargets = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    try {
      SnapshotLake.setPublisher(root, new SnapshotLake.CommitPublisher {
        def tryPublish(target: java.nio.file.Path,
                       tmp: java.nio.file.Path): Boolean = {
          observedTargets.add(target.getFileName.toString)
          // conditional-PUT rejection (S3 If-None-Match / EEXIST): the
          // first three COMMIT publishes report a lost race; checkpoint
          // publishes pass through
          if (!target.getFileName.toString.endsWith(".ckpt.json") &&
              losses.getAndDecrement() > 0) false
          else SnapshotLake.PosixLinkPublisher.tryPublish(target, tmp)
        }
      })
      val lostBefore = SnapshotLake.casLost.get()
      val v = SnapshotLake.append(Seq(2L).toDF("x"), root)
      assert(v == 2L, "after three lost races the commit wins the same free slot")
      assert(SnapshotLake.casLost.get() - lostBefore == 3L,
        "every rejected publish is counted as a lost CAS")
      import scala.jdk.CollectionConverters._
      assert(observedTargets.asScala.count(_ == "v000000002.json") == 4,
        "three losses + the winning attempt, all through the seam")
      assert(rows(root) == Set(1L, 2L))
    } finally SnapshotLake.clearPublisher(root)
    // the override is gone: later commits ride the default publisher
    assert(SnapshotLake.append(Seq(3L).toDF("x"), root) == 3L)
    assert(rows(root) == Set(1L, 2L, 3L))
  }

  test("each version answers its declared schema; a recreated lake serves its new one") {
    val root = newRoot()
    SnapshotLake.append(Seq(1L).toDF("x"), root) // v1 declares (x)
    assert(SnapshotLake.schemaOf(root, Some(1L)).fieldNames.toSeq == Seq("x"))
    // a wider append refuses without mergeSchema; with it, v2 declares the
    // union on its own record, while v1 keeps answering its own shape
    intercept[IllegalArgumentException](
      SnapshotLake.append(Seq((2L, "a")).toDF("x", "s"), root))
    SnapshotLake.append(Seq((2L, "a")).toDF("x", "s"), root, mergeSchema = true) // v2
    assert(SnapshotLake.schemaOf(root).fieldNames.toSeq == Seq("x", "s"))
    assert(SnapshotLake.schemaOf(root, Some(1L)).fieldNames.toSeq == Seq("x"),
      "the older version still answers its own shape")
    // delete-and-recreate at the same root: resolution validates the
    // version file's fingerprint, so the recreated lake's schema must be
    // served, never the cached one
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    SnapshotLake.append(Seq((1L, 2L)).toDF("a", "b"), root) // new v1
    assert(SnapshotLake.schemaOf(root, Some(1L)).fieldNames.toSeq == Seq("a", "b"),
      "a recreated lake's schema replaces the cached one")
  }

  // ── the log holds the table schema ──────────────────────────────────

  test("an overwrite declares its own schema, through the library and the connector") {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField, StructType}
    Seq("library", "connector").foreach { via =>
      val root = newRoot()
      SnapshotLake.append(Seq((1L, "a")).toDF("k", "s"), root)
      SnapshotLake.evolveSchema(spark, root, StructType(Seq(StructField("k", LongType),
        StructField("s", StringType), StructField("extra", IntegerType))))
      val df = Seq((7, 2.5)).toDF("x", "y")
      if (via == "library") SnapshotLake.overwrite(df, root)
      else df.write.format("graftlake").mode("overwrite").save(root)
      val got = SnapshotLake.read(spark, root)
      assert(got.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        Seq(("x", IntegerType), ("y", DoubleType)), via)
      assert(got.collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq == Seq((7, 2.5)), via)
      // the new table's shape appends, the replaced one refuses, and time
      // travel reads the replaced table under its own schema
      SnapshotLake.append(Seq((8, 3.5)).toDF("x", "y"), root)
      intercept[IllegalArgumentException](SnapshotLake.append(Seq((2L, "b")).toDF("k", "s"), root))
      assert(SnapshotLake.read(spark, root, Some(2L)).columns.toSeq == Seq("k", "s", "extra"), via)
    }
  }

  test("a clone carries the source version's declared schema, renames and drops included") {
    def contents(root: String) = {
      val df = SnapshotLake.read(spark, root)
      (df.columns.toSeq, df.collect().map(_.toSeq).toSeq)
    }
    val src = newRoot()
    SnapshotLake.append(Seq((1L, "a", 10L)).toDF("k", "s", "gone"), src)
    SnapshotLake.renameColumn(spark, src, "s", "name")
    SnapshotLake.dropColumn(spark, src, "gone")
    assert(contents(src) == ((Seq("k", "name"), Seq(Seq(1L, "a")))))
    val head = newRoot()
    SnapshotLake.cloneTo(src, head)
    assert(contents(head) == contents(src))
    // a clone of a version pinned before the rename has the old shape
    val pinned = newRoot()
    SnapshotLake.cloneTo(src, pinned, Some(1L))
    assert(contents(pinned) == ((Seq("k", "s", "gone"), Seq(Seq(1L, "a", 10L)))))
  }

  test("a restore across an overwrite of another shape reads the target version as it was") {
    def contents(root: String, v: Option[Long] = None) = {
      val df = SnapshotLake.read(spark, root, v)
      (df.schema.fields.map(f => (f.name, f.dataType)).toSeq, df.collect().map(_.toSeq).toSeq)
    }
    // the overwrite drops every column of v1
    val a = newRoot()
    SnapshotLake.append(Seq((1L, "a")).toDF("k", "s"), a)
    SnapshotLake.overwrite(Seq((7, 2.5)).toDF("x", "y"), a)
    assert(contents(a) != contents(a, Some(1L)))
    SnapshotLake.restore(a, 1L)
    assert(contents(a) == contents(a, Some(1L)))
    SnapshotLake.append(Seq((2L, "b")).toDF("k", "s"), a)
    // a renamed column lives under its old physical name in v2's files;
    // the overwrite writes that name unmapped
    val b = newRoot()
    SnapshotLake.append(Seq((1L, "a")).toDF("k", "s"), b)
    SnapshotLake.renameColumn(spark, b, "s", "name")
    SnapshotLake.overwrite(Seq((3L, "c")).toDF("k", "name"), b)
    SnapshotLake.restore(b, 2L)
    assert(contents(b) == contents(b, Some(2L)))
    assert(contents(b)._2 == Seq(Seq(1L, "a")))
    // an overwrite that only adds a column keeps its schema through the restore
    val c = newRoot()
    SnapshotLake.append(Seq((1L, "a")).toDF("k", "s"), c)
    SnapshotLake.overwrite(Seq((5L, "e", 9)).toDF("k", "s", "z"), c)
    SnapshotLake.restore(c, 1L)
    assert(SnapshotLake.read(spark, c).collect().map(_.toSeq).toSeq == Seq(Seq(1L, "a", null)))
  }

  test("a merge of another shape is refused before anything is written") {
    import scala.jdk.CollectionConverters._
    def dataFiles(root: String) = {
      val w = Files.walk(java.nio.file.Paths.get(root, "data"))
      try w.iterator().asScala.count(Files.isRegularFile(_)) finally w.close()
    }
    val root = newRoot()
    SnapshotLake.append(Seq((1L, "a")).toDF("k", "v"), root, kvIdx)
    val before = dataFiles(root)
    // no live file can hold key 100, so the update rows are the whole write
    intercept[IllegalArgumentException](
      SnapshotLake.merge(spark, root, Seq((100L, 7)).toDF("k", "v"), "k", kvIdx))
    intercept[IllegalArgumentException](
      SnapshotLake.merge(spark, root, Seq((1L, 7)).toDF("k", "v"), "k", kvIdx))
    assert(SnapshotLake.currentVersion(root).contains(1L))
    assert(dataFiles(root) == before)
    SnapshotLake.merge(spark, root, Seq((100L, "b")).toDF("k", "v"), "k", kvIdx)
    assert(SnapshotLake.read(spark, root).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (100L, "b")))
  }

  test("partition columns keep the type their append wrote; a wider plain append merges or refuses") {
    import org.apache.spark.sql.types.LongType
    val root = newRoot()
    SnapshotLake.appendPartitioned(Seq((1L, "007"), (2L, "10")).toDF("x", "p"), root, Seq("p"))
    val df = SnapshotLake.read(spark, root)
    assert(df.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq ==
      Seq(("x", "bigint"), ("p", "string")))
    assert(df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "007", 2L -> "10"))
    // a string partition column prunes as a string: "007" ≤ "08" < "10"
    val pruned = SnapshotLake.readPruned(spark, root, Seq(FileStats.Range("p", Some("0"), Some("08"))))
    assert(pruned.kept == 1 && pruned.df.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // an int partition column, then a plain append carrying it as bigint:
    // refused without mergeSchema, widened with it, and the lake reads
    val mixed = newRoot()
    SnapshotLake.appendPartitioned(Seq((1L, 1), (2L, 2)).toDF("x", "p"), mixed, Seq("p"))
    val wide = Seq((3L, 3L)).toDF("x", "p")
    intercept[IllegalArgumentException](SnapshotLake.append(wide, mixed))
    assert(SnapshotLake.currentVersion(mixed).contains(1L))
    SnapshotLake.append(wide, mixed, mergeSchema = true)
    SnapshotLake.appendPartitioned(Seq((4L, 4L)).toDF("x", "p"), mixed, Seq("p"))
    val all = SnapshotLake.read(spark, mixed)
    assert(all.schema("p").dataType == LongType)
    assert(all.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    // and its paths compare as numbers: p=2 and p=4 lie in [2, 4]
    assert(SnapshotLake.readPruned(spark, mixed, Seq(FileStats.Range("p", Some("2"), Some("4"))))
      .df.collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L))
  }

  test("an append checked against an empty lake re-checks at its link: another shape refuses") {
    val root = newRoot()
    // both batches pass their check on the empty lake, then another
    // writer's first commit declares (a, b)
    val ac = SnapshotLake.stageAppend(Seq((2L, 2.0)).toDF("a", "c"), root)
    val ab = SnapshotLake.stageAppend(Seq((3L, "c")).toDF("a", "b"), root)
    SnapshotLake.append(Seq((1L, "a")).toDF("a", "b"), root) // v1
    intercept[IllegalArgumentException](SnapshotLake.publish(root, ac))
    assert(SnapshotLake.currentVersion(root).contains(1L))
    // the batch of the declared shape links, declaring nothing itself
    assert(SnapshotLake.publish(root, ab) == 2L)
    assert(SnapshotLake.declaredSchema(root, Some(2L)) == SnapshotLake.declaredSchema(root, Some(1L)))
    assert(SnapshotLake.read(spark, root).collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 3L -> "c"))
  }
}
