package graft.etl

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The in-JVM group-commit coalescer under its contract: concurrent
  * appends land under FEWER manifest links than writers, every
  * writer's files are in its returned version's record, readers see
  * the union, a leader failure surfaces to every coalesced member
  * without wedging the committer, and grouped ∥ solo appends
  * reconcile exactly. */
class GroupCommitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot(): String =
    graft.TestSpark.tempDir("graft-group-spec").toString + "/lake"

  /** A publisher that parks `ms` per conditional publish — the
    * object-store window group commit exists to amortize. */
  private def slowPublisher(ms: Long) = new SnapshotLake.CommitPublisher {
    def tryPublish(target: java.nio.file.Path,
                   tmp: java.nio.file.Path): Boolean = {
      java.util.concurrent.locks.LockSupport.parkNanos(ms * 1000000L)
      SnapshotLake.PosixLinkPublisher.tryPublish(target, tmp)
    }
  }

  test("single grouped append is a plain append: version 1, readable") {
    val root = newRoot()
    val v = SnapshotLake.appendGrouped(Seq(1L, 2L, 3L).toDF("x"), root)
    assert(v == 1L)
    assert(SnapshotLake.read(spark, root).count() == 3L)
  }

  test("grouped appends of two shapes onto an empty lake: one shape declares, the other fails") {
    val root = newRoot()
    val xs = Seq(1L, 2L).toDF("x")
    val ys = Seq("a", "b").toDF("y")
    SnapshotLake.setPublisher(root, slowPublisher(50))
    try {
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(4)
      val results = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[scala.util.Try[Long]] {
          def call(): scala.util.Try[Long] = {
            start.await()
            scala.util.Try(SnapshotLake.appendGrouped(if (t % 2 == 0) xs else ys, root))
          }
        })
      }
      start.countDown()
      val got = results.map(_.get(120, TimeUnit.SECONDS))
      pool.shutdown()
      val cols = SnapshotLake.read(spark, root).columns.toSeq
      val won = if (cols == Seq("x")) 0 else 1
      assert(cols == Seq("x") || cols == Seq("y"), s"one shape declares: $cols")
      got.zipWithIndex.foreach { case (r, t) =>
        if (t % 2 == won) assert(r.isSuccess, s"member $t: $r")
        else assert(r.failed.toOption.exists(_.isInstanceOf[IllegalArgumentException]),
          s"member $t of the other shape must fail: $r")
      }
      assert(SnapshotLake.read(spark, root).count() == 4L)
    } finally SnapshotLake.clearPublisher(root)
  }

  test("16 simultaneous synthetic commits coalesce under a slow publisher; reconcile exact") {
    val root = newRoot()
    Files.createDirectories(java.nio.file.Paths.get(root))
    SnapshotLake.setPublisher(root, slowPublisher(50))
    try {
      val n = 16
      val rels = (0 until n).map(t => Seq(f"data/g$t%02d/part-000.parquet"))
      rels.foreach { r =>
        val p = java.nio.file.Paths.get(root, r.head)
        Files.createDirectories(p.getParent); Files.createFile(p)
      }
      val start = new CountDownLatch(1)
      val done = new CountDownLatch(n)
      val versions = new Array[Long](n)
      val pool = Executors.newFixedThreadPool(n)
      (0 until n).foreach { t =>
        pool.execute { () =>
          start.await()
          versions(t) = SnapshotLake.commitSyntheticGrouped(root, rels(t), 1L)
          done.countDown()
        }
      }
      start.countDown()
      assert(done.await(60, TimeUnit.SECONDS), "race stalled")
      pool.shutdown()
      val head = SnapshotLake.currentVersion(root).get
      // 16 writers enqueue inside the first leader's 50 ms publish —
      // the followers coalesce into (far) fewer links than writers
      assert(head < n, s"expected coalescing, got $head links for $n commits")
      // every writer's files are in the record of the version it was
      // told it committed under
      (0 until n).foreach { t =>
        val rec = SnapshotLake.readRecord(root, versions(t))
        assert(rec.add.contains(rels(t).head),
          s"writer $t files missing from its version ${versions(t)}")
      }
      // and the resolved head carries every staged file exactly once
      val resolved = SnapshotLake.files(root, head)
      assert(resolved.size == n && resolved.toSet == rels.map(_.head).toSet)
    } finally SnapshotLake.clearPublisher(root)
  }

  test("combined record sums addedRows across the batch") {
    val root = newRoot()
    Files.createDirectories(java.nio.file.Paths.get(root))
    SnapshotLake.setPublisher(root, slowPublisher(50))
    try {
      val n = 8
      val rels = (0 until n).map(t => Seq(f"data/r$t%02d/part-000.parquet"))
      rels.foreach { r =>
        val p = java.nio.file.Paths.get(root, r.head)
        Files.createDirectories(p.getParent); Files.createFile(p)
      }
      val start = new CountDownLatch(1)
      val done = new CountDownLatch(n)
      val pool = Executors.newFixedThreadPool(n)
      (0 until n).foreach { t =>
        pool.execute { () =>
          start.await()
          SnapshotLake.commitSyntheticGrouped(root, rels(t), (t + 1).toLong)
          done.countDown()
        }
      }
      start.countDown()
      assert(done.await(60, TimeUnit.SECONDS), "race stalled")
      pool.shutdown()
      val head = SnapshotLake.currentVersion(root).get
      val totalRows = (1L to n.toLong).sum
      val recorded = (1L to head)
        .map(v => SnapshotLake.readRecord(root, v).addedRows).sum
      assert(recorded == totalRows,
        s"addedRows across links $recorded != logical total $totalRows")
    } finally SnapshotLake.clearPublisher(root)
  }

  test("leader failure completes every coalesced member exceptionally and releases the committer") {
    val root = newRoot()
    Files.createDirectories(java.nio.file.Paths.get(root))
    val calls = new AtomicInteger
    // every publish in the first wave throws — each drained batch fails
    // to ALL its members; the committer must stay usable afterwards
    SnapshotLake.setPublisher(root, new SnapshotLake.CommitPublisher {
      def tryPublish(target: java.nio.file.Path,
                     tmp: java.nio.file.Path): Boolean = {
        java.util.concurrent.locks.LockSupport.parkNanos(30L * 1000000L)
        if (calls.incrementAndGet() <= 16)
          throw new RuntimeException("injected publish outage")
        SnapshotLake.PosixLinkPublisher.tryPublish(target, tmp)
      }
    })
    try {
      val n = 4
      val rels = (0 until n).map(t => Seq(f"data/f$t%02d/part-000.parquet"))
      rels.foreach { r =>
        val p = java.nio.file.Paths.get(root, r.head)
        Files.createDirectories(p.getParent); Files.createFile(p)
      }
      val start = new CountDownLatch(1)
      val done = new CountDownLatch(n)
      val failures = new AtomicInteger
      val pool = Executors.newFixedThreadPool(n)
      (0 until n).foreach { t =>
        pool.execute { () =>
          start.await()
          try { SnapshotLake.commitSyntheticGrouped(root, rels(t), 1L); () }
          catch { case e: RuntimeException
              if e.getMessage == "injected publish outage" =>
            failures.incrementAndGet(); ()
          }
          done.countDown()
        }
      }
      start.countDown()
      assert(done.await(60, TimeUnit.SECONDS), "failure wave stalled")
      pool.shutdown()
      assert(failures.get == n,
        s"every member sees the leader's failure: ${failures.get} of $n")
      // the injected outage has passed (>16 calls consumed or not —
      // force past it) and the committer is not wedged
      calls.set(1000)
      val v = SnapshotLake.commitSyntheticGrouped(
        root, Seq("data/after/part-000.parquet"), 1L)
      assert(SnapshotLake.files(root, v)
        .contains("data/after/part-000.parquet"))
    } finally SnapshotLake.clearPublisher(root)
  }

  test("tagged grouped commits coalesce into one multi-tag link; every tag probes to its version; replay rides") {
    val root = newRoot()
    Files.createDirectories(java.nio.file.Paths.get(root))
    SnapshotLake.setPublisher(root, slowPublisher(50))
    try {
      val n = 8
      val rels = (0 until n).map(t => Seq(f"data/t$t%02d/part-000.parquet"))
      rels.foreach { r =>
        val p = java.nio.file.Paths.get(root, r.head)
        Files.createDirectories(p.getParent); Files.createFile(p)
      }
      val start = new CountDownLatch(1)
      val done = new CountDownLatch(n)
      val versions = new Array[Long](n)
      val pool = Executors.newFixedThreadPool(n)
      (0 until n).foreach { t =>
        pool.execute { () =>
          start.await()
          versions(t) = SnapshotLake.commitSyntheticGrouped(
            root, rels(t), 1L, Some(s"epoch-$t"))
          done.countDown()
        }
      }
      start.countDown()
      assert(done.await(60, TimeUnit.SECONDS), "tagged race stalled")
      pool.shutdown()
      val head = SnapshotLake.currentVersion(root).get
      assert(head < n, s"expected coalescing, got $head links for $n tags")
      (0 until n).foreach { t =>
        assert(SnapshotLake.tagVersion(root, s"epoch-$t")
          .contains(versions(t)),
          s"tag epoch-$t must probe to its committed version")
      }
      // a coalesced link's record carries every member's tag
      val multi = (1L to head).map(v => SnapshotLake.readRecord(root, v))
        .filter(_.tags.size > 1)
      assert(multi.nonEmpty, "at least one link must be multi-tag")
      // replay: same tag returns the SAME version, no new link
      val replayed = SnapshotLake.commitSyntheticGrouped(
        root, Seq("data/replay/part-000.parquet"), 1L, Some("epoch-3"))
      assert(replayed == versions(3) &&
        SnapshotLake.currentVersion(root).contains(head),
        "a replayed tag rides; the head must not advance")
    } finally SnapshotLake.clearPublisher(root)
  }

  test("same-tag duplicates inside one batch commit exactly one member's files") {
    val root = newRoot()
    Files.createDirectories(java.nio.file.Paths.get(root))
    SnapshotLake.setPublisher(root, slowPublisher(50))
    try {
      val n = 4
      val rels = (0 until n).map(t => Seq(f"data/d$t%02d/part-000.parquet"))
      rels.foreach { r =>
        val p = java.nio.file.Paths.get(root, r.head)
        Files.createDirectories(p.getParent); Files.createFile(p)
      }
      val start = new CountDownLatch(1)
      val done = new CountDownLatch(n)
      val versions = new Array[Long](n)
      val pool = Executors.newFixedThreadPool(n)
      (0 until n).foreach { t =>
        pool.execute { () =>
          start.await()
          versions(t) = SnapshotLake.commitSyntheticGrouped(
            root, rels(t), 1L, Some("same-batch"))
          done.countDown()
        }
      }
      start.countDown()
      assert(done.await(60, TimeUnit.SECONDS), "duplicate race stalled")
      pool.shutdown()
      assert(versions.toSet.size == 1,
        s"every replay of one tag gets ONE version: ${versions.toSet}")
      val head = SnapshotLake.currentVersion(root).get
      val files = SnapshotLake.files(root, head)
      assert(files.size == 1 && rels.map(_.head).contains(files.head),
        s"exactly one member's files commit, the rest are orphans: $files")
    } finally SnapshotLake.clearPublisher(root)
  }

  test("tagList tags survive into the checkpoint tag index") {
    val root = newRoot()
    Files.createDirectories(java.nio.file.Paths.get(root))
    // force one multi-tag link, then advance past CkptEvery so the
    // probe answers from the checkpoint index, not the record walk
    SnapshotLake.setPublisher(root, slowPublisher(50))
    try {
      val start = new CountDownLatch(1)
      val done = new CountDownLatch(4)
      val pool = Executors.newFixedThreadPool(4)
      (0 until 4).foreach { t =>
        val rel = Seq(f"data/ck$t%02d/part-000.parquet")
        val p = java.nio.file.Paths.get(root, rel.head)
        Files.createDirectories(p.getParent); Files.createFile(p)
        pool.execute { () =>
          start.await()
          SnapshotLake.commitSyntheticGrouped(root, rel, 1L, Some(s"ck-$t"))
          done.countDown()
        }
      }
      start.countDown()
      assert(done.await(60, TimeUnit.SECONDS), "ckpt fixture stalled")
      pool.shutdown()
    } finally SnapshotLake.clearPublisher(root)
    val multiAt = (1L to SnapshotLake.currentVersion(root).get)
      .find(v => SnapshotLake.readRecord(root, v).tags.size >= 2)
    assume(multiAt.isDefined, "coalescing must have produced a multi-tag link")
    (1 to 12).foreach { i =>
      SnapshotLake.commitSynthetic(root, Seq(f"data/fill$i%02d.parquet"), 0L)
    }
    val head = SnapshotLake.currentVersion(root).get
    assert(Files.exists(SnapshotLake.ckptFile(root, head - head % 10)),
      "a checkpoint must cover the multi-tag link")
    val multiTags = SnapshotLake.readRecord(root, multiAt.get).tags
    multiTags.foreach { t =>
      assert(SnapshotLake.tagVersion(root, t).contains(multiAt.get),
        s"checkpoint tag index must carry tagList tag $t")
    }
  }

  test("concurrent streaming epoch commits coalesce: commitStreamedFilesGrouped is exactly-once per tag") {
    val root = newRoot()
    // pre-write each "query"'s epoch files through its own path, the
    // connector-sink shape (executors write, driver commits)
    val n = 4
    val rels = (0 until n).map { t =>
      graft.sources.GraftLakeDataWriter.write(Seq(t * 10L, t * 10L + 1).toDF("x").repartition(1),
        java.nio.file.Paths.get(root).toAbsolutePath.toString, f"data/epoch-q$t")
    }
    // every query checked its rows against the empty lake: the first
    // epoch to link declares their schema
    val admitted = SnapshotLake.admitted(root, Seq(0L).toDF("x").schema)
    SnapshotLake.setPublisher(root, slowPublisher(50))
    try {
      val start = new CountDownLatch(1)
      val done = new CountDownLatch(n)
      val versions = new Array[Long](n)
      val pool = Executors.newFixedThreadPool(n)
      (0 until n).foreach { t =>
        pool.execute { () =>
          start.await()
          versions(t) = SnapshotLake.commitStreamedFilesGrouped(
            spark, root, rels(t), s"q$t-b0", admitted)
          done.countDown()
        }
      }
      start.countDown()
      assert(done.await(120, TimeUnit.SECONDS), "epoch race stalled")
      pool.shutdown()
      val head = SnapshotLake.currentVersion(root).get
      assert(head < n, s"expected epoch coalescing, got $head links")
      // exactly-once per tag, all rows present, replay rides
      (0 until n).foreach { t =>
        assert(SnapshotLake.tagVersion(root, s"q$t-b0").contains(versions(t)))
      }
      assert(SnapshotLake.read(spark, root).select("x").collect()
        .map(_.getLong(0)).toSet ==
        (0 until n).flatMap(t => Seq(t * 10L, t * 10L + 1)).toSet)
      val replay = SnapshotLake.commitStreamedFilesGrouped(
        spark, root, rels(2), "q2-b0", admitted)
      assert(replay == versions(2) &&
        SnapshotLake.currentVersion(root).contains(head),
        "a replayed epoch must ride, not re-append")
    } finally SnapshotLake.clearPublisher(root)
  }

  test("grouped and solo appends race one lake: union exact, no loss") {
    val root = newRoot()
    val n = 4
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(2 * n)
    val pool = Executors.newFixedThreadPool(2 * n)
    (0 until n).foreach { t =>
      pool.execute { () =>
        start.await()
        SnapshotLake.appendGrouped(
          Seq.tabulate(10)(i => t * 100L + i).toDF("x"), root)
        done.countDown()
      }
    }
    (0 until n).foreach { t =>
      pool.execute { () =>
        start.await()
        SnapshotLake.append(
          Seq.tabulate(10)(i => 1000L + t * 100L + i).toDF("x"), root)
        done.countDown()
      }
    }
    start.countDown()
    assert(done.await(120, TimeUnit.SECONDS), "mixed race stalled")
    pool.shutdown()
    val got = SnapshotLake.read(spark, root)
      .select("x").collect().map(_.getLong(0)).toSet
    val expected = (0 until n).flatMap(t =>
      Seq.tabulate(10)(i => t * 100L + i) ++
        Seq.tabulate(10)(i => 1000L + t * 100L + i)).toSet
    assert(got == expected, s"lost or duplicated rows: ${got.size}")
  }
}
