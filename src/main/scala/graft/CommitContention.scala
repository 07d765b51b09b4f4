package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._

import graft.etl.SnapshotLake

/** Multi-writer COMMIT CONTENTION at the manifest layer — the second
  * question the 100× data legs can't answer (the first was the
  * manifest ceiling): how does the optimistic CAS loop behave when N
  * writers race the same lake head, and does the serializable-writer
  * fence hold under append ∥ rewrite races?
  *
  * Phase 1 isolates the COMMIT PROTOCOL (no Spark jobs): N threads
  * each drive M synthetic append commits through the real CAS path —
  * [[SnapshotLake.commitSynthetic]]'s read-head / write-record /
  * link(2) loop, including every 10th commit's checkpoint write. Data
  * files are pre-staged empty names, so the measured cost is manifest
  * mechanics only: directory listing per attempt, record write, link
  * publish, lost-CAS retries. Reported per N: wall, commits/s, mean
  * CAS attempts per commit, and the post-race reconcile check (every
  * staged file present exactly once in the resolved head — a lost
  * commit or a double-apply both fail it).
  *
  * Phase 2 races REAL appends against small-file compactions: appends
  * never abort (their commit removes nothing), compactors hit the
  * [[SnapshotLake]] serializable fence (`ConcurrentModificationException`,
  * Delta's ConcurrentDeleteReadException shape) whenever a racing
  * rewrite removed a file they read, and retry from the new head. The
  * correctness gate is total row count after the dust settles: a fence
  * miss would double rows a compaction resurrected, a lost append
  * would drop them.
  *
  * Phase 3 is phase 1 ACROSS PROCESS BOUNDARIES (VERDICT r17 ask 2):
  * N separate JVMs (ProcessBuilder, same classpath, no Spark in the
  * children) race the same lake with NOTHING shared but the
  * filesystem — no common head hint, no common backoff state, bare
  * link(2) CAS. Children stage-wait on a go-file so JVM start-up never
  * bills to the race window; each reports its lost-CAS count and the
  * parent reconciles the head exactly like phase 1. This is the
  * configuration the single-JVM table cannot speak for: a driver and
  * an external writer, or two jobs, racing one table.
  *
  * Usage: `sbt "runMain graft.CommitContention [commitsPerThread
  * [filesPerCommit]]"`. Prints one line per configuration; numbers
  * land in SCALE.md next to the manifest ceiling table. */
object CommitContention {
  /** The schema the synthetic lakes' first commit declares: their
    * staged files are empty and never read. */
  private val SyntheticSchema = Some(org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))

  private def stagedRels(tag: String, perProc: Int,
                         filesPerCommit: Int): IndexedSeq[Seq[String]] =
    (0 until perProc).map { j =>
      val dir = f"data/p$tag-c$j%04d"
      (0 until filesPerCommit).map(i => f"$dir/part-$i%03d.parquet")
    }

  /** Child-JVM entry for phase 3: recompute this process's staged file
    * names (the parent created them), signal READY, spin on the
    * go-file, race, report. No SparkSession — the commit protocol is
    * pure filesystem. */
  private def childMain(a: Array[String]): Unit = {
    val Array(root, tag, per, fpc) = a
    val rels = stagedRels(tag, per.toInt, fpc.toInt)
    val goFile = Paths.get(root, "_go")
    println("READY"); Console.out.flush()
    // bounded wait: if the parent dies between spawn and _go (a READY
    // require failing, say), the children must exit rather than leave
    // up to 16 orphan JVMs busy-polling forever (ADVICE r18)
    val goDeadline = System.nanoTime() + 60L * 1000000000L
    while (!Files.exists(goFile)) {
      if (System.nanoTime() > goDeadline) {
        System.err.println("child: no _go within 60 s, parent presumed dead")
        sys.exit(3)
      }
      Thread.sleep(1)
    }
    val t0 = System.nanoTime()
    rels.foreach(rel =>
      SnapshotLake.commitSynthetic(root, rel, fpc.toLong, SyntheticSchema))
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"DONE lost=${SnapshotLake.casLost.get}%d wall=$wall%.3f")
    Console.out.flush()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("child")) { childMain(args.drop(1)); return }
    val perThread = args.headOption.map(_.toInt).getOrElse(250)
    val filesPerCommit = if (args.length > 1) args(1).toInt else 10
    // box calibration first (VERDICT r18 ask 6): contention tables in
    // SCALE.md carry probe_sec like the Bench ledger does
    println(f"CONTENTION probe_sec=${BoxProbe.measure()}%.3f probe_par_sec=${BoxProbe.measurePar()}%.3f")
    val spark = Sessions.local()
    val base =
      if (Files.isDirectory(Paths.get("/dev/shm"))) "/dev/shm" else "/tmp"
    val work = Paths.get(base, "graft-commit-contention")
    org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)

    // One synthetic in-JVM race: stage, race, reconcile. Returns
    // (wall seconds, lost CAS publishes). Shared by phase 1 (width
    // sweep at /dev/shm latency) and phase 4 (injected object-store
    // RTT on the same protocol).
    def syntheticRace(root: String, n: Int, per: Int): (Double, Long) = {
      // pre-stage every commit's file names (empty files: the protocol
      // never opens them) so the race measures manifest mechanics only
      val staged: IndexedSeq[IndexedSeq[Seq[String]]] =
        (0 until n).map { t =>
          (0 until per).map { j =>
            val dir = f"data/t$t%02d-c$j%04d"
            Files.createDirectories(Paths.get(root, dir))
            (0 until filesPerCommit).map { i =>
              val f = f"$dir/part-$i%03d.parquet"
              Files.createFile(Paths.get(root, f))
              f
            }
          }
        }
      val lost0 = SnapshotLake.casLost.get
      val start = new CountDownLatch(1)
      val done = new CountDownLatch(n)
      val pool = Executors.newFixedThreadPool(n)
      (0 until n).foreach { t =>
        pool.execute { () =>
          start.await()
          staged(t).foreach(rel =>
            SnapshotLake.commitSynthetic(root, rel, filesPerCommit.toLong, SyntheticSchema))
          done.countDown()
        }
      }
      val t0 = System.nanoTime()
      start.countDown()
      require(done.await(1800, TimeUnit.SECONDS), "race stalled")
      val wall = (System.nanoTime() - t0) / 1e9
      pool.shutdown()
      val commits = n.toLong * per
      val lost = SnapshotLake.casLost.get - lost0
      // reconcile: every version landed, every staged file exactly once
      val head = SnapshotLake.currentVersion(root).get
      require(head == commits, s"head=$head, expected $commits")
      val resolved = SnapshotLake.files(root, head)
      val expected = staged.flatten.flatten
      require(resolved.size == expected.size &&
        resolved.toSet == expected.toSet,
        s"resolved ${resolved.size} files, expected ${expected.size}")
      (wall, lost)
    }

    println(f"CONTENTION phase 1: synthetic CAS appends, " +
      f"$perThread commits/thread x $filesPerCommit files")
    for (n <- Seq(1, 2, 4, 8, 16)) {
      val root = work.resolve(s"lake-n$n").toString
      val (wall, lost) = syntheticRace(root, n, perThread)
      val commits = n.toLong * perThread
      println(f"CONTENTION n=$n%2d  $commits%6d commits  $wall%7.2f s  " +
        f"${commits / wall}%8.1f commits/s  " +
        f"${1.0 + lost.toDouble / commits}%5.2f attempts/commit")
    }

    // phase 2: real appends vs. small-file compactions on one lake
    println("CONTENTION phase 2: 4 appenders x 25 appends (100 rows each) " +
      "|| 2 compactors (fence + retry)")
    val root2 = work.resolve("lake-mixed").toString
    SnapshotLake.append(
      spark.range(0, 100).select(col("id").as("k")), root2) // v1 seed
    val aborts0 = SnapshotLake.fenceAborts.get
    val appendsLeft = new AtomicLong(4L * 25)
    val compactions = new AtomicLong
    val retries = new AtomicLong
    val pool2 = Executors.newFixedThreadPool(6)
    val done2 = new CountDownLatch(6)
    val t0 = System.nanoTime()
    (0 until 4).foreach { t =>
      pool2.execute { () =>
        try (0 until 25).foreach { j =>
          SnapshotLake.append(spark.range(0, 100)
            .select((col("id") + (t * 25 + j) * 100L).as("k")), root2)
          appendsLeft.decrementAndGet()
        } finally done2.countDown()
      }
    }
    (0 until 2).foreach { _ =>
      pool2.execute { () =>
        try while (appendsLeft.get > 0) {
          try { SnapshotLake.compactSmall(spark, root2, minBytes = 1 << 20)
                compactions.incrementAndGet(); () }
          catch { case _: java.util.ConcurrentModificationException =>
            retries.incrementAndGet(); () } // fence abort: retry from head
        } finally done2.countDown()
      }
    }
    require(done2.await(600, TimeUnit.SECONDS), "phase 2 stalled")
    val wall2 = (System.nanoTime() - t0) / 1e9
    pool2.shutdown()
    val aborts = SnapshotLake.fenceAborts.get - aborts0
    // correctness after the dust settles: 101 commits' rows, no
    // resurrection (fence), no loss (CAS) — compaction is a no-op on rows
    val rows = SnapshotLake.read(spark, root2).count()
    require(rows == 101L * 100, s"rows=$rows, expected ${101L * 100}")
    println(f"CONTENTION mixed  ${wall2}%7.2f s  " +
      f"${compactions.get}%3d compactions won  " +
      f"${aborts}%3d fence aborts (all retried)  rows exact")
    require(aborts == retries.get,
      s"every abort surfaced as a caught retry: $aborts vs ${retries.get}")

    // phase 3: the same synthetic race across PROCESS boundaries
    println(f"CONTENTION phase 3: cross-process (separate JVMs), " +
      f"$perThread commits/process x $filesPerCommit files")
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cp = sys.props("java.class.path")
    for (n <- Seq(2, 4, 8, 16)) {
      val root = work.resolve(s"lake-proc$n").toString
      val tags = (0 until n).map(p => f"$p%02d")
      tags.foreach { tag =>
        stagedRels(tag, perThread, filesPerCommit).foreach { rel =>
          Files.createDirectories(
            Paths.get(root, rel.head).getParent)
          rel.foreach(f => Files.createFile(Paths.get(root, f)))
        }
      }
      Files.createDirectories(Paths.get(root, "_manifests"))
      val procs = tags.map { tag =>
        new ProcessBuilder(javaBin, "-cp", cp, "-Xmx1g",
          "graft.CommitContention", "child", root, tag,
          perThread.toString, filesPerCommit.toString)
          .redirectErrorStream(true).start()
      }
      // belt for the children's own go-file deadline: a parent require
      // failing mid-ceremony must not strand live child JVMs (ADVICE r18)
      var lostSum = 0L
      var wallP = 0.0
      try {
        val readers = procs.map(p => new java.io.BufferedReader(
          new java.io.InputStreamReader(p.getInputStream)))
        readers.foreach { r =>
          var line = r.readLine()
          while (line != null && line != "READY") line = r.readLine()
          require(line == "READY", "child died before READY")
        }
        val t0p = System.nanoTime()
        Files.createFile(Paths.get(root, "_go"))
        readers.foreach { r =>
          var line = r.readLine()
          while (line != null && !line.startsWith("DONE")) line = r.readLine()
          require(line != null, "child died before DONE")
          lostSum += line.split("lost=")(1).split(" ")(0).toLong
        }
        wallP = (System.nanoTime() - t0p) / 1e9
        procs.foreach(p => require(p.waitFor(60, TimeUnit.SECONDS) &&
          p.exitValue() == 0, "child exit"))
      } finally procs.filter(_.isAlive).foreach(_.destroyForcibly())
      val commits = n.toLong * perThread
      // reconcile from THIS JVM (a fresh observer of the log)
      val head = SnapshotLake.currentVersion(root).get
      require(head == commits, s"head=$head, expected $commits")
      val resolved = SnapshotLake.files(root, head)
      val expected = tags.flatMap(stagedRels(_, perThread, filesPerCommit).flatten)
      require(resolved.size == expected.size &&
        resolved.toSet == expected.toSet,
        s"resolved ${resolved.size} files, expected ${expected.size}")
      println(f"CONTENTION procs=$n%2d  $commits%6d commits  $wallP%7.2f s  " +
        f"${commits / wallP}%8.1f commits/s  " +
        f"${1.0 + lostSum.toDouble / commits}%5.2f attempts/commit")
    }

    // phase 4: the same synthetic CAS race at OBJECT-STORE latency
    // (VERDICT r18 ask 2). The /dev/shm table proves the protocol
    // shares nothing; what it cannot price is the loser's re-probe —
    // O(commits since its last observation) head stats — once every
    // stat is 10-50 ms of network instead of ~1 µs of kernel. The
    // publish seam ([[graft.etl.SnapshotLake.setPublisher]]) injects
    // one RTT per conditional PUT; the head-probe seam
    // (`manifestRttNanos`) injects one RTT per HEAD stat and per LIST.
    // Each RTT also runs with the batched head listing
    // (`probeStepLimit=4`): a loser more than 4 commits behind pays ONE
    // list (a LIST page carries up to 1,000 names) instead of
    // per-version HEADs — the fix the forward-probe cost calls for if
    // it compounds.
    val perThread4 = math.max(10, perThread / 10)
    println(f"CONTENTION phase 4: 16 threads x $perThread4 commits, " +
      "injected object-store RTT on publish + head probes")
    for (rttMs <- Seq(0L, 10L, 50L);
         limit <- if (rttMs == 0L) Seq(Int.MaxValue) else Seq(Int.MaxValue, 4)) {
      val root = work.resolve(s"lake-rtt$rttMs-l$limit").toString
      val rttNanos = rttMs * 1000000L
      val stats0 = SnapshotLake.headStatCount.get
      val lists0 = SnapshotLake.headListCount.get
      SnapshotLake.manifestRttNanos = rttNanos
      SnapshotLake.probeStepLimit = limit
      Files.createDirectories(Paths.get(root))
      SnapshotLake.setPublisher(root, new SnapshotLake.CommitPublisher {
        def tryPublish(target: java.nio.file.Path,
                       tmp: java.nio.file.Path): Boolean = {
          if (rttNanos > 0L)
            java.util.concurrent.locks.LockSupport.parkNanos(rttNanos)
          SnapshotLake.PosixLinkPublisher.tryPublish(target, tmp)
        }
      })
      try {
        val (wall, lost) = syntheticRace(root, 16, perThread4)
        val commits = 16L * perThread4
        val stats = SnapshotLake.headStatCount.get - stats0
        val lists = SnapshotLake.headListCount.get - lists0
        val limStr = if (limit == Int.MaxValue) "walk" else s"list>$limit"
        println(f"CONTENTION rtt=$rttMs%3d ms  $limStr%-7s  $commits%5d commits  " +
          f"$wall%7.2f s  ${commits / wall}%7.1f commits/s  " +
          f"${1.0 + lost.toDouble / commits}%5.2f attempts/commit  " +
          f"${stats.toDouble / commits}%5.2f stats/commit  " +
          f"${lists.toDouble / commits}%5.2f lists/commit")
      } finally {
        SnapshotLake.manifestRttNanos = 0L
        SnapshotLake.probeStepLimit = Int.MaxValue
        SnapshotLake.clearPublisher(root)
      }
    }

    // phase 5: phase 4's race through GROUP COMMIT
    // ([[SnapshotLake.appendGrouped]] / [[graft.etl.GroupCommit]]) —
    // the protocol-level lever phase 4's floor calls for. The head
    // serializes LINKS at ~1/(k·RTT); coalescing many logical appends
    // per link is the only way logical commits/s escapes that floor
    // inside one committer process. Reported: logical commits/s (the
    // number that was floored), links published, mean logical
    // commits/link, attempts per LINK (CAS losses now bill to links,
    // not logical commits).
    println(f"CONTENTION phase 5: 16 threads x $perThread4 commits, " +
      "group commit at the same injected RTTs")
    for (rttMs <- Seq(0L, 10L, 50L)) {
      val root = work.resolve(s"lake-group-rtt$rttMs").toString
      val rttNanos = rttMs * 1000000L
      SnapshotLake.manifestRttNanos = rttNanos
      Files.createDirectories(Paths.get(root))
      SnapshotLake.setPublisher(root, new SnapshotLake.CommitPublisher {
        def tryPublish(target: java.nio.file.Path,
                       tmp: java.nio.file.Path): Boolean = {
          if (rttNanos > 0L)
            java.util.concurrent.locks.LockSupport.parkNanos(rttNanos)
          SnapshotLake.PosixLinkPublisher.tryPublish(target, tmp)
        }
      })
      try {
        val staged: IndexedSeq[IndexedSeq[Seq[String]]] =
          (0 until 16).map { t =>
            (0 until perThread4).map { j =>
              val dir = f"data/g$t%02d-c$j%04d"
              Files.createDirectories(Paths.get(root, dir))
              (0 until filesPerCommit).map { i =>
                val f = f"$dir/part-$i%03d.parquet"
                Files.createFile(Paths.get(root, f))
                f
              }
            }
          }
        val lost0 = SnapshotLake.casLost.get
        val links0 = graft.etl.GroupCommit.links.get
        val logical0 = graft.etl.GroupCommit.logical.get
        val start = new CountDownLatch(1)
        val done = new CountDownLatch(16)
        val pool = Executors.newFixedThreadPool(16)
        (0 until 16).foreach { t =>
          pool.execute { () =>
            start.await()
            staged(t).foreach(rel => SnapshotLake.commitSyntheticGrouped(
              root, rel, filesPerCommit.toLong, schema = SyntheticSchema))
            done.countDown()
          }
        }
        val t0g = System.nanoTime()
        start.countDown()
        require(done.await(1800, TimeUnit.SECONDS), "group race stalled")
        val wall = (System.nanoTime() - t0g) / 1e9
        pool.shutdown()
        val commits = 16L * perThread4
        val lost = SnapshotLake.casLost.get - lost0
        val links = graft.etl.GroupCommit.links.get - links0
        val logical = graft.etl.GroupCommit.logical.get - logical0
        require(logical == commits, s"logical=$logical, expected $commits")
        // reconcile exactly like phase 1/4: head version count now
        // equals LINKS, but every staged file must appear exactly once
        val head = SnapshotLake.currentVersion(root).get
        require(head == links, s"head=$head, links=$links")
        val resolved = SnapshotLake.files(root, head)
        val expected = staged.flatten.flatten
        require(resolved.size == expected.size &&
          resolved.toSet == expected.toSet,
          s"resolved ${resolved.size} files, expected ${expected.size}")
        println(f"CONTENTION rtt=$rttMs%3d ms  group    $commits%5d commits  " +
          f"$wall%7.2f s  ${commits / wall}%7.1f commits/s  " +
          f"$links%4d links  ${commits.toDouble / links}%6.1f commits/link  " +
          f"${1.0 + lost.toDouble / links}%5.2f attempts/link")
      } finally {
        SnapshotLake.manifestRttNanos = 0L
        SnapshotLake.clearPublisher(root)
      }
    }

    org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
    spark.stop()
  }
}
