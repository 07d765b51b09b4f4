package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.etl.{FileStats, SnapshotLake}

/** Driver-side manifest ceiling measurement — how far the single-JVM
  * metadata layer carries before IT becomes the wall (the question the
  * 100× data legs cannot answer, because local data generation tops out
  * long before the manifest does).
  *
  * Builds a SYNTHETIC lake: N file entries committed through the real
  * CAS/checkpoint path ([[SnapshotLake.commitSynthetic]]) with real
  * stats/rows sidecars, where every "data file" is a HARDLINK to one
  * 1-row parquet template — so the manifest, sidecar, and planning
  * machinery all run at full scale while the data mass stays one file.
  * Then times the driver-side operations a 100 TB deployment leans on:
  * snapshot resolution, point/band pruning, metadata counts, merge
  * candidate targeting, connector scan planning (with and without a
  * pushed filter, including the per-column statistics fold), and the
  * `.files`/`.history` metadata views.
  *
  * Usage: `sbt "runMain graft.ManifestCeiling [nFiles [perCommit]]"`.
  * Prints one `metric=seconds` line per stage; numbers land in SCALE.md
  * next to the 100× legs. */
object ManifestCeiling {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(1000000)
    val perCommit = if (args.length > 1) args(1).toInt else 10000
    // A/B lever: `fullckpt` as arg 3 restores full-checkpoint-always
    // (the pre-r17 scheme) so the incremental-checkpoint saving stays
    // directly measurable on one build
    if (args.length > 2 && args(2) == "fullckpt")
      SnapshotLake.incrementalCkpt = false
    // box calibration first (VERDICT r18 ask 6): the ceiling tables in
    // SCALE.md carry probe_sec so cross-round rows compare the way
    // Bench rows do ("this box reads ~3.5× faster" becomes a column)
    println(f"CEILING probe_sec=${BoxProbe.measure()}%.3f probe_par_sec=${BoxProbe.measurePar()}%.3f")
    val spark = Sessions.local()
    val base =
      if (Files.isDirectory(Paths.get("/dev/shm"))) "/dev/shm" else "/tmp"
    val work = Paths.get(base, s"graft-manifest-ceiling-$nFiles")
    org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
    val root = work.resolve("lake").toString
    Files.createDirectories(Paths.get(root))

    // Median-of-3 for repeatable stages (VERDICT r17 ask 4: single-run
    // ceiling rows wobbled ±40%); inherently one-shot stages (generate,
    // every cold row, cleanup) keep reps=1 — a rerun of a cold stage
    // would measure the warm path and lie about the label.
    def timed[A](name: String, reps: Int = 1)(f: => A): A = {
      var r: Option[A] = None
      val ts = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        r = Some(f)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val med = ts(ts.size / 2)
      val tail = if (reps == 1) "" else
        f"  (n=$reps min ${ts.head}%.3f max ${ts.last}%.3f)"
      println(f"CEILING $name%-34s $med%10.3f s$tail")
      r.get
    }

    // one real 1-row parquet as the hardlink template, whose schema the
    // lake's first commit declares
    val tplRows = spark.range(1).select(col("id").as("k"))
    tplRows.coalesce(1).write.parquet(work.resolve("tpl").toString)
    val tpl = {
      val s = Files.list(work.resolve("tpl"))
      try s.filter(_.toString.endsWith(".parquet")).findFirst().get
      finally s.close()
    }

    val nCommits = nFiles / perCommit
    val ck0 = (SnapshotLake.ckptNanos.get, SnapshotLake.ckptBytes.get)
    timed(s"generate $nFiles files / $nCommits commits") {
      var g = 0L
      for (c <- 0 until nCommits) {
        val dir = f"data/c$c%05d"
        Files.createDirectories(Paths.get(root, dir))
        val rel = (0 until perCommit).map(j => f"$dir/part-$j%05d.parquet")
        rel.foreach(f => Files.createLink(Paths.get(root, f), tpl))
        val stats = rel.map { f =>
          val lo = g * 10; val hi = g * 10 + 9; g += 1
          f -> Map("k" -> FileStats.ColRange(lo.toString, hi.toString,
            numeric = true, nulls = Some(0L)))
        }.toMap
        FileStats.writeStatsSidecar(root, stats)
        FileStats.writeRowsSidecar(root, rel.map(_ -> 1L).toMap)
        FileStats.writeBytesSidecar(root,
          rel.map(_ -> Files.size(tpl)).toMap)
        SnapshotLake.commitSynthetic(root, rel, perCommit.toLong, Some(tplRows.schema))
      }
    }
    println(f"CEILING   of which checkpoint writes   " +
      f"${(SnapshotLake.ckptNanos.get - ck0._1) / 1e9}%10.3f s  " +
      f"(${(SnapshotLake.ckptBytes.get - ck0._2) / 1e6}%.0f MB)")
    val head = SnapshotLake.currentVersion(root).get

    val n1 = timed("resolve head (cold)") {
      SnapshotLake.files(root, head).size
    }
    require(n1 == nFiles, s"resolved $n1 of $nFiles")
    timed("resolve head (warm)", 3) { SnapshotLake.files(root, head).size }

    val mid = (nFiles / 2L) * 10 + 3
    timed("readPruned point (plan+read)") {
      val p = SnapshotLake.readPruned(spark, root,
        Seq(FileStats.Range("k", Some(mid.toString), Some(mid.toString))))
      require(p.kept == 1 && p.total == nFiles, s"kept=${p.kept}")
      p.df.count()
    }
    timed("readPruned point (warm cache)", 3) {
      val p = SnapshotLake.readPruned(spark, root,
        Seq(FileStats.Range("k", Some(mid.toString), Some(mid.toString))))
      require(p.kept == 1)
      p.df.count()
    }
    timed("fastCountWhere half-band", 3) {
      val cw = SnapshotLake.fastCountWhere(spark, root,
        Seq(FileStats.Range("k", Some("0"),
          Some(((nFiles / 2L) * 10 - 1).toString)))).get
      require(cw.metadataFiles == nFiles / 2, s"$cw")
    }
    timed("statsRange full fold", 3) {
      SnapshotLake.statsRange(root, "k").get
    }
    timed("merge candidate targeting (10 keys)", 3) {
      val keys = spark.range(0, 10)
        .select((col("id") * (nFiles / 10L) * 10 + 5).as("k"))
      val cand = SnapshotLake.candidateFiles(spark, root,
        graft.etl.LakeIndex.of(root, head), SnapshotLake.files(root, head), "k", keys)
      require(cand.size == 10, s"candidates=${cand.size}")
    }
    timed("connector point-filter planning") {
      val q = spark.read.format("graftlake").load(root)
        .filter(col("k") === mid)
      val scan = q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }.collectFirst { case s: graft.sources.GraftLakeScan => s }.get
      require(scan.keptFiles == 1, s"kept=${scan.keptFiles}")
    }
    timed("connector unfiltered planning + stats") {
      val q = spark.read.format("graftlake").load(root)
      val scan = q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }.collectFirst { case s: graft.sources.GraftLakeScan => s }.get
      val st = scan.estimateStatistics()
      require(st.numRows.getAsLong == nFiles.toLong)
      require(!st.columnStats().isEmpty)
    }
    timed("connector point-filter planning (warm)", 3) {
      val q = spark.read.format("graftlake").load(root)
        .filter(col("k") === mid)
      q.queryExecution.executedPlan
      ()
    }
    // CDF range planning over the whole history: every file of every
    // append becomes a change partition; sizes must come from the
    // cached `_bytes.json` sidecars, never a per-file stat — the same
    // O(commit-dirs) contract as the snapshot path
    def cdfPlan(label: String, reps: Int = 1): Unit = timed(label, reps) {
      val q = spark.read.format("graftlake")
        .option("readChangeFeed", "true").load(root)
      val scan = q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }.collectFirst { case s: graft.sources.GraftLakeCdfScan => s }.get
      require(scan.planInputPartitions().map(
        _.asInstanceOf[graft.sources.GraftLakePackedPartition].files.size).sum == nFiles)
    }
    cdfPlan("CDF full-range planning (cold)")
    cdfPlan("CDF full-range planning (warm)", 3)
    spark.conf.set("spark.sql.catalog.graft_ceil",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ceil.warehouse",
      work.resolve("wh").toString)
    spark.sql(
      s"CREATE TABLE graft_ceil.ns.t USING graftlake LOCATION '$root'")
    timed(".files metadata view", 3) {
      val r = spark.sql(
        "SELECT count(*) AS n, sum(rows) AS r FROM graft_ceil.ns.t.files").head
      require(r.getLong(0) == nFiles.toLong && r.getLong(1) == nFiles.toLong)
    }
    timed(".history metadata view", 3) {
      require(spark.sql(
        "SELECT count(*) FROM graft_ceil.ns.t.history").head.getLong(0) ==
        nCommits.toLong)
    }
    timed("cleanup") {
      org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
    }
    spark.stop()
  }
}
