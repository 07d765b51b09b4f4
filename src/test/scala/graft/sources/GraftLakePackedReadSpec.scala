package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.{FileStats, SnapshotLake}

/** The snapshot scan packs its kept files into tasks by the built-in
  * file scan's rule: a packed read returns exactly the native reader's
  * rows, plans every kept file exactly once, leaves a file of at least
  * the split size alone, and ships a reader factory that carries no
  * Hadoop conf. The lakes hold 64 small files, so the test session's
  * 16-way default parallelism still packs several files per task. */
class GraftLakePackedReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def newRoot(): String =
    graft.TestSpark.tempDir("graft-packed").toString + "/lake"

  /** Rows (k, s, p) for keys [lo, hi): `p` is one of four strings. */
  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("k"),
      concat(lit("s"), col("id").cast("string")).as("s"),
      concat(lit("p"), (col("id") % 4).cast("string")).as("p"))

  /** 64 files: four plain commits of 8 files each, then two commits
    * hive-partitioned by `p` with 16 files each; stats on `k`. */
  private def mixedLake(): String = {
    val root = newRoot()
    val idx = SnapshotLake.IndexSpec(Seq("k"), None)
    (0 until 4).foreach(i =>
      SnapshotLake.append(rows(i * 400L, i * 400L + 400).repartition(8), root, idx))
    (4 until 6).foreach(i =>
      SnapshotLake.appendPartitioned(rows(i * 400L, i * 400L + 400).repartition(4),
        root, Seq("p"), idx))
    assert(SnapshotLake.files(root, 6L).size == 64)
    root
  }

  private def scanOf(df: DataFrame): GraftLakeScan =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
      .collectFirst { case s: GraftLakeScan => s }
      .getOrElse(fail("plan must contain a GraftLakeScan"))

  private def packed(scan: GraftLakeScan): Seq[Seq[GraftLakeInputPartition]] =
    scan.planInputPartitions().toSeq.map(_.asInstanceOf[GraftLakePackedPartition].files)

  private def bag(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).view.mapValues(_.length).toMap

  /** The packed read of `df` plans each kept file exactly once, in
    * fewer tasks than files, and returns `want`'s rows as a multiset. */
  private def assertPacked(df: DataFrame, want: DataFrame, ctx: String): Unit = {
    val scan = scanOf(df)
    val parts = packed(scan)
    val planned = parts.flatten.map(_.absPath)
    assert(planned.size == scan.keptFiles && planned.distinct.size == planned.size,
      s"$ctx: every kept file planned exactly once")
    assert(parts.size < planned.size, s"$ctx: ${planned.size} files in ${parts.size} tasks")
    assert(bag(df) == bag(want), ctx)
  }

  /** `body` on a session of its own with `confs` set, active on this
    * thread: suites share the test session and run concurrently. */
  private def withSession[A](confs: (String, String)*)(body: SparkSession => A): A = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    SparkSession.setActiveSession(s)
    try body(s) finally SparkSession.setActiveSession(spark)
  }

  test("a packed read equals the native read on plain, partitioned, DV, exact, renamed and pinned versions") {
    val root = mixedLake()
    val lake = () => spark.read.format("graftlake")
    val cols = Seq("k", "s", "p").map(col)
    assertPacked(lake().load(root).select(cols: _*),
      SnapshotLake.read(spark, root).select(cols: _*), "head")
    // a pushed range still prunes before the packing
    assertPacked(lake().load(root).filter(col("k") >= 300L && col("k") < 2100L),
      SnapshotLake.read(spark, root).filter(col("k") >= 300L && col("k") < 2100L)
        .select(cols: _*), "range")
    // exact filters run in the row reader, file by file
    assertPacked(lake().option("exactPushdown", "true").load(root)
        .filter(col("k") >= 100L && col("k") <= 2300L && col("s") =!= "s7"),
      SnapshotLake.read(spark, root)
        .filter(col("k") >= 100L && col("k") <= 2300L && col("s") =!= "s7")
        .select(cols: _*), "exact")
    // a deletion vector: the row path probes every file of a task
    SnapshotLake.deleteWhere(spark, root, spark.range(0L, 2400L, 7L).toDF("k"))
    val dv = lake().load(root)
    assert(!scanOf(dv).createReaderFactory().supportColumnarReads(
      scanOf(dv).planInputPartitions().head), "a DV version reads row-based")
    assertPacked(dv.select(cols: _*), SnapshotLake.read(spark, root).select(cols: _*), "dv")
    // the version before the delete, pinned
    assertPacked(lake().option("versionAsOf", "6").load(root).select(cols: _*),
      SnapshotLake.read(spark, root, Some(6L)).select(cols: _*), "versionAsOf")
    // a renamed column reads under its new name from the packed files
    SnapshotLake.renameColumn(spark, root, "s", "label")
    val renamed = Seq("k", "label", "p").map(col)
    assertPacked(lake().load(root).select(renamed: _*),
      SnapshotLake.read(spark, root).select(renamed: _*), "renamed")
  }

  test("_file projected and filtered on a packed read names each row's own file") {
    val root = mixedLake()
    val lake = () => spark.read.format("graftlake").load(root)
    val files = SnapshotLake.files(root, 6L)
    val rowsOf = files.map(f => f.substring(0, f.lastIndexOf('/'))).distinct
      .flatMap(d => FileStats.readRowsSidecar(root, d)).toMap
    val withFile = lake().select("k", "p", "_file")
    assertPacked(withFile.drop("_file"),
      SnapshotLake.read(spark, root).select("k", "p"), "_file projected")
    // the reference: the same scan with one file per task (an open cost
    // as large as the split size leaves every file alone)
    val unpacked = withSession("spark.sql.files.openCostInBytes" -> "128m") { s =>
      val df = s.read.format("graftlake").load(root).select("k", "p", "_file")
      assert(packed(scanOf(df)).forall(_.size == 1))
      bag(df)
    }
    assert(bag(withFile) == unpacked, "every row keeps its own file's `_file`")
    val perFile = withFile.collect().groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(perFile == files.map(f => f -> rowsOf(f).toInt).toMap,
      "each file's rows carry its name, as many as its row count")
    // filtered: a plain file and a partitioned one, read from a packed scan
    Seq(files.find(!_.contains("commit=")).get, files.find(_.contains("commit=")).get)
      .foreach { f =>
        val one = lake().filter(col("_file") === f).select("k", "p")
        assert(bag(one) == unpacked.collect {
          case (r, n) if r.getString(2) == f => Row(r.getLong(0), r.getString(1)) -> n
        }, f)
        assert(one.count() == rowsOf(f))
      }
  }

  test("a file of at least the split size gets a task of its own") {
    val root = newRoot()
    // four ~800 KB files of incompressible doubles, then 48 tiny ones
    SnapshotLake.append(spark.range(0, 400000).select(col("id").as("k"),
      org.apache.spark.sql.functions.rand(7).as("x")).repartition(4), root)
    (0 until 3).foreach(i => SnapshotLake.append(spark.range(i * 160L, i * 160L + 160)
      .select(col("id").as("k"), col("id").cast("double").as("x")).repartition(16), root))
    val kb = 1024L
    withSession("spark.sql.files.maxPartitionBytes" -> s"${256 * kb}",
                "spark.sql.files.openCostInBytes" -> s"${4 * kb}") { s =>
      val df = s.read.format("graftlake").load(root)
      val parts = packed(scanOf(df))
      val files = parts.flatten
      assert(files.size == 52 && files.map(_.absPath).distinct.size == 52)
      val maxSplit = FilePartition.maxSplitBytes(s, files.map(_.length + 4 * kb).sum)
      val big = files.filter(_.length >= maxSplit)
      assert(big.size == 4, s"split size $maxSplit; lengths ${files.map(_.length)}")
      big.foreach(f => assert(parts.contains(Seq(f)), s"${f.absPath} must be alone"))
      // a shared task stays within the split size, each file after the
      // first costing the open cost too
      val shared = parts.filter(_.size > 1)
      assert(shared.nonEmpty && shared.forall(p =>
        p.map(_.length).sum + (p.size - 1) * 4 * kb <= maxSplit))
      assert(bag(df) == bag(SnapshotLake.read(s, root)))
    }
  }

  test("the reader factory ships no Hadoop conf: its serialized form stays small") {
    val root = mixedLake()
    val scan = scanOf(spark.read.format("graftlake").load(root))
    val bytes = new java.io.ByteArrayOutputStream
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(scan.createReaderFactory())
    out.close()
    info(s"serialized reader factory: ${bytes.size} bytes")
    assert(bytes.size < 4096, s"${bytes.size} bytes: the factory carries a conf")
  }
}
