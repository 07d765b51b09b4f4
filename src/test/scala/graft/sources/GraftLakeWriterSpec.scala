package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, timestamp_seconds, when}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.SnapshotLake

/** The lake's one file writer ([[GraftLakeDataWriter]]) under its
  * contract: it takes the session's parquet codec on every write path,
  * lays partitioned rows out exactly as Spark's own partitioned parquet
  * writer does, with the same file schema, and its tasks report the
  * stats a commit needs, so a commit runs no job after the write. */
class GraftLakeWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def newRoot(): String = TestSpark.tempDir("graft-writer").toString + "/lake"

  private def footer(path: String): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.conf.Configuration()))
    try r.getFooter finally r.close()
  }

  /** The files a version added. */
  private def added(root: String, v: Long): Seq[String] =
    SnapshotLake.files(root, v).filterNot(SnapshotLake.files(root, v - 1).toSet)

  private def batch(s: org.apache.spark.sql.SparkSession, from: Long, n: Long): DataFrame =
    s.range(from, from + n).select(col("id").as("k"), (col("id") % 3).as("p"),
      timestamp_seconds(lit(1704067200L) + col("id")).as("ts"))

  test("every write path takes the session's parquet codec") {
    val sess = TestSpark.child("spark.sql.parquet.compression.codec" -> "gzip",
      "spark.sql.catalog.graft_cat" -> classOf[GraftLakeCatalog].getName,
      "spark.sql.catalog.graft_cat.warehouse" -> TestSpark.tempDir("graft-writer-wh").toString)
    val root = newRoot()
    SnapshotLake.append(batch(sess, 0, 50).coalesce(1), root)
    SnapshotLake.appendPartitioned(batch(sess, 50, 50), root, Seq("p"))
    val sunk = newRoot()
    val q = sess.readStream.format("graftlake").load(root).writeStream
      .format("graftlake").option("path", sunk)
      .option("checkpointLocation", TestSpark.tempDir("graft-writer-cp").toString)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "sink drain must finish")
    sess.sql(s"CREATE TABLE graft_cat.ns.codec USING graftlake LOCATION '$root'")
    sess.sql("DELETE FROM graft_cat.ns.codec WHERE k % 7 = 0")
    assert(SnapshotLake.currentVersion(root).contains(3L))
    val byPath = Seq("append" -> (root, 1L), "appendPartitioned" -> (root, 2L),
      "sink epoch" -> (sunk, SnapshotLake.currentVersion(sunk).get),
      "DELETE rewrite" -> (root, 3L))
    byPath.foreach { case (what, (r, v)) =>
      val fs = added(r, v)
      assert(fs.nonEmpty, what)
      fs.foreach { f =>
        val codecs = footer(Paths.get(r, f).toString).getBlocks.asScala
          .flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
        assert(codecs == Set("GZIP"), s"$what $f: $codecs")
      }
    }
  }

  /** Relative partition dirs of the parquet files under `base`. */
  private def partDirs(base: java.nio.file.Path): Set[String] = {
    val s = Files.walk(base)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => base.relativize(p.getParent).toString).toSet
    finally s.close()
  }

  test("appendPartitioned lays out directories and file schemas as Spark's partitioned writer does") {
    import spark.implicits._
    val values = Seq("a/b", "x=y", "50%", "a space", null)
    val rows = values.zipWithIndex.flatMap { case (s, i) =>
      (0 until 3).map(j => (i * 10L + j, s, java.sql.Date.valueOf(s"2024-01-0${1 + j}"),
        java.sql.Timestamp.valueOf(s"2024-02-0${1 + i % 2} 0$j:30:15"), (i + j).toDouble))
    }
    val df = rows.toDF("k", "s", "d", "ts", "v").repartition(2)
    val parts = Seq("s", "d", "ts")
    val root = newRoot()
    SnapshotLake.appendPartitioned(df, root, parts)
    val v1 = TestSpark.tempDir("graft-writer-v1").resolve("t")
    df.write.partitionBy(parts: _*).parquet(v1.toString)
    val commitDir = Paths.get(root, SnapshotLake.files(root, 1L).head).getParent
      .getParent.getParent.getParent
    assert(commitDir.getFileName.toString.startsWith("commit="))
    val lakeDirs = partDirs(commitDir)
    assert(lakeDirs == partDirs(v1), s"lake $lakeDirs")
    assert(lakeDirs.exists(_.contains("__HIVE_DEFAULT_PARTITION__")) &&
      lakeDirs.exists(_.contains("a%2Fb")) && lakeDirs.exists(_.contains("%3A")))
    // the read is the input as a multiset
    def bag(d: DataFrame) = d.select("k", "s", "d", "ts", "v").collect().toSeq
      .map(_.toSeq.map(String.valueOf)).groupBy(identity).view.mapValues(_.size).toMap
    assert(bag(SnapshotLake.read(spark, root)) == bag(df))
    // same parquet schema and key-value metadata as the built-in writer's
    def fileOf(base: java.nio.file.Path) = {
      val s = Files.walk(base)
      try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    Seq(commitDir -> v1, {
      val plain = newRoot()
      val nn = spark.range(0, 10).select(col("id").as("k"), (col("id") * 2.0).as("v"),
        when(col("id") > 3, col("id").cast("string")).as("s"))
      SnapshotLake.append(nn, plain)
      val out = TestSpark.tempDir("graft-writer-v1").resolve("p")
      nn.write.parquet(out.toString)
      Paths.get(plain, "data") -> out
    }).foreach { case (lake, builtIn) =>
      val (a, b) = (footer(fileOf(lake).toString).getFileMetaData,
        footer(fileOf(builtIn).toString).getFileMetaData)
      assert(a.getSchema == b.getSchema, s"${a.getSchema} vs ${b.getSchema}")
      assert(a.getKeyValueMetaData == b.getKeyValueMetaData)
    }
    // a `,` survives hive escaping and cannot be recorded: refused before the link
    intercept[IllegalArgumentException](SnapshotLake.appendPartitioned(
      Seq((1L, "Paris, FR")).toDF("k", "s"), root, Seq("s")))
    assert(SnapshotLake.currentVersion(root).contains(1L))
  }

  test("a warm connector append is one job, and an appendPartitioned or sink-epoch commit runs none after the write") {
    val root = newRoot()
    def connectorAppend(i: Int): Unit =
      batch(spark, i * 100L, 100).coalesce(1).write.format("graftlake")
        .mode("append").option("statsCols", "k,ts").save(root)
    (0 to 1).foreach(connectorAppend) // creates, then infers v1's schema
    val warm = (2 to 4).map(i => TestSpark.jobsAndTasks(connectorAppend(i))._1)
    assert(warm.forall(_ == 1), s"jobs per warm connector append: $warm")

    val parted = newRoot()
    val (jobs, _) = TestSpark.jobsAndTasks(SnapshotLake.appendPartitioned(
      batch(spark, 0, 100).withColumn("p", when(col("p") =!= 0, col("p"))),
      parted, Seq("p"), SnapshotLake.IndexSpec(Seq("k"), None)))
    assert(jobs == 1, s"appendPartitioned: the write and no job after it, got $jobs")
    assert(SnapshotLake.read(spark, parted).filter(col("p").isNull).count() == 34L)

    // the sink's epoch commit: tasks already wrote and reported the files
    val sunk = newRoot()
    val written = GraftLakeDataWriter.write(batch(spark, 0, 100).repartition(3),
      Paths.get(sunk).toAbsolutePath.toString, SnapshotLake.newDataDir(), statsCols = Seq("k"))
    val admitted = SnapshotLake.admitted(sunk, batch(spark, 0, 100).schema)
    val (commitJobs, _) = TestSpark.jobsAndTasks(SnapshotLake.commitStreamedFilesGrouped(
      spark, sunk, written, "stream-q-e0", admitted, SnapshotLake.IndexSpec(Seq("k"), None)))
    assert(commitJobs == 0, s"a sink epoch's commit runs no job, got $commitJobs")
    assert(SnapshotLake.fastCount(sunk).contains(100L))
    assert(SnapshotLake.read(spark, sunk).count() == 100L)
  }
}
