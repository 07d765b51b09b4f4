package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.{FileStats, SnapshotLake}

/** The lake has one read path: every snapshot read, pruned read, point
  * lookup, file-set read, rewrite materialization and catalog query
  * plans a `graftlake` connector scan and never Spark's parquet file
  * scan; stream and change-feed scans pack small files into few tasks;
  * and a streamed commit after plain appends keeps the declared schema,
  * which answers with no Spark job. */
class LakeReadPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val idx = SnapshotLake.IndexSpec(Seq("k"), Some("k"))

  /** Four single-file commits of (k, v), keys 0-39, indexed on k. */
  private def lake(tag: String): String = {
    val root = TestSpark.tempDir(s"graft-readpath-$tag").toString + "/lake"
    (0 until 4).foreach { i =>
      SnapshotLake.append(spark.range(i * 10L, i * 10L + 10)
        .select(col("id").as("k"), (col("id") * 2).as("v")).coalesce(1), root, idx)
    }
    root
  }

  /** Every leaf of an executed plan, through adaptive stages. */
  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case other if other.children.isEmpty => Seq(other)
    case other => other.children.flatMap(leaves) ++ other.subqueries.flatMap(leaves)
  }

  /** The plan reads `root` through the connector and only through it. */
  private def assertConnectorOnly(what: String, plan: SparkPlan, root: String): Unit = {
    val ls = leaves(plan)
    assert(ls.exists {
      case b: BatchScanExec => b.table.name().startsWith(s"graftlake:$root")
      case _ => false
    }, s"$what must scan $root through the connector:\n$plan")
    assert(!ls.exists {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains(root))
      case _ => false
    }, s"$what must not read lake files through Spark's parquet scan:\n$plan")
  }

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  test("read, readPruned, readPointLookup and readFiles plan only a connector scan") {
    val root = lake("reads")
    assertConnectorOnly("read", executed(SnapshotLake.read(spark, root)), root)
    assertConnectorOnly("read at a pinned version",
      executed(SnapshotLake.read(spark, root, Some(2L))), root)
    val pruned = SnapshotLake.readPruned(spark, root,
      Seq(FileStats.Range("k", Some("12"), Some("17"))))
    assert(pruned.kept == 1 && pruned.total == 4)
    assertConnectorOnly("readPruned", executed(pruned.df), root)
    val point = SnapshotLake.readPointLookup(spark, root, "k", Seq("25"))
    assert(point.df.count() == 1L)
    assertConnectorOnly("readPointLookup", executed(point.df), root)
    val added = SnapshotLake.commitChange(root, 3L)._2
    val files = SnapshotLake.readFiles(spark, root, added)
    assert(files.count() == 10L)
    assertConnectorOnly("readFiles", executed(files), root)
    // a lake with live deletion vectors reads through the same scan
    import spark.implicits._
    SnapshotLake.deleteWhere(spark, root, Seq(5L, 25L).toDF("k"))
    val afterDelete = SnapshotLake.read(spark, root)
    assert(afterDelete.count() == 38L)
    assertConnectorOnly("read with deletion vectors", executed(afterDelete), root)
  }

  test("a compaction materializes its base through the connector scan") {
    val root = lake("compact")
    // bracketed by marker queries: a listener call for the fixture
    // appends' own queries (their bloom sidecars scan an appended file
    // with Spark's parquet scan) can arrive after registration
    val plans = TestSpark.executedPlans(spark) { SnapshotLake.compact(spark, root) }
    val mine = plans.filter(p => leaves(p).exists {
      case b: BatchScanExec => b.table.name().startsWith(s"graftlake:$root")
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains(root))
      case _ => false
    })
    assert(mine.nonEmpty, "the compaction's write must have run a query over the lake")
    mine.foreach(assertConnectorOnly("compaction", _, root))
    assert(SnapshotLake.read(spark, root).count() == 40L)
  }

  test("a catalog SELECT plans only a connector scan") {
    val root = lake("catalog")
    TestSpark.withConf(
        "spark.sql.catalog.graft_readpath" -> classOf[GraftLakeCatalog].getName,
        "spark.sql.catalog.graft_readpath.warehouse" ->
          TestSpark.tempDir("graft-readpath-wh").toString) { s =>
      s.sql(s"CREATE TABLE graft_readpath.ns.t USING graftlake LOCATION '$root'")
      val df = s.sql("SELECT k, v FROM graft_readpath.ns.t WHERE k >= 30")
      assert(df.count() == 10L)
      assertConnectorOnly("catalog SELECT", executed(df), root)
    }
  }

  test("stream and change-feed scans over 64 small files plan fewer tasks than files") {
    val root = TestSpark.tempDir("graft-readpath-small").toString + "/lake"
    SnapshotLake.append(spark.range(0, 640)
      .select(col("id").as("k"), (col("id") * 2).as("v")).repartition(64), root)
    assert(SnapshotLake.files(root, 1L).size == 64)
    val schema = SnapshotLake.schemaOf(root)
    val stream = new GraftLakeScanBuilder(root, None, schema).build()
      .asInstanceOf[GraftLakeScan].toMicroBatchStream("unused")
    val streamParts = stream.planInputPartitions(GraftLakeOffset(0L), GraftLakeOffset(1L))
    assert(streamParts.length < 64, s"stream tasks: ${streamParts.length}")
    assert(streamParts.map(_.asInstanceOf[GraftLakePackedPartition].files.size).sum == 64)
    val feed = spark.read.format("graftlake").option("readChangeFeed", "true").load(root)
    val cdf = feed.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.collectFirst { case s: GraftLakeCdfScan => s }.get
    val feedParts = cdf.planInputPartitions()
    assert(feedParts.length < 64, s"change-feed tasks: ${feedParts.length}")
    assert(feed.count() == 640L)
  }

  test("a streamed epoch after plain appends runs no footer job when warm") {
    val src = TestSpark.tempDir("graft-readpath-ssrc").toString + "/lake"
    SnapshotLake.append(spark.range(100, 110)
      .select(col("id").as("k"), (col("id") * 2).as("v")).coalesce(1), src)
    val dst = lake("sdst")
    val q = spark.readStream.format("graftlake").load(src)
      .writeStream.format("graftlake")
      .option("path", dst)
      .option("checkpointLocation", TestSpark.tempDir("graft-readpath-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "the sink drain must finish")
    assert(SnapshotLake.currentVersion(dst).contains(5L))
    val streamed = SnapshotLake.commitChange(dst, 5L)._2
    assert(streamed.nonEmpty && streamed.forall(_ > SnapshotLake.files(dst, 4L).max),
      s"the epoch's files must sort after every earlier commit's: $streamed")
    val (jobs, _) = TestSpark.jobsAndTasks(SnapshotLake.schemaOf(dst))
    assert(jobs == 0, "version 5's schema is read from the log")
    assert(SnapshotLake.schemaOf(dst) == SnapshotLake.schemaOf(dst, Some(1L)))
    assert(SnapshotLake.read(spark, dst).count() == 50L)
  }
}
