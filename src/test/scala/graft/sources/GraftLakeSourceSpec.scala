package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.{FileStats, SnapshotLake}

/** The DSv2 connector under its actual contract: reads equal the native
  * snapshot reader at any version, pushed filters prune input
  * partitions through the sidecar index without ever changing an
  * answer, column pruning reaches the parquet projection, and the
  * documented scope limits fail loudly. */
class GraftLakeSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot(): String =
    Files.createTempDirectory("graft-dsv2").toString + "/lake"

  /** Four one-file key-range commits with stats on x. */
  private def buildLake(): String = {
    val root = newRoot()
    val idx = SnapshotLake.IndexSpec(Seq("x"), None)
    (0 until 4).foreach { i =>
      SnapshotLake.append(
        spark.range(i * 10L, i * 10L + 10)
          .select(col("id").as("x"), (col("id") * 2).as("y"),
            org.apache.spark.sql.functions.concat(
              org.apache.spark.sql.functions.lit("s"),
              col("id").cast("string")).as("s"))
          .coalesce(1), root, idx)
    }
    root
  }

  private def lakeScanOf(df: DataFrame): GraftLakeScan =
    df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.collectFirst { case s: GraftLakeScan => s }.getOrElse(
      fail("plan must contain a GraftLakeScan"))

  test("connector reads equal the native snapshot reader, at head and pinned versions") {
    val root = buildLake()
    val viaConnector = spark.read.format("graftlake").load(root)
    assert(viaConnector.schema == SnapshotLake.read(spark, root).schema)
    assert(viaConnector.collect().map(_.toSeq).toSet ==
      SnapshotLake.read(spark, root).collect().map(_.toSeq).toSet)
    val pinned = spark.read.format("graftlake")
      .option("versionAsOf", "2").load(root)
    assert(pinned.count() == 20L)
    assert(pinned.select("x").collect().map(_.getLong(0)).toSet ==
      (0L until 20L).toSet)
  }

  test("pushed range filters prune input partitions through the index, answers unchanged") {
    val root = buildLake()
    val df = spark.read.format("graftlake").load(root)
      .filter(col("x") >= 10L && col("x") <= 25L)
    val scan = lakeScanOf(df)
    assert(scan.planInputPartitions().length == 2,
      s"files [10,19] and [20,29] survive: ${scan.description()}")
    assert(scan.description().contains("kept=2/4"))
    // pruning never changes the answer: filters are re-applied row-level
    assert(df.select("x").collect().map(_.getLong(0)).toSet ==
      (10L to 25L).toSet)
    // a point filter through the same path
    val pt = spark.read.format("graftlake").load(root).filter(col("x") === 35L)
    assert(lakeScanOf(pt).planInputPartitions().length == 1)
    assert(pt.select("y").head.getLong(0) == 70L)
  }

  test("column pruning reaches the parquet projection; count(*) decodes zero columns") {
    val root = buildLake()
    val twoCols = spark.read.format("graftlake").load(root).select("s", "x")
    assert(lakeScanOf(twoCols).readSchema().fieldNames.toSet == Set("s", "x"))
    assert(twoCols.collect().map(r => r.getString(0)).toSet ==
      (0 until 40).map(i => s"s$i").toSet)
    val n = spark.read.format("graftlake").load(root).count()
    assert(n == 40L)
  }

  /** Every connector scan in the physical plan, descending through the
    * AQE wrapper an aggregate's exchange introduces. */
  private def scansIn(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.connector.read.Scan] =
    p.collect {
      case b: BatchScanExec => Seq(b.scan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansIn(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansIn(q.plan)
      case r: org.apache.spark.sql.execution.ReusedSubqueryExec =>
        scansIn(r.child)
    }.flatten

  private def aggScanOf(df: DataFrame): Option[GraftLakeAggScan] =
    scansIn(df.queryExecution.executedPlan)
      .collectFirst { case s: GraftLakeAggScan => s }

  test("count/min/max push down to a metadata-only scan with sidecar-exact values") {
    val root = buildLake()
    val df = spark.read.format("graftlake").load(root)
      .agg(org.apache.spark.sql.functions.count(
             org.apache.spark.sql.functions.lit(1)).as("n"),
           org.apache.spark.sql.functions.min(col("x")).as("mn"),
           org.apache.spark.sql.functions.max(col("x")).as("mx"))
    val scan = aggScanOf(df).getOrElse(fail(
      s"expected GraftLakeAggScan in ${df.queryExecution.executedPlan}"))
    assert(scan.planInputPartitions().length == 1, "one synthetic partition")
    val r = df.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (40L, 0L, 39L))
    // pinned version resolves the aggregate against THAT snapshot
    val pinned = spark.read.format("graftlake").option("versionAsOf", "2")
      .load(root).agg(org.apache.spark.sql.functions.max(col("x")).as("mx"))
    assert(aggScanOf(pinned).isDefined && pinned.head.getLong(0) == 19L)
  }

  test("aggregate pushdown refuses what metadata cannot answer exactly, falling back to a file scan") {
    val root = buildLake()
    def fallsBack(df: DataFrame): Unit = {
      assert(aggScanOf(df).isEmpty, s"must not push: ${df.queryExecution}")
      ()
    }
    // a filter makes sidecar totals wrong → file scan, answer still right
    val filtered = spark.read.format("graftlake").load(root)
      .filter(col("x") >= 10L)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    fallsBack(filtered)
    assert(filtered.head.getLong(0) == 30L)
    // no stats harvested for y → refuse min(y)
    fallsBack(spark.read.format("graftlake").load(root)
      .agg(org.apache.spark.sql.functions.min(col("y"))))
    // string column → refuse (binary footer stats may truncate)
    fallsBack(spark.read.format("graftlake").load(root)
      .agg(org.apache.spark.sql.functions.min(col("s"))))
    // GROUP BY → refuse, grouped answers still exact
    val grouped = spark.read.format("graftlake").load(root)
      .groupBy((col("x") % 2).as("p"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    fallsBack(grouped)
    assert(grouped.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 20L, 1L -> 20L))
  }

  test("join-driven runtime filtering prunes files through the sidecar index at execution time") {
    val root = buildLake()
    val fact = spark.read.format("graftlake").load(root)
    val dim = spark.range(0, 40).toDF("k").filter(col("k") >= 34L)
    val joined = fact.join(
      org.apache.spark.sql.functions.broadcast(dim), col("x") === col("k"))
    val rows = joined.collect()
    assert(rows.length == 6 &&
      rows.map(_.getLong(0)).toSet == (34L to 39L).toSet)
    val scan = scansIn(joined.queryExecution.executedPlan)
      .collectFirst { case s: GraftLakeScan => s }
      .getOrElse(fail("plan must contain the graftlake scan"))
    assert(scan.keptFiles == 1,
      s"only the [30,39] file holds build keys 34..39: ${scan.description()}")
  }

  test("writes through the connector: create, append, overwrite — snapshot commits with indexes") {
    val root = newRoot()
    def df(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("x"), (col("id") * 2).as("y")).coalesce(1)
    // creating write (no version yet) commits v1 — v2 path sources
    // take explicit append/overwrite modes only
    df(0, 10).write.format("graftlake").mode("append")
      .option("statsCols", "x").save(root)
    assert(SnapshotLake.currentVersion(root).contains(1L))
    // append commits v2; both rowsets visible
    df(10, 20).write.format("graftlake").mode("append")
      .option("statsCols", "x").save(root)
    val both = spark.read.format("graftlake").load(root)
    assert(both.count() == 20L)
    // the requested stats index fires for pushed filters
    val pruned = both.filter(col("x") >= 15L)
    assert(lakeScanOf(pruned).description().contains("kept=1/2"))
    assert(pruned.count() == 5L)
    // overwrite replaces the whole table atomically; time travel keeps v2
    df(100, 105).write.format("graftlake").mode("overwrite").save(root)
    assert(spark.read.format("graftlake").load(root)
      .select("x").collect().map(_.getLong(0)).toSet == (100L until 105L).toSet)
    assert(spark.read.format("graftlake").option("versionAsOf", "2")
      .load(root).count() == 20L)
    // schema enforcement on an existing lake (by-position, Spark's
    // save() contract): wrong arity and unsafe casts both fail analysis
    intercept[Exception] {
      spark.range(5).select(col("id").as("x"))
        .write.format("graftlake").mode("append").save(root)
    }
    intercept[Exception] {
      spark.range(5)
        .select(col("id").cast("string").as("x"), col("id").as("y"))
        .write.format("graftlake").mode("append").save(root)
    }
    ()
  }

  test("the default read path is COLUMNAR: batches feed ColumnarToRow, the row path only under DV/exact filters") {
    val root = buildLake()
    def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString
    // plain scan: the factory reports columnar and the plan converts
    // batches (this is the pin that the decode parity rests on — a
    // regression to row-based reads shows up HERE, not just in bench)
    val plain = spark.read.format("graftlake").load(root).filter(col("x") >= 5L)
    val scan = lakeScanOf(plain)
    assert(scan.toBatch.createReaderFactory()
      .supportColumnarReads(scan.planInputPartitions().head),
      "the default path must offer columnar batches")
    assert(planOf(plain).contains("ColumnarToRow"),
      s"plan must consume batches columnar:\n${planOf(plain)}")
    // live tombstones force the row path (per-task DV filter)
    SnapshotLake.deleteWhere(spark, root, Seq(3L).toDF("x"))
    val dv = spark.read.format("graftlake").load(root)
    val dvScan = lakeScanOf(dv)
    assert(!dvScan.toBatch.createReaderFactory()
      .supportColumnarReads(dvScan.planInputPartitions().head),
      "a DV version must read row-based")
    assert(dv.count() == 39L)
  }

  test("_file metadata column: per-row lineage as a constant vector, usable in filters and groups") {
    val root = buildLake() // four one-file commits
    val df = spark.read.format("graftlake").load(root)
      .select(col("x"), col("_file"))
    val byFile = df.collect()
      .groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(byFile.size == 4, s"four files: ${byFile.keySet}")
    assert(byFile.keySet.forall(_.startsWith("data/")),
      "manifest-relative paths")
    // each file holds exactly its commit's key decade
    assert(byFile.values.toSet ==
      (0 until 4).map(i => (i * 10L until i * 10L + 10).toSet).toSet)
    // grouping by _file — the per-file row-count audit a lake admin runs
    val counts = spark.read.format("graftlake").load(root)
      .groupBy("_file")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(_.getLong(1)).toSeq
    assert(counts == Seq(10L, 10L, 10L, 10L))
    // _file stays hidden from SELECT * (the metadata-column contract)
    assert(!spark.read.format("graftlake").load(root)
      .columns.contains("_file"))
  }

  test("exactPushdown accepts evaluable filters as pushed and the readers apply them exactly") {
    val root = buildLake()
    def exact(df: DataFrame => DataFrame) = df(
      spark.read.format("graftlake").option("exactPushdown", "true").load(root))
    // range + equality on integrals: rows filtered IN the reader (no
    // Filter node re-application) must equal the default path's
    val a = exact(_.filter(col("x") >= 10L && col("x") <= 25L))
    assert(a.select("x").collect().map(_.getLong(0)).toSet == (10L to 25L).toSet)
    val b = exact(_.filter(col("s") === "s17"))
    assert(b.collect().map(r => (r.getAs[Long]("x"), r.getAs[String]("s"))).toSeq ==
      Seq((17L, "s17")))
    // projection that drops the filter column still filters on it
    val c = exact(_.filter(col("x") > 35L).select("y"))
    assert(c.collect().map(_.getLong(0)).toSet == (36L until 40L).map(_ * 2).toSet)
  }

  test("a filtered count pushes to the metadata+boundary hybrid count scan") {
    val root = buildLake() // four files: [0,9] [10,19] [20,29] [30,39]
    val df = spark.read.format("graftlake").option("exactPushdown", "true")
      .load(root)
      .filter(col("x") >= 10L && col("x") <= 25L)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val scan = scansIn(df.queryExecution.executedPlan)
      .collectFirst { case s: GraftLakeCountScan => s }
      .getOrElse(fail(s"expected GraftLakeCountScan: ${df.queryExecution}"))
    assert(scan.metadataFiles == 1, "file [10,19] counts from _rows.json")
    assert(scan.scannedFiles == 1, "file [20,29] is the boundary")
    assert(scan.prunedFiles == 2, "files [0,9] and [30,39] prune")
    assert(df.head.getLong(0) == 16L)
    // a whole-table filtered count where every file whole-matches is
    // pure metadata; a filter we can't evaluate exactly falls back
    val all = spark.read.format("graftlake").option("exactPushdown", "true")
      .load(root).filter(col("x") >= 0L).count()
    assert(all == 40L)
    val contains = spark.read.format("graftlake").option("exactPushdown", "true")
      .load(root).filter(col("s").contains("s1")).count()
    assert(contains == 11L, "unsupported shape stays residual and exact")
    // strictness: x > 9 must NOT whole-drop... er, whole-COUNT file
    // [10,19] wrongly if bounds touch; > 10 keeps it a boundary file
    val strict = spark.read.format("graftlake").option("exactPushdown", "true")
      .load(root).filter(col("x") > 10L)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val ss = scansIn(strict.queryExecution.executedPlan)
      .collectFirst { case s: GraftLakeCountScan => s }.get
    assert(ss.scannedFiles == 1 && ss.metadataFiles == 2,
      s"min == literal under > is a boundary, not a whole match: ${ss.description()}")
    assert(strict.head.getLong(0) == 29L)
  }

  test("deletion-vector versions read through the row path, equal to the native anti-join") {
    val root = buildLake()
    SnapshotLake.deleteWhere(spark, root,
      Seq(3L, 17L, 35L).toDF("x")) // v5: merge-on-read tombstones
    val df = spark.read.format("graftlake").load(root)
    assert(df.count() == 37L)
    assert(df.select("x").collect().map(_.getLong(0)).toSet ==
      (0L until 40L).toSet -- Set(3L, 17L, 35L))
    assert(df.collect().map(_.toSeq).toSet ==
      SnapshotLake.read(spark, root).collect().map(_.toSeq).toSet)
    // projection that does NOT include the tombstone key still filters
    assert(df.select("y").collect().map(_.getLong(0)).toSet ==
      ((0L until 40L).toSet -- Set(3L, 17L, 35L)).map(_ * 2))
    // the pre-delete version still reads (columnar path, no vector)
    assert(spark.read.format("graftlake").option("versionAsOf", "4")
      .load(root).count() == 40L)
    // compaction clears the vector; reads go columnar and stay equal
    SnapshotLake.compact(spark, root)
    assert(spark.read.format("graftlake").load(root).count() == 37L)
  }

  test("hive-partitioned lakes read through the connector, partition tuple pruned and re-attached") {
    val part = newRoot()
    val idx = SnapshotLake.IndexSpec(Seq("x"), None)
    SnapshotLake.appendPartitioned(
      Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("x", "p").repartition(1),
      part, Seq("p"), idx)
    SnapshotLake.appendPartitioned(
      Seq((4L, "b"), (5L, "c")).toDF("x", "p").repartition(1),
      part, Seq("p"), idx)
    val df = spark.read.format("graftlake").load(part)
    assert(df.schema.fieldNames.toSet == Set("x", "p"))
    assert(df.collect().map(r => (r.getAs[Long]("x"), r.getAs[String]("p"))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "a"), (4L, "b"), (5L, "c")))
    // the partition column itself projects from the path, not the file
    assert(df.select("p").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("a", "a", "b", "b", "c"))
    // partition-tuple pruning composes with the pushed filter: p='c'
    // survives only the one file of the second commit
    val pc = spark.read.format("graftlake").load(part).filter(col("p") === "c")
    assert(lakeScanOf(pc).keptFiles == 1,
      s"partition pruning through the connector: ${lakeScanOf(pc).description()}")
    assert(pc.select("x").head.getLong(0) == 5L)
    // and the stats index prunes within partitions (x >= 4)
    val px = spark.read.format("graftlake").load(part).filter(col("x") >= 4L)
    assert(px.collect().map(_.getAs[Long]("x")).toSet == Set(4L, 5L))
  }

  test("array columns and schema evolution decode through the vectorized path") {
    val root = newRoot()
    SnapshotLake.append(
      Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f))).toDF("id", "emb"),
      root)
    // a later commit adds a column; older files surface it as NULL
    // (mergeSchema = the native reader's opt-in evolution contract)
    SnapshotLake.append(
      Seq((3L, Seq(5.0f, 6.0f), "new")).toDF("id", "emb", "tag"), root)
    val df = spark.read.format("graftlake")
      .option("mergeSchema", "true").load(root)
    val rows = df.collect().map(r => (r.getAs[Long]("id"),
      r.getAs[scala.collection.Seq[Float]]("emb").toSeq,
      Option(r.getAs[String]("tag")))).toSet
    assert(rows == Set(
      (1L, Seq(1.0f, 2.0f), None), (2L, Seq(3.0f, 4.0f), None),
      (3L, Seq(5.0f, 6.0f), Some("new"))))
  }

  test("reader option timestampAsOf pins the newest commit at-or-before the instant") {
    val root = newRoot()
    SnapshotLake.append(spark.range(0, 3).select(col("id").as("x")), root) // v1
    Thread.sleep(1200)
    val between = java.time.Instant.now()
    Thread.sleep(1200)
    SnapshotLake.append(spark.range(3, 5).select(col("id").as("x")), root) // v2
    val pinned = spark.read.format("graftlake")
      .option("timestampAsOf", between.toString).load(root)
    assert(pinned.count() == 3L, "the instant between the commits reads v1")
    // the space-separated local form parses in the SESSION timezone
    // (UTC in these sessions) — the same rule as a SQL timestamp literal
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
    assert(spark.read.format("graftlake")
      .option("timestampAsOf", fmt.format(between)).load(root).count() == 3L)
    // both pins together refuse; a pre-table instant refuses
    intercept[Exception](spark.read.format("graftlake")
      .option("timestampAsOf", between.toString)
      .option("versionAsOf", "1").load(root).count())
    intercept[Exception](spark.read.format("graftlake")
      .option("timestampAsOf", "2001-01-01T00:00:00Z").load(root).count())
  }

  test("write option mergeSchema=true auto-evolves the lake to the append's union; without it the append refuses") {
    val root = newRoot()
    SnapshotLake.append(
      spark.range(0, 5).select(col("id").as("k"),
        (col("id") * 2).cast("int").as("n")), root) // v1: n INT
    // a wider + additive batch refuses without the option…
    val batch = spark.range(5, 8).select(col("id").as("k"),
      (col("id") * 2).as("n"), // LONG: widens
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("t"),
        col("id").cast("string")).as("tag")) // new column
    intercept[Exception](
      batch.write.format("graftlake").mode("append").save(root))
    // …and evolves + appends with it: ONE commit carrying both the
    // evolved schema declaration and the files (Delta's autoMerge is
    // atomic — a crash can never leave the schema evolved with no data)
    batch.write.format("graftlake").mode("append")
      .option("mergeSchema", "true").save(root)
    assert(SnapshotLake.currentVersion(root).contains(2L),
      "autoMerge commits schema + files as one atomic version (v2)")
    assert(SnapshotLake.declaredSchema(root, Some(2L)).isDefined &&
      SnapshotLake.declaredSchema(root, Some(1L)).isEmpty,
      "the schema declaration rides the append commit itself")
    val df = spark.read.format("graftlake").load(root)
    assert(df.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq ==
      Seq(("k", "bigint"), ("n", "bigint"), ("tag", "string")))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1),
      Option(r.getString(2)))).toSet ==
      ((0L until 5L).map(i => (i, i * 2, None)) ++
        (5L until 8L).map(i => (i, i * 2, Some(s"t$i")))).toSet)
    // a batch MISSING a column also rides the option (null-fill), with
    // no gratuitous evolve commit — the union adds nothing new
    spark.range(8, 9).select(col("id").as("k")).write.format("graftlake")
      .mode("append").option("mergeSchema", "true").save(root)
    assert(SnapshotLake.currentVersion(root).contains(3L),
      "no schema re-declaration when the union equals the lake schema")
    val after = spark.read.format("graftlake").load(root)
    assert(after.filter(col("k") === 8L).collect().map(r =>
      (r.isNullAt(1), r.isNullAt(2))).toSeq == Seq((true, true)))
  }

  test("filtered-count wholeMatch compares integral stats at full precision — no 2^53 Double collapse") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThanOrEqual}
    // 2^53 + 1: equal to 2^53 as a Double, distinct as a Long
    val big = "9007199254740993"
    val st = Map("k" -> FileStats.ColRange(big, big, numeric = true,
      nulls = Some(0L)))
    assert(!GraftLakeCountScan.wholeMatch(st, EqualTo("k", 9007199254740992L)),
      "Double compare would wrongly PROVE every row equals 2^53")
    assert(GraftLakeCountScan.wholeMatch(st, EqualTo("k", 9007199254740993L)))
    assert(GraftLakeCountScan.wholeMatch(st, GreaterThan("k", 9007199254740992L)),
      "full precision must still prove the strict bound 2^53+1 > 2^53")
    assert(!GraftLakeCountScan.wholeMatch(st, LessThanOrEqual("k", 9007199254740992L)))
    // an unparseable numeric bound proves nothing (falls back to a scan)
    // rather than throwing or over-claiming
    val nan = Map("f" -> FileStats.ColRange("NaN", "NaN", numeric = true,
      nulls = Some(0L)))
    assert(!GraftLakeCountScan.wholeMatch(nan, EqualTo("f", 1.0d)))
  }

  test("exact filters accepted by a scan used as a micro-batch STREAM reach the streaming readers") {
    val root = newRoot()
    val idx = SnapshotLake.IndexSpec(Seq("x"), None)
    SnapshotLake.append(spark.range(0L, 10L).select(col("id").as("x"),
      (col("id") * 2).as("y")).coalesce(1), root, idx) // v1
    SnapshotLake.append(spark.range(10L, 20L).select(col("id").as("x"),
      (col("id") * 2).as("y")).coalesce(1), root, idx) // v2
    val schema = SnapshotLake.read(spark, root).schema
    val sb = new GraftLakeScanBuilder(root, None, schema,
      exactPushdown = true)
    val residual = sb.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThan("x", 14L)))
    assert(residual.isEmpty, "the integral filter must be accepted as exact")
    val scan = sb.build().asInstanceOf[GraftLakeScan]
    val stream = scan.toMicroBatchStream("unused")
    val parts = stream.planInputPartitions(GraftLakeOffset(0L),
      GraftLakeOffset(2L))
    val rf = stream.createReaderFactory()
    val got = parts.flatMap { p =>
      val r = rf.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      try { while (r.next()) buf += r.get().getLong(0) } finally r.close()
      buf
    }.toSet
    // Spark re-applies NOTHING for a fully-pushed filter: the streaming
    // readers themselves must filter, or unmatched rows leak downstream
    assert(got == (15L until 20L).toSet,
      s"streaming readers must apply the pushed exact filter: $got")
  }

  test("a recreated lake at the same root rebuilds the sidecar index") {
    // the per-(root, version) sidecar index is fingerprint-validated like
    // the resolve cache: a delete-and-recreate must never plan a
    // partitioned scan from the OLD index (whose composed stats map knows
    // nothing of the new files — formerly a NoSuchElementException at
    // plan time, or worse, stale min/max on colliding commit-dir names)
    val s = spark
    val dir = Files.createTempDirectory("graft-sidx-recreate").toString
    val root = s"$dir/lake"
    import org.apache.spark.sql.functions.{lit, sum}
    def build(mark: Long): Unit =
      SnapshotLake.appendPartitioned(
        s.range(0, 100).select(col("id").as("k"), lit(mark).as("m"),
          (col("id") % 2).as("p")).repartition(1), root, Seq("p"))
    def q(): Long = s.read.format("graftlake").load(root)
      .filter(col("k") >= 10 && col("p") === 1)
      .agg(sum("m")).head.getLong(0)
    build(1L)
    assert(q() == 45L) // warms the (root, v=1) index
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    build(2L)
    assert(q() == 90L,
      "the recreated lake must plan from ITS OWN sidecar index")
  }

  test("sidecar-index MRU slot: strong hit by identity, newer version replaces it, older pinned reads stay soft") {
    val root = buildLake() // v1..v4, stats on x
    val f4 = SnapshotLake.files(root, 4L)
    val idx4 = GraftLakeSidecarIndex.of(root, 4L, f4)
    assert(GraftLakeSidecarIndex.of(root, 4L, f4) eq idx4,
      "re-planning the newest version is a strong MRU hit (same instance)")
    // planning an OLDER version (a pinned time-travel read) must answer
    // without displacing the newest version from the strong slot
    val f2 = SnapshotLake.files(root, 2L)
    val idx2 = GraftLakeSidecarIndex.of(root, 2L, f2)
    assert(idx2.rows.keySet.size < idx4.rows.keySet.size,
      "the older version's index covers fewer commit dirs")
    assert(GraftLakeSidecarIndex.of(root, 4L, f4) eq idx4,
      "an older pinned read leaves the newest version pinned strongly")
    // a newer version replaces the MRU slot and carries the new stats
    SnapshotLake.append(
      spark.range(100L, 110L).select(col("id").as("x"),
        (col("id") * 2).as("y"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("s"),
          col("id").cast("string")).as("s")).coalesce(1),
      root, SnapshotLake.IndexSpec(Seq("x"), None)) // v5
    val f5 = SnapshotLake.files(root, 5L)
    val idx5 = GraftLakeSidecarIndex.of(root, 5L, f5)
    assert(idx5 ne idx4)
    assert(GraftLakeSidecarIndex.of(root, 5L, f5) eq idx5,
      "the newer version now owns the strong slot")
    val newFile = (f5.toSet -- f4.toSet).head
    assert(idx5.composed(newFile).get("x").exists(_.min == "100"),
      "the replacing index carries the new commit's sidecar ranges")
  }

  // ── per-cycle commit cost and temporal pruning ───────────────────────

  /** (jobs, tasks) the body's actions launch. The listener counts only
    * jobs of a job group of this call's own — suites share the session
    * and run concurrently — and a marker job in a second group drains
    * the listener bus: events arrive in order, so once the marker's
    * start is seen every job of the body has been counted. */
  private def jobsAndTasks(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"cost-${java.util.UUID.randomUUID()}"
    val marker = s"$group-drained"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            jobs.incrementAndGet()
            tasks.addAndGet(e.stageInfos.map(_.numTasks).sum)
            ()
          case Some(`marker`) => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus never delivered the marker job")
    } finally sc.removeSparkListener(listener)
    (jobs.get, tasks.get)
  }

  /** Rows (k, ts) of one 3-hourly batch, `ts` one second apart. */
  private def tsBatch(i: Int): DataFrame =
    spark.range(i * 100L, i * 100L + 100).select(col("id").as("k"),
      org.apache.spark.sql.functions.timestamp_seconds(
        lit(1704067200L) + col("id")).as("ts")).coalesce(1)

  /** `df` written as one parquet file; returns the file. */
  private def parquetFile(df: DataFrame): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft-parquet").resolve("b")
    df.coalesce(1).write.parquet(dir.toString)
    Files.list(dir).filter(_.toString.endsWith(".parquet")).findFirst().get()
  }

  /** Commit a copy of the parquet file `part` as the one file of commit
    * dir `data/<dir>`: no Spark write per commit, and a chosen dir name,
    * so a spec controls where the commit sorts in the listing. */
  private def commitFile(part: java.nio.file.Path, root: String,
                         dir: String, rows: Long): Long = {
    val rel = s"data/$dir/part-0.parquet"
    Files.createDirectories(java.nio.file.Paths.get(root, rel).getParent)
    Files.copy(part, java.nio.file.Paths.get(root, rel))
    SnapshotLake.commitSynthetic(root, Seq(rel), rows)
  }

  /** A lake of `n` one-file append versions, all copies of one batch. */
  private def deepLake(n: Int): String = {
    val root = newRoot()
    val part = parquetFile(tsBatch(0))
    (1 to n).foreach(_ =>
      commitFile(part, root, java.util.UUID.randomUUID().toString, 100L))
    root
  }

  private def connectorAppend(df: DataFrame, root: String,
                              opts: (String, String)*): Unit =
    df.write.format("graftlake").mode("append").option("statsCols", "ts")
      .options(opts.toMap).save(root)

  test("a connector append costs the same jobs and tasks at 5 and 60 versions of history") {
    val costs = Seq(5, 60).map { depth =>
      val root = deepLake(depth)
      // cold: this JVM never inferred the lake's schema; warm: the
      // previous append left version v−1's inference cached
      val cold = jobsAndTasks(connectorAppend(tsBatch(1), root))
      val warm = jobsAndTasks(connectorAppend(tsBatch(2), root))
      assert(SnapshotLake.currentVersion(root).contains(depth + 2L))
      depth -> (cold, warm, root)
    }.toMap
    info(s"(jobs, tasks) per append, cold and warm, by depth: " +
      costs.view.mapValues(c => (c._1, c._2)).toMap)
    val (cold5, warm5, _) = costs(5)
    val (cold60, warm60, root) = costs(60)
    assert(cold5._1 == cold60._1 && warm5._1 == warm60._1,
      s"jobs per append must not depend on history: $costs")
    assert(cold60._2 <= cold5._2 && warm60._2 <= warm5._2,
      s"tasks per append must not grow with live files: $costs")

    // the check the cheap path replaced still holds: a mismatched append
    // refuses without touching the lake…
    val wide = tsBatch(3).withColumn("tag", lit("t"))
    intercept[Exception](connectorAppend(wide, root))
    assert(SnapshotLake.currentVersion(root).contains(62L))
    // …and mergeSchema=true evolves the lake in ONE commit, visible to a
    // load at the new head
    connectorAppend(wide, root, "mergeSchema" -> "true")
    assert(SnapshotLake.currentVersion(root).contains(63L))
    assert(SnapshotLake.declaredSchema(root, Some(63L)).isDefined)
    val evolved = Seq("k" -> "bigint", "ts" -> "timestamp", "tag" -> "string")
    assert(spark.read.format("graftlake").load(root).schema.fields
      .map(f => f.name -> f.dataType.simpleString).toSeq == evolved)
    assert(spark.read.format("graftlake").load(root)
      .filter(col("tag") === "t").count() == 100L)
  }

  test("read, load and the append check agree on an undeclared mixed-schema lake") {
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name -> f.dataType.simpleString).toSeq
    val ab = spark.range(0, 2).select(col("id").as("a"), col("id").cast("string").as("b"))
    val ac = spark.range(10, 12).select(col("id").as("a"), col("id").cast("double").as("c"))
    val merged = Seq("a" -> "bigint", "b" -> "string", "c" -> "double")
    /** Version 2 adds `ac` to a lake of `ab`: in a random commit dir
      * (two raw appends), or one sorting first or last; `warm` infers
      * version 1 before version 2 lands, so version 2 inherits. */
    def check(dir: Option[String], warm: Boolean): Unit = {
      val root = newRoot()
      SnapshotLake.append(ab, root)
      if (warm) {
        spark.read.format("graftlake").load(root).schema
        spark.read.format("graftlake").option("mergeSchema", "true").load(root).schema
      }
      dir.fold(SnapshotLake.append(ac, root))(commitFile(parquetFile(ac), root, _, 2L))
      // the one rule: Spark's, over the listing sorted by path — the
      // commit whose file sorts first names the non-merging schema
      val firstIsAb = SnapshotLake.files(root, 1L).contains(SnapshotLake.files(root, 2L).min)
      val (want, other) = if (firstIsAb) (ab, ac) else (ac, ab)
      val ctx = s"dir=$dir warm=$warm"
      val read = shape(SnapshotLake.read(spark, root).schema)
      assert(read == shape(want.schema), ctx)
      assert(shape(spark.read.format("graftlake").load(root).schema) == read, ctx)
      // the append check: the agreed shape appends, the other refuses
      intercept[Exception](other.write.format("graftlake").mode("append").save(root))
      want.write.format("graftlake").mode("append").save(root)
      assert(SnapshotLake.currentVersion(root).contains(3L), ctx)
      // mergeSchema unions the footers in path order
      val m = shape(SnapshotLake.read(spark, root, mergeSchema = true).schema)
      assert(m.toSet == merged.toSet, ctx)
      assert(shape(spark.read.format("graftlake").option("mergeSchema", "true")
        .load(root).schema) == m, ctx)
    }
    check(None, warm = false)
    check(None, warm = true)
    Seq("00000000-0000-0000-0000-000000000000",
        "ffffffff-ffff-ffff-ffff-ffffffffffff").foreach { d =>
      check(Some(d), warm = false)
      check(Some(d), warm = true)
    }
  }

  /** A UTC wall-clock time as the `Timestamp` literal of that instant,
    * whatever the JVM's default zone (the sessions run in UTC). */
  private def utc(t: java.time.LocalDateTime): java.sql.Timestamp =
    java.sql.Timestamp.from(t.toInstant(java.time.ZoneOffset.UTC))

  /** Four one-file commits, file i holding day i of January 2024 at
    * hours 0..23 plus 7 µs, as TIMESTAMP, TIMESTAMP_NTZ and DATE, all
    * three stats-indexed (and `ts` bloom-indexed). */
  private def temporalLake(): String = {
    val root = newRoot()
    val idx = SnapshotLake.IndexSpec(Seq("ts", "tsn", "d"), Some("ts"))
    (0 until 4).foreach { i =>
      SnapshotLake.append(spark.range(0, 24).select(
        (lit(i) * 24 + col("id")).as("h"),
        org.apache.spark.sql.functions.timestamp_micros(
          lit(1704067200000000L) + (lit(i) * 24 + col("id")) * 3600000000L + 7L)
          .as("ts")).select(col("h"), col("ts"),
        col("ts").cast("timestamp_ntz").as("tsn"),
        col("ts").cast("date").as("d")).coalesce(1), root, idx)
    }
    root
  }

  test("timestamp, timestamp_ntz and date literals prune files at exact boundaries, answers unchanged") {
    import java.time.{LocalDate, LocalDateTime}
    val root = temporalLake()
    // day 1's first and last rows: 2024-01-02 00:00:00.000007 and 23:00:00.000007
    val lo = LocalDateTime.of(2024, 1, 2, 0, 0, 0, 7000)
    val hi = LocalDateTime.of(2024, 1, 2, 23, 0, 0, 7000)
    val micro = java.time.Duration.ofNanos(1000)
    def ts(t: LocalDateTime) = lit(utc(t))
    def day(d: LocalDate) = lit(java.sql.Date.valueOf(d))
    val d1 = LocalDate.of(2024, 1, 2)
    val cases: Seq[(String, org.apache.spark.sql.Column, Int)] = Seq(
      ("ts >= min", col("ts") >= ts(lo), 3),
      ("ts >= min + 1µs", col("ts") >= ts(lo.plus(micro)), 3),
      ("ts > max", col("ts") > ts(hi), 3), // inclusive superset keeps file 1
      ("ts >= max + 1µs", col("ts") >= ts(hi.plus(micro)), 2),
      ("ts < min", col("ts") < ts(lo), 2), // inclusive superset keeps file 1
      ("ts <= min - 1µs", col("ts") <= ts(lo.minus(micro)), 1),
      ("ts = max", col("ts") === ts(hi), 1),
      ("ts = max + 1µs", col("ts") === ts(hi.plus(micro)), 0),
      ("day window", col("ts") >= ts(d1.atStartOfDay) &&
        col("ts") < ts(d1.plusDays(1).atStartOfDay), 1), // day 2 starts 7 µs late
      ("tsn >= max + 1µs", col("tsn") >= lit(hi.plus(micro)), 2),
      ("tsn <= min - 1µs", col("tsn") <= lit(lo.minus(micro)), 1),
      ("tsn = min", col("tsn") === lit(lo), 1),
      ("d >= day 1", col("d") >= day(d1), 3),
      ("d > day 1", col("d") > day(d1), 3),
      ("d < day 1", col("d") < day(d1), 2),
      ("d <= day 0", col("d") <= day(d1.minusDays(1)), 1),
      ("d = day 2", col("d") === day(d1.plusDays(1)), 1))
    cases.foreach { case (name, pred, kept) =>
      val df = spark.read.format("graftlake").load(root).filter(pred)
      assert(lakeScanOf(df).keptFiles == kept,
        s"$name: ${lakeScanOf(df).description()}")
      assert(df.collect().map(_.toSeq).toSet ==
        SnapshotLake.read(spark, root).filter(pred).collect().map(_.toSeq).toSet,
        name)
    }
    // the java.time forms Spark hands over under the java8 datetime API
    // convert to the same units as their java.sql twins
    val t = utc(hi)
    assert(GraftLakeScan.temporalStat(t.toInstant) == GraftLakeScan.temporalStat(t))
    assert(GraftLakeScan.temporalStat(d1) ==
      GraftLakeScan.temporalStat(java.sql.Date.valueOf(d1)))
    assert(GraftLakeScan.temporalStat(hi).contains(1704236400000007L))
    assert(GraftLakeScan.temporalStat(d1).contains(19724L))
  }

  test("temporal pruning leaves date/timestamp partition columns and blooms in their string form") {
    import java.time.{LocalDate, LocalDateTime}
    val src = temporalLake()
    val rows = SnapshotLake.read(spark, src)
    val hi = LocalDateTime.of(2024, 1, 2, 23, 0, 0, 7000)
    // `=` on the bloom-indexed ts: the probe keeps its string form (a
    // temporal literal probes no bloom), so the file holding the value
    // stays and the range alone narrows to it
    val pt = spark.read.format("graftlake").load(src)
      .filter(col("ts") === lit(utc(hi)))
    assert(lakeScanOf(pt).keptFiles == 1, lakeScanOf(pt).description())
    assert(pt.select("h").collect().map(_.getLong(0)).toSeq == Seq(47L))

    // partitioned by the DATE and by a TIMESTAMP (the day's midnight):
    // their ranges are path strings, so temporal literals on them prune
    // nothing, while the sidecar-indexed ts still prunes in the same lake
    Seq("d" -> "d", "day" -> "date_trunc('DAY', ts)").foreach { case (p, e) =>
      val root = newRoot()
      (0 until 4).foreach { i =>
        SnapshotLake.appendPartitioned(
          rows.filter(col("h").between(i * 24, i * 24 + 23))
            .withColumn(p, org.apache.spark.sql.functions.expr(e)).coalesce(1),
          root, Seq(p), SnapshotLake.IndexSpec(Seq("ts"), None))
      }
      val lake = spark.read.format("graftlake").load(root)
      val onPath =
        if (p == "d") col("d") >= lit(java.sql.Date.valueOf(LocalDate.of(2024, 1, 3)))
        else col("day") < lit(utc(LocalDateTime.of(2024, 1, 2, 0, 0)))
      val onStats = col("ts") >= lit(utc(hi.plusNanos(1000)))
      assert(lakeScanOf(lake).totalFiles == 4)
      Seq(onPath -> 4, onStats -> 2).foreach { case (pred, kept) =>
        val df = lake.filter(pred)
        assert(lakeScanOf(df).keptFiles == kept, s"$p: ${lakeScanOf(df).description()}")
        assert(df.collect().map(_.toSeq).toSet ==
          SnapshotLake.read(spark, root).filter(pred).collect().map(_.toSeq).toSet, p)
      }
    }
  }

  test("a lake written as TIMESTAMP_MILLIS harvests micros, so timestamp literals prune it correctly") {
    // a session of its own: the output type is a session conf, and the
    // suites share one session
    val millis = spark.newSession()
    millis.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    val root = newRoot()
    (0 until 2).foreach { i =>
      SnapshotLake.append(millis.range(0, 10).select(col("id").as("k"),
        org.apache.spark.sql.functions.timestamp_seconds(
          lit(1704067200L + i * 86400L) + col("id")).as("ts")).coalesce(1),
        root, SnapshotLake.IndexSpec(Seq("ts"), None))
    }
    val day1 = lit(utc(java.time.LocalDateTime.of(2024, 1, 2, 0, 0)))
    val df = spark.read.format("graftlake").load(root).filter(col("ts") >= day1)
    assert(lakeScanOf(df).keptFiles == 1, lakeScanOf(df).description())
    assert(df.select("k").collect().map(_.getLong(0)).toSet == (0L until 10L).toSet)
  }
}
