package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.SnapshotLake

/** The V2 catalog under its actual contract: pasted SQL (CREATE TABLE /
  * SELECT with VERSION AS OF / INSERT INTO) resolves lake tables with
  * the connector's pruning intact; external tables survive DROP;
  * managed tables own their data. */
class GraftLakeCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.child(
    "spark.sql.catalog.graft_cat" -> classOf[GraftLakeCatalog].getName,
    "spark.sql.catalog.graft_cat.warehouse" -> TestSpark.tempDir("graft-cat-wh").toString)
  import spark.implicits._

  private def buildLake(): String = {
    val root = graft.TestSpark.tempDir("graft-cat-lake").toString + "/lake"
    val idx = SnapshotLake.IndexSpec(Seq("x"), None)
    (0 until 4).foreach { i =>
      SnapshotLake.append(
        spark.range(i * 10L, i * 10L + 10)
          .select(col("id").as("x"), (col("id") * 2).as("y"))
          .coalesce(1), root, idx)
    }
    root
  }

  test("ALTER TABLE ADD COLUMN / widening ALTER COLUMN TYPE commit schema evolution; other shapes refuse") {
    // four one-file commits with y deliberately INT (widening target)
    val root = graft.TestSpark.tempDir("graft-cat-ev").toString + "/lake"
    val idx = SnapshotLake.IndexSpec(Seq("x"), None)
    (0 until 4).foreach { i =>
      SnapshotLake.append(
        spark.range(i * 10L, i * 10L + 10)
          .select(col("id").as("x"), (col("id") * 2).cast("int").as("y"))
          .coalesce(1), root, idx)
    }
    spark.sql(s"CREATE TABLE graft_cat.ns.ev USING graftlake LOCATION '$root'")
    spark.sql("ALTER TABLE graft_cat.ns.ev ADD COLUMN note STRING") // v5
    // visible immediately, old files null-fill
    val head = spark.sql("SELECT x, y, note FROM graft_cat.ns.ev")
    assert(head.schema.fieldNames.toSeq == Seq("x", "y", "note"))
    assert(head.count() == 40L)
    assert(head.filter(col("note").isNull).count() == 40L)
    // a pinned pre-evolution version never sees the column
    val pre = spark.sql("SELECT * FROM graft_cat.ns.ev VERSION AS OF 4")
    assert(pre.schema.fieldNames.toSeq == Seq("x", "y"))
    // INSERT with the evolved shape through the connector
    spark.sql("INSERT INTO graft_cat.ns.ev VALUES (100, 200, 'new')") // v6
    val rows = spark.sql(
      "SELECT x, note FROM graft_cat.ns.ev WHERE x >= 39 ORDER BY x")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(rows.toSeq == Seq((39L, None), (100L, Some("new"))))
    // widening ALTER COLUMN TYPE evolves as metadata too
    spark.sql("ALTER TABLE graft_cat.ns.ev ALTER COLUMN y TYPE BIGINT")
    assert(spark.table("graft_cat.ns.ev").schema("y").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(spark.sql("SELECT sum(y) FROM graft_cat.ns.ev").head.getLong(0) ==
      (0L until 40L).map(_ * 2).sum + 200L)
    // narrowing still refuses; rename/drop are now metadata-only DDL
    // through column mapping (ColumnMappingSpec pins their semantics)
    intercept[Exception](
      spark.sql("ALTER TABLE graft_cat.ns.ev ALTER COLUMN y TYPE INT"))
    spark.sql("ALTER TABLE graft_cat.ns.ev RENAME COLUMN note TO memo")
    assert(spark.table("graft_cat.ns.ev").columns.toSeq == Seq("x", "y", "memo"))
    spark.sql("ALTER TABLE graft_cat.ns.ev DROP COLUMN memo")
    assert(spark.table("graft_cat.ns.ev").columns.toSeq == Seq("x", "y"))
    assert(spark.sql("SELECT sum(y) FROM graft_cat.ns.ev").head.getLong(0) ==
      (0L until 40L).map(_ * 2).sum + 200L,
      "data survives the rename+drop untouched")
  }

  test("metadata tables: <table>.history is the commit log, <table>.files the live inventory — zero data reads") {
    val root = buildLake() // 4 one-file appends of 10 rows each
    SnapshotLake.compact(spark, root) // v5: 40 rows in 1 file
    spark.sql(s"CREATE TABLE graft_cat.ns.meta USING graftlake LOCATION '$root'")
    val hist = spark.sql(
      "SELECT version, op, n_files, added_rows FROM graft_cat.ns.meta.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
    assert(hist.toSeq == Seq( // n_files = the version's LIVE file count
      (1L, "append", 1, 10L), (2L, "append", 2, 10L),
      (3L, "append", 3, 10L), (4L, "append", 4, 10L),
      (5L, "compact", 1, 0L)))
    val files = spark.sql(
      "SELECT count(*) AS n, sum(rows) AS r, sum(bytes) > 0 AS sized FROM graft_cat.ns.meta.files")
      .head
    assert((files.getLong(0), files.getLong(1), files.getBoolean(2)) ==
      (1L, 40L, true), "post-compaction head: one live file of 40 rows")
    // VERSION AS OF pins the metadata views too: v4 = pre-compaction
    val pinned = spark.sql(
      "SELECT count(*) AS n, sum(rows) AS r FROM graft_cat.ns.meta.files VERSION AS OF 4").head
    assert((pinned.getLong(0), pinned.getLong(1)) == (4L, 40L),
      "the pinned inventory is the four pre-compaction files")
    assert(spark.sql(
      "SELECT max(version) FROM graft_cat.ns.meta.history VERSION AS OF 4")
      .head.getLong(0) == 4L, "history truncates at the pin")
    // .detail: the one-row DESCRIBE DETAIL summary
    val det = spark.sql(
      "SELECT version, n_files, total_rows, n_delete_files, schema_string FROM graft_cat.ns.meta.detail").head
    assert((det.getLong(0), det.getLong(1), det.getLong(2), det.getLong(3)) ==
      (5L, 1L, 40L, 0L))
    assert(det.getString(4).contains("x") && det.getString(4).contains("y"))
    // a REAL table named like a metadata view shadows the sugar
    spark.sql("CREATE TABLE graft_cat.ns.meta.history (z BIGINT) USING graftlake")
    spark.sql("INSERT INTO graft_cat.ns.meta.history VALUES (7)")
    assert(spark.sql("SELECT z FROM graft_cat.ns.meta.history").head.getLong(0) == 7L,
      "explicit data wins over the metadata view")
  }

  test("TIMESTAMP AS OF resolves the newest commit at-or-before the instant; a pre-table instant refuses") {
    val root = graft.TestSpark.tempDir("graft-cat-ts").toString + "/lake"
    SnapshotLake.append(Seq((1L, 10L)).toDF("x", "y"), root) // v1
    Thread.sleep(1200) // manifest mtimes carry second-class granularity
    val between = java.time.Instant.now()
    Thread.sleep(1200)
    SnapshotLake.append(Seq((2L, 20L)).toDF("x", "y"), root) // v2
    spark.sql(s"CREATE TABLE graft_cat.ns.ts USING graftlake LOCATION '$root'")
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
    val pinned = spark.sql(
      s"SELECT x FROM graft_cat.ns.ts TIMESTAMP AS OF '${fmt.format(between)}'")
    assert(pinned.collect().map(_.getLong(0)).toSeq == Seq(1L),
      "the instant between the commits resolves to v1")
    // an instant at-or-after the head commit reads the head
    val now = spark.sql(
      s"SELECT x FROM graft_cat.ns.ts TIMESTAMP AS OF '${
        fmt.format(java.time.Instant.now())}' ORDER BY x")
    assert(now.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // before the table existed: refuse, never a silent other snapshot
    val ex = intercept[Exception](spark.sql(
      "SELECT x FROM graft_cat.ns.ts TIMESTAMP AS OF '2001-01-01 00:00:00'")
      .collect())
    assert(ex.toString.contains("predates") ||
      Option(ex.getCause).exists(_.toString.contains("predates")), ex.toString)
  }

  test("ALTER TABLE RENAME TO moves the identifier; manifests, tags, and pinned versions survive verbatim") {
    // managed: the lake moves with the identifier directory
    spark.sql("CREATE TABLE graft_cat.ns.ren_a (x BIGINT, y BIGINT) USING graftlake")
    spark.sql("INSERT INTO graft_cat.ns.ren_a VALUES (1, 2), (3, 4)")
    spark.sql("INSERT INTO graft_cat.ns.ren_a VALUES (5, 6)")
    spark.sql("ALTER TABLE graft_cat.ns.ren_a RENAME TO ns.ren_b")
    assert(!spark.catalog.tableExists("graft_cat.ns.ren_a"))
    assert(spark.sql("SELECT sum(x) FROM graft_cat.ns.ren_b").head.getLong(0) == 9L)
    // version history survives the move
    assert(spark.sql("SELECT sum(x) FROM graft_cat.ns.ren_b VERSION AS OF 1")
      .head.getLong(0) == 4L)
    // external: only the pointer moves, the lake stays put
    val root = buildLake()
    spark.sql(s"CREATE TABLE graft_cat.ns.ren_ext USING graftlake LOCATION '$root'")
    spark.sql("ALTER TABLE graft_cat.ns.ren_ext RENAME TO ns.ren_ext2")
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns.ren_ext2")
      .head.getLong(0) == 40L)
    assert(SnapshotLake.currentVersion(root).contains(4L),
      "the external lake itself must not move")
    // renaming over an existing table refuses
    intercept[Exception](
      spark.sql("ALTER TABLE graft_cat.ns.ren_ext2 RENAME TO ns.ren_b"))
  }

  test("external table: pasted SQL with VERSION AS OF rides the pruned connector scan") {
    val root = buildLake()
    SnapshotLake.deleteWhere(spark, root, Seq(5L).toDF("x")) // v5
    spark.sql(s"CREATE TABLE graft_cat.ns.ext USING graftlake LOCATION '$root'")
    assert(spark.sql("SELECT count(*) AS n FROM graft_cat.ns.ext")
      .head.getLong(0) == 39L, "head reads through the tombstone vector")
    // time travel to the pre-delete version, with a pruned band scan
    val tt = spark.sql(
      """SELECT sum(y) AS s FROM graft_cat.ns.ext VERSION AS OF 4
        |WHERE x >= 10 AND x <= 19""".stripMargin)
    assert(tt.head.getLong(0) == (10L to 19L).map(_ * 2).sum)
    def scansIn(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.connector.read.Scan] = p.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        Seq(b.scan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansIn(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansIn(q.plan)
    }.flatten
    val scan = scansIn(tt.queryExecution.executedPlan)
      .collectFirst { case s: GraftLakeScan => s }
      .getOrElse(fail("plan must contain the graftlake scan"))
    assert(scan.keptFiles == 1 && scan.totalFiles == 4,
      s"the band prunes to one file through SQL: ${scan.description()}")
    // DROP removes the pointer, never the external lake
    spark.sql("DROP TABLE graft_cat.ns.ext")
    assert(!spark.catalog.tableExists("graft_cat.ns.ext"))
    assert(SnapshotLake.currentVersion(root).contains(5L),
      "dropping an external table must not touch the lake")
  }

  test("DELETE FROM maps onto the copy-on-write predicate delete; unsupported shapes refuse loudly") {
    val root = buildLake() // four one-file key-range commits, stats on x
    spark.sql(s"CREATE TABLE graft_cat.ns.del USING graftlake LOCATION '$root'")
    // x BETWEEN 10 AND 25: file [10,19] whole-drops by METADATA, file
    // [20,29] rewrites survivors, the outer two carry verbatim
    spark.sql("DELETE FROM graft_cat.ns.del WHERE x >= 10 AND x <= 25")
    assert(spark.sql("SELECT x FROM graft_cat.ns.del")
      .collect().map(_.getLong(0)).toSet == ((0L to 9L) ++ (26L to 39L)).toSet)
    val hist = SnapshotLake.history(root)
    assert(hist.last.op == "delete" && hist.last.version == 5L)
    // the whole-drop really was metadata-only: [0,9] and [30,39] carried,
    // [10,19] gone without a rewritten replacement
    val files4 = SnapshotLake.files(root, 4L).toSet
    val files5 = SnapshotLake.files(root, 5L).toSet
    assert((files4 intersect files5).size == 2, "two files carried verbatim")
    // a shape deleteMatching can't express routes through the COW
    // row-level rewrite instead (GraftLakeRowOpsSpec owns that path) —
    // here just pin the composition: it deletes CORRECTLY, not wrongly
    spark.sql("DELETE FROM graft_cat.ns.del WHERE x > 30 OR x IS NULL")
    assert(spark.sql("SELECT x FROM graft_cat.ns.del")
      .collect().map(_.getLong(0)).toSet ==
      ((0L to 9L) ++ (26L to 30L)).toSet,
      "the fallback rewrite applies the exact OR/IS NULL semantics")
    spark.sql("DROP TABLE graft_cat.ns.del")
    ()
  }

  test("CALL procedures: history, restore, compact, vacuum run the lake ops from SQL") {
    val root = buildLake() // v1..v4
    spark.sql(s"CREATE TABLE graft_cat.ns.proc USING graftlake LOCATION '$root'")
    val hist = spark.sql("CALL graft_cat.system.history(table => 'ns.proc')")
    assert(hist.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      (1L to 4L).map(v => (v, "append")))
    // restore to v2 commits v5 with zero data movement
    val r = spark.sql(
      "CALL graft_cat.system.restore(table => 'ns.proc', version => 2)").head
    assert((r.getLong(0), r.getLong(1)) == (2L, 5L))
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns.proc")
      .head.getLong(0) == 20L, "the table IS v2's state again")
    // compact commits v6; vacuum keeps the table readable
    val c = spark.sql(
      "CALL graft_cat.system.compact(table => 'ns.proc', partitions => 2)").head
    assert(c.getLong(0) == 6L)
    spark.sql("CALL graft_cat.system.vacuum(table => 'ns.proc', keep_versions => 2)")
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns.proc")
      .head.getLong(0) == 20L)
    // OPTIMIZE ZORDER as a procedure: rewrite + 2-D index, content intact
    val z = spark.sql("CALL graft_cat.system.compact_zorder(" +
      "table => 'ns.proc', col_a => 'x', col_b => 'y', partitions => 2)").head
    assert(z.getLong(0) == 7L)
    assert(spark.sql("SELECT sum(x) FROM graft_cat.ns.proc")
      .head.getLong(0) == (0L until 20L).sum)
    spark.sql("DROP TABLE graft_cat.ns.proc")
    ()
  }

  test("managed table: INSERT creates version 1, INSERT INTO appends, DROP removes the data") {
    spark.sql("CREATE TABLE graft_cat.ns.managed (x BIGINT, y BIGINT) USING graftlake")
    spark.sql("INSERT INTO graft_cat.ns.managed SELECT id AS x, id * 2 AS y FROM range(10)")
    spark.sql("INSERT INTO graft_cat.ns.managed SELECT id AS x, id * 2 AS y FROM range(10, 15)")
    val n = spark.sql("SELECT count(*) FROM graft_cat.ns.managed").head.getLong(0)
    assert(n == 15L)
    assert(spark.sql("SELECT max(x) FROM graft_cat.ns.managed VERSION AS OF 1")
      .head.getLong(0) == 9L, "the first insert is version 1")
    spark.sql("DROP TABLE graft_cat.ns.managed")
    assert(!spark.catalog.tableExists("graft_cat.ns.managed"))
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_cat.ns.managed").collect()
    }
    ()
  }
}
