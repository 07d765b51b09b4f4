package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Column mapping — RENAME/DROP COLUMN as metadata-only evolve commits
  * (Delta's physical-name indirection, re-expressed on the manifest
  * lake): data intact under the new name at head, the old name at a
  * pinned pre-change version, sidecar indexes surviving the rename,
  * fresh physical names preventing dropped data from resurfacing, and
  * the whole surface reachable through SQL DDL + the DSv2 connector. */
class ColumnMappingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDir(): String =
    graft.TestSpark.tempDir("graft-colmap").toString + "/lake"

  /** Two indexed half-range commits of (k, v, tag). */
  private def seed(root: String): Unit = {
    def batch(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") * 2).as("v"),
        concat(lit("t"), (col("id") % 7).cast("string")).as("tag"))
      .coalesce(1)
    val idx = SnapshotLake.IndexSpec(Seq("k"), None)
    SnapshotLake.append(batch(0, 500), root, idx)
    SnapshotLake.append(batch(500, 1000), root, idx)
  }

  test("rename is a metadata-only commit: head reads the new name, a pin reads the old") {
    val root = freshDir()
    seed(root)
    val filesBefore = SnapshotLake.files(root, 2L).toSet
    val v = SnapshotLake.renameColumn(spark, root, "k", "key")
    assert(v == 3L, "rename must commit exactly one evolve version")
    assert(SnapshotLake.files(root, v).toSet == filesBefore,
      "a rename must not touch a single data file")
    val head = SnapshotLake.read(spark, root)
    assert(head.columns.toSeq == Seq("key", "v", "tag"))
    assert(head.agg(sum("key")).head.getLong(0) == (0L until 1000L).sum)
    val pinned = SnapshotLake.read(spark, root, Some(2L))
    assert(pinned.columns.toSeq == Seq("k", "v", "tag"),
      "a version pinned below the rename reads the old shape")
  }

  test("appends after a rename land physically and read back under the logical name") {
    val root = freshDir()
    seed(root)
    SnapshotLake.renameColumn(spark, root, "k", "key")
    SnapshotLake.append(spark.range(1000, 1200)
      .select(col("id").as("key"), (col("id") * 2).as("v"),
        lit("late").as("tag")).coalesce(1),
      root, SnapshotLake.IndexSpec(Seq("key"), None))
    val head = SnapshotLake.read(spark, root)
    assert(head.count() == 1200)
    assert(head.filter(col("tag") === "late").agg(min("key")).head.getLong(0) == 1000L)
    // the new file's column is PHYSICALLY the old name — the invariant
    // every reader of every version relies on
    val newFile = SnapshotLake.files(root,
      SnapshotLake.currentVersion(root).get).toSet --
      SnapshotLake.files(root, 3L).toSet
    val raw = spark.read.parquet(s"$root/${newFile.head}")
    assert(raw.columns.contains("k") && !raw.columns.contains("key"),
      s"post-rename files must carry the physical name: ${raw.columns.toSeq}")
  }

  test("pruning, point lookups, fast counts and stats ranges survive a rename") {
    val root = freshDir()
    seed(root)
    SnapshotLake.renameColumn(spark, root, "k", "key")
    val pruned = SnapshotLake.readPruned(spark, root,
      Seq(FileStats.Range("key", Some("0"), Some("100"))))
    assert(pruned.kept == 1 && pruned.total == 2,
      "the sidecar index (keyed by the physical name) must still prune")
    assert(pruned.df.columns.toSeq == Seq("key", "v", "tag"))
    assert(pruned.df.count() == 101)
    val cw = SnapshotLake.fastCountWhere(spark, root,
      Seq(FileStats.Range("key", Some("0"), Some("499")))).get
    assert(cw.rows == 500 && cw.metadataFiles == 1 && cw.prunedFiles == 1,
      s"metadata count must still answer from the renamed column: $cw")
    val r = SnapshotLake.statsRange(root, "key").get
    assert(r.min.toDouble == 0.0 && r.max.toDouble == 999.0)
  }

  test("merge and deleteWhere keyed by the renamed column") {
    val root = freshDir()
    seed(root)
    SnapshotLake.renameColumn(spark, root, "k", "key")
    SnapshotLake.merge(spark, root,
      spark.range(10, 13).select(col("id").as("key"),
        lit(-1L).as("v"), lit("upd").as("tag")), "key")
    val head = SnapshotLake.read(spark, root)
    assert(head.filter(col("key").between(10, 12))
      .agg(sum("v")).head.getLong(0) == -3L)
    assert(head.count() == 1000)
    SnapshotLake.deleteWhere(spark, root,
      spark.range(0, 5).select(col("id").as("key")))
    assert(SnapshotLake.read(spark, root).count() == 995)
    assert(SnapshotLake.read(spark, root, Some(3L)).count() == 1000,
      "the pinned pre-delete version keeps its rows")
  }

  test("drop is metadata-only; re-adding the name cannot resurface dropped data") {
    val root = freshDir()
    seed(root)
    val vDrop = SnapshotLake.dropColumn(spark, root, "v")
    val head = SnapshotLake.read(spark, root)
    assert(head.columns.toSeq == Seq("k", "tag"))
    assert(SnapshotLake.read(spark, root, Some(vDrop - 1))
      .columns.contains("v"), "the pinned pre-drop version still reads v")
    // auto-merge append re-introducing the NAME: fresh physical name, so
    // the old files' dropped v values must NOT resurface
    SnapshotLake.append(spark.range(2000, 2010)
      .select(col("id").as("k"), lit("new").as("tag"),
        lit(7L).as("v")).coalesce(1),
      root, SnapshotLake.IndexSpec.none, mergeSchema = true)
    val after = SnapshotLake.read(spark, root)
    assert(after.filter(col("tag") === "new").agg(sum("v")).head.getLong(0) == 70L)
    assert(after.filter(col("tag") =!= "new").filter(col("v").isNotNull).count() == 0,
      "old rows must read NULL for the re-added name — never the dropped data")
  }

  test("SQL DDL + connector: RENAME/DROP COLUMN, filters pruning through the mapping") {
    val s = TestSpark.child(
      "spark.sql.catalog.graft_cmt" -> classOf[graft.sources.GraftLakeCatalog].getName,
      "spark.sql.catalog.graft_cmt.warehouse" -> TestSpark.tempDir("graft-cmt-wh").toString)
    val root = freshDir()
    seed(root)
    val tbl = "graft_cmt.lakes.cm_sql"
    s.sql(s"CREATE TABLE IF NOT EXISTS $tbl USING graftlake LOCATION '$root'")
    s.sql(s"ALTER TABLE $tbl RENAME COLUMN k TO key")
    assert(s.table(tbl).columns.toSeq == Seq("key", "v", "tag"))
    assert(s.sql(s"SELECT sum(key) FROM $tbl").head.getLong(0) ==
      (0L until 1000L).sum)
    assert(s.sql(s"SELECT * FROM $tbl VERSION AS OF 2").columns.contains("k"),
      "time travel below the rename reads the old name")
    // pushdown on the RENAMED column must still prune files through the
    // physically-keyed sidecars
    val q = s.table(tbl).filter(col("key") < 100)
    val scan = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.collectFirst { case sc: graft.sources.GraftLakeScan => sc }.get
    assert(scan.keptFiles == 1 && scan.totalFiles == 2,
      "the pushed range must prune through the mapping")
    assert(q.count() == 100)
    s.sql(s"ALTER TABLE $tbl DROP COLUMN v")
    assert(s.table(tbl).columns.toSeq == Seq("key", "tag"))
    assert(s.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) == 1000)
    s.sql(s"DROP TABLE $tbl")
    ()
  }

  test("evolveSchema still refuses un-mapped drops and renames") {
    val root = freshDir()
    seed(root)
    val decl = SnapshotLake.read(spark, root).schema
    val dropped = org.apache.spark.sql.types.StructType(
      decl.fields.filterNot(_.name == "v"))
    val e = intercept[IllegalArgumentException] {
      SnapshotLake.evolveSchema(spark, root, dropped)
    }
    assert(e.getMessage.contains("DROP"))
  }

  test("the streaming sink writes physical names into a mapped lake") {
    val s = spark
    val root = freshDir()
    seed(root)
    SnapshotLake.renameColumn(spark, root, "k", "key")
    val srcRoot = freshDir()
    SnapshotLake.append(s.range(5000, 5010)
      .select(col("id").as("key"), (col("id") * 2).as("v"),
        lit("s").as("tag")).coalesce(1), srcRoot, SnapshotLake.IndexSpec.none)
    val ckpt = graft.TestSpark.tempDir("graft-cm-ckpt").toString
    val q = s.readStream.format("graftlake").load(srcRoot)
      .writeStream.format("graftlake")
      .option("path", root).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val head = SnapshotLake.read(s, root)
    assert(head.count() == 1010)
    assert(head.filter(col("tag") === "s").agg(min("key")).head.getLong(0) == 5000L,
      "streamed rows must read back under the logical name")
    // the invariant itself: the streamed files carry the PHYSICAL name
    val streamed = SnapshotLake.files(root,
      SnapshotLake.currentVersion(root).get).filter(_.contains("stream-"))
    assert(streamed.nonEmpty)
    val raw = spark.read.parquet(s"$root/${streamed.head}")
    assert(raw.columns.contains("k") && !raw.columns.contains("key"),
      s"streamed files must carry physical names: ${raw.columns.toSeq}")
  }

  test("readChangeFeed refuses a mapped lake at the connector boundary") {
    val s = spark
    val root = freshDir()
    seed(root)
    SnapshotLake.renameColumn(spark, root, "k", "key")
    val e = intercept[Exception] {
      s.read.format("graftlake").option("readChangeFeed", "true")
        .load(root).count()
    }
    assert(e.getMessage.contains("column mapping") ||
      Option(e.getCause).exists(_.getMessage.contains("column mapping")))
  }

  test("CDF and column mapping refuse each other, both directions") {
    val root = freshDir()
    seed(root)
    SnapshotLake.renameColumn(spark, root, "k", "key")
    val e1 = intercept[IllegalArgumentException] {
      SnapshotLake.enableCdf(root, "key")
    }
    assert(e1.getMessage.contains("column mapping"))
    val root2 = freshDir()
    seed(root2)
    SnapshotLake.enableCdf(root2, "k")
    val e2 = intercept[IllegalArgumentException] {
      SnapshotLake.renameColumn(spark, root2, "k", "key")
    }
    assert(e2.getMessage.contains("CDF"))
  }

  test("evolveSchema cannot resurrect a dropped column via stamped physical metadata") {
    // the public evolveSchema API is the one mapping path that accepted
    // caller-provided physical keys unchecked: stamping a NEW field with
    // a previously-dropped column's physical name would surface that
    // column's retained file data under the new logical name. The guard
    // mints a fresh physical name for any field not carried over.
    val root = freshDir()
    seed(root)
    SnapshotLake.dropColumn(spark, root, "v") // mapping on; v's data stays in files
    val cur = SnapshotLake.declaredSchema(root).get
    val smuggled = org.apache.spark.sql.types.StructField("v2",
      org.apache.spark.sql.types.LongType, nullable = true,
      metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .putString("graft.physical", "v").build()) // the dropped key
    SnapshotLake.evolveSchema(spark, root,
      org.apache.spark.sql.types.StructType(cur.fields :+ smuggled))
    val decl = SnapshotLake.declaredSchema(root).get
    val physOfV2 = decl.fields.find(_.name == "v2").get
      .metadata.getString("graft.physical")
    assert(physOfV2 != "v",
      "a new field must get a FRESH physical name, never a dropped column's key")
    val head = SnapshotLake.read(spark, root)
    assert(head.filter(col("v2").isNotNull).count() == 0,
      "the dropped column's data must stay invisible under the new name")
    // while a carried-over field (same physical name) still evolves fine
    val widened = org.apache.spark.sql.types.StructType(decl.fields.map(f =>
      if (f.name == "k") f.copy(dataType = org.apache.spark.sql.types.LongType)
      else f))
    SnapshotLake.evolveSchema(spark, root, widened) // no-op widen: k is long
    assert(SnapshotLake.read(spark, root).columns.contains("k"))
  }
}
