package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.SnapshotLake

/** SQL UPDATE / MERGE INTO / rewrite-shape DELETE over catalog lake
  * tables — the group-based copy-on-write contract: untouched files
  * carry verbatim (the runtime group filter narrows the rewrite to the
  * matched files), the replaced groups commit in one version under the
  * conflict fence, and every statement's result equals its SQL
  * semantics exactly. */
class GraftLakeRowOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.child(
    "spark.sql.catalog.graft_cat" -> classOf[GraftLakeCatalog].getName,
    "spark.sql.catalog.graft_cat.warehouse" -> TestSpark.tempDir("graft-rowops-wh").toString)
  import spark.implicits._

  private var n = 0
  /** Four one-file key-range commits registered as a catalog table. */
  private def table(): (String, String) = {
    val root = graft.TestSpark.tempDir("graft-rowops").toString + "/lake"
    val idx = SnapshotLake.IndexSpec(Seq("x"), None)
    (0 until 4).foreach { i =>
      SnapshotLake.append(
        spark.range(i * 10L, i * 10L + 10)
          .select(col("id").as("x"), (col("id") * 2).as("y"))
          .coalesce(1), root, idx)
    }
    n += 1
    val t = s"graft_cat.ns.rowops$n"
    spark.sql(s"CREATE TABLE $t USING graftlake LOCATION '$root'")
    (t, root)
  }

  private def rows(t: String): Map[Long, Long] =
    spark.sql(s"SELECT x, y FROM $t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("UPDATE rewrites only the matched files; untouched files carry verbatim") {
    val (t, root) = table()
    spark.sql(s"UPDATE $t SET y = y + 1000 WHERE x >= 12 AND x <= 17")
    assert(rows(t) == (0L until 40L).map(x =>
      x -> (if (x >= 12 && x <= 17) x * 2 + 1000 else x * 2)).toMap)
    // one new version; files of the three unmatched key-range commits
    // are carried verbatim — only [10,19] was replaced
    assert(SnapshotLake.currentVersion(root).contains(5L))
    val before = SnapshotLake.files(root, 4L).toSet
    val after = SnapshotLake.files(root, 5L).toSet
    assert((before intersect after).size == 3,
      s"three files must carry: ${before intersect after}")
    assert(SnapshotLake.history(root).last.op == "merge")
    // pre-update version still time-travels
    assert(spark.sql(s"SELECT sum(y) FROM $t VERSION AS OF 4")
      .head.getLong(0) == (0L until 40L).map(_ * 2).sum)
  }

  test("UPDATE with an expression over existing columns and no match leaves the table untouched") {
    val (t, root) = table()
    spark.sql(s"UPDATE $t SET y = x WHERE x > 1000")
    assert(rows(t) == (0L until 40L).map(x => x -> x * 2).toMap)
    // Spark skips the rewrite when the group filter matches nothing —
    // whether a no-op version commits is planner-dependent; content is
    // the contract
    assert(SnapshotLake.read(spark, root).count() == 40L)
  }

  test("MERGE INTO: matched updates, matched deletes, and not-matched inserts in one statement") {
    val (t, _) = table()
    spark.range(0, 50, 7) // 0,7,14,...,49
      .select(col("id").as("k"), (col("id") * 100).as("v"))
      .createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $t AS tgt USING merge_src AS src ON tgt.x = src.k
         |WHEN MATCHED AND src.k >= 30 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET y = src.v
         |WHEN NOT MATCHED THEN INSERT (x, y) VALUES (src.k, src.v)
         |""".stripMargin)
    val expected =
      ((0L until 40L).filterNot(x => x % 7 == 0 && x >= 30) // survivors
        .map(x => x -> (if (x % 7 == 0) x * 100 else x * 2)) ++ // updated
        Seq(42L -> 4200L, 49L -> 4900L)).toMap // inserted (beyond max)
    assert(rows(t) == expected)
  }

  test("mainScan selects the scan that RECEIVED the _file group filter, never the widest survivor") {
    import org.apache.spark.sql.connector.write.RowLevelOperation
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val (_, root) = table()
    val schema = SnapshotLake.read(spark, root).schema
    val op = new GraftLakeRowLevelOperation(root, schema,
      RowLevelOperation.Command.UPDATE)
    def build(): GraftLakeScan = op.newScanBuilder(CaseInsensitiveStringMap.empty)
      .build().asInstanceOf[GraftLakeScan]
    val subquery = build()
    val main = build()
    val files = main.currentFiles
    // the condition subquery gets a join-key DPP filter (keys 0 and 39:
    // the index keeps TWO of the four files); the main scan gets the
    // GROUP filter narrowed to ONE file — strictly fewer survivors, the
    // exact shape where picking the widest scan replaces unrewritten files
    subquery.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("x", Array[Any](0L, 39L))))
    main.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("_file", Array[Any](files.head))))
    assert(subquery.currentFiles.size > main.currentFiles.size,
      "the trap requires the subquery scan to survive wider")
    assert(op.mainScan eq main,
      "the _file-filtered scan is the main scan even when narrower")
    // two _file-marked scans are ambiguous: refuse rather than guess
    subquery.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("_file", Array[Any](files.head))))
    intercept[IllegalStateException](op.mainScan)
    // no group filter at all: a single built scan is trivially the main one
    val op2 = new GraftLakeRowLevelOperation(root, schema,
      RowLevelOperation.Command.DELETE)
    val only = op2.newScanBuilder(CaseInsensitiveStringMap.empty)
      .build().asInstanceOf[GraftLakeScan]
    assert(op2.mainScan eq only)
  }

  test("a DELETE the metadata path refuses falls back to the rewrite and deletes correctly") {
    val (t, root) = table()
    // OR + IS NULL — canDeleteWhere says no, the COW rewrite says yes
    spark.sql(s"DELETE FROM $t WHERE x < 3 OR x > 36 OR y IS NULL")
    assert(rows(t).keySet == (3L to 36L).toSet)
    assert(SnapshotLake.history(root).last.op == "delete")
    // strict bound alone also routes through the rewrite
    spark.sql(s"DELETE FROM $t WHERE x > 30")
    assert(rows(t).keySet == (3L to 30L).toSet)
  }
}
