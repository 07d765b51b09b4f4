package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.SnapshotLake

/** [[graft.plans.BoundBySourceMerge]] — runtime group filtering for
  * conditioned `WHEN NOT MATCHED BY SOURCE` merges. The counterfactual
  * pair on identical lakes: with range-bounded by-source conditions the
  * COW commit replaces only the files holding affected rows; with an
  * UNCONDITIONED by-source clause nothing can be narrowed and the full
  * rewrite stands (Spark's own behavior). Results hash-equal either way
  * — the rule is a file-I/O lever, never a correctness input. */
class BoundBySourceMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.child(
    "spark.sql.catalog.graft_nbs" -> classOf[GraftLakeCatalog].getName,
    "spark.sql.catalog.graft_nbs.warehouse" -> TestSpark.tempDir("graft-nbs-wh").toString)

  private def seeded(tag: String): (String, String) = {
    val s = spark
    val root = graft.TestSpark.tempDir(s"graft-nbs-$tag").toString + "/lake"
    val idx = SnapshotLake.IndexSpec(Seq("k"), None)
    for (i <- 0 until 4) // four disjoint key-range files
      SnapshotLake.append(s.range(i * 1000L, (i + 1) * 1000L)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(1), root, idx)
    val tbl = s"graft_nbs.ns.$tag"
    s.sql(s"CREATE TABLE IF NOT EXISTS $tbl USING graftlake LOCATION '$root'")
    (root, tbl)
  }

  test("conditioned BY-SOURCE clauses bound the rewrite to affected files") {
    val s = spark
    val (root, tbl) = seeded("bounded")
    s.range(10, 20).select(col("id").as("sk"), lit(-5L).as("sv"))
      .createOrReplaceTempView("nbs_b_src")
    s.sql(
      s"""MERGE INTO $tbl AS tgt USING nbs_b_src AS src
         |ON tgt.k = src.sk
         |WHEN MATCHED THEN UPDATE SET v = src.sv
         |WHEN NOT MATCHED BY SOURCE AND tgt.k >= 3500 AND tgt.k < 3600
         |  THEN UPDATE SET v = -9
         |WHEN NOT MATCHED BY SOURCE AND tgt.k >= 3900
         |  THEN DELETE""".stripMargin)
    val v = SnapshotLake.currentVersion(root).get
    val (_, added, removed, _) = SnapshotLake.commitDelta(root, v)
    // matches live in file 0, both by-source conditions in file 3:
    // files 1 and 2 must be carried, never rewritten
    assert(removed.size == 2,
      s"only the affected files may be replaced: removed=${removed.size} of 4")
    assert(added.nonEmpty)
    val head = SnapshotLake.read(s, root)
    assert(head.count() == 3900)
    assert(head.filter(col("k").between(10, 19))
      .agg(sum("v")).head.getLong(0) == -50L)
    assert(head.filter(col("k").between(3500, 3599))
      .agg(max("v")).head.getLong(0) == -9L)
    assert(head.filter(col("k") >= 3900).count() == 0)
    // untouched band: original values, bit for bit
    assert(head.filter(col("k").between(1000, 2999))
      .filter(col("v") =!= col("k") * 2).count() == 0)
  }

  test("counterfactual: an UNCONDITIONED BY-SOURCE clause keeps the full rewrite") {
    val s = spark
    val (root, tbl) = seeded("full")
    s.range(10, 20).select(col("id").as("sk"), lit(-5L).as("sv"))
      .createOrReplaceTempView("nbs_f_src")
    s.sql(
      s"""MERGE INTO $tbl AS tgt USING nbs_f_src AS src
         |ON tgt.k = src.sk
         |WHEN MATCHED THEN UPDATE SET v = src.sv
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = v + 1""".stripMargin)
    val v = SnapshotLake.currentVersion(root).get
    val (_, _, removed, _) = SnapshotLake.commitDelta(root, v)
    assert(removed.size == 4,
      "an unconditioned by-source clause touches every file — no narrowing")
    val head = SnapshotLake.read(s, root)
    assert(head.filter(col("k").between(10, 19))
      .agg(sum("v")).head.getLong(0) == -50L)
    assert(head.filter(!col("k").between(10, 19))
      .filter(col("v") =!= col("k") * 2 + 1).count() == 0)
  }

  test("a non-deterministic by-source condition never narrows the rewrite") {
    // rand() < 2.0 is reference-free, so it passes the outputSet guards —
    // only the rule's explicit determinism check may stop the narrowing,
    // because the group filter RE-EVALUATES the condition against a
    // separate scan and a non-deterministic one could disagree between
    // the two evaluations. Spark's analyzer usually rejects these merges
    // outright; either outcome (refusal, or a FULL un-narrowed rewrite
    // with every row updated — rand()<2.0 is always true) is sound, and
    // a NARROWED commit is the one bug this pins against.
    val s = spark
    val (root, tbl) = seeded("nondet")
    s.range(10, 20).select(col("id").as("sk"), lit(-5L).as("sv"))
      .createOrReplaceTempView("nbs_n_src")
    scala.util.Try(s.sql(
      s"""MERGE INTO $tbl AS tgt USING nbs_n_src AS src
         |ON tgt.k = src.sk
         |WHEN MATCHED THEN UPDATE SET v = src.sv
         |WHEN NOT MATCHED BY SOURCE AND rand() < 2.0
         |  THEN UPDATE SET v = -1""".stripMargin)) match {
      case scala.util.Failure(e) =>
        assert(e.isInstanceOf[org.apache.spark.sql.AnalysisException],
          s"only the analyzer's own refusal is an acceptable failure: $e")
      case scala.util.Success(_) =>
        val v = SnapshotLake.currentVersion(root).get
        val (_, _, removed, _) = SnapshotLake.commitDelta(root, v)
        assert(removed.size == 4,
          "the rule must bail on a non-deterministic condition: full rewrite")
        assert(SnapshotLake.read(s, root)
          .filter(col("v") === -1L).count() == 3990L,
          "rand()<2.0 is always true — every unmatched row must be updated")
    }
  }
}
