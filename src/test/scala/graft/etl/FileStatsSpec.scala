package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The file-level data-skipping index under its contract: harvested
  * footer stats equal the data's true per-file ranges, pruned reads keep
  * strictly fewer files while returning exactly the full scan's rows,
  * un-indexed commits are never pruned (conservatism), bloom lookups
  * admit no false negatives, Z-order compaction makes a two-dimension
  * box prune on both columns, and vacuum's sidecar lifecycle ties an
  * index to its commit directory. */
class FileStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot(): String =
    graft.TestSpark.tempDir("graft-fstats-spec").toString + "/lake"

  /** (k, grp, v): k dense [lo, hi) as ONE file per append, so manifest
    * file counts are deterministic. */
  private def df(lo: Long, hi: Long) =
    (lo until hi).map(k => (k, (k % 3).toString, k * 2.0))
      .toDF("k", "grp", "v").repartition(1)

  private val idx = SnapshotLake.IndexSpec(Seq("k", "grp"), Some("k"))

  /** Every file of `root`'s head version: its reported row count, and
    * the min, max and null count of each of `cols`, against a Spark
    * aggregate over that file alone. Returns the files' row-group counts. */
  private def checkReported(root: String, cols: Seq[String], what: String): Seq[Int] = {
    val live = SnapshotLake.files(root, SnapshotLake.currentVersion(root).get)
    assert(live.nonEmpty, what)
    val dirs = live.map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    val stats = dirs.flatMap(d => FileStats.readStatsSidecar(root, d)).toMap
    val rows = dirs.flatMap(d => FileStats.readRowsSidecar(root, d)).toMap
    live.map { f =>
      val path = Paths.get(root, f).toString
      val aggs = count(lit(1)) +: cols.flatMap { c =>
        val v = if (c == "ts") unix_micros(col(c)) else col(c)
        Seq(min(v).cast("string"), max(v).cast("string"),
          sum(when(col(c).isNull, 1L).otherwise(0L)))
      }
      val want = spark.read.parquet(path).agg(aggs.head, aggs.tail: _*).head
      assert(rows(f) == want.getLong(0), s"$what $f rows")
      cols.zipWithIndex.foreach { case (c, i) =>
        val (lo, hi, nulls) = (want.getString(1 + 3 * i), want.getString(2 + 3 * i),
          want.getLong(3 + 3 * i))
        val got = stats.get(f).flatMap(_.get(c))
        if (lo == null) assert(got.isEmpty, s"$what $f $c: an all-null column has no range")
        else {
          val r = got.getOrElse(fail(s"$what $f $c: no reported range"))
          def same(a: String, b: String) =
            if (r.numeric) FileStats.numCmp(a, b) == 0 else a == b
          assert(same(r.min, lo) && same(r.max, hi), s"$what $f $c: $r vs [$lo, $hi]")
          assert(r.nulls.contains(nulls), s"$what $f $c: $r vs $nulls nulls")
        }
      }
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.conf.Configuration())
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getBlocks.size finally reader.close()
    }
  }

  test("writer-reported stats equal per-file aggregates on every write path") {
    // several row groups per file (a small block size), a column whose
    // first row groups are all null, a supplementary-plane string, and
    // both timestamp units
    Seq("TIMESTAMP_MICROS", "TIMESTAMP_MILLIS").foreach { unit =>
      val wh = graft.TestSpark.tempDir("graft-fstats-wh").toString
      val sess = TestSpark.child("parquet.block.size" -> "4096",
        "spark.sql.parquet.outputTimestampType" -> unit,
        "spark.sql.catalog.graft_cat" -> classOf[graft.sources.GraftLakeCatalog].getName,
        "spark.sql.catalog.graft_cat.warehouse" -> wh)
      val data = sess.range(0, 3000).select(col("id").as("k"),
        concat(lit("s\uD800\uDC00"), (col("id") % 97).cast("string")).as("s"),
        when(col("id") % 1000 >= 400, col("id")).as("n"),
        timestamp_millis(lit(1704067200000L) + col("id") * 1001L).as("ts"))
      val cols = Seq("k", "s", "n", "ts")
      val index = SnapshotLake.IndexSpec(cols, None)
      val plain = newRoot()
      SnapshotLake.append(data.repartition(2, col("k")).sortWithinPartitions("k"), plain, index)
      val parted = newRoot()
      SnapshotLake.appendPartitioned(data.coalesce(1).withColumn("p", col("k") % 2), parted,
        Seq("p"), index)
      val sunk = newRoot()
      val q = sess.readStream.format("graftlake").load(plain).writeStream
        .format("graftlake").option("path", sunk).option("statsCols", cols.mkString(","))
        .option("checkpointLocation", graft.TestSpark.tempDir("graft-fstats-cp").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "sink drain must finish")
      val rewritten = newRoot()
      SnapshotLake.append(data.coalesce(1), rewritten, index)
      val t = s"graft_cat.ns.fstats_${unit.toLowerCase}"
      sess.sql(s"CREATE TABLE $t USING graftlake LOCATION '$rewritten'")
      sess.sql(s"DELETE FROM $t WHERE k % 7 = 0")
      assert(SnapshotLake.history(rewritten).last.op == "delete")
      val groups = Seq("append" -> plain, "appendPartitioned" -> parted,
        "sink epoch" -> sunk, "row-level rewrite" -> rewritten).map { case (what, root) =>
        what -> checkReported(root, cols, s"$unit $what")
      }
      assert(groups.forall(_._2.exists(_ > 1)), s"several row groups per file: $groups")
    }
  }

  test("range-pruned read keeps fewer files and returns exactly the full scan's rows") {
    val root = newRoot()
    for (i <- 0 until 8) // 8 single-file commits, keys 0..399 range-sliced
      SnapshotLake.append(df(i * 50L, i * 50L + 50), root, idx)
    val scan = SnapshotLake.readPruned(spark, root,
      Seq(FileStats.Range("k", Some("150"), Some("249"))))
    assert(scan.total == 8)
    assert(scan.kept == 2, "150..249 spans exactly file [150,199] and file [200,249]")
    val expect = SnapshotLake.read(spark, root)
      .filter(col("k").between(150, 249))
      .collect().map(_.toSeq).toSet
    assert(scan.df.collect().map(_.toSeq).toSet == expect)
    // string-column pruning rides the same path (lexical ordering)
    val g = SnapshotLake.readPruned(spark, root,
      Seq(FileStats.Range("grp", Some("2"), None)))
    assert(g.df.select("grp").distinct().collect().map(_.getString(0)).toSet == Set("2"))
  }

  test("a provably-empty pruned read keeps zero files but the schema survives") {
    val root = newRoot()
    SnapshotLake.append(
      df(0, 100).repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      root, idx)
    val scan = SnapshotLake.readPruned(spark, root,
      Seq(FileStats.Range("k", Some("5000"), None)))
    assert(scan.kept == 0 && scan.total == 2)
    assert(scan.df.columns.toSeq == Seq("k", "grp", "v"))
    assert(scan.df.count() == 0)
  }

  test("an un-indexed commit is never pruned (conservative), and stays correct") {
    val root = newRoot()
    SnapshotLake.append(df(0, 100), root, idx)
    SnapshotLake.append(df(100, 200), root) // no IndexSpec ⇒ no sidecar
    val scan = SnapshotLake.readPruned(spark, root,
      Seq(FileStats.Range("k", Some("150"), None)))
    // the indexed commit's file is pruned; the blind commit's file(s) must
    // all survive even though none of their keys can match a tighter range
    val blind = SnapshotLake.files(root, 2L).toSet -- SnapshotLake.files(root, 1L)
    assert(scan.kept == blind.size && scan.total == 1 + blind.size)
    assert(scan.df.select("k").collect().map(_.getLong(0)).toSet ==
      (150L until 200L).toSet)
  }

  test("bloom point lookup prunes files, never loses a present key, and the absent-key probe reads nothing") {
    val root = newRoot()
    for (i <- 0 until 4)
      SnapshotLake.append(df(i * 100L, i * 100L + 100), root, idx)
    val present = SnapshotLake.readPointLookup(spark, root, "k", Seq("42", "342"))
    assert(present.total == 4 && present.kept < 4,
      "at least the two non-containing commits' blooms must answer definitely-absent")
    assert(present.df.select("k").collect().map(_.getLong(0)).toSet == Set(42L, 342L))
    val absent = SnapshotLake.readPointLookup(spark, root, "k", Seq("9999"))
    // sketch guarantee: no false negatives — and with this fixed data the
    // keep-set is deterministic (bloom hashing has no RNG), observed 0
    assert(absent.df.count() == 0)
    assert(absent.kept == 0, s"absent key kept ${absent.kept} files")
  }

  test("compactZOrder + stats: a two-dimension box prunes on both columns and equals the plain filter") {
    val root = newRoot()
    // (a, b) on a 20×20 grid, landed in three arbitrary slices
    val grid = (0L until 400L).map(k => (k, k % 20, k / 20, k.toString))
      .toDF("k", "a", "b", "payload")
    for (i <- 0 until 3)
      SnapshotLake.append(grid.filter(pmod(col("k"), lit(3)) === i), root)
    SnapshotLake.compactZOrder(spark, root, "a", "b", 8,
      SnapshotLake.IndexSpec(Seq("a", "b"), None))
    val scan = SnapshotLake.readPruned(spark, root, Seq(
      FileStats.Range("a", Some("2"), Some("6")),
      FileStats.Range("b", Some("2"), Some("6"))))
    assert(scan.total == 8)
    assert(scan.kept < 8, "a 25-cell box of a 400-cell grid must skip files")
    val expect = SnapshotLake.read(spark, root)
      .filter(col("a").between(2, 6) && col("b").between(2, 6))
      .collect().map(_.toSeq).toSet
    assert(scan.df.collect().map(_.toSeq).toSet == expect)
    // the same box WITHOUT z-order (single-dim ranged layout) keeps more
    // files: sort by `a` alone leaves every file spanning the whole b domain
    val flat = newRoot()
    SnapshotLake.append(
      grid.repartitionByRange(8, col("a")).sortWithinPartitions("a"),
      flat, SnapshotLake.IndexSpec(Seq("a", "b"), None))
    val flatScan = SnapshotLake.readPruned(spark, flat, Seq(
      FileStats.Range("a", Some("2"), Some("6")),
      FileStats.Range("b", Some("2"), Some("6"))))
    assert(flatScan.kept >= scan.kept)
  }

  test("vacuum spares sidecars of retained commits and reaps them with their directory") {
    val root = newRoot()
    SnapshotLake.append(df(0, 50), root, idx)
    SnapshotLake.append(df(50, 100), root, idx)
    SnapshotLake.compact(spark, root) // v3 rewrites, v1/v2 files now old
    val v1Dir = SnapshotLake.files(root, 1L).head
      .substring(0, SnapshotLake.files(root, 1L).head.lastIndexOf('/'))
    assert(Files.exists(Paths.get(root, v1Dir, "_stats.json")))
    SnapshotLake.vacuum(root, keepVersions = 1)
    // v1's data files are unreferenced by the only retained manifest (v3):
    // dir, data, and sidecars must all be gone
    assert(!Files.exists(Paths.get(root, v1Dir)))
    // the compacted snapshot still reads (no sidecar: compact() had no spec)
    assert(SnapshotLake.read(spark, root).count() == 100)
    // and a retained indexed commit keeps its sidecar through vacuum
    val v4 = SnapshotLake.append(df(100, 150), root, idx)
    val v4Dir = (SnapshotLake.files(root, v4).toSet --
      SnapshotLake.files(root, v4 - 1)).head
    val dir4 = v4Dir.substring(0, v4Dir.lastIndexOf('/'))
    SnapshotLake.vacuum(root, keepVersions = 1)
    assert(Files.exists(Paths.get(root, dir4, "_stats.json")))
    val scan = SnapshotLake.readPruned(spark, root,
      Seq(FileStats.Range("k", Some("100"), None)))
    assert(scan.df.count() == 50)
  }

  test("cross-row-group numeric merge keeps exact INT64 bounds above 2^53") {
    // a Double fold would collapse 2^53 ± 1 to the same value ("9.00…E15")
    // and could round a true max DOWN — the direction that makes two
    // overlapping files look disjoint to the NDV combiner. The merge must
    // keep the ORIGINAL strings, losing no precision at any magnitude.
    val lo = FileStats.ColRange("9007199254740991", "9007199254740993",
      numeric = true)
    val hi = FileStats.ColRange("9007199254740992", "9007199254740997",
      numeric = true)
    val m = FileStats.merge(lo, hi)
    assert(m.min == "9007199254740991" && m.max == "9007199254740997",
      s"exact strings must survive the fold: $m")
    // numCmp: exact where Double.compare ties, and scientific forms work
    assert(FileStats.numCmp("9007199254740993", "9007199254740992") > 0)
    assert(java.lang.Double.compare(9007199254740993d, 9007199254740992d) == 0)
    assert(FileStats.numCmp("9.00719925474099E15", "9007199254740990") == 0)
    assert(FileStats.numCmp("-Infinity", "0") < 0) // double fallback path
  }

  test("a rewritten sidecar file is re-read, never served from the parse cache") {
    // commit-dir names can RECUR across a delete-and-recreate of a lake
    // (streaming epoch dirs, synthetic cNNNNN dirs), so the parse cache
    // validates each read against the sidecar file's own fingerprint —
    // simulated here by rewriting _stats.json in place with new bounds
    val root = newRoot()
    SnapshotLake.append(df(0, 10), root, idx)
    val f = SnapshotLake.files(root, 1L).head
    val dir = f.substring(0, f.lastIndexOf('/'))
    val first = FileStats.readStatsSidecar(root, dir) // warms the cache
    assert(first(f)("k").max == "9")
    FileStats.writeStatsSidecar(root, Map(f -> Map(
      "k" -> FileStats.ColRange("0", "12345", numeric = true,
        nulls = Some(0L)))))
    val second = FileStats.readStatsSidecar(root, dir)
    assert(second(f)("k").max == "12345",
      s"rewritten sidecar content must be re-parsed: ${second(f)("k")}")
  }
}
