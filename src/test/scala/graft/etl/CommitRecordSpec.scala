package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** What every public writer of the manifest lake leaves in the log, and
  * which strings a record may carry: one pinned record per writer, the
  * idempotence-tag rule, and the partition-value rule. */
class CommitRecordSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot(name: String = "lake"): String =
    graft.TestSpark.tempDir("graft-record-spec").toString + "/" + name

  /** `n` rows `(k, n)` from `from`, in ONE file. */
  private def kn(from: Long, n: Int): DataFrame =
    (from until from + n).map(k => (k, k * 7 % 5)).toDF("k", "n").coalesce(1)

  /** A record's shape, with every path list reduced to its size. */
  private final case class Pin(op: String, base: Long, tags: Seq[String],
                               rows: Long, add: Int, remove: Int,
                               addDel: Int, removeDel: Int, declares: Boolean)

  private def pinOf(root: String, v: Long): Pin = {
    val r = SnapshotLake.readRecord(root, v)
    // the public surfaces read the same record
    val h = SnapshotLake.history(root).find(_.version == v).get
    assert((h.op, h.base, h.tag, h.rows) == ((r.op, r.base, r.tags.headOption, r.addedRows)))
    val (op, add, remove, addDel) = SnapshotLake.commitDelta(root, v)
    assert((op, add, remove, addDel) == ((r.op, r.add, r.remove, r.addDel)))
    Pin(r.op, r.base, r.tags, r.addedRows, r.add.size, r.remove.size,
      r.addDel.size, r.removeDel.size, r.schemaB64.isDefined)
  }

  test("every public writer leaves its pinned record") {
    val lake = newRoot()
    val quarantine = newRoot("quarantine")
    val parts = newRoot("parts")
    val clone = newRoot("clone")
    val lakes = Seq("lake" -> lake, "quarantine" -> quarantine,
      "parts" -> parts, "clone" -> clone)
    val decl = StructType(Seq(StructField("k", LongType), StructField("n", LongType)))
    // a lake's first commit declares its schema, and an auto-merging
    // append that widens `n` declares the union
    val kIdx = SnapshotLake.IndexSpec.stats("k")
    var once, wap = -1L
    var staged: SnapshotLake.Staged = null
    def head(root: String) = SnapshotLake.currentVersion(root).getOrElse(0L)
    val steps: Seq[(String, () => Any, Seq[(String, Pin)])] = Seq(
      ("append", () => SnapshotLake.append(
        kn(0, 5).withColumn("n", col("n").cast("int")), lake, kIdx),
        Seq("lake" -> Pin("append", 0, Nil, 5, 1, 0, 0, 0, true))),
      ("append mergeSchema", () =>
        SnapshotLake.append(kn(5, 3), lake, kIdx, mergeSchema = true),
        Seq("lake" -> Pin("append", 1, Nil, 3, 1, 0, 0, 0, true))),
      ("appendPartitioned", () => SnapshotLake.appendPartitioned(
        kn(0, 6).withColumn("p", col("k") % 3), parts, Seq("p")),
        Seq("parts" -> Pin("append", 0, Nil, 6, 3, 0, 0, 0, true))),
      ("appendOnce", () => { once = SnapshotLake.appendOnce(kn(8, 2), lake, "once-1", kIdx) },
        Seq("lake" -> Pin("append", 2, Seq("once-1"), 2, 1, 0, 0, 0, false))),
      ("appendOnce replay", () =>
        assert(SnapshotLake.appendOnce(kn(8, 2), lake, "once-1", kIdx) == once),
        Nil),
      ("appendGrouped", () => SnapshotLake.appendGrouped(kn(10, 2), lake, kIdx),
        Seq("lake" -> Pin("append", 3, Nil, 2, 1, 0, 0, 0, false))),
      ("appendOnceGrouped", () =>
        SnapshotLake.appendOnceGrouped(kn(12, 2), lake, "grp-1", kIdx),
        Seq("lake" -> Pin("append", 4, Seq("grp-1"), 2, 1, 0, 0, 0, false))),
      ("appendChecked", () => SnapshotLake.appendChecked(kn(14, 2), lake,
        Seq("k_nonneg" -> (col("k") >= 0)), kIdx),
        Seq("lake" -> Pin("append", 5, Nil, 2, 1, 0, 0, 0, false))),
      ("appendExpect clean", () => SnapshotLake.appendExpect(kn(16, 2), lake,
        quarantine, Seq("k_nonneg" -> (col("k") >= 0)), kIdx),
        Seq("lake" -> Pin("append", 6, Nil, 2, 1, 0, 0, 0, false))),
      ("appendExpect quarantine", () => SnapshotLake.appendExpect(kn(18, 4), lake,
        quarantine, Seq("k_lt_20" -> (col("k") < 20)), kIdx),
        Seq("lake" -> Pin("append", 7, Nil, 2, 1, 0, 0, 0, false),
          "quarantine" -> Pin("append", 0, Nil, 2, 1, 0, 0, 0, true))),
      ("stageAppend + publish tagged", () => {
        staged = SnapshotLake.stageAppend(kn(22, 3), lake, kIdx)
        wap = SnapshotLake.publish(lake, staged, Some("wap-1"))
      }, Seq("lake" -> Pin("append", 8, Seq("wap-1"), 3, 1, 0, 0, 0, false))),
      ("publish replay", () =>
        assert(SnapshotLake.publish(lake, staged, Some("wap-1")) == wap), Nil),
      ("deleteWhere", () => SnapshotLake.deleteWhere(spark, lake,
        Seq(1L, 2L).toDF("k").coalesce(1)),
        Seq("lake" -> Pin("delete", 9, Nil, 0, 0, 0, 1, 0, false))),
      ("merge", () => SnapshotLake.merge(spark, lake,
        Seq((3L, 30L), (100L, 0L)).toDF("k", "n").coalesce(1), "k", kIdx),
        Seq("lake" -> Pin("merge", 10, Nil, 6, 2, 1, 0, 0, false))),
      ("mergeOnce", () => SnapshotLake.mergeOnce(spark, lake,
        Seq((4L, 40L)).toDF("k", "n").coalesce(1), "k", "m-1", kIdx),
        Seq("lake" -> Pin("merge", 11, Seq("m-1"), 6, 3, 2, 0, 0, false))),
      ("deleteMatching", () => SnapshotLake.deleteMatching(spark, lake,
        Seq(FileStats.Range("k", Some("8"), Some("9"))), kIdx),
        Seq("lake" -> Pin("delete", 12, Nil, 0, 1, 2, 0, 0, false))),
      ("compactSmall", () => SnapshotLake.compactSmall(spark, lake, 1L << 30),
        Seq("lake" -> Pin("compact", 13, Nil, 0, 1, 10, 0, 0, false))),
      ("commitReplace", () => {
        val v = head(lake)
        val add = graft.sources.GraftLakeDataWriter.write(kn(40, 2),
          Paths.get(lake).toAbsolutePath.toString, SnapshotLake.newDataDir())
        SnapshotLake.commitReplace(spark, lake, v,
          SnapshotLake.files(lake, v).take(1), add, "update")
      }, Seq("lake" -> Pin("update", 14, Nil, 2, 1, 1, 0, 0, false))),
      ("compactZOrder", () => SnapshotLake.compactZOrder(spark, lake, "k", "n", 2, kIdx),
        Seq("lake" -> Pin("compact", 15, Nil, 0, 2, 1, 0, 1, false))),
      ("compact", () => SnapshotLake.compact(spark, lake),
        Seq("lake" -> Pin("compact", 16, Nil, 0, 1, 2, 0, 0, false))),
      ("overwrite", () => SnapshotLake.overwrite(kn(50, 4), lake, kIdx),
        Seq("lake" -> Pin("overwrite", 17, Nil, 4, 1, 1, 0, 0, true))),
      ("restore", () => SnapshotLake.restore(lake, 10L),
        Seq("lake" -> Pin("restore", 10, Nil, 0, 9, 1, 1, 0, false))),
      ("evolveSchema", () => SnapshotLake.evolveSchema(spark, lake,
        decl.add(StructField("w", LongType))),
        Seq("lake" -> Pin("evolve", 19, Nil, 0, 0, 0, 0, 0, true))),
      ("cloneTo", () => SnapshotLake.cloneTo(lake, clone),
        Seq("clone" -> Pin("clone", 0, Nil, -1, 9, 0, 1, 0, true)))
    )
    val got = steps.map { case (name, run, _) =>
      val before = lakes.map { case (n, r) => n -> head(r) }.toMap
      run()
      name -> lakes.flatMap { case (n, r) =>
        (before(n) + 1 to head(r)).map(v => n -> pinOf(r, v))
      }
    }
    val want = steps.map { case (name, _, pins) => name -> pins }
    val diff = got.zip(want).filter { case (g, w) => g != w }
    assert(diff.isEmpty, diff.map { case (g, w) => s"\n  got:  $g\n  want: $w" }.mkString)
  }

  // ── which strings a record can carry ─────────────────────────────────

  /** Data directories (commit dirs) under `root` — a rejected write must
    * leave none behind. */
  private def dataDirs(root: String): Int = {
    val d = Paths.get(root, "data")
    if (!Files.isDirectory(d)) 0
    else { val s = Files.list(d); try s.count().toInt finally s.close() }
  }

  private val badTags = Seq("", "q\"t", "b\\s", "a,b", "x]y", "x}y")

  test("a tag the record parsers cannot read back is refused by every tagged writer, before any write") {
    val root = newRoot()
    SnapshotLake.append(kn(0, 4), root)
    val staged = SnapshotLake.stageAppend(kn(10, 1), root)
    val written = graft.sources.GraftLakeDataWriter.write(kn(11, 1),
      Paths.get(root).toAbsolutePath.toString, SnapshotLake.newDataDir())
    val dirs = dataDirs(root)
    for (t <- badTags) {
      val writers: Seq[(String, () => Any)] = Seq(
        "appendOnce" -> (() => SnapshotLake.appendOnce(kn(4, 1), root, t)),
        "appendOnceGrouped" -> (() => SnapshotLake.appendOnceGrouped(kn(4, 1), root, t)),
        "publish" -> (() => SnapshotLake.publish(root, staged, Some(t))),
        "merge" -> (() => SnapshotLake.merge(spark, root, kn(1, 1), "k", tag = Some(t))),
        "mergeOnce" -> (() => SnapshotLake.mergeOnce(spark, root, kn(1, 1), "k", t)),
        "commitStreamedFilesGrouped" -> (() =>
          SnapshotLake.commitStreamedFilesGrouped(spark, root, written, t,
            SnapshotLake.admitted(root, kn(11, 1).schema))))
      for ((name, w) <- writers) {
        intercept[IllegalArgumentException](w())
        assert(SnapshotLake.currentVersion(root).contains(1L), s"$name committed tag '$t'")
        assert(dataDirs(root) == dirs, s"$name wrote data before refusing tag '$t'")
      }
    }
  }

  test("a tag that stops the checkpoint tag map is refused, so its replay cannot commit twice") {
    val root = newRoot()
    intercept[IllegalArgumentException](SnapshotLake.appendOnce(kn(0, 1), root, "x}y"))
    // every character the rule allows reads back through the v10 checkpoint
    val ok = "stream-a:b/c d{e[f"
    assert(SnapshotLake.appendOnce(kn(0, 1), root, ok) == 1L)
    (1 to 10).foreach(i => SnapshotLake.append(kn(i.toLong, 1), root))
    assert(Files.exists(SnapshotLake.ckptFile(root, 10L)))
    assert(SnapshotLake.appendOnce(kn(0, 1), root, ok) == 1L, "the replay must ride v1")
    assert(SnapshotLake.read(spark, root).count() == 11L)
  }

  test("merge refuses a quoted tag instead of recording one it cannot find again") {
    val root = newRoot()
    SnapshotLake.append(kn(0, 4), root, SnapshotLake.IndexSpec.stats("k"))
    for (_ <- 1 to 2)
      intercept[IllegalArgumentException](SnapshotLake.merge(spark, root,
        Seq((1L, 9L)).toDF("k", "n"), "k", tag = Some("q\"t")))
    assert(SnapshotLake.currentVersion(root).contains(1L))
  }

  test("a comma tag fails only its own grouped caller, before it is enqueued") {
    val root = newRoot()
    intercept[IllegalArgumentException](
      SnapshotLake.appendOnceGrouped(kn(0, 1), root, "a,b"))
    assert(SnapshotLake.currentVersion(root).isEmpty)
    assert(SnapshotLake.appendOnceGrouped(kn(1, 1), root, "a-b") == 1L)
    assert(SnapshotLake.appendOnceGrouped(kn(1, 1), root, "a-b") == 1L)
    assert(SnapshotLake.tagVersion(root, "a-b").contains(1L))
    assert(SnapshotLake.read(spark, root).count() == 1L)
  }

  test("a partition value the record cannot carry is refused before the link; the lake stays readable") {
    val root = newRoot()
    SnapshotLake.appendPartitioned(Seq((0L, "Rome")).toDF("k", "city"), root, Seq("city"))
    for (bad <- Seq("Paris, FR", ",")) {
      val e = intercept[IllegalArgumentException](SnapshotLake.appendPartitioned(
        Seq((1L, bad), (2L, "Oslo")).toDF("k", "city"), root, Seq("city")))
      assert(e.getMessage.contains(bad), e.getMessage)
      assert(SnapshotLake.currentVersion(root).contains(1L))
      assert(SnapshotLake.read(spark, root).as[(Long, String)].collect().toSeq ==
        Seq((0L, "Rome")))
    }
    // hive escaping covers `]`, `"` and `\`, and `}` reads back from a
    // path: those values round-trip
    val odd = "a]b\"c\\d}e"
    SnapshotLake.appendPartitioned(Seq((3L, odd)).toDF("k", "city"), root, Seq("city"))
    assert(SnapshotLake.read(spark, root).as[(Long, String)].collect().toSet ==
      Set((0L, "Rome"), (3L, odd)))
  }
}
