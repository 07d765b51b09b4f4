package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.SnapshotLake

/** The connector's streaming source under its actual contract: offsets
  * are lake versions, each append commit's rows arrive exactly once
  * whatever the trigger cadence, change commits skip (with the option)
  * or fail loudly (without), restarts resume from the checkpointed
  * offset, and startingVersion bounds the replayed history. */
class GraftLakeStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newDir(tag: String): String =
    graft.TestSpark.tempDir(s"graft-mbs-$tag").toString

  private def kv(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, s"v$i")).toDF("k", "v")

  private val idx = SnapshotLake.IndexSpec(Seq("k"), None)

  /** Drain the graftlake stream AvailableNow into a destination lake,
    * exactly-once per micro-batch via the destination's tag index. */
  private def drain(src: String, dst: String, ckpt: String,
                    maxVersionsPerTrigger: Option[Long] = Some(1L),
                    skipChanges: Boolean = true,
                    startingVersion: Option[Long] = None,
                    select: Seq[String] = Nil): Unit = {
    var r = spark.readStream.format("graftlake")
      .option("skipChangeCommits", skipChanges.toString)
    maxVersionsPerTrigger.foreach(n =>
      r = r.option("maxVersionsPerTrigger", n.toString))
    startingVersion.foreach(v => r = r.option("startingVersion", v.toString))
    val in = r.load(src)
    val q = (if (select.isEmpty) in else in.select(select.map(col): _*))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        SnapshotLake.appendOnce(df, dst, s"mbs-$id", idx); ()
      }
      .start()
    assert(q.awaitTermination(120000), "drain must finish")
  }

  private def contents(root: String): Map[Long, String] =
    SnapshotLake.read(spark, root)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap

  /** Appends interleaved with a change commit and a compaction (the
    * LakeTailSpec shape): the stream must deliver exactly the appends. */
  private def buildSrc(root: String): Unit = {
    SnapshotLake.append(kv(0, 10), root, idx) // v1
    SnapshotLake.merge(spark, root,
      Seq((3L, "X3", false), (7L, "dead", true)).toDF("k", "v", "__del"),
      "k", idx, Some("__del")) // v2: change commit
    SnapshotLake.append(kv(10, 20), root, idx) // v3
    SnapshotLake.compact(spark, root) // v4: physical only
    SnapshotLake.append(kv(20, 25), root, idx) // v5
  }

  private val appendsOnly: Map[Long, String] =
    (0 until 25).map(i => i.toLong -> s"v$i").toMap

  test("readStream drains the appends exactly once; change and physical commits skip; cadence is irrelevant") {
    val src = newDir("src") + "/lake"
    buildSrc(src)
    // one version per trigger vs everything in one batch: same contents
    val perV = newDir("dstA") + "/lake"
    drain(src, perV, newDir("cpA"), maxVersionsPerTrigger = Some(1L))
    val oneShot = newDir("dstB") + "/lake"
    drain(src, oneShot, newDir("cpB"), maxVersionsPerTrigger = None)
    assert(contents(perV) == appendsOnly, "per-version cadence")
    assert(contents(oneShot) == appendsOnly, "single-batch cadence")
    // the source head differs (the merge applied there): append bus, not replica
    assert(contents(src)(3L) == "X3")
  }

  test("a restarted stream resumes from its checkpoint and sees only new commits") {
    val src = newDir("src") + "/lake"
    SnapshotLake.append(kv(0, 10), src, idx) // v1
    SnapshotLake.append(kv(10, 15), src, idx) // v2
    val dst = newDir("dst") + "/lake"
    val ckpt = newDir("cp")
    drain(src, dst, ckpt)
    assert(contents(dst) == (0 until 15).map(i => i.toLong -> s"v$i").toMap)
    val dstV1 = SnapshotLake.currentVersion(dst).get
    // nothing new: a re-drain applies nothing
    drain(src, dst, ckpt)
    assert(SnapshotLake.currentVersion(dst).contains(dstV1),
      "caught-up restart must not commit")
    // two more source commits; the resumed stream delivers exactly them
    SnapshotLake.compact(spark, src) // v3: skipped
    SnapshotLake.append(kv(15, 18), src, idx) // v4
    drain(src, dst, ckpt)
    assert(contents(dst) == (0 until 18).map(i => i.toLong -> s"v$i").toMap)
  }

  test("the streaming source reads an evolved lake: the evolve commit is skipped, pre-evolution batches null-fill") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val src = newDir("evo-src") + "/lake"
    SnapshotLake.append(kv(0, 5), src, idx) // v1: (k, v)
    SnapshotLake.evolveSchema(spark, src, StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("tag", StringType)))) // v2: metadata only
    SnapshotLake.append(
      Seq((5L, "v5", "t5"), (6L, "v6", "t6")).toDF("k", "v", "tag"),
      src, idx) // v3: the evolved shape
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[String])]
    val q = spark.readStream.format("graftlake").load(src)
      .writeStream
      .option("checkpointLocation", newDir("evo-cp"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        got.synchronized {
          got ++= df.collect().map(r =>
            (r.getAs[Long]("k"), Option(r.getAs[String]("tag"))))
        }
        ()
      }
      .start()
    assert(q.awaitTermination(120000), "drain must finish")
    // the stream's schema is the DECLARED head schema; v1's files
    // null-fill the added column, v3 carries it, v2 emits nothing
    assert(got.toSet ==
      ((0L until 5L).map(k => k -> None) ++
        Seq(5L -> Some("t5"), 6L -> Some("t6"))).toSet)
  }

  test("without skipChangeCommits a change commit fails the stream with a clear error") {
    val src = newDir("src") + "/lake"
    buildSrc(src)
    val ex = intercept[StreamingQueryException] {
      drain(src, newDir("dst") + "/lake", newDir("cp"), skipChanges = false)
    }
    val msg = Option(ex.getCause).map(_.toString).getOrElse(ex.toString)
    assert(msg.contains("change commit") && msg.contains("skipChangeCommits"),
      s"the failure must name the commit and the option: $msg")
  }

  test("the streaming SINK: readStream → writeStream lake-to-lake, exactly-once per epoch, indexed commits") {
    val src = newDir("sink-src") + "/lake"
    buildSrc(src) // appends 0-25 interleaved with a merge and a compact
    val dst = newDir("sink-dst") + "/lake"
    val ckpt = newDir("sink-cp")
    def drainToSink(): Unit = {
      val q = spark.readStream.format("graftlake")
        .option("skipChangeCommits", "true")
        .option("maxVersionsPerTrigger", "1")
        .load(src)
        .writeStream
        .format("graftlake")
        .option("path", dst)
        .option("statsCols", "k")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "sink drain must finish")
    }
    drainToSink()
    assert(contents(dst) == appendsOnly,
      "the pure-connector pipeline delivers exactly the appends")
    // one tagged commit per epoch (empty epochs included): 5 versions
    assert(SnapshotLake.currentVersion(dst).contains(5L))
    assert(SnapshotLake.tagOf(dst, 1L).exists(_.startsWith("stream-")))
    // the sink's commits carried the requested stats index: pruned reads work
    val pruned = SnapshotLake.readPruned(spark, dst,
      Seq(graft.etl.FileStats.Range("k", Some("20"), None)))
    assert(pruned.kept < pruned.total,
      s"sink commits must harvest sidecars: ${pruned.kept}/${pruned.total}")
    assert(pruned.df.select("k").collect().map(_.getLong(0)).toSet ==
      (20L until 25L).toSet)
    // caught-up restart: no new versions
    drainToSink()
    assert(SnapshotLake.currentVersion(dst).contains(5L))
    // new source commits flow through the SAME checkpoint, exactly once
    SnapshotLake.append(kv(25, 30), src, idx)
    drainToSink()
    assert(contents(dst) ==
      (0 until 30).map(i => i.toLong -> s"v$i").toMap)
    assert(SnapshotLake.currentVersion(dst).contains(6L))
    // a replayed epoch commits nothing: same tag, same data
    val files6 = SnapshotLake.files(dst, 6L)
    drainToSink()
    assert(SnapshotLake.files(dst,
      SnapshotLake.currentVersion(dst).get) == files6)
  }

  test("startingTimestamp begins the stream with the first commit AT or after the instant (inclusive)") {
    val src = newDir("ts-src") + "/lake"
    SnapshotLake.append(kv(0, 3), src, idx) // v1
    Thread.sleep(1200)
    val between = java.time.Instant.now()
    Thread.sleep(1200)
    SnapshotLake.append(kv(3, 6), src, idx) // v2
    def drainFrom(ts: String, cp: String): Set[Long] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.format("graftlake")
        .option("startingTimestamp", ts).load(src)
        .writeStream
        .option("checkpointLocation", newDir(cp))
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          got.synchronized { got ++= df.collect().map(_.getAs[Long]("k")) }; ()
        }
        .start()
      assert(q.awaitTermination(120000), "drain must finish")
      got.toSet
    }
    assert(drainFrom(between.toString, "ts-cp") == (3L until 6L).toSet,
      "an instant between the commits streams only v2")
    // the INCLUSIVE boundary (Delta's contract): a commit published
    // exactly AT the instant is read, not silently skipped
    val v2At = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(src, "_manifests", "v000000002.json"))
      .toInstant
    assert(drainFrom(v2At.toString, "ts-cp-incl") == (3L until 6L).toSet,
      "a commit whose publish instant EQUALS startingTimestamp streams")
  }

  test("maxFilesPerTrigger splits one fat commit across triggers; drained result and replay are exact") {
    val src = newDir("mft-src") + "/lake"
    // ONE commit of 8 files (repartition pins the file count), then a
    // second small commit — the stream must step through the fat commit
    // three files at a time without tearing, duplicating, or reordering
    SnapshotLake.append(kv(0, 64).repartition(8), src, idx) // v1: 8 files
    SnapshotLake.append(kv(64, 70), src, idx) // v2
    assert(SnapshotLake.files(src, 1L).size == 8)
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    val ckpt = newDir("mft-cp")
    def drainCapped(): Unit = {
      val q = spark.readStream.format("graftlake")
        .option("maxFilesPerTrigger", "3").load(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, id: Long) =>
          val ks = df.collect().map(_.getAs[Long]("k")).toSet
          batches.synchronized { batches += ((id, ks)) }; ()
        }
        .start()
      assert(q.awaitTermination(120000), "drain must finish")
    }
    drainCapped()
    val nonEmpty = batches.filter(_._2.nonEmpty)
    assert(nonEmpty.size >= 3,
      s"8+1 files at 3/trigger needs >= 3 batches: ${batches.map(_._2.size)}")
    assert(nonEmpty.map(_._2.size).forall(_ <= 3 * 64 / 8 + 64 / 8),
      "no batch exceeds ~3 files of rows")
    assert(batches.flatMap(_._2).toSet == (0L until 70L).toSet,
      "every row exactly once across the split batches")
    assert(batches.flatMap(_._2).size == 70, "no duplicates across batches")
    // replay: the caught-up checkpoint re-drains to nothing new
    val before = batches.size
    drainCapped()
    assert(batches.drop(before).forall(_._2.isEmpty),
      "a caught-up restart under file caps feeds no rows")
  }

  test("maxBytesPerTrigger is a soft cap: at least one file per trigger, exact drain") {
    val src = newDir("mbt-src") + "/lake"
    SnapshotLake.append(kv(0, 40).repartition(4), src, idx) // v1: 4 files
    val got = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = spark.readStream.format("graftlake")
      .option("maxBytesPerTrigger", "1") // smaller than ANY file
      .load(src)
      .writeStream
      .option("checkpointLocation", newDir("mbt-cp"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        val ks = df.collect().map(_.getAs[Long]("k")).toSet
        got.synchronized { got += ks }; ()
      }
      .start()
    assert(q.awaitTermination(120000), "drain must finish")
    val nonEmpty = got.filter(_.nonEmpty)
    assert(nonEmpty.size == 4,
      s"a sub-file byte cap admits exactly one file per trigger: ${got.map(_.size)}")
    assert(got.flatten.toSet == (0L until 40L).toSet)
  }

  test("offset format: legacy whole-version offsets parse; partial offsets round-trip") {
    assert(GraftLakeOffset.parse("7") == GraftLakeOffset(7L, 0L))
    assert(GraftLakeOffset.parse(GraftLakeOffset(3L, 5L).json()) ==
      GraftLakeOffset(3L, 5L))
    assert(GraftLakeOffset(4L, 0L).json() == "4",
      "whole-version offsets keep the legacy form — old checkpoints replay")
  }

  test("startingVersion bounds the history; column pruning rides the stream") {
    val src = newDir("src") + "/lake"
    SnapshotLake.append(kv(0, 10), src, idx) // v1
    SnapshotLake.append(kv(10, 15), src, idx) // v2
    SnapshotLake.append(kv(15, 20), src, idx) // v3
    val dst = newDir("dst") + "/lake"
    drain(src, dst, newDir("cp"), startingVersion = Some(2L),
      select = Seq("k"))
    val ks = SnapshotLake.read(spark, dst)
    assert(ks.schema.fieldNames.toSeq == Seq("k"), "pruned to the selection")
    assert(ks.collect().map(_.getLong(0)).toSet == (10L until 20L).toSet,
      "version 1 is before startingVersion")
  }
}
