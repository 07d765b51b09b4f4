package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.SnapshotLake

/** The connector's change-data-feed surface: batch and streaming
  * `readChangeFeed` reads over an enabled lake must equal the native
  * [[SnapshotLake.changeFeed]] classification per version — appends as
  * file-exact inserts, merges/DV-deletes from the write-time
  * materialized feed — with range options bounding the versions and a
  * non-enabled lake refusing on change commits. */
class GraftLakeCdfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newDir(tag: String): String =
    graft.TestSpark.tempDir(s"graft-cdf-$tag").toString

  private def kv(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, s"v$i")).toDF("k", "v")

  private val idx = SnapshotLake.IndexSpec(Seq("k"), None)

  /** v1 append (0..5), v2 append (5..8), v3 merge (update k=1, delete
    * k=3), v4 deleteWhere (k=6 tombstone), v5 compact. */
  private def buildSrc(root: String): Unit = {
    SnapshotLake.enableCdf(root, "k")
    SnapshotLake.append(kv(0, 5), root, idx) // v1
    SnapshotLake.append(kv(5, 8), root, idx) // v2
    SnapshotLake.merge(spark, root,
      Seq((1L, "X1", false), (3L, "dead", true)).toDF("k", "v", "__del"),
      "k", idx, Some("__del")) // v3: change commit, CDC materialized
    SnapshotLake.deleteWhere(spark, root, Seq(6L).toDF("k")) // v4: DV
    SnapshotLake.compact(spark, root) // v5: physical-only, zero changes
  }

  private def changes(df: DataFrame): Set[(Long, String, Long, String)] =
    df.collect().map(r => (r.getAs[Long]("k"),
      Option(r.getAs[String]("v")).getOrElse("∅"),
      r.getAs[Long]("_commit_version"),
      r.getAs[String]("_change_type"))).toSet

  private val fullFeed: Set[(Long, String, Long, String)] =
    (0L until 5L).map(i => (i, s"v$i", 1L, "insert")).toSet ++
      (5L until 8L).map(i => (i, s"v$i", 2L, "insert")) ++
      Set((1L, "v1", 3L, "update_preimage"), (1L, "X1", 3L, "update_postimage"),
        (3L, "v3", 3L, "delete"),
        (6L, "v6", 4L, "delete"))

  test("batch readChangeFeed equals the native feed; version ranges bound it; columns prune") {
    val root = newDir("batch") + "/lake"
    buildSrc(root)
    val all = spark.read.format("graftlake")
      .option("readChangeFeed", "true").load(root)
    assert(all.schema.fieldNames.takeRight(2).toSeq ==
      Seq("_change_type", "_commit_version"))
    assert(changes(all) == fullFeed)
    // write-time materialization: the merge and the DV delete have
    // their feeds on disk already; compact never materializes
    assert(SnapshotLake.cdcFiles(root, 3L).exists(_.nonEmpty))
    assert(SnapshotLake.cdcFiles(root, 4L).isDefined)
    assert(SnapshotLake.cdcFiles(root, 5L).isEmpty)
    // ranges: ending bounds the head side, starting the tail
    val v12 = spark.read.format("graftlake")
      .option("readChangeFeed", "true").option("endingVersion", "2").load(root)
    assert(changes(v12) == fullFeed.filter(_._3 <= 2L))
    val v34 = spark.read.format("graftlake")
      .option("readChangeFeed", "true")
      .option("startingVersion", "3").load(root)
    assert(changes(v34) == fullFeed.filter(_._3 >= 3L))
    // column pruning through the same reader factory
    val pruned = spark.read.format("graftlake")
      .option("readChangeFeed", "true").option("startingVersion", "3")
      .load(root).select("k", "_change_type")
    assert(pruned.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      fullFeed.filter(_._3 >= 3L).map(t => (t._1, t._4)))
    // a pinned read and a change range are different questions
    intercept[Exception](spark.read.format("graftlake")
      .option("readChangeFeed", "true").option("versionAsOf", "2")
      .load(root).count())
    // the feed is read-only
    intercept[Exception](kv(0, 1).write.format("graftlake").mode("append")
      .option("readChangeFeed", "true").save(root))
  }

  test("endingTimestamp bounds the batch feed at-or-before the instant, symmetric with the version form") {
    val root = newDir("endts") + "/lake"
    SnapshotLake.enableCdf(root, "k")
    SnapshotLake.append(kv(0, 3), root, idx) // v1
    Thread.sleep(1200)
    val between = java.time.Instant.now()
    Thread.sleep(1200)
    SnapshotLake.append(kv(3, 5), root, idx) // v2
    def feed(opts: (String, String)*): Set[(Long, String, Long, String)] = {
      var r = spark.read.format("graftlake").option("readChangeFeed", "true")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      changes(r.load(root))
    }
    val v1Only = feed("endingTimestamp" -> between.toString)
    assert(v1Only == feed("endingVersion" -> "1"),
      "an instant between the commits ends the feed at v1")
    assert(v1Only == (0L until 3L).map(i => (i, s"v$i", 1L, "insert")).toSet)
    // INCLUSIVE boundary (Delta's contract): an instant EQUAL to v2's
    // publish time reads through v2
    val v2At = Files.getLastModifiedTime(java.nio.file.Paths.get(
      root, "_manifests", "v000000002.json")).toInstant
    assert(feed("endingTimestamp" -> v2At.toString) ==
      feed("endingVersion" -> "2"),
      "a commit published exactly AT endingTimestamp is included")
    // both bounds by timestamp = both bounds by version
    assert(feed("startingTimestamp" -> between.toString,
      "endingTimestamp" -> v2At.toString) ==
      feed("startingVersion" -> "2", "endingVersion" -> "2"))
    // an instant before the first commit refuses (there is no version
    // at-or-before it to end on)
    intercept[Exception](feed("endingTimestamp" -> "2001-01-01T00:00:00Z"))
  }

  test("CDF planning resolves feed-file sizes from the _bytes.json sidecars, not per-file stats") {
    val root = newDir("bytes") + "/lake"
    buildSrc(root)
    // the change commit's materialized feed carries its own sidecar
    // (staged with the files, atomic with the rename)
    val feed = SnapshotLake.cdcFiles(root, 3L).get
    val side = graft.etl.FileStats.readBytesSidecar(root, "_cdc/v=3")
    assert(feed.nonEmpty && feed.forall(f => side.get(f).contains(
      Files.size(java.nio.file.Paths.get(root, f)))),
      "the staged sidecar records every feed file's true size")
    // the pin that planning never stats data files: hide one of v1's
    // files — the plan must still produce its partition with the
    // sidecar-recorded length (a stat would throw NoSuchFileException)
    val v1File = SnapshotLake.commitChange(root, 1L)._2.head
    val p = java.nio.file.Paths.get(root, v1File)
    val hidden = java.nio.file.Paths.get(p.toString + ".hidden")
    Files.move(p, hidden)
    try {
      val q = spark.read.format("graftlake")
        .option("readChangeFeed", "true").option("endingVersion", "1")
        .load(root)
      val scan = q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }.collectFirst { case s: GraftLakeCdfScan => s }.get
      val parts = scan.planInputPartitions()
        .flatMap(_.asInstanceOf[GraftLakePackedPartition].files)
      assert(parts.exists(_.absPath.endsWith(v1File)),
        "the hidden file still plans (its size came from the sidecar)")
      assert(parts.map(_.length).forall(_ > 0L))
    } finally Files.move(hidden, p)
  }

  test("vacuum reaps an aged-out change commit's materialized feed with its version, keeps retained feeds") {
    val root = newDir("vac") + "/lake"
    buildSrc(root) // v1..v5; feeds at v=3 (merge) and v=4 (DV delete)
    assert(Files.isDirectory(java.nio.file.Paths.get(root, "_cdc", "v=3")))
    SnapshotLake.vacuum(root, keepVersions = 2) // retain v4, v5
    assert(!Files.exists(java.nio.file.Paths.get(root, "_cdc", "v=3")),
      "a feed below the retention cutoff is reaped with its version")
    assert(Files.isDirectory(java.nio.file.Paths.get(root, "_cdc", "v=4")),
      "a retained version's feed survives")
    val tail = spark.read.format("graftlake")
      .option("readChangeFeed", "true").option("startingVersion", "4")
      .load(root)
    assert(changes(tail) == fullFeed.filter(_._3 >= 4L),
      "the retained range still reads after vacuum")
  }

  test("a change commit without enablement refuses; an append-only range still reads") {
    val root = newDir("noenable") + "/lake"
    SnapshotLake.append(kv(0, 4), root, idx) // v1
    SnapshotLake.merge(spark, root,
      Seq((0L, "X0", false)).toDF("k", "v", "__del"),
      "k", idx, Some("__del")) // v2: change commit, NOT materialized
    val inserts = spark.read.format("graftlake")
      .option("readChangeFeed", "true").option("endingVersion", "1").load(root)
    assert(changes(inserts) == (0L until 4L).map(i => (i, s"v$i", 1L, "insert")).toSet)
    val e = intercept[Exception](spark.read.format("graftlake")
      .option("readChangeFeed", "true").load(root).count())
    assert(e.getMessage != null && e.getMessage.contains("enableCdf"),
      s"the refusal must point at enablement: ${e.getMessage}")
    // skipChangeCommits degrades the feed to appends-only instead
    val skipped = spark.read.format("graftlake")
      .option("readChangeFeed", "true").option("skipChangeCommits", "true")
      .load(root)
    assert(changes(skipped) == (0L until 4L).map(i => (i, s"v$i", 1L, "insert")).toSet)
  }

  test("streaming readChangeFeed: per-version batches drive an exactly-once follower") {
    val root = newDir("stream") + "/lake"
    buildSrc(root)
    val batches = scala.collection.mutable.ArrayBuffer
      .empty[Set[(Long, String, Long, String)]]
    val ckpt = newDir("cp")
    def drainFeed(): Unit = {
      val q = spark.readStream.format("graftlake")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1").load(root)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          val c = changes(df)
          batches.synchronized { batches += c }; ()
        }
        .start()
      assert(q.awaitTermination(120000), "drain must finish")
    }
    drainFeed()
    val nonEmpty = batches.filter(_.nonEmpty)
    assert(nonEmpty.size == 4, // v1, v2, v3, v4 feed; v5 compact is empty
      s"one change batch per feeding version: ${batches.map(_.size)}")
    assert(nonEmpty.map(_.map(_._3)).forall(_.size == 1),
      "a micro-batch never mixes source versions (atomic change sets)")
    assert(batches.flatten.toSet == fullFeed)
    // restart replay: caught up, nothing re-fed
    val before = batches.size
    drainFeed()
    assert(batches.drop(before).forall(_.isEmpty))
    // new source commits flow through the same checkpoint
    SnapshotLake.append(kv(100, 102), root, idx) // v6
    drainFeed()
    assert(batches.drop(before).flatten.toSet ==
      Set((100L, "v100", 6L, "insert"), (101L, "v101", 6L, "insert")))
  }
}
