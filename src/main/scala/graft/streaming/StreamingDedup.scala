package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import graft.llm.Dedup

/** Streaming NEAR-duplicate dedup — MinHash-LSH applied to an *arriving
  * document stream*, the always-on ingest form of the batch dedup family
  * (exact streaming dedup: [[StreamingJobs.dedupStream]]; incremental
  * batch-vs-corpus near-dup: q161). This was the one empty cell left in
  * the dedup × streaming matrix (VERDICT r10 item 1).
  *
  * Shape: q161's incremental idiom made CONTINUOUS via `foreachBatch`.
  * Each micro-batch of arriving documents is
  *   1. indexed — MinHash signatures (one [[graft.functions.MinHashAgg]]
  *      sketch aggregate, map-side partial, one shuffle on doc_id) and
  *      hashed shingle sets, both committed to the corpus state BEFORE
  *      any dedup decision (the policy needs dropped docs as dominators
  *      too, see below);
  *   2. deduped — banded candidates within the batch (LSH self-join) and
  *      against the accumulated corpus band index, every candidate
  *      verified with exact hashed-shingle Jaccard;
  *   3. emitted — survivors land in a per-batch output directory.
  *
  * STATE IS A BUCKETED RELATION (the 100 TB shape, VERDICT r11 item 7):
  * the band index lives in a catalog table CLUSTERED BY the band key
  * into [[StateBuckets]] buckets and PARTITIONED BY the writing batch,
  * the shingle sets in a twin table bucketed by doc_id. The per-batch
  * probe join then needs NO corpus-side shuffle — the bucketed scan
  * already carries the join partitioning, so each trigger shuffles only
  * the BATCH side (and the within-batch self-join shuffles nothing at
  * all; PlanShapeSpec pins both). The band key is `xxhash64(band,
  * slice)` — one hashable long instead of the (band, array) pair;
  * distinct (band, slice) values may collide, which only ADDS candidate
  * pairs, and every candidate passes the exact-Jaccard verify, so the
  * dedup decision is unchanged (the LSH-candidate contract). Batch
  * writes are `INSERT OVERWRITE` on the batch's own partition (dynamic
  * partition overwrite), so a crash-replayed micro-batch rewrites
  * byte-identical state instead of double-appending — the same
  * idempotence the round-11 per-batch directories gave, now with the
  * join-locality the directory union could never provide. State grows
  * by exactly the batch's band/set rows per trigger (append-only,
  * compacted out-of-band like any lake table).
  *
  * Policy and batch-boundary independence: a document is dropped iff it
  * verifies at ≥ threshold against ANY previously-arrived document —
  * whether or not that document itself survived (the same contract as the
  * batch keep-lowest-id policy, which drops every doc_b of the pair
  * relation regardless of doc_a's own fate). Because the decision for doc
  * d depends only on the SET of documents seen before d, the drained
  * output is identical however the source files split into micro-batches
  * — proven in StreamingSpec by draining the same corpus one-file-per-
  * trigger vs all-at-once. When arrival order follows the ingest id (the
  * monotone doc_id a production ingest assigns), "first arrival wins"
  * coincides exactly with batch q36's keep-lowest-id policy, which is what
  * lets the DuckDB all-pairs oracle replay the stream's final state.
  *
  * Exactly-once: the index writes overwrite their own batch partition,
  * the survivor output is keyed by `batchId` and mode-overwrite, and the
  * candidate joins read prior state as `b < batchId` — so a replay sees
  * exactly what the first attempt saw (later batches' partitions are
  * pruned out) and rewrites identical state.
  */
object StreamingDedup {

  /** Explicit schema for streaming document sources (readStream requires
    * one; matches the corpus parquet layout). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over a directory of document parquet files,
    * `maxFilesPerTrigger = 1` so every staged file becomes its own
    * micro-batch (the arrival granularity the dedup must be independent
    * of). */
  def documentsStream(spark: SparkSession, dir: String,
                      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(documentsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  private def batchDir(root: String, kind: String, batchId: Long): String =
    s"$root/$kind/b=$batchId"

  /** Scope dynamic partition overwrite to `body`: the per-batch state
    * rewrites need it (replay idempotence = replace only this batch's
    * partition), but leaving it set on the shared session would silently
    * change the semantics of any unrelated INSERT OVERWRITE the user
    * runs afterward — so the previous mode is restored on every exit. */
  private def withDynamicPartitionOverwrite[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try body finally spark.conf.set(key, prev)
  }

  /** Bucket count of the state tables. Test-scale constant; production
    * sizes it to the cluster (buckets ≥ executor slots) — the mechanics
    * are identical. */
  val StateBuckets = 8

  /** Catalog table names, derived from the state root so independent
    * streams in one session (or a re-created fixture) never collide. */
  private[graft] def bandsTable(stateRoot: String): String =
    s"graft_dedup_bands_${stableSuffix(stateRoot)}"
  private[graft] def setsTable(stateRoot: String): String =
    s"graft_dedup_sets_${stableSuffix(stateRoot)}"
  private def stableSuffix(s: String): String =
    f"${scala.util.hashing.MurmurHash3.stringHash(s) & 0x7fffffff}%08x"

  /** Create the two bucketed state tables if absent: bands clustered by
    * the band key, sets by doc_id, both hive-partitioned by the writing
    * batch (partition overwrite = replay idempotence; partition pruning
    * = the `b < batchId` replay horizon). Data lives under `stateRoot`,
    * the catalog entry carries the bucket spec that gives every probe
    * join its shuffle-free corpus side. */
  private val stateTablesEnsured = new graft.etl.Memo[(SparkSession, String), Unit]

  private def ensureStateTables(spark: SparkSession, stateRoot: String): Unit =
    // once per (session, stateRoot): the CREATE IF NOT EXISTS pair is
    // idempotent but re-parsing + catalog-probing two DDL statements per
    // micro-batch is pure driver overhead on the trigger path (r20)
    stateTablesEnsured((spark, stateRoot)) {
      ensureStateTablesOnce(spark, stateRoot)
    }

  private def ensureStateTablesOnce(spark: SparkSession, stateRoot: String): Unit = {
    // pre-create the locations: the catalog probes them on CREATE/first
    // read, and an absent dir logs a spurious FileNotFound warning
    java.nio.file.Files.createDirectories(Paths.get(stateRoot, "bands_tbl"))
    java.nio.file.Files.createDirectories(Paths.get(stateRoot, "sets_tbl"))
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS ${bandsTable(stateRoot)}
         |  (doc_id BIGINT, bkey BIGINT, b BIGINT)
         |USING parquet
         |PARTITIONED BY (b)
         |CLUSTERED BY (bkey) SORTED BY (bkey) INTO $StateBuckets BUCKETS
         |LOCATION '${Paths.get(stateRoot, "bands_tbl").toUri}'""".stripMargin)
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS ${setsTable(stateRoot)}
         |  (doc_id BIGINT, shingles ARRAY<BIGINT>, b BIGINT)
         |USING parquet
         |PARTITIONED BY (b)
         |CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO $StateBuckets BUCKETS
         |LOCATION '${Paths.get(stateRoot, "sets_tbl").toUri}'""".stripMargin)
    ()
  }

  /** The cross probe: this batch's band rows against the accumulated
    * corpus band index, joined on the band key. Package-visible so
    * PlanShapeSpec can pin the shape — BOTH sides are bucketed scans of
    * the state table, so the join plans with zero shuffle exchanges. */
  private[graft] def crossCandidates(spark: SparkSession, stateRoot: String,
                                     batchId: Long): DataFrame = {
    val t = spark.table(bandsTable(stateRoot))
    t.filter(col("b") === batchId).drop("b").alias("x")
      .join(t.filter(col("b") < batchId).drop("b").alias("y"),
        col("x.bkey") === col("y.bkey"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
  }

  /** One micro-batch of the continuous near-dedup: index, dedup against
    * (corpus-so-far ∪ earlier-in-batch), emit survivors to the per-batch
    * output directory. Pure batch logic — callable directly from tests,
    * wired into the stream by [[nearDedupTo]]. */
  def processBatch(batch: DataFrame, stateRoot: String, batchId: Long,
                   threshold: Double): Unit =
    dedupBatch(batch, stateRoot, batchId, threshold)
      .write.mode("overwrite").parquet(batchDir(stateRoot, "out", batchId))

  /** Steps 1-2 of the per-batch dedup (index commit + decision), returning
    * this batch's survivors without committing them — the seam the two
    * output protocols ([[processBatch]]'s per-batch directories,
    * [[processBatchToLake]]'s snapshot-lake commits) share. */
  private def dedupBatch(batch: DataFrame, stateRoot: String, batchId: Long,
                         threshold: Double): DataFrame = {
    val spark = batch.sparkSession
    ensureStateTables(spark, stateRoot)

    // ── 1. index the batch and COMMIT the index before deduping: the
    //      policy needs every seen doc as a potential dominator, dropped
    //      or not. Replay idempotence: dynamic INSERT OVERWRITE replaces
    //      only this batch's partition — never the accumulated corpus
    //      state (mode scoped to these two writes). The sets write is the
    //      batch's ONLY text pass: the band index derives from the
    //      committed hashed-shingle arrays (exploding the stored array is
    //      the same multiset ShingleHashes produced, so MinHashAgg yields
    //      identical signatures) — the previous formulation re-shingled
    //      the batch text a second time for the signature branch; and the
    //      sets scan arrives bucketed by doc_id, so the signature
    //      aggregate runs shuffle-free.
    withDynamicPartitionOverwrite(spark) {
      Dedup.shingleSets(batch)
        .select(col("doc_id"), col("shingles"), lit(batchId).as("b"))
        .write.mode("overwrite").insertInto(setsTable(stateRoot))
      val batchSets = spark.table(setsTable(stateRoot))
        .filter(col("b") === batchId).drop("b")
      Dedup.bandsOf(
          batchSets.select(col("doc_id"), explode(col("shingles")).as("h"))
            .groupBy("doc_id")
            .agg(graft.functions.MinHashAgg.sig(col("h")).as("sig")))
        .select(col("doc_id"),
          xxhash64(col("band"), col("slice")).as("bkey"),
          lit(batchId).as("b"))
        .write.mode("overwrite").insertInto(bandsTable(stateRoot))
    }

    // ── 2. candidates: within-batch LSH self-join (a < b) plus batch ⋈
    //      corpus band index — all on the bucketed state, so the corpus
    //      side never shuffles and the self-join shuffles nothing.
    //      Verified with exact hashed-shingle Jaccard; sets come from
    //      this batch ∪ prior state (b ≤ batchId — a replay never sees a
    //      successor's partition). Both candidate families are ORIENTED
    //      (dominated side first) and verified in ONE union → distinct →
    //      Jaccard pipeline: Jaccard is symmetric, so one verify join
    //      replaces the previous two (two set-relation scans, two
    //      distinct exchanges → one of each), and the anti-join is
    //      duplicate-insensitive so no final distinct is needed.
    val bB = spark.table(bandsTable(stateRoot))
      .filter(col("b") === batchId).drop("b")
    val within = bB.alias("x")
      .join(bB.alias("y"),
        col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("y.doc_id").as("doc_a"), col("x.doc_id").as("doc_b"))
    val cross = crossCandidates(spark, stateRoot, batchId)
    val allSets = spark.table(setsTable(stateRoot))
      .filter(col("b") <= batchId).drop("b")

    // dominated = the later side of a verified within-batch pair (doc_a
    // after the orientation above), or the arriving side of a verified
    // cross pair (the corpus doc arrived first by construction).
    val dominated =
      Dedup.verifiedJaccard(within.unionByName(cross).distinct(), allSets)
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a").as("doc_id"))

    // ── 3. survivors of this batch; the caller owns the output commit.
    batch.join(dominated, Seq("doc_id"), "left_anti")
  }

  /** The multi-writer composition (VERDICT r10 item 7): this batch's
    * survivors committed to a [[graft.etl.SnapshotLake]] through the
    * tag-idempotent `appendOnce` — exactly-once ACROSS both mechanisms
    * (streaming checkpoint replay on the input side, manifest CAS on the
    * output side). A crash anywhere replays the batch: the index rewrite
    * is overwrite-idempotent, and the lake commit is a no-op if the
    * batch's tag already landed — so the deduped lake gains each
    * micro-batch exactly once however the drain dies, while concurrent
    * compactions/readers ride the manifest protocol untouched. */
  def processBatchToLake(batch: DataFrame, stateRoot: String, lakeRoot: String,
                         batchId: Long, threshold: Double,
                         index: graft.etl.SnapshotLake.IndexSpec =
                           graft.etl.SnapshotLake.IndexSpec.none): Unit = {
    graft.etl.SnapshotLake.appendOnce(
      dedupBatch(batch, stateRoot, batchId, threshold),
      lakeRoot, s"dedup-b$batchId", index)
    ()
  }

  /** [[nearDedupTo]]'s snapshot-lake twin: the continuous dedup writing
    * through the manifest commit protocol. */
  def nearDedupToSnapshotLake(docs: DataFrame, stateRoot: String,
                              lakeRoot: String, checkpointDir: String,
                              threshold: Double,
                              index: graft.etl.SnapshotLake.IndexSpec =
                                graft.etl.SnapshotLake.IndexSpec.none): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatchToLake(batch, stateRoot, lakeRoot, batchId, threshold, index)
      }

  /** The continuous query: arriving documents → per-batch near-dedup →
    * per-batch survivor directories under `stateRoot/out`. AvailableNow
    * drains what exists and stops; an unbounded production stream runs the
    * same writer with a processing-time trigger. */
  def nearDedupTo(docs: DataFrame, stateRoot: String, checkpointDir: String,
                  threshold: Double): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, stateRoot, batchId, threshold)
      }

  /** Out-of-band state compaction — the lake-maintenance twin for the
    * dedup state tables: consolidate the per-batch partitions of batches
    * `< upToBatch` (plus any previous archive) into the single archive
    * partition `b = -1`, which sorts below every real batch id so the
    * `b < batchId` probe keeps reading it forever, then drop the
    * consolidated per-batch partition directories. Steady-state file
    * count per bucket stops tracking the trigger count — the same
    * small-file story as the lake's compactSmall, applied to stream
    * state. Replay safety: run it only for batches strictly behind the
    * stream's committed head. Spark replays at most the newest
    * uncommitted batch, and a replayed batch N reads prior state as
    * `b < N` — once batches `< N` are archived at `-1 < N` the replay
    * sees the identical row set, so decisions are unchanged; archiving
    * N itself or anything newer would violate the horizon (the same
    * retention-vs-replay contract the lake's vacuum documents). The
    * rewrite stages through a temp directory because Spark refuses to
    * overwrite a table partition while reading the same table. */
  def compactState(spark: SparkSession, stateRoot: String, upToBatch: Long): Unit = {
    require(upToBatch >= 0L, "archive horizon must be a real batch id")
    for (t <- Seq(bandsTable(stateRoot), setsTable(stateRoot))) {
      val loc = Paths.get(stateRoot,
        if (t == bandsTable(stateRoot)) "bands_tbl" else "sets_tbl")
      val batchDirs = {
        val s = java.nio.file.Files.list(loc)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(n => n.startsWith("b=") && n != "b=-1" &&
              n.stripPrefix("b=").toLong < upToBatch)
            .toVector
        } finally s.close()
      }
      if (batchDirs.nonEmpty) {
        // staged beside the tables it rewrites, and gone once the
        // archive partition holds the rows
        val tmp = Paths.get(stateRoot, s"_compact-stage-${java.util.UUID.randomUUID()}")
        try {
          spark.table(t).filter(col("b") < upToBatch)
            .drop("b").write.parquet(tmp.toString)
          withDynamicPartitionOverwrite(spark) {
            spark.read.parquet(tmp.toString)
              .withColumn("b", lit(-1L))
              .write.mode("overwrite").insertInto(t)
          }
        } finally graft.etl.Scratch.rm(tmp)
        // the archive partition now holds every consolidated row; the
        // per-batch source partitions are dead weight — drop them from
        // the CATALOG first (dynamic-partition inserts registered them;
        // deleting only the dirs would leave stale partition metadata:
        // wrong SHOW PARTITIONS, per-read FileNotFound noise, and a
        // harder failure under a Hive-backed catalog), then sweep any
        // leftover files the drop retained.
        batchDirs.foreach { n =>
          spark.sql(
            s"ALTER TABLE $t DROP IF EXISTS PARTITION (b=${n.stripPrefix("b=")})")
          val d = loc.resolve(n)
          if (java.nio.file.Files.isDirectory(d)) {
            val s = java.nio.file.Files.list(d)
            try {
              import scala.jdk.CollectionConverters._
              s.iterator().asScala.toVector.foreach(java.nio.file.Files.deleteIfExists(_))
            } finally s.close()
            java.nio.file.Files.deleteIfExists(d)
          }
          ()
        }
        spark.sql(s"REFRESH TABLE $t")
        ()
      }
    }
  }

  /** All survivors drained so far — the deduped corpus the downstream
    * trainer reads. */
  def survivors(spark: SparkSession, stateRoot: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val base = Paths.get(stateRoot, "out")
    val dirs = {
      val s = java.nio.file.Files.list(base)
      try s.iterator().asScala.map(_.toString).toVector.sorted
      finally s.close()
    }
    spark.read.parquet(dirs: _*)
  }
}
