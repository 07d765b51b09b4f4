package graft.sources

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.etl.{LakeIndex, SnapshotLake}

/** The connector's CHANGE DATA FEED surface — Delta's `readChangeFeed`
  * through the standard reader APIs, batch and streaming:
  *
  * {{{
  *   spark.read.format("graftlake")
  *     .option("readChangeFeed", "true")
  *     .option("startingVersion", 3)          // or startingTimestamp
  *     .option("endingVersion", 5)            // batch only; default head
  *     .load(root)                            // + _change_type, _commit_version
  *
  *   spark.readStream.format("graftlake")
  *     .option("readChangeFeed", "true").load(root)
  * }}}
  *
  * Every CDF read is a PURE FILE SCAN, distributed and vectorized like
  * any other connector scan — the plan shape is independent of table
  * size, the property that makes the feed usable at 100 TB:
  *
  *   - an APPEND commit's changes ARE its added files: each file's
  *     `_change_type` ('insert') and `_commit_version` ride as constant
  *     vectors (the hive-partition mechanism), zero decode cost, no extra
  *     state on disk;
  *   - a CHANGE commit (merge / delete / overwrite / restore / COW
  *     rewrite) reads its MATERIALIZED feed (`_cdc/v=<N>/`, written at
  *     commit time on a [[SnapshotLake.enableCdf]]-enabled lake — the
  *     DV-aware [[SnapshotLake.changeFeed]] diff, computed exactly
  *     once); `_change_type` is a data column of those files,
  *     `_commit_version` again a constant. A change commit made before
  *     enablement refuses, Delta's contract — and a materialization
  *     that crashed mid-write self-heals here (idempotent re-run);
  *   - physical-only (compact) and metadata-only (evolve) commits feed
  *     zero changes.
  *
  * Both paths share [[GraftLakeReaderFactory]] and the snapshot scan's
  * task packing ([[GraftLakeScan.pack]]), so column pruning, whole-stage
  * codegen and task counts behave exactly as on a plain scan. The streaming
  * form hands these same partitions to the micro-batch machinery one
  * version range at a time ([[GraftLakeMicroBatchStream]] with
  * `cdf = true`), where `skipChangeCommits` degrades the feed to
  * appends-only and admission control stays VERSION-granular — a
  * commit's change set is atomic, splitting it across triggers would
  * tear a transaction in half. */
object GraftLakeCdf {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** The CDF relation's schema: the table's columns plus the two change
    * metadata columns (Delta's same names). */
  def cdfSchema(base: StructType): StructType =
    StructType(base.fields ++ Seq(
      StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(CommitVersionCol, LongType, nullable = false)))

  /** The files of version `v`'s change batch, as the scans pack them
    * (see class doc for the per-op shapes). Lazily materializes a change commit's feed
    * when its write-time materialization is missing — idempotent, and
    * it throws with the enablement hint when CDF was never enabled. */
  private[sources] def partitions(root: String, rootAbs: String, v: Long,
                                  skipChangeCommits: Boolean)
      : Seq[GraftLakeInputPartition] = {
    // file lengths from the commit-time `_bytes.json` sidecars — same
    // contract as the snapshot scan path: planning a version range never
    // issues O(files) stat/HEAD calls
    val (op, add) = SnapshotLake.commitChange(root, v)
    op match {
      case "append" =>
        val size = LakeIndex.lengths(root, add)
        add.map { f =>
          GraftLakeInputPartition(s"$rootAbs/$f", size(f),
            GraftLakeScan.partTupleOf(f) ++ Seq(
              ChangeTypeCol -> "insert",
              CommitVersionCol -> v.toString,
              "_file" -> f))
        }
      case "compact" | "evolve" => Nil // zero logical changes
      case _ if skipChangeCommits => Nil
      case _ =>
        val feed = SnapshotLake.materializeCdc(SparkSession.active, root, v)
        val size = LakeIndex.lengths(root, feed)
        feed.map { f =>
          GraftLakeInputPartition(s"$rootAbs/$f", size(f),
            // _change_type is a DATA column of the materialized files
            Seq(CommitVersionCol -> v.toString, "_file" -> f))
        }
    }
  }
}

/** ScanBuilder for CDF reads: column pruning only — change feeds are
  * consumed whole by followers; filters re-apply above the scan like
  * any residual. */
final class GraftLakeCdfScanBuilder(root: String, fullSchema: StructType,
                                    startV: Long, endV: Option[Long],
                                    skipChangeCommits: Boolean,
                                    maxVersionsPerTrigger: Option[Long],
                                    hconf: Broadcast[SerializableConfiguration])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = {
    // same refusal as SnapshotLake.changeFeed/enableCdf, surfaced at the
    // connector boundary: the feed's materialized files freeze column
    // names per version, which a rename/drop history breaks (Delta
    // documents the identical CDF × column-mapping restriction)
    require(graft.etl.SnapshotLake.columnMapping(root).isEmpty,
      s"readChangeFeed on $root: the lake uses column mapping " +
        "(rename/drop history) — CDF and the mapping refuse each other")
    new GraftLakeCdfScan(root,
      java.nio.file.Paths.get(root).toAbsolutePath.toString,
      required, fullSchema, startV, endV, skipChangeCommits,
      maxVersionsPerTrigger, hconf)
  }
}

final class GraftLakeCdfScan(root: String, rootAbs: String,
                             required: StructType, fullSchema: StructType,
                             startV: Long, endV: Option[Long],
                             skipChangeCommits: Boolean,
                             maxVersionsPerTrigger: Option[Long],
                             hconf: Broadcast[SerializableConfiguration])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftLakeCdfScan versions=[$startV,${endV.map(_.toString).getOrElse("head")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val head = SnapshotLake.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    val hi = endV.getOrElse(head)
    require(hi <= head,
      s"endingVersion $hi is beyond the head version $head of $root")
    GraftLakeScan.pack(SparkSession.active, (startV to hi).flatMap(v =>
      GraftLakeCdf.partitions(root, rootAbs, v, skipChangeCommits))).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // no DV: a change commit's materialized feed already accounts for
    // its version's vector delta, and append inserts are file-exact
    new GraftLakeReaderFactory(required, None, hconf)

  /** `spark.readStream ... readChangeFeed` — the same per-version
    * partitions through the micro-batch machinery. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftLakeMicroBatchStream(root, rootAbs, required,
      startV, skipChangeCommits, maxVersionsPerTrigger, hconf,
      Array.empty, fullSchema, None, None, cdf = true)
}
