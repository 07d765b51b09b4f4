package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.etl.SnapshotLake

/** Group-based (copy-on-write) row-level operations — SQL `UPDATE`,
  * `MERGE INTO`, and rewrite-shape `DELETE` over a catalog-registered
  * lake table, via Spark's `SupportsRowLevelOperations` contract:
  *
  *   1. Spark plans the operation's SCAN ([[GraftLakeScanBuilder]] with
  *      the `_file` metadata column projected) and, at runtime, narrows
  *      it to exactly the matched GROUPS: a dynamic `IN (_file, ...)`
  *      filter built from the rows the condition matches — the scan's
  *      runtime file pruning handles it like any join-driven prune, so
  *      untouched files never even scan for the rewrite.
  *   2. The rewrite query computes the POST-state of every row in the
  *      affected files (updated + copied rows; merge inserts union in),
  *      and the executors write them through the lake's one file writer
  *      ([[GraftLakeDataWriter]]), each task reporting its files' stats.
  *   3. The driver commits ONE version replacing exactly the files the
  *      scan read with the files the tasks wrote
  *      ([[SnapshotLake.commitReplace]]) — under the serializable-writer
  *      fence, so a racing rewrite of any replaced file aborts instead
  *      of resurrecting stale rows, and with the lake's sidecar stats
  *      written for the replacement files from what the tasks reported.
  *
  * The composition with [[GraftLakeTable]]'s `SupportsDelete` is
  * Delta's: a DELETE whose predicate maps onto inclusive ranges runs
  * metadata-first through `deleteMatching` (whole-file drops, no
  * rewrite); anything else — OR, IS NULL, strict bounds, subqueries —
  * falls back to THIS copy-on-write rewrite instead of refusing. */
final class GraftLakeRowLevelOperation(root: String, fullSchema: StructType,
                                       cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  /** Every scan Spark built from this operation: the main COW scan
    * plus, when runtime group filtering fires, the matching-rows
    * subquery's scan. The write's commit must replace exactly what the
    * MAIN scan read — identified structurally ([[mainScan]]), never by
    * build order. */
  private val builtScans =
    new java.util.concurrent.CopyOnWriteArrayList[GraftLakeScan]()

  /** The scan whose files the rewrite replaces, identified STRUCTURALLY:
    * only the main COW scan ever receives the `In("_file", …)` GROUP
    * filter (the condition subquery's scan can receive join-key DPP
    * filters, but never the file-group one — it FEEDS it). When group
    * filtering didn't fire at all, a single built scan is trivially the
    * main one; any other shape is ambiguous and must fail loudly rather
    * than risk `commitReplace` removing files nobody rewrote. */
  private[sources] def mainScan: GraftLakeScan = {
    val all = builtScans.asScala.toSeq
    require(all.nonEmpty, "the row-level operation committed without a scan")
    all.filter(_.wasFileGroupFiltered) match {
      case Seq(one) => one
      case Seq() if all.sizeIs == 1 => all.head
      case marked => throw new IllegalStateException(
        s"cannot identify the row-level rewrite's main scan: ${marked.size} " +
          s"of ${all.size} scans received the _file group filter — refusing " +
          "to commit a replace whose removed-file set is ambiguous")
    }
  }

  override def command(): RowLevelOperation.Command = cmd

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLakeScanBuilder(root, None, fullSchema,
      onBuild = s => { builtScans.add(s); () },
      // the COW scan advertises ONLY `_file` for runtime filtering:
      // Spark's group-filter DPP builds ONE InSubquery over ALL advertised
      // attributes, and the multi-attribute (named_struct) form fails
      // translateRuntimeFilterV2 and is silently DROPPED — advertising
      // the stats columns here meant the group filter never reached the
      // scan at all (a full-table rewrite on every UPDATE/MERGE whose
      // predicate didn't statically push). Single-key `_file` translates,
      // delivers, and is exactly the group the rewrite replaces.
      fileOnlyRuntimeFilter = true)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftLakeReplaceWrite(root,
            java.nio.file.Paths.get(root).toAbsolutePath.toString,
            info.schema(), cmd, () => mainScan,
            // every scan of this operation indexes the same columns; the
            // writers need them before runtime filtering marks the main one
            () => builtScans.asScala.headOption.fold(Seq.empty[String])(_.statsColumns),
            GraftLakeConf.session())
      }
    }

  override def description(): String = s"graftlake COW $cmd on $root"
}

/** The replace-groups batch write: task files land under one rewrite
  * commit directory, each reported with its footer stats, and the commit
  * swaps (scanned files → written files) in one manifest version. An
  * aborted write leaves only vacuum-reapable orphans. */
final class GraftLakeReplaceWrite(root: String, rootAbs: String,
                                  schema: StructType,
                                  cmd: RowLevelOperation.Command,
                                  scanOf: () => GraftLakeScan,
                                  statsColsOf: () => Seq[String],
                                  hconf: Broadcast[SerializableConfiguration])
    extends BatchWrite {
  private val commitDir = SnapshotLake.newDataDir()
  private lazy val statsCols = statsColsOf()

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftLakeWriterFactory(rootAbs, commitDir, "", schema, statsCols, hconf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val scan = scanOf()
    val added = messages.toSeq.collect { case m: GraftLakeFilesMsg => m.files }.flatten
    val op = cmd match {
      case RowLevelOperation.Command.DELETE => "delete"
      case _ => "merge"
    }
    SnapshotLake.commitReplace(SparkSession.active, root,
      scan.version, scan.currentFiles, added, op,
      SnapshotLake.IndexSpec(statsCols, None))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}
