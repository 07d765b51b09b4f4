package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, InsertableRelation, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.etl.{FileStats, SnapshotLake}

/** DataSource V2 connector for the snapshot lake —
  * `spark.read.format("graftlake").option("path", root)` — the
  * Spark-native packaging of the manifest/index layer:
  *
  *   - **Snapshot isolation / time travel**: the scan resolves ONE
  *     manifest version (`versionAsOf` or head) at planning time and
  *     holds its explicit file list — commits landing later change
  *     nothing mid-query, the q217 property exposed through the
  *     standard reader API.
  *   - **Filter pushdown → FILE pruning**: range/equality filters reach
  *     [[GraftLakeScanBuilder.pushFilters]], are converted to
  *     [[FileStats.Range]]s, and prune the file list through the same
  *     conservative `mayMatch` every native reader uses — composed with
  *     the path-encoded partition tuples of hive-partitioned commits, so
  *     partition pruning and stats pruning fire through one mechanism
  *     (the q227 property through the standard API). By default ALL
  *     filters are reported back as residual (`pushedFilters()` is
  *     empty), so Spark re-applies them row-level above the scan:
  *     pruning is a performance lever, never a correctness input. With
  *     `.option("exactPushdown", "true")` the exactly-evaluable shapes
  *     are ACCEPTED as pushed and applied in the readers instead, which
  *     is what lets a filtered COUNT push down to the
  *     metadata+boundary hybrid ([[GraftLakeCountScan]]).
  *   - **Column pruning → parquet projection**: the required schema
  *     from [[GraftLakeScanBuilder.pruneColumns]] becomes the parquet
  *     read projection, so unselected columns are never decoded.
  *   - **Vectorized decode**: each input partition reads through
  *     Spark's own [[VectorizedParquetRecordReader]] and emits
  *     [[ColumnarBatch]]es (`supportColumnarReads`), so a connector scan
  *     feeds whole-stage codegen through the same columnar path as the
  *     built-in parquet source — one footer open per file, no per-value
  *     boxing. Hive partition values ride as constant vectors
  *     (`initBatch`), and a column a file predates materializes as
  *     nulls, the mergeSchema-evolution contract.
  *   - **Deletion vectors**: a version with live key tombstones reads
  *     through the row-based path — each task loads the version's
  *     tombstone key set (the per-task analog of Delta's per-file DV
  *     read; the vector is O(deleted keys) between compactions by the
  *     [[SnapshotLake.deleteWhere]] contract) and filters rows during
  *     the scan, equal by construction to the native reader's anti-join.
  *   - One input partition per manifest file: Spark schedules them like
  *     any other scan, locality-free on object storage exactly as
  *     Delta/Iceberg connectors plan.
  *
  * Decode scope = whatever Spark's vectorized parquet reader decodes —
  * the same types the built-in source supports.
  */
class GraftLakeSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftlake"

  private def rootOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graftlake needs .option(\"path\", <lake root>) or load(<root>)")
    p
  }

  /** The pin this load resolved, memoized across the one
    * inferSchema→getTable sequence a `spark.read...load()` performs on
    * this (per-load) provider instance: a `timestampAsOf` instant maps
    * to a VERSION exactly once, so the schema the table was inferred
    * from and the version its scans read can never straddle a commit
    * that lands between the two calls. Keyed by the raw option strings —
    * a different load (or an explicit pin change) resolves afresh. */
  @volatile private var memoPin: (String, Option[Long]) = null

  private def pinKey(options: CaseInsensitiveStringMap): String =
    s"${rootOf(options)}|${options.get("versionAsOf")}|${options.get("timestampAsOf")}"

  private def versionOf(options: CaseInsensitiveStringMap): Option[Long] = {
    val k = pinKey(options)
    val m = memoPin
    if (m != null && m._1 == k) m._2
    else {
      val pin = GraftLakeSource.resolvePin(rootOf(options), options)
      memoPin = (k, pin)
      pin
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = rootOf(options)
    // a lake with no committed version yet has no schema — the WRITE
    // path creates it (ACCEPT_ANY_SCHEMA below skips the append-vs-table
    // schema match that would otherwise reject the first commit)
    if (SnapshotLake.currentVersion(root).isEmpty) return new StructType()
    if (options.getBoolean("readChangeFeed", false)) {
      // the CDF relation: head columns + (_change_type, _commit_version);
      // ranges pin via startingVersion/endingVersion, never a table pin
      require(versionOf(options).isEmpty,
        "readChangeFeed selects its range with startingVersion/" +
          "startingTimestamp/endingVersion — versionAsOf/timestampAsOf " +
          "pin a snapshot, not a change range")
      return GraftLakeCdf.cdfSchema(
        SnapshotLake.schemaOf(SparkSession.active, root))
    }
    // resolved from the declared schema or one footer per directory —
    // never a DataFrame over the full listing (SnapshotLake.schemaOf:
    // at a million files the full-listing construction IS the planning
    // wall, the ManifestCeiling measurement's first finding)
    SnapshotLake.schemaOf(SparkSession.active, root, versionOf(options),
      // opt-in schema-on-read evolution, the native reader's q156
      // contract: the scan null-fills a column any one file predates
      mergeSchema = options.getBoolean("mergeSchema", false))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    // resolve the version pin ONCE, here at table construction (reusing
    // the resolution inferSchema just made): newScanBuilder prefers the
    // table's pin over re-resolving its options, so a timestamp pin
    // can't drift to a newer commit between schema inference and scan
    val opts = new CaseInsensitiveStringMap(properties)
    val cdf = opts.getBoolean("readChangeFeed", false)
    new GraftLakeTable(properties.get("path"), schema,
      if (cdf) None else versionOf(opts), cdf = cdf)
  }

  override def supportsExternalMetadata(): Boolean = true
}

object GraftLakeSource {
  /** The version pin the reader options select: `versionAsOf` directly,
    * or `timestampAsOf` ("yyyy-MM-dd HH:mm:ss[.SSS]" or ISO-8601; a
    * zoneless string reads in the SESSION timezone, exactly as SQL
    * `TIMESTAMP AS OF` resolves its literal — the two entry points must
    * pin the same version) resolved to the newest commit at-or-before
    * the instant — the DataFrame-reader twin of SQL `TIMESTAMP AS OF`.
    * Both together refuse: a read pinned two ways is a bug at the call
    * site, never a precedence puzzle. */
  private[sources] def resolvePin(root: String,
                                  options: CaseInsensitiveStringMap): Option[Long] = {
    val byVersion = Option(options.get("versionAsOf")).map(_.toLong)
    val byTime = Option(options.get("timestampAsOf")).map { s =>
      require(byVersion.isEmpty,
        "options versionAsOf and timestampAsOf are mutually exclusive")
      SnapshotLake.versionAsOfTimestamp(root, parseInstantMillis(s)).getOrElse(
        throw new IllegalArgumentException(
          s"timestampAsOf $s predates the first retained commit of $root"))
    }
    byVersion.orElse(byTime)
  }

  /** ISO-8601 or the space-separated local form; a ZONELESS string is
    * interpreted in the session timezone (`spark.sql.session.timeZone`),
    * the same rule Spark applies to a SQL timestamp literal — so
    * `.option("timestampAsOf", s)` and `TIMESTAMP AS OF 's'` pin the
    * same version in any session. */
  private[sources] def parseInstantMillis(s: String): Long =
    try java.time.Instant.parse(s).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        val zone = java.time.ZoneId.of(
          SparkSession.active.sessionState.conf.sessionLocalTimeZone)
        java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          .atZone(zone).toInstant.toEpochMilli
    }
}

final class GraftLakeTable(root: String, schema: StructType,
                           versionAsOf: Option[Long] = None,
                           cdf: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** SQL UPDATE / MERGE INTO / rewrite-shape DELETE — the group-based
    * copy-on-write rewrite ([[GraftLakeRowLevelOperation]]). A pinned
    * `VERSION AS OF` table refuses: history is immutable. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(versionAsOf.isEmpty,
      s"cannot run ${info.command} against a pinned version of $root")
    require(!cdf, s"cannot run ${info.command} against a change feed")
    () => new GraftLakeRowLevelOperation(root, schema, info.command)
  }
  override def name(): String =
    s"graftlake:$root${versionAsOf.map(v => s"@v$v").getOrElse("")}"

  /** `_file` — the manifest-relative path of the file each row came
    * from, as a hidden metadata column (`SELECT _file, ...`): the
    * standard lakehouse lineage/debugging surface, emitted by the
    * readers as a per-partition constant (zero decode cost). */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "manifest-relative path of the row's data file"
    })

  /** `DELETE FROM <catalog table> WHERE <conjunction of inclusive
    * ranges>` — mapped straight onto [[SnapshotLake.deleteMatching]]'s
    * copy-on-write three-way classification (carried / whole-dropped by
    * metadata / survivors rewritten), so a retention delete issued as
    * PASTED SQL is a manifest-only commit when the partition layout
    * allows it. Accepted shapes: `=`, `>=`, `<=` on any column (the
    * inclusive ranges deleteMatching's re-applied row predicate
    * expresses exactly), plus IsNotNull conjuncts on a column that also
    * carries a range (implied, droppable). Anything else — strict
    * bounds, OR, IS NULL, truncate-all — refuses via [[canDeleteWhere]]
    * and Spark reports the delete as unsupported rather than running a
    * wrong one. */
  private def rangesOf(filters: Array[Filter]): Option[Seq[FileStats.Range]] = {
    def s(v: Any): Option[String] = v match {
      case null => None
      case _: Long | _: Int | _: Double | _: Float | _: Short | _: Byte |
           _: String => Some(v.toString)
      case _ => None
    }
    val converted = filters.toSeq.map {
      case EqualTo(a, v) => s(v).map(x => Some(FileStats.Range(a, Some(x), Some(x))))
      case GreaterThanOrEqual(a, v) => s(v).map(x => Some(FileStats.Range(a, Some(x), None)))
      case LessThanOrEqual(a, v) => s(v).map(x => Some(FileStats.Range(a, None, Some(x))))
      case org.apache.spark.sql.sources.IsNotNull(a)
        if filters.exists {
          case EqualTo(`a`, _) | GreaterThanOrEqual(`a`, _) |
               LessThanOrEqual(`a`, _) => true
          case _ => false
        } => Some(None) // implied by the column's own range conjunct
      case _ => None
    }
    if (converted.exists(_.isEmpty)) None
    else Some(converted.flatten.flatten).filter(_.nonEmpty)
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    versionAsOf.isEmpty && !cdf && rangesOf(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val preds = rangesOf(filters).getOrElse(throw new UnsupportedOperationException(
      s"graftlake DELETE supports conjunctions of =, >=, <= ranges; got " +
        filters.mkString(", ")))
    SnapshotLake.deleteMatching(SparkSession.active, root, preds)
    ()
  }
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] = {
    // BATCH_WRITE routes DataFrameWriter.save into the v2 plan;
    // V1_BATCH_WRITE tells it the Write resolves to an InsertableRelation;
    // MICRO_BATCH_READ is backed by GraftLakeMicroBatchStream (the
    // append-tail streaming source over the manifest log);
    // STREAMING_WRITE by GraftLakeStreamingWrite (epoch-tagged
    // exactly-once manifest commits of executor-written task files)
    val caps = java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)
    // creating commit: nothing to enforce against. Existing lake:
    // schema IS enforced — an append whose columns don't match fails
    // analysis, the Delta writer contract.
    if (schema.isEmpty) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val theRoot = Option(options.get("path")).getOrElse(root)
    // the change-data-feed relation plans per-VERSION change batches
    // instead of a snapshot file set — see [[GraftLakeCdf]]
    if (cdf) return new GraftLakeCdfScanBuilder(theRoot, schema,
      startV = Option(options.get("startingVersion")).map(_.toLong)
        .orElse(Option(options.get("startingTimestamp")).map { s =>
          SnapshotLake.versionAsOfTimestamp(theRoot,
            GraftLakeSource.parseInstantMillis(s) - 1L)
            .map(_ + 1L).getOrElse(1L)
        }).getOrElse(1L),
      // endingTimestamp = the latest commit published AT or before the
      // instant (Delta's inclusive contract, the mirror of
      // startingTimestamp above), resolved through the same
      // session-timezone parse
      endV = Option(options.get("endingVersion")).map(_.toLong)
        .orElse(Option(options.get("endingTimestamp")).map { s =>
          SnapshotLake.versionAsOfTimestamp(theRoot,
            GraftLakeSource.parseInstantMillis(s)).getOrElse(
            throw new IllegalArgumentException(
              s"endingTimestamp $s is before the first commit of $theRoot"))
        }),
      skipChangeCommits = Option(options.get("skipChangeCommits"))
        .exists(_.toBoolean),
      maxVersionsPerTrigger = Option(options.get("maxVersionsPerTrigger"))
        .map(_.toLong),
      hconf = GraftLakeConf.session())
    new GraftLakeScanBuilder(
      Option(options.get("path")).getOrElse(root),
      // the table's already-resolved pin wins: a timestampAsOf option was
      // mapped to a version ONCE at table construction, and re-resolving
      // it here could land on a commit that arrived since — a schema/data
      // mismatch on an evolved lake
      versionAsOf.orElse(GraftLakeSource.resolvePin(
        Option(options.get("path")).getOrElse(root), options)), schema,
      // startingTimestamp = the stream begins with the first commit
      // published AT or after the instant (Delta's inclusive contract):
      // strictly-earlier commits are history the reader declares seen
      startingVersion = Option(options.get("startingVersion")).map(_.toLong)
        .orElse(Option(options.get("startingTimestamp")).map { s =>
          val r = Option(options.get("path")).getOrElse(root)
          SnapshotLake.versionAsOfTimestamp(r,
            GraftLakeSource.parseInstantMillis(s) - 1L)
            .map(_ + 1L).getOrElse(1L)
        }).getOrElse(1L),
      skipChangeCommits = Option(options.get("skipChangeCommits"))
        .exists(_.toBoolean),
      maxVersionsPerTrigger = Option(options.get("maxVersionsPerTrigger"))
        .map(_.toLong),
      exactPushdown = Option(options.get("exactPushdown"))
        .exists(_.toBoolean),
      maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger"))
        .map(_.toLong),
      maxBytesPerTrigger = Option(options.get("maxBytesPerTrigger"))
        .map(_.toLong),
      // per-column planner statistics (min/max/nullCount/ndv from the
      // sidecars) — on by default; `columnStats=false` is the measured
      // counterfactual (PlanShapeSpec pins that the column stats change
      // a join decision the size-only estimate gets wrong)
      reportColStats = Option(options.get("columnStats"))
        .forall(_.toBoolean))
  }

  /** Batch writes via the V1 fallback (`V1_BATCH_WRITE`) — the whole
    * input lands through [[SnapshotLake.append]]/[[SnapshotLake.overwrite]]
    * on the driver-side plan, which distributes the actual parquet write
    * and sidecar harvest itself and serializes only the manifest CAS:
    * exactly the shape Spark's own JDBC v2 connector uses, with the
    * lake's snapshot-isolation and index guarantees intact.
    * `.option("statsCols", "a,b")` / `.option("bloomCol", "k")` request
    * commit-time sidecar indexes. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!cdf, s"a change-feed relation of $root is read-only")
    new GraftLakeWriteBuilder(
      Option(info.options.get("path")).getOrElse(root), info.options,
      info.schema(), info.queryId())
  }
}

final class GraftLakeWriteBuilder(root: String,
                                  options: CaseInsensitiveStringMap,
                                  writeSchema: StructType = new StructType(),
                                  queryId: String = "")
    extends WriteBuilder with SupportsTruncate {
  private var overwriteAll = false
  override def truncate(): WriteBuilder = { overwriteAll = true; this }
  override def build(): Write = new V1Write {
    /** The streaming sink (`df.writeStream.format("graftlake")`) — see
      * [[GraftLakeStreamingWrite]]. */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      val idx = SnapshotLake.IndexSpec(
        Option(options.get("statsCols")).toSeq
          .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
        Option(options.get("bloomCol")).map(_.trim).filter(_.nonEmpty))
      new GraftLakeStreamingWrite(root,
        java.nio.file.Paths.get(root).toAbsolutePath.toString,
        writeSchema, idx, queryId, GraftLakeConf.session())
    }
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: org.apache.spark.sql.DataFrame,
                            overwrite: Boolean): Unit = {
          val idx = SnapshotLake.IndexSpec(
            Option(options.get("statsCols")).toSeq
              .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
            Option(options.get("bloomCol")).map(_.trim).filter(_.nonEmpty))
          val replacing = overwriteAll || overwrite
          val autoMerge = options.getBoolean("mergeSchema", false)
          // schema enforcement lives HERE: supportsExternalMetadata
          // means Spark hands the writer the query's own schema, so
          // analysis never compares it to the table's — an append that
          // doesn't match the lake (names AND types, Delta's contract)
          // must fail before any file is written. Overwrite replaces
          // the table, so any schema is legal. The write option
          // `mergeSchema=true` (Delta's autoMerge) instead EVOLVES the
          // lake to (lake ∪ append) — additions and widenings DECLARED
          // ON THE APPEND COMMIT ITSELF (one atomic manifest link
          // carrying both schemaB64 and the files), so a crash can
          // never leave the lake evolved with no data landed and no
          // reader can observe the schema without its commit.
          // The lake's schema comes from metadata, the same
          // SnapshotLake.schemaOf a `load` resolves: the declared schema,
          // or the footer inference version v−1 cached, extended by this
          // head's own commit — never a DataFrame over every live file,
          // so the check costs O(change), not O(history).
          var payload = data
          var declare: Option[StructType] = None
          if (!replacing)
            SnapshotLake.currentVersion(root).foreach { v =>
              val lake = SnapshotLake.schemaOf(data.sparkSession, root, Some(v))
              import SnapshotLake.shape
              if (shape(data.schema) != shape(lake)) {
                require(autoMerge,
                  s"append schema ${data.schema.simpleString} does not match " +
                    s"lake schema ${lake.simpleString} at $root — write with " +
                    ".option(\"mergeSchema\", \"true\") to evolve the lake " +
                    "to the union (additions/widenings only)")
                val evolved = SnapshotLake.mergeForWrite(lake, data.schema)
                if (shape(evolved) != shape(lake)) declare = Some(evolved)
                payload = SnapshotLake.alignTo(data, evolved)
              }
            }
          if (replacing) SnapshotLake.overwrite(payload, root, idx)
          else SnapshotLake.append(payload, root, idx, declare)
          ()
        }
      }
  }
}

final class GraftLakeScanBuilder(root: String, version: Option[Long],
                                 fullSchema: StructType,
                                 startingVersion: Long = 1L,
                                 skipChangeCommits: Boolean = false,
                                 maxVersionsPerTrigger: Option[Long] = None,
                                 exactPushdown: Boolean = false,
                                 onBuild: GraftLakeScan => Unit = _ => (),
                                 maxFilesPerTrigger: Option[Long] = None,
                                 maxBytesPerTrigger: Option[Long] = None,
                                 reportColStats: Boolean = true,
                                 fileOnlyRuntimeFilter: Boolean = false)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var ranges: Seq[FileStats.Range] = Nil
  private var bloomProbes: Seq[(String, Seq[String])] = Nil
  private var exact: Array[Filter] = Array.empty
  private var residual: Array[Filter] = Array.empty
  private var aggPushed: Option[(StructType, Seq[Any])] = None
  private var countPushed: Option[GraftLakeCountScan] = None

  /** logical→physical column mapping at the scanned version (empty on an
    * unmapped lake): sidecar indexes, path tuples, and the files' own
    * columns all speak PHYSICAL names, while every name Spark hands this
    * builder — pushed filters, pruned columns, aggregates — is LOGICAL.
    * Ranges/probes/exact filters translate here at the push boundary;
    * the scan translates its read schemas; `readSchema()` stays logical. */
  private lazy val colMap: Map[String, String] =
    SnapshotLake.columnMapping(root,
      version.orElse(SnapshotLake.currentVersion(root)))
  private def phys(c: String): String = colMap.getOrElse(c, c)
  private def physFilter(f: Filter): Filter =
    if (colMap.isEmpty) f
    else f match {
      case EqualTo(a, v) => EqualTo(phys(a), v)
      case GreaterThan(a, v) => GreaterThan(phys(a), v)
      case GreaterThanOrEqual(a, v) => GreaterThanOrEqual(phys(a), v)
      case LessThan(a, v) => LessThan(phys(a), v)
      case LessThanOrEqual(a, v) => LessThanOrEqual(phys(a), v)
      case org.apache.spark.sql.sources.IsNotNull(a) =>
        org.apache.spark.sql.sources.IsNotNull(phys(a))
      case org.apache.spark.sql.sources.In(a, vs) =>
        org.apache.spark.sql.sources.In(phys(a), vs)
      case other => other
    }

  /** Filter shapes the readers evaluate with EXACTLY Spark's semantics —
    * comparisons on integral and (binary-collated) string columns, plus
    * IsNotNull — the gate for `exactPushdown` mode accepting a filter as
    * PUSHED. Floats are excluded (NaN ordering), as is anything nested
    * or typed outside the gate. */
  private def exactlyEvaluable(f: Filter): Boolean = {
    def ok(col: String, v: Any): Boolean = v != null &&
      fullSchema.fields.find(_.name == col).exists(_.dataType match {
        case LongType | IntegerType | ShortType | ByteType => v.isInstanceOf[Number]
        case StringType => v.isInstanceOf[String]
        case _ => false
      })
    f match {
      case EqualTo(a, v) => ok(a, v)
      case GreaterThan(a, v) => ok(a, v)
      case GreaterThanOrEqual(a, v) => ok(a, v)
      case LessThan(a, v) => ok(a, v)
      case LessThanOrEqual(a, v) => ok(a, v)
      case org.apache.spark.sql.sources.IsNotNull(a) =>
        fullSchema.fieldNames.contains(a)
      case _ => false
    }
  }

  /** Physical columns that some file of the scanned version carries as a
    * hive path tuple: their ranges are the encoded path strings, not
    * sidecar numbers. Resolved only when a temporal literal is pushed. */
  private lazy val pathCols: Set[String] =
    version.orElse(SnapshotLake.currentVersion(root)).fold(Set.empty[String]) { v =>
      GraftLakeSidecarIndex.of(root, v, SnapshotLake.files(root, v)).pathCols
    }

  /** Convert prunable conjuncts to index ranges. GreaterThan/LessThan
    * prune as their inclusive forms — a SUPERSET range, conservative by
    * construction. Literals that prune: integral, floating and string
    * values as their string form, and — since the stats sidecars hold a
    * temporal column's parquet INT64/INT32 value — `Timestamp`/`Instant`/
    * `LocalDateTime` literals as epoch micros and `Date`/`LocalDate`
    * literals as epoch days, so a `ts >= a AND ts < b` day window prunes
    * by the files' `statsCols` ranges. The temporal conversion applies
    * only where the column's range comes from a sidecar: a path-tuple
    * column (a lake partitioned by a date or timestamp) ranges over the
    * encoded path strings, so a temporal literal there prunes nothing,
    * as before. Bloom probes keep the string form their sidecars were
    * built from (a temporal literal probes no bloom), and the catalog
    * DELETE's `rangesOf` keeps its own conversion — `deleteMatching`
    * re-applies those ranges row by row, where micros would not compare.
    * By default everything is returned as residual: Spark
    * re-applies every filter row-level, so a range the index can't serve
    * (or a filter shape this never inspects) costs only unpruned files.
    * With `.option("exactPushdown", "true")` the exactly-evaluable
    * shapes are ACCEPTED as pushed instead — the readers then apply them
    * row-level (a correctness input, which is what lets a filtered
    * COUNT push down to the metadata+boundary hybrid), trading the
    * columnar decode path for file skips and metadata counts. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def s(v: Any): Option[String] = v match {
      case null => None
      case _: Long | _: Int | _: Double | _: Float | _: Short | _: Byte |
           _: String => Some(v.toString)
      case _ => None
    }
    def bound(a: String, v: Any): Option[String] =
      GraftLakeScan.temporalStat(v) match {
        case Some(n) => if (pathCols(phys(a))) None else Some(n.toString)
        case None => s(v)
      }
    ranges = filters.toSeq.flatMap {
      case EqualTo(a, v) => bound(a, v).map(x => FileStats.Range(phys(a), Some(x), Some(x)))
      case GreaterThanOrEqual(a, v) => bound(a, v).map(x => FileStats.Range(phys(a), Some(x), None))
      case GreaterThan(a, v) => bound(a, v).map(x => FileStats.Range(phys(a), Some(x), None))
      case LessThanOrEqual(a, v) => bound(a, v).map(x => FileStats.Range(phys(a), None, Some(x)))
      case LessThan(a, v) => bound(a, v).map(x => FileStats.Range(phys(a), None, Some(x)))
      case _ => None
    }
    // POINT predicates additionally consult the per-file bloom sidecars
    // (when the commit wrote them): a definitely-absent key prunes files
    // the min/max hull alone cannot disprove — readPointLookup's q220
    // property through the standard filter API. Advisory like the range
    // pruning (Spark re-applies these row-level); capped so a huge
    // IN-list costs the blooms nothing.
    bloomProbes = filters.toSeq.flatMap {
      case EqualTo(a, v) => s(v).map(x => phys(a) -> Seq(x))
      case org.apache.spark.sql.sources.In(a, vs)
          if vs.nonEmpty && vs.length <= 64 =>
        val conv = vs.toSeq.map(s)
        if (conv.contains(None)) None else Some(phys(a) -> conv.flatten)
      case _ => None
    }
    if (exactPushdown) {
      val (acc, rest) = filters.partition(exactlyEvaluable)
      exact = acc
      residual = rest
      rest
    } else {
      residual = filters
      filters // all residual — pruning is advisory, never correctness
    }
  }

  override def pushedFilters(): Array[Filter] = exact

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Metadata-only aggregate pushdown — COUNT(*) from the rows
    * sidecars, MIN/MAX (and COUNT(col) when null totals are known) from
    * the stats sidecars, answered at PLANNING time with zero data files
    * read: the Delta/Iceberg `numRecords` fast path through the
    * standard `SupportsPushDownAggregates` contract. Declared PARTIAL
    * (`supportCompletePushDown` = false), so Spark still runs a final
    * aggregate over the one emitted row — min(min), max(max),
    * sum(count) — and an unpushable shape simply falls back to a real
    * scan. Refused whenever metadata can't answer EXACTLY: any pushed
    * or residual filter, a GROUP BY, live deletion vectors, a file
    * without sidecar coverage, or a non-numeric column (parquet footer
    * binary stats may be truncated; numeric stats are exact). */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (aggregation.groupByExpressions.nonEmpty) return false
    if (exact.nonEmpty) return pushFilteredCount(aggregation)
    if (ranges.nonEmpty || residual.nonEmpty) return false
    val v = version.orElse(SnapshotLake.currentVersion(root))
      .getOrElse(return false)
    if (SnapshotLake.deletesOf(root, v).nonEmpty) return false
    if (SnapshotLake.files(root, v).exists(_.startsWith("data/commit=")))
      return false

    def numericField(c: String): Option[StructField] =
      fullSchema.fields.find(_.name == c).filter(f => f.dataType match {
        case LongType | IntegerType | DoubleType | FloatType => true
        case _ => false
      })
    def parse(dt: DataType, s: String): Any = dt match {
      case LongType => try s.toLong catch { case _: NumberFormatException => s.toDouble.toLong }
      case IntegerType => try s.toInt catch { case _: NumberFormatException => s.toDouble.toInt }
      case DoubleType => s.toDouble
      case FloatType => s.toFloat
      case other => throw new IllegalStateException(other.toString)
    }
    def nameOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          Some(nr.fieldNames.head)
        case _ => None
      }
    lazy val totalRows = SnapshotLake.fastCount(root, Some(v))

    val cols: Seq[Option[(StructField, Any)]] =
      aggregation.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          totalRows.map(n => StructField("count_star", LongType, nullable = false) -> n)
        case c: Count if !c.isDistinct => c.column match {
          // count(1)/count(lit) — every row counts, null-free by construction
          case l: Literal[_] if l.value != null =>
            totalRows.map(n => StructField("count_lit", LongType, nullable = false) -> n)
          case e => for {
            col <- nameOf(e)
            r <- SnapshotLake.statsRange(root, col, Some(v))
            nulls <- r.nulls
            n <- totalRows
          } yield StructField(s"count_$col", LongType, nullable = false) -> (n - nulls)
        }
        case m: Min => for {
          col <- nameOf(m.column)
          f <- numericField(col)
          r <- SnapshotLake.statsRange(root, col, Some(v))
        } yield StructField(s"min_$col", f.dataType, nullable = true) -> parse(f.dataType, r.min)
        case m: Max => for {
          col <- nameOf(m.column)
          f <- numericField(col)
          r <- SnapshotLake.statsRange(root, col, Some(v))
        } yield StructField(s"max_$col", f.dataType, nullable = true) -> parse(f.dataType, r.max)
        case _: AggregateFunc => None
      }
    if (cols.exists(_.isEmpty)) return false
    val resolved = cols.flatten
    aggPushed = Some((StructType(resolved.map(_._1)), resolved.map(_._2)))
    true
  }

  /** Filtered COUNT through the connector — the q237 pruning-arithmetic
    * hybrid behind the standard `SupportsPushDownAggregates` contract,
    * reachable only in `exactPushdown` mode (Spark pushes an aggregate
    * only when every filter was accepted as pushed):
    *
    *   - files provably DISJOINT from the predicate ranges contribute
    *     nothing and are never opened;
    *   - files EVERY row of which provably matches every filter (bounds
    *     strictly inside the predicate — bound-min > v proves true-min
    *     > v even if footer bounds are outer approximations — and zero
    *     harvested nulls) contribute their `_rows.json` count WITHOUT
    *     being opened;
    *   - the boundary files become counting partitions: each reader
    *     decodes ONLY the filter columns, counts the matching rows, and
    *     emits one row; Spark's final aggregate (partial-pushdown
    *     contract) sums the interior row with the boundary counts.
    *
    * On a range-ingested 100 TB table a band count through the plain
    * `spark.read...count()` API opens the two edge files and
    * metadata-counts the interior — however wide the band. */
  private def pushFilteredCount(aggregation: Aggregation): Boolean = {
    if (residual.nonEmpty) return false // a filter we can't apply exactly
    val nCounts = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => true
      case c: Count if !c.isDistinct => c.column match {
        case l: Literal[_] if l.value != null => true
        case _ => false
      }
      case _ => false
    }
    if (nCounts.isEmpty || nCounts.exists(!_)) return false
    val v = version.orElse(SnapshotLake.currentVersion(root))
      .getOrElse(return false)
    if (SnapshotLake.deletesOf(root, v).nonEmpty) return false

    val all = SnapshotLake.files(root, v)
    val rootAbs = java.nio.file.Paths.get(root).toAbsolutePath.toString
    val dirs = all.map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    val sidecars = dirs.flatMap(dir => FileStats.readStatsSidecar(root, dir)).toMap
    val rowsBy = dirs.flatMap(dir => FileStats.readRowsSidecar(root, dir)).toMap
    val pathIdx = SnapshotLake.pathRangeIndex(all)
    val stats = all.map(f =>
      f -> (sidecars.getOrElse(f, Map.empty) ++ pathIdx.getOrElse(f, Map.empty))).toMap
    val candidates = all.filter(f => FileStats.mayMatch(stats(f), ranges))
    // the metadata proofs and the boundary readers both work in file
    // (physical) name space — the accepted filters translate once here
    val physExact = exact.map(physFilter)
    val (whole, boundary) = candidates.partition(f =>
      rowsBy.contains(f) &&
        physExact.forall(GraftLakeCountScan.wholeMatch(stats(f), _)))
    val filterCols = StructType(exact.flatMap(GraftLakeCountScan.colOf).distinct
      .flatMap(c => fullSchema.fields.find(_.name == c))
      .map(f => f.copy(name = phys(f.name))))
    val parts = boundary.map(f => GraftLakeInputPartition(s"$rootAbs/$f",
      java.nio.file.Files.size(java.nio.file.Paths.get(root, f)),
      GraftLakeScan.partTupleOf(f)))
    countPushed = Some(new GraftLakeCountScan(nCounts.size,
      whole.map(rowsBy).sum, whole.size, all.size - candidates.size,
      parts, physExact, filterCols, sessionConf()))
    true
  }

  private def sessionConf(): SerializableConfiguration = GraftLakeConf.session()

  override def build(): Scan = (aggPushed, countPushed) match {
    case (Some((schema, row)), _) => new GraftLakeAggScan(schema, row)
    case (None, Some(cs)) => cs
    case _ => buildFileScan()
  }

  private def buildFileScan(): Scan = {
    val spark = SparkSession.active
    val v = version.orElse(SnapshotLake.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    val all = SnapshotLake.files(root, v)
    val rootAbs = java.nio.file.Paths.get(root).toAbsolutePath.toString
    // the flattened sidecar index of THIS version — memoized: a version's
    // file list and sidecars are immutable, and rebuilding the
    // million-entry maps was most of the residual per-plan driver time
    // in the ManifestCeiling measurement
    val idx = GraftLakeSidecarIndex.of(root, v, all)
    val stats = idx.composed
    val keptByRange =
      if (ranges.isEmpty) all
      else all.filter(f => FileStats.mayMatch(stats(f), ranges))
    // bloom level: files whose bloom disproves EVERY probed key drop;
    // a file without a bloom sidecar is conservatively kept
    val kept =
      if (bloomProbes.isEmpty) keptByRange
      else {
        val dirs = keptByRange.map(f => f.substring(0, f.lastIndexOf('/')))
          .distinct
        val byCol = bloomProbes.map(_._1).distinct.map { c =>
          c -> dirs.flatMap(dir =>
            FileStats.readBloomSidecar(root, dir, c)).toMap
        }.toMap
        keptByRange.filter { f =>
          bloomProbes.forall { case (c, vals) =>
            byCol(c).get(f).forall(bf => vals.exists(bf.mightContainString))
          }
        }
      }
    // file lengths from the commit-time `_bytes.json` sidecars;
    // stat-on-demand only for pre-sidecar files
    val lengths = kept.map(f => f -> idx.bytes.getOrElse(f,
      java.nio.file.Files.size(java.nio.file.Paths.get(root, f)))).toMap
    // live deletion vectors: ship the tombstone FILES (path + length +
    // key column), not their keys — each reader task loads the set
    val dvRel = SnapshotLake.deletesOf(root, v)
    val dv =
      if (dvRel.isEmpty) None
      else {
        val keyField = spark.read
          .parquet(dvRel.map(f => s"$rootAbs/$f"): _*).schema.fields.head
        Some(GraftLakeDv(
          dvRel.map(f => (s"$rootAbs/$f",
            java.nio.file.Files.size(java.nio.file.Paths.get(root, f)))),
          keyField))
      }
    val ndvBy =
      if (!reportColStats) Map.empty[String, Map[String, Long]]
      else idx.ndv
    val scan = new GraftLakeScan(root, rootAbs, kept, all.size, required,
      fullSchema, ranges, stats, lengths, dv, sessionConf(),
      startingVersion, skipChangeCommits, maxVersionsPerTrigger,
      exact.map(physFilter), // readers evaluate in file (physical) space
      v, idx.statCols, idx.rows,
      maxFilesPerTrigger, maxBytesPerTrigger, reportColStats, ndvBy, colMap,
      fileOnlyRuntimeFilter)
    onBuild(scan)
    scan
  }
}

/** One manifest file = one input partition: absolute path, byte length
  * (the split range and, on object storage, the saved HEAD request),
  * and the hive partition tuple its path encodes (raw encoded values;
  * decoded into constant vectors on the executor). */
final case class GraftLakeInputPartition(absPath: String, length: Long,
                                         partVals: Seq[(String, String)])
    extends InputPartition

/** The live tombstone vector of the scanned version: file list (path,
  * length) plus the key column. Each reader task materializes the key
  * set once — O(deleted keys) work per task, the merge-on-read tax the
  * native reader pays as an anti-join, cleared by compaction. */
final case class GraftLakeDv(paths: Seq[(String, Long)], keyField: StructField)

final class GraftLakeScan(root: String, rootAbs: String,
                          kept: Seq[String], total: Int,
                          required: StructType, fullSchema: StructType,
                          ranges: Seq[FileStats.Range],
                          stats: Map[String, Map[String, FileStats.ColRange]],
                          lengths: Map[String, Long],
                          dv: Option[GraftLakeDv],
                          hconf: SerializableConfiguration,
                          startingVersion: Long = 1L,
                          skipChangeCommits: Boolean = false,
                          maxVersionsPerTrigger: Option[Long] = None,
                          exact: Array[Filter] = Array.empty,
                          resolvedVersion: Long = -1L,
                          sidecarCols: Set[String] = Set.empty,
                          rowsBy: Map[String, Long] = Map.empty,
                          maxFilesPerTrigger: Option[Long] = None,
                          maxBytesPerTrigger: Option[Long] = None,
                          reportColStats: Boolean = true,
                          ndvBy: Map[String, Map[String, Long]] = Map.empty,
                          colMap: Map[String, String] = Map.empty,
                          fileOnlyRuntimeFilter: Boolean = false)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics {
  /** Files still scheduled after static AND runtime pruning. */
  @volatile private var liveFiles: Seq[String] = kept
  /** Whether the `In("_file", …)` GROUP filter specifically arrived —
    * only the row-level rewrite's MAIN scan ever receives it (the
    * condition subquery's scan gets at most join-key DPP filters), so
    * this is the structural marker [[GraftLakeRowLevelOperation.mainScan]]
    * selects by. */
  @volatile private var fileFiltered = false
  /** Pruning evidence for audits: files surviving the pushed ranges. */
  def keptFiles: Int = liveFiles.size
  def totalFiles: Int = total
  /** The files a row-level rewrite must replace (post runtime group
    * filtering), the version it read, and the columns whose sidecar
    * stats a rewrite commit should re-harvest. */
  private[sources] def currentFiles: Seq[String] = liveFiles
  private[sources] def wasFileGroupFiltered: Boolean = fileFiltered
  private[sources] def version: Long = resolvedVersion
  /** The scanned version's column-mapping helpers: files/sidecars speak
    * PHYSICAL names, Spark speaks LOGICAL; both maps are identity on an
    * unmapped lake. */
  private def phys(c: String): String = colMap.getOrElse(c, c)
  private lazy val logicalOf: Map[String, String] = colMap.map(_.swap)
  private def physNamed(s: StructType): StructType =
    if (colMap.isEmpty) s
    else StructType(s.fields.map(f => f.copy(name = phys(f.name))))
  /** Sidecar-indexed columns under their LOGICAL names (the form an
    * IndexSpec re-harvest expects); a dropped column's physical key has
    * no logical name and passes through. */
  private[sources] def statsColumns: Seq[String] =
    sidecarCols.toSeq.map(c => logicalOf.getOrElse(c, c)).sorted
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftLakeScan kept=${liveFiles.size}/$total pruned=${
      ranges.map(r => s"${r.col}∈[${r.lo.getOrElse("-∞")},${r.hi.getOrElse("∞")}]")
        .mkString(",")}"

  /** Planning-time statistics from the manifest sidecars — what lets
    * Catalyst auto-broadcast a small connector-read dimension into a
    * fact join WITHOUT a `broadcast()` hint, and AQE size its shuffles
    * from real numbers instead of a default estimate:
    *
    *   - `sizeInBytes`: sum of the POST-pruning file lengths — the same
    *     on-disk estimate Spark's own file sources report
    *     (`fileCompressionFactor` left at its 1.0 default), so a pushed
    *     range that prunes 99% of a table shrinks its join-side estimate
    *     by the same 99%;
    *   - `numRows`: sum of the pruned files' `_rows.json` counts, exact
    *     when every kept file has sidecar coverage (an upper bound while
    *     deletion vectors are live — statistics are estimates, the DV
    *     anti-join only shrinks the result).
    *
    * Costs ZERO extra I/O: both inputs were already in hand from
    * planning the scan. */
  override def estimateStatistics(): Statistics = {
    val files = liveFiles
    val bytes = files.iterator.map(f => lengths.getOrElse(f, 0L)).sum
    val rows: Option[Long] =
      if (rowsBy.nonEmpty && files.forall(rowsBy.contains))
        Some(files.iterator.map(rowsBy).sum)
      else None
    val cs = if (reportColStats) buildColumnStats(files)
             else new java.util.HashMap[NamedReference, ColumnStatistics]()
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
      override def columnStats(): java.util.Map[NamedReference, ColumnStatistics] = cs
    }
  }

  /** Per-column statistics of the kept file set, resolved entirely from
    * sidecars already in hand (the planning-time metadata Delta keeps in
    * its checkpoint stats and Iceberg in manifests + Puffin sketches):
    *
    *   - **min/max**: the kept files' sidecar ranges merged — composed
    *     with path-encoded partition tuples, so a partition column gets
    *     exact bounds too. Reported only when EVERY kept file carries a
    *     range for the column (a single uncovered file could hold wider
    *     values, and a too-narrow bound would mis-estimate, not just
    *     mis-prune). With live deletion vectors the bounds stay valid —
    *     deletes only shrink the value set.
    *   - **nullCount**: the per-file footer null totals summed, when
    *     every kept file harvested one.
    *   - **distinctCount**: from the `_ndv.json` sidecar — SUM of the
    *     per-file exact counts when the files' value ranges are pairwise
    *     disjoint (exact then: disjoint ranges cannot share a value, the
    *     append-sorted layout every range-partitioned lake here has), MAX
    *     otherwise (a lower bound — the SAFE direction: understating NDV
    *     can only overstate an equality predicate's result cardinality,
    *     costing a missed broadcast, never an executor-killing false
    *     one). A column constant per file (a partition column) needs no
    *     sidecar: its NDV is the count of distinct per-file values.
    *
    * Catalyst only estimates a predicate's selectivity when a column has
    * BOTH min/max and a distinct count (FilterEstimation's
    * `hasMinMaxStats && hasDistinctCount` guard), which is why the NDV
    * sidecar exists at all — size-only statistics can never shrink a
    * Filter above this scan, and the q132-style broadcast decision below
    * stays wrong without it. */
  private def buildColumnStats(files: Seq[String])
      : java.util.Map[NamedReference, ColumnStatistics] = {
    val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
    if (files.isEmpty) return out
    val bd = (s: String) => new java.math.BigDecimal(s)
    fullSchema.fields.foreach { f =>
      val pn = phys(f.name) // sidecars key physical names
      val per = files.map(fp => stats.getOrElse(fp, Map.empty).get(pn))
      if (per.forall(_.isDefined)) {
        val rs = per.map(_.get)
        val numeric = rs.forall(_.numeric)
        val (minV, maxV) =
          if (!numeric) (None, None)
          else (GraftLakeScan.catalystBound(
                  rs.map(r => bd(r.min)).min.toPlainString, f.dataType, isMin = true),
                GraftLakeScan.catalystBound(
                  rs.map(r => bd(r.max)).max.toPlainString, f.dataType, isMin = false))
        val nulls: Option[Long] =
          if (rs.forall(_.nulls.isDefined)) Some(rs.iterator.map(_.nulls.get).sum)
          else None
        val perNdv = files.map(fp => ndvBy.get(fp).flatMap(_.get(pn)))
        val ndv: Option[Long] =
          if (perNdv.forall(_.isDefined)) {
            val vals = perNdv.map(_.get)
            val disjoint = numeric && {
              val sorted = rs.map(r => (bd(r.min), bd(r.max))).sortBy(_._1)
              sorted.sliding(2).forall {
                case Seq((_, aHi), (bLo, _)) =>
                  // bounds from pre-r17 sidecars passed a Double fold, so
                  // a true INT64 max above 2^53 may have rounded DOWN by
                  // up to half an ulp — claim disjointness only with slack
                  // beyond that error, else fall back to MAX (the safe
                  // direction: overstating NDV here could underestimate a
                  // join's cardinality into a false broadcast)
                  aHi.compareTo(bLo) < 0 && {
                    val slack = math.max(math.ulp(math.abs(aHi.doubleValue())),
                      math.ulp(math.abs(bLo.doubleValue())))
                    bLo.subtract(aHi).doubleValue() > slack
                  }
                case _ => true
              }
            }
            Some(if (disjoint) vals.sum else vals.max)
          } else if (rs.forall(r => r.min == r.max)) {
            // constant per file (partition columns): exact without a sidecar
            Some(rs.map(_.min).distinct.size.toLong)
          } else None
        if (minV.isDefined || nulls.isDefined || ndv.isDefined) {
          out.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
            new ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                ndv.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
              override def min(): java.util.Optional[Object] =
                minV.fold(java.util.Optional.empty[Object]())(java.util.Optional.of[Object])
              override def max(): java.util.Optional[Object] =
                maxV.fold(java.util.Optional.empty[Object]())(java.util.Optional.of[Object])
              override def nullCount(): java.util.OptionalLong =
                nulls.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
            })
          ()
        }
      }
    }
    out
  }

  /** Runtime (join-driven) file pruning — Spark's DPP machinery hands
    * the build side's key set to the scan at EXECUTION time, after the
    * dimension is materialized; files whose sidecar range disproves
    * every key are dropped before any task launches. Same conservative
    * `mayMatch` as planning-time pruning, and the keys are re-checked
    * row-level by the join itself, so this can only skip I/O, never
    * change an answer. */
  override def filterAttributes(): Array[NamedReference] =
    // only columns the (pruned) scan still OUTPUTS — Spark resolves
    // these against readSchema, so an unprojected stats column here
    // fails analysis even though the sidecar could prune on it.
    // `_file` (when projected) lets the row-level rewrite machinery
    // narrow the scan to exactly the matched GROUPS at runtime.
    (if (fileOnlyRuntimeFilter) Set("_file")
     else stats.valuesIterator.flatMap(_.keysIterator)
       .map(c => logicalOf.getOrElse(c, c)).toSet + "_file")
      .intersect(required.fieldNames.toSet).toArray
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
  override def filter(filters: Array[Filter]): Unit = {
    def str(v: Any): Option[String] = v match {
      case null => None
      case _: Long | _: Int | _: Double | _: Float | _: Short | _: Byte |
           _: String => Some(v.toString)
      case u: UTF8String => Some(u.toString)
      case _ => None
    }
    // Per filter: a pre-computed [min,max] HULL of the build-side key
    // set (one comparison per file), refined per-value only when the
    // set is small — a million-key build side costs one pass to take
    // the hull, then O(files) work, never O(files × keys).
    val checks: Seq[String => Boolean] = filters.toSeq.map {
      case org.apache.spark.sql.sources.In("_file", vs) =>
        // group filtering: the build side IS the file list
        val names = vs.flatMap(str).toSet
        (f: String) => names.contains(f)
      case org.apache.spark.sql.sources.In(a, vs) =>
        val conv = vs.map(str)
        if (conv.contains(None)) { (_: String) => true } // null/opaque key: no pruning
        else {
          val keys = conv.flatten.toSeq
          if (keys.isEmpty) { (_: String) => false } // empty build side: empty join
          else {
            // runtime-filter attrs arrive LOGICAL; the stats are physical
            val pa = phys(a)
            val numeric = fullSchema.fields.find(_.name == a).exists(_.dataType match {
              case LongType | IntegerType | DoubleType | FloatType |
                   ShortType | ByteType => true
              case _ => false
            })
            val ord: Ordering[String] =
              if (numeric) Ordering.by((s: String) => s.toDouble)
              else (a0: String, b0: String) => FileStats.utf8Cmp(a0, b0)
            val hull = FileStats.Range(pa, Some(keys.min(ord)), Some(keys.max(ord)))
            (f: String) => {
              val fr = stats.getOrElse(f, Map.empty)
              FileStats.mayMatch(fr, Seq(hull)) &&
                (keys.length > 4096 || keys.exists(k =>
                  FileStats.mayMatch(fr, Seq(FileStats.Range(pa, Some(k), Some(k))))))
            }
          }
        }
      case _ => (_: String) => true // unknown runtime-filter shape prunes nothing
    }
    liveFiles = liveFiles.filter(f => checks.forall(_(f)))
    if (filters.exists {
      case org.apache.spark.sql.sources.In("_file", _) => true
      case _ => false
    }) fileFiltered = true
  }

  override def planInputPartitions(): Array[InputPartition] =
    liveFiles.map(f => GraftLakeInputPartition(s"$rootAbs/$f", lengths(f),
      // the hive tuple plus the `_file` metadata constant (emitted only
      // when the projection asks for it)
      GraftLakeScan.partTupleOf(f) :+ ("_file" -> f))).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    // readers live in file space: request PHYSICAL column names (the
    // emitted rows are positional, so readSchema stays logical)
    new GraftLakeReaderFactory(physNamed(required), dv, hconf, exact,
      physNamed(fullSchema))

  /** `spark.readStream.format("graftlake")` — the append-tail streaming
    * source over the manifest log (offsets = versions); see
    * [[GraftLakeMicroBatchStream]]. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    // forward the ACCEPTED exact filters: pushFilters reported them as
    // pushed (not residual), so the stream's readers must apply them —
    // dropping them here would return unfiltered rows Spark never
    // re-filters
    new GraftLakeMicroBatchStream(root, rootAbs, physNamed(required),
      startingVersion, skipChangeCommits, maxVersionsPerTrigger, hconf,
      exact, physNamed(fullSchema), maxFilesPerTrigger, maxBytesPerTrigger)
}

/** The scan a fully-pushed aggregate resolves to: ONE synthetic input
  * partition emitting ONE row of sidecar-derived values, in the
  * aggregate-expression order Spark expects — no data file is opened.
  * Spark's final aggregate (the partial-pushdown contract) folds the
  * single row: min(min)=min, sum(count)=count. */
final class GraftLakeAggScan(schema: StructType, row: Seq[Any])
    extends Scan with Batch {
  def metadataOnly: Boolean = true
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftLakeAggScan metadata-only [${schema.fieldNames.mkString(",")}]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftLakeAggPartition(row))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = !emitted && { emitted = true; true }
          override def get(): InternalRow = new GenericInternalRow(
            p.asInstanceOf[GraftLakeAggPartition].values.toArray)
          override def close(): Unit = ()
        }
    }
}

final case class GraftLakeAggPartition(values: Seq[Any]) extends InputPartition

/** The task-side Hadoop conf every connector reader/writer ships: the
  * session conf plus the SQLConf keys ParquetReadSupport /
  * ParquetToSparkSchemaConverter / ParquetWriteSupport resolve from it
  * — set explicitly like ParquetFileFormat does on both of its paths. */
private[sources] object GraftLakeConf {
  def session(): SerializableConfiguration = {
    val spark = SparkSession.active
    val c = spark.sessionState.newHadoopConf()
    val sc = spark.sessionState.conf
    // read side
    c.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sc.isParquetBinaryAsString)
    c.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sc.isParquetINT96AsTimestamp)
    c.setBoolean(SQLConf.CASE_SENSITIVE.key, sc.caseSensitiveAnalysis)
    c.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sc.parquetInferTimestampNTZEnabled)
    c.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sc.legacyParquetNanosAsLong)
    c.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, sc.parquetFieldIdReadEnabled)
    c.setBoolean(SQLConf.IGNORE_MISSING_PARQUET_FIELD_ID.key,
      sc.ignoreMissingParquetFieldId)
    // write side (the streaming sink's ParquetWriteSupport)
    c.setBoolean(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, sc.writeLegacyParquetFormat)
    c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sc.parquetOutputTimestampType.toString)
    c.setBoolean(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sc.parquetFieldIdWriteEnabled)
    c.setBoolean(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sc.parquetAnnotateVariantLogicalType)
    new SerializableConfiguration(c)
  }
}

/** The flattened sidecar index of one lake VERSION — stats ranges
  * (composed with path-encoded partition tuples), row counts, byte
  * sizes, NDVs, and the sets of stats-indexed and path-tuple columns —
  * memoized per (root, version) under soft references: a version's file
  * list and its commit dirs' sidecars are immutable once visible, and
  * rebuilding these maps dominated the residual per-plan driver time at
  * a million files (ManifestCeiling). The first scan of a version pays
  * the build; every later scan of it plans from the cached maps. */
private[sources] final case class GraftLakeSidecarIndex(
    stats: Map[String, Map[String, FileStats.ColRange]],
    composed: Map[String, Map[String, FileStats.ColRange]],
    rows: Map[String, Long],
    bytes: Map[String, Long],
    ndv: Map[String, Map[String, Long]],
    statCols: Set[String],
    pathCols: Set[String])

private[sources] object GraftLakeSidecarIndex {
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long),
    java.lang.ref.SoftReference[(SnapshotLake.VersionFp, GraftLakeSidecarIndex)]]()

  /** The NEWEST version's index per root, held STRONGLY (one slot per
    * root, replaced when a newer version is planned) — Delta keeps the
    * current Snapshot pinned per DeltaLog for the same reason: the
    * active table's planning state must not depend on GC policy.
    * Building a million-file index allocates enough garbage that the
    * collector clears the SoftReference it just filled — measured at
    * the 10,000-commit-dir ceiling as warm planning ≈ cold (the index
    * rebuilt per query, 15 s). Older versions (time travel) stay
    * soft-only: bounded memory, the MRU version is what repeats. */
  private val strongMru = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, SnapshotLake.VersionFp, GraftLakeSidecarIndex)]()

  // a delete-and-recreate detected by SnapshotLake's resolve fingerprint
  // drops this cache's entries for the root too — commit-dir names can
  // recur across recreations, so a stale index could mis-prune
  SnapshotLake.onLakeRecreated { root =>
    val it = cache.keys()
    while (it.hasMoreElements) {
      val k = it.nextElement()
      if (k._1 == root) cache.remove(k)
    }
    strongMru.remove(root)
    ()
  }

  def of(root: String, v: Long, all: Seq[String]): GraftLakeSidecarIndex = {
    val k = (root, v)
    // the same version-file fingerprint resolve() validates with: a
    // recreated lake at this root can never be served the old index
    val fp = SnapshotLake.versionFingerprint(root, v)
    Option(strongMru.get(root)) match {
      case Some((mv, f, idx)) if mv == v && fp.contains(f) => return idx
      case _ => ()
    }
    Option(cache.get(k)).flatMap(r => Option(r.get())) match {
      case Some((f, idx)) if fp.contains(f) =>
        fp.foreach { f2 =>
          strongMru.merge(root, (v, f2, idx),
            (old, nw) => if (nw._1 >= old._1) nw else old)
        }
        idx
      case _ =>
        val dirs = all.map(f => f.substring(0, f.lastIndexOf('/'))).distinct
        val sidecars = dirs.flatMap(d => FileStats.readStatsSidecar(root, d)).toMap
        val pathIdx = SnapshotLake.pathRangeIndex(all)
        // unpartitioned lakes (empty path index) skip the per-file map
        // merge — at a million files the O(files) allocation is real time
        val composed: Map[String, Map[String, FileStats.ColRange]] =
          if (pathIdx.isEmpty) sidecars.withDefaultValue(Map.empty)
          else all.map(f => f -> (sidecars.getOrElse(f, Map.empty) ++
            pathIdx.getOrElse(f, Map.empty))).toMap
            .withDefaultValue(Map.empty) // same no-stats default as above
        val idx = GraftLakeSidecarIndex(
          sidecars, composed,
          dirs.flatMap(d => FileStats.readRowsSidecar(root, d)).toMap,
          dirs.flatMap(d => FileStats.readBytesSidecar(root, d)).toMap,
          dirs.flatMap(d => FileStats.readNdvSidecar(root, d)).toMap,
          sidecars.valuesIterator.flatMap(_.keysIterator).toSet,
          pathIdx.valuesIterator.flatMap(_.keysIterator).toSet)
        fp.foreach { f =>
          cache.put(k, new java.lang.ref.SoftReference((f, idx)))
          strongMru.merge(root, (v, f, idx),
            (old, nw) => if (nw._1 >= old._1) nw else old)
        }
        idx
    }
  }
}

object GraftLakeScan {
  private val NullPart = "__HIVE_DEFAULT_PARTITION__"

  /** A pushed date/time literal in the unit the stats sidecar holds for
    * its column — the parquet INT64 `TIMESTAMP(MICROS)` value (epoch
    * micros, for both `TimestampType` and `TimestampNTZType`) or the
    * INT32 `DATE` value (epoch days) — the inverse of the conversion
    * Spark applied when it translated the Catalyst literal into the
    * filter. None for any other literal. */
  private[sources] def temporalStat(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant => Some(DateTimeUtils.instantToMicros(i))
    case t: java.time.LocalDateTime => Some(DateTimeUtils.localDateTimeToMicros(t))
    case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d).toLong)
    case d: java.time.LocalDate => Some(DateTimeUtils.localDateToDays(d).toLong)
    case _ => None
  }

  /** A sidecar bound (its decimal string form — possibly a double-form
    * string like "5.0" after a cross-row-group merge) as the CATALYST
    * INTERNAL value of the column's type, the representation
    * `transformV2Stats` stores straight into a ColumnStat: Int days for
    * dates, Long micros for timestamps, the boxed primitive otherwise.
    * Integral bounds round OUTWARD (floor the min, ceil the max) so a
    * double-merged bound can only widen, never narrow — conservative for
    * an estimate exactly like for pruning. Types the sidecars don't
    * harvest exactly (decimals, strings) report no bound. */
  private[sources] def catalystBound(s: String, dt: DataType,
                                     isMin: Boolean): Option[Object] =
    try {
      val bd = new java.math.BigDecimal(s)
      def i = bd.setScale(0,
        if (isMin) java.math.RoundingMode.FLOOR
        else java.math.RoundingMode.CEILING)
      dt match {
        case ByteType => Some(java.lang.Byte.valueOf(i.byteValueExact()))
        case ShortType => Some(java.lang.Short.valueOf(i.shortValueExact()))
        case IntegerType => Some(java.lang.Integer.valueOf(i.intValueExact()))
        case LongType => Some(java.lang.Long.valueOf(i.longValueExact()))
        case DateType => Some(java.lang.Integer.valueOf(i.intValueExact()))
        case TimestampType | TimestampNTZType =>
          Some(java.lang.Long.valueOf(i.longValueExact()))
        case FloatType => Some(java.lang.Float.valueOf(bd.floatValue()))
        case DoubleType => Some(java.lang.Double.valueOf(bd.doubleValue()))
        case _ => None
      }
    } catch {
      case _: NumberFormatException | _: ArithmeticException => None
    }

  /** The hive partition tuple a relative lake path encodes, raw (still
    * path-escaped): `data/commit=<uuid>/p=v/part-x.parquet` → [(p, v)]. */
  private[sources] def partTupleOf(rel: String): Seq[(String, String)] =
    if (!rel.startsWith("data/commit=")) Nil
    else rel.split('/').drop(2).dropRight(1).toSeq.filter(_.contains('='))
      .map { seg =>
        val i = seg.indexOf('=')
        (seg.substring(0, i), seg.substring(i + 1))
      }

  /** Undo hive's %xx path escaping (the writer's encoding for special
    * chars in partition values — ':', '/', control chars). */
  private[graft] def unescapePath(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          val hex = s.substring(i + 1, i + 3)
          try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
          catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  /** One hive-encoded partition value as the Catalyst-internal constant
    * the column vector carries, converted to the column's RESOLVED type
    * (the connector's schema came from the native read's partition
    * discovery, so the types are discovery's own). */
  private[sources] def catalystPartValue(raw: String, dt: DataType): Any = {
    val v = unescapePath(raw)
    if (v == NullPart) null
    else dt match {
      case StringType => UTF8String.fromString(v)
      case LongType => v.toLong
      case IntegerType => v.toInt
      case ShortType => v.toShort
      case ByteType => v.toByte
      case DoubleType => v.toDouble
      case FloatType => v.toFloat
      case BooleanType => v.toBoolean
      case DateType => java.time.LocalDate.parse(v).toEpochDay.toInt
      case TimestampType => // discovery parses in the writer's local zone
        DateTimeUtils.fromJavaTimestamp(java.sql.Timestamp.valueOf(v))
      case d: DecimalType => Decimal(new java.math.BigDecimal(v), d.precision, d.scale)
      case other => throw new UnsupportedOperationException(
        s"graftlake partition value type: $other")
    }
  }

  /** Open Spark's vectorized parquet reader on one lake file: the
    * projection minus this file's partition columns becomes the parquet
    * requested schema (one footer open, inside the reader), the
    * partition values become constant vectors via `initBatch`, and a
    * requested column the file predates materializes as nulls (the
    * schema-evolution contract). Returns the reader plus the
    * permutation mapping each `out` field to its batch-column ordinal
    * (the reader emits data columns first, then partition columns). */
  private[sources] def openVectorized(confBase: Configuration, p: GraftLakeInputPartition,
                                      out: StructType, columnar: Boolean)
      : (VectorizedParquetRecordReader, Array[Int]) = {
    val partMap = p.partVals.toMap
    val dataFields = out.fields.filter(f => !partMap.contains(f.name))
    val partFields = out.fields.filter(f => partMap.contains(f.name))
    val conf = new Configuration(confBase)
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
      StructType(dataFields).json)
    // files are written by this library (Spark 3+ writers): proleptic
    // calendar, no rebase — CORRECTED on both epochs
    val reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
    try {
      reader.initialize(
        new FileSplit(new HPath(p.absPath), 0, p.length, Array.empty[String]),
        new TaskAttemptContextImpl(conf, new TaskAttemptID()))
      val pvals: Array[Any] = partFields.map { f =>
        // `_file` carries the manifest-relative path VERBATIM (no hive
        // unescape — %xx inside a partition dir is part of the name)
        if (f.name == "_file") UTF8String.fromString(partMap(f.name))
        else catalystPartValue(partMap(f.name), f.dataType)
      }.toArray
      reader.initBatch(StructType(partFields), new GenericInternalRow(pvals))
      if (columnar) reader.enableReturningBatches()
    } catch { case t: Throwable => reader.close(); throw t }
    val ordinalOf = (dataFields.map(_.name) ++ partFields.map(_.name))
      .zipWithIndex.toMap
    (reader, out.fields.map(f => ordinalOf(f.name)))
  }
}

final class GraftLakeReaderFactory(required: StructType,
                                   dv: Option[GraftLakeDv],
                                   conf: SerializableConfiguration,
                                   exact: Array[Filter] = Array.empty,
                                   fullSchema: StructType = new StructType())
    extends PartitionReaderFactory {
  // columnar is the default path; a live tombstone vector or accepted
  // exact filters need row-level work during the scan, so those read
  // row-based
  override def supportColumnarReads(p: InputPartition): Boolean =
    dv.isEmpty && exact.isEmpty
  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    new GraftLakeColumnarReader(
      p.asInstanceOf[GraftLakeInputPartition], required, conf.value)
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftLakeRowReader(
      p.asInstanceOf[GraftLakeInputPartition], required, dv, conf.value,
      exact, fullSchema)
}

/** The hot path: whole [[ColumnarBatch]]es straight from Spark's
  * vectorized parquet reader into the scan's ColumnarToRow /
  * whole-stage-codegen consumer — the wrapper batch only PERMUTES the
  * reader's column vectors into the required order (data columns are
  * emitted in requested order, partition constants appended; the
  * projection may interleave them). Vectors are reused across batches,
  * so the wrapper is built once and re-counted per batch. */
final class GraftLakeColumnarReader(p: GraftLakeInputPartition,
                                    required: StructType, conf: Configuration)
    extends PartitionReader[ColumnarBatch] {
  private val (inner, perm) =
    GraftLakeScan.openVectorized(conf, p, required, columnar = true)
  private var wrapped: ColumnarBatch = _
  override def next(): Boolean = inner.nextKeyValue()
  override def get(): ColumnarBatch = {
    val b = inner.getCurrentValue.asInstanceOf[ColumnarBatch]
    if (wrapped == null) {
      val cols = new Array[ColumnVector](perm.length)
      var i = 0
      while (i < perm.length) { cols(i) = b.column(perm(i)); i += 1 }
      wrapped = new ColumnarBatch(cols)
    }
    wrapped.setNumRows(b.numRows())
    wrapped
  }
  override def close(): Unit = inner.close()
}

/** The row path, used only when the scanned version carries live key
  * tombstones: the same vectorized decode iterated row-wise, each row
  * probed against the version's tombstone key set (loaded once per
  * task) and surviving rows emitted through a bound projection in the
  * required column order. Equal by construction to the native reader's
  * anti-join; compaction clears the vector and the scan goes columnar
  * again. */
final class GraftLakeRowReader(p: GraftLakeInputPartition,
                               required: StructType,
                               dv: Option[GraftLakeDv], conf: Configuration,
                               exact: Array[Filter] = Array.empty,
                               fullSchema: StructType = new StructType())
    extends PartitionReader[InternalRow] {
  // read projection = required ∪ tombstone key ∪ exact-filter columns;
  // the extras drive row filtering and are projected away on emit
  private val extras = (dv.map(_.keyField).toSeq ++
    exact.flatMap(GraftLakeCountScan.colOf).distinct
      .flatMap(c => fullSchema.fields.find(_.name == c)))
    .filter(f => !required.fieldNames.contains(f.name))
    .distinctBy(_.name)
  private val readOut = StructType(required.fields ++ extras)
  private val (inner, perm) =
    GraftLakeScan.openVectorized(conf, p, readOut, columnar = false)
  private val keyOrd = dv.map(d => perm(readOut.fieldIndex(d.keyField.name)))
  private val keyType = dv.map(_.keyField.dataType)
  private val tomb: java.util.HashSet[Any] =
    dv.map(d => GraftLakeRowReader.loadKeys(conf, d)).orNull
  private val preds: Array[InternalRow => Boolean] = exact.map(f =>
    GraftLakeCountScan.compile(f,
      c => perm(readOut.fieldIndex(c)), c => readOut(c).dataType))
  private val proj = UnsafeProjection.create(
    required.fields.zipWithIndex.map { case (f, i) =>
      BoundReference(perm(i), f.dataType, nullable = true)
    })
  private var cur: InternalRow = _

  override def next(): Boolean = {
    while (inner.nextKeyValue()) {
      val r = inner.getCurrentValue.asInstanceOf[InternalRow]
      val dead = keyOrd.exists { o =>
        !r.isNullAt(o) &&
          tomb.contains(GraftLakeRowReader.keyOf(r, o, keyType.get, own = false))
      }
      if (!dead && preds.forall(_(r))) { cur = r; return true }
    }
    false
  }
  override def get(): InternalRow = proj(cur)
  override def close(): Unit = inner.close()
}

object GraftLakeRowReader {
  /** One tombstone/probe key in set-comparable form. `own = true` copies
    * string bytes out of the (reused) batch memory for storage; probe
    * values are transient and compare content-wise without a copy. */
  private def keyOf(r: InternalRow, i: Int, dt: DataType, own: Boolean): Any =
    dt match {
      case LongType => java.lang.Long.valueOf(r.getLong(i))
      case IntegerType => java.lang.Long.valueOf(r.getInt(i).toLong)
      case ShortType => java.lang.Long.valueOf(r.getShort(i).toLong)
      case ByteType => java.lang.Long.valueOf(r.getByte(i).toLong)
      case DoubleType => java.lang.Double.valueOf(r.getDouble(i))
      case FloatType => java.lang.Double.valueOf(r.getFloat(i).toDouble)
      case BooleanType => java.lang.Boolean.valueOf(r.getBoolean(i))
      case StringType =>
        val u = r.getUTF8String(i); if (own) u.clone() else u
      case DateType => java.lang.Long.valueOf(r.getInt(i).toLong)
      case TimestampType => java.lang.Long.valueOf(r.getLong(i))
      case other => throw new UnsupportedOperationException(
        s"graftlake tombstone key type: $other")
    }

  /** Per-executor cache of materialized tombstone sets, keyed by the
    * version's DV file list (immutable once committed, so the list IS
    * the identity): the first task of a scan pays the load, the other
    * N-1 tasks on the executor reuse it — the per-task analog of
    * Delta's DV read without the per-task re-read. Soft values: under
    * memory pressure the JVM reclaims the sets and a later task simply
    * reloads. */
  private val keyCache =
    new java.util.concurrent.ConcurrentHashMap[Seq[(String, Long)],
      java.lang.ref.SoftReference[java.util.HashSet[Any]]]()

  private[sources] def loadKeys(conf: Configuration,
                                d: GraftLakeDv): java.util.HashSet[Any] = {
    val cached = Option(keyCache.get(d.paths)).flatMap(r => Option(r.get()))
    cached.getOrElse {
      val set = loadKeysUncached(conf, d)
      keyCache.put(d.paths, new java.lang.ref.SoftReference(set))
      set
    }
  }

  /** Materialize the version's tombstone key set from its DV files —
    * one vectorized pass per file, null keys skipped (a null tombstone
    * matches no row under the anti-join's equi-semantics). */
  private def loadKeysUncached(conf: Configuration,
                               d: GraftLakeDv): java.util.HashSet[Any] = {
    val set = new java.util.HashSet[Any]()
    val schema = StructType(Seq(d.keyField))
    d.paths.foreach { case (path, len) =>
      val (r, _) = GraftLakeScan.openVectorized(conf,
        GraftLakeInputPartition(path, len, Nil), schema, columnar = false)
      try {
        while (r.nextKeyValue()) {
          val row = r.getCurrentValue.asInstanceOf[InternalRow]
          if (!row.isNullAt(0)) {
            set.add(keyOf(row, 0, d.keyField.dataType, own = true)); ()
          }
        }
      } finally r.close()
    }
    set
  }
}

/** The scan a filtered COUNT pushes to in `exactPushdown` mode: one
  * synthetic partition carrying the metadata-counted interior total
  * plus one counting partition per boundary file — each decodes ONLY
  * the filter columns, counts matching rows, and emits a single row;
  * Spark's final aggregate sums them (the partial-pushdown contract).
  * `metadataFiles`/`scannedFiles`/`prunedFiles` are the audit evidence
  * queries pin, resolved from the planned scan itself. */
final class GraftLakeCountScan(nCounts: Int, interior: Long,
                               val metadataFiles: Int, val prunedFiles: Int,
                               boundary: Seq[GraftLakeInputPartition],
                               filters: Array[Filter], filterCols: StructType,
                               hconf: SerializableConfiguration)
    extends Scan with Batch {
  def scannedFiles: Int = boundary.size
  def metadataOnly: Boolean = boundary.isEmpty
  override def readSchema(): StructType = StructType(
    (0 until nCounts).map(i => StructField(s"count_$i", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftLakeCountScan interior=$interior metadata=$metadataFiles " +
      s"scanned=${boundary.size} pruned=$prunedFiles filters=${filters.mkString(",")}"
  override def planInputPartitions(): Array[InputPartition] =
    (GraftLakeCountPartition(interior, None) +:
      boundary.map(p => GraftLakeCountPartition(0L, Some(p)))).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLakeCountReaderFactory(nCounts, filters, filterCols, hconf)
}

final case class GraftLakeCountPartition(interior: Long,
                                         file: Option[GraftLakeInputPartition])
    extends InputPartition

final class GraftLakeCountReaderFactory(nCounts: Int, filters: Array[Filter],
                                        filterCols: StructType,
                                        conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[GraftLakeCountPartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      private def countFile(fp: GraftLakeInputPartition): Long = {
        val (r, perm) = GraftLakeScan.openVectorized(
          conf.value, fp, filterCols, columnar = false)
        val preds = filters.map(f => GraftLakeCountScan.compile(f,
          c => perm(filterCols.fieldIndex(c)), c => filterCols(c).dataType))
        try {
          var n = 0L
          while (r.nextKeyValue()) {
            val row = r.getCurrentValue.asInstanceOf[InternalRow]
            if (preds.forall(_(row))) n += 1
          }
          n
        } finally r.close()
      }
      override def next(): Boolean = !emitted && { emitted = true; true }
      override def get(): InternalRow = {
        val n = cp.file.map(countFile).getOrElse(cp.interior)
        new GenericInternalRow(Array.fill[Any](nCounts)(n))
      }
      override def close(): Unit = ()
    }
  }
}

object GraftLakeCountScan {
  /** The single column a supported exact filter references. */
  private[sources] def colOf(f: Filter): Option[String] = f match {
    case EqualTo(a, _) => Some(a)
    case GreaterThan(a, _) => Some(a)
    case GreaterThanOrEqual(a, _) => Some(a)
    case LessThan(a, _) => Some(a)
    case LessThanOrEqual(a, _) => Some(a)
    case org.apache.spark.sql.sources.IsNotNull(a) => Some(a)
    case _ => None
  }

  /** True iff EVERY row of a file provably satisfies `f`, from its
    * harvested/path-derived range: bounds strictly inside the predicate
    * plus a known-ZERO null count. Sound even for outer-approximation
    * bounds (bound-min ≤ true-min, so bound-min > v proves
    * true-min > v), and STRICTNESS-aware — the inclusive superset
    * ranges mayMatch prunes with would over-claim for `>`/`<`. */
  private[sources] def wholeMatch(stats: Map[String, FileStats.ColRange],
                                  f: Filter): Boolean = {
    def chk(a: String, v: Any)(test: (Int, Int) => Boolean): Boolean =
      stats.get(a).exists { r =>
        r.nulls.contains(0L) && {
          val lit = v.toString
          // Exact-precision compare: Double collapses longs beyond 2^53
          // to equal values, which could wrongly PROVE a whole-file
          // match (a metadata count of rows the predicate rejects).
          // BigDecimal keeps full precision for integral and decimal
          // stat encodings alike; an unparseable bound (NaN/Infinity)
          // proves nothing — the file falls back to boundary scanning.
          def c(x: String): Option[Int] =
            if (r.numeric)
              try Some(new java.math.BigDecimal(x)
                .compareTo(new java.math.BigDecimal(lit)))
              catch { case _: NumberFormatException => None }
            else Some(FileStats.utf8Cmp(x, lit))
          (c(r.min), c(r.max)) match {
            case (Some(mn), Some(mx)) => test(mn, mx)
            case _ => false
          }
        }
      }
    f match {
      case EqualTo(a, v) => chk(a, v)((mn, mx) => mn == 0 && mx == 0)
      case GreaterThan(a, v) => chk(a, v)((mn, _) => mn > 0)
      case GreaterThanOrEqual(a, v) => chk(a, v)((mn, _) => mn >= 0)
      case LessThan(a, v) => chk(a, v)((_, mx) => mx < 0)
      case LessThanOrEqual(a, v) => chk(a, v)((_, mx) => mx <= 0)
      case org.apache.spark.sql.sources.IsNotNull(a) =>
        stats.get(a).exists(_.nulls.contains(0L))
      case _ => false
    }
  }

  /** Compile one accepted exact filter to a row predicate with Spark's
    * own semantics: null never matches a comparison, integrals compare
    * as longs, strings by binary collation (UTF8String.compareTo —
    * utf8Cmp's in-memory twin). The acceptance gate
    * (`exactlyEvaluable`) guarantees only these shapes arrive. */
  private[sources] def compile(f: Filter, ordOf: String => Int,
                               typeOf: String => DataType): InternalRow => Boolean = {
    def longAt(o: Int, dt: DataType): InternalRow => Long = dt match {
      case LongType => _.getLong(o)
      case IntegerType => _.getInt(o).toLong
      case ShortType => _.getShort(o).toLong
      case ByteType => _.getByte(o).toLong
      case other => throw new UnsupportedOperationException(other.toString)
    }
    def cmp(a: String, v: Any)(test: Int => Boolean): InternalRow => Boolean = {
      val o = ordOf(a)
      typeOf(a) match {
        case dt @ (LongType | IntegerType | ShortType | ByteType) =>
          val lit = v.asInstanceOf[Number].longValue
          val get = longAt(o, dt)
          r => !r.isNullAt(o) && test(java.lang.Long.compare(get(r), lit))
        case StringType =>
          val lit = UTF8String.fromString(v.asInstanceOf[String])
          r => !r.isNullAt(o) && test(r.getUTF8String(o).compareTo(lit))
        case other => throw new UnsupportedOperationException(
          s"graftlake exact filter on $a: $other")
      }
    }
    f match {
      case EqualTo(a, v) => cmp(a, v)(_ == 0)
      case GreaterThan(a, v) => cmp(a, v)(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, v)(_ >= 0)
      case LessThan(a, v) => cmp(a, v)(_ < 0)
      case LessThanOrEqual(a, v) => cmp(a, v)(_ <= 0)
      case org.apache.spark.sql.sources.IsNotNull(a) =>
        val o = ordOf(a); r => !r.isNullAt(o)
      case other => throw new UnsupportedOperationException(other.toString)
    }
  }
}
