package graft.sources

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.etl.{FileStats, LakeIndex, SnapshotLake}

/** Stream offset = the newest lake version this stream has FULLY
  * emitted, plus (under file-granular admission control) how many
  * add-files of the NEXT version it has already emitted — Delta's
  * (reservoirVersion, index) offset shape. `part` = 0 is the plain
  * whole-version form and serializes as the bare version number, so
  * checkpoints written before admission control replay unchanged. The
  * manifest log IS the write-ahead log: an add list is immutable and
  * ordered, so (version, part) identifies an exact file frontier. */
final case class GraftLakeOffset(version: Long, part: Long = 0L)
    extends Offset {
  override def json(): String =
    if (part == 0L) version.toString
    else s"""{"v":$version,"p":$part}"""
}

object GraftLakeOffset {
  def parse(json: String): GraftLakeOffset = {
    val t = json.trim
    if (!t.startsWith("{")) GraftLakeOffset(t.toLong)
    else {
      def num(k: String): Long = {
        val m = s""""$k":""".r.findFirstMatchIn(t).getOrElse(
          throw new IllegalArgumentException(s"bad graftlake offset: $json"))
        t.substring(m.end).takeWhile(c => c.isDigit || c == '-').toLong
      }
      GraftLakeOffset(num("v"), num("p"))
    }
  }
}

/** The connector's streaming source — `spark.readStream
  * .format("graftlake")` — the [[graft.streaming.LakeTail]] contract
  * behind Spark's standard micro-batch machinery:
  *
  *   - **Offsets are lake versions.** `latestOffset` reads the head
  *     pointer; `planInputPartitions(start, end)` walks the commit
  *     records of versions `(start, end]` and emits each APPEND
  *     commit's added files as that batch's input partitions — read
  *     straight from the commit's own `add` list, no diff join, cost =
  *     the batch's data mass (an append's files ARE its rows).
  *   - **Change commits**: a merge/delete/restore is a CHANGE commit an
  *     append-only consumer must opt out of — with
  *     `.option("skipChangeCommits", "true")` (Delta's option) the
  *     version advances and feeds nothing; without it the stream FAILS
  *     with a clear error rather than silently dropping or duplicating
  *     rows. Physical-only rewrites (compact/Z-order) are always
  *     skipped: re-emitting a compaction would re-feed the whole table.
  *   - **`startingVersion`** (default 1 = the whole history; for an
  *     append-built lake version 1 onward IS the initial snapshot) and
  *     **`maxVersionsPerTrigger`** (admission control: at most N source
  *     versions per micro-batch) mirror Delta's source options.
  *   - **`maxFilesPerTrigger` / `maxBytesPerTrigger`** — FILE-granular
  *     admission control (Delta's same-named options): a fat commit is
  *     split across triggers at file boundaries, the offset carrying
  *     (version, files-emitted-of-next-version). Every trigger admits
  *     at least one file however small the byte cap (the soft-max
  *     contract), and the (start, end] file slice is deterministic —
  *     add lists are immutable and ordered — so restart replay stays
  *     byte-identical and exactly-once sinks are unaffected.
  *   - **Restart** replays from the checkpointed offset:
  *     `planInputPartitions` is deterministic in (start, end] — the
  *     manifest records are immutable — so a restarted batch re-reads
  *     byte-identical input, the property exactly-once sinks
  *     (`appendOnce` on a destination lake) build on. Retention
  *     contract: the checkpoint must stay within the source's vacuum
  *     window, like every incremental reader.
  *
  * Batches read through the same vectorized reader factory as batch
  * scans (column pruning included — `required` is the pruned schema),
  * their files packed into tasks by the batch scan's rule
  * ([[GraftLakeScan.pack]]) with lengths from the commits' `_bytes.json`
  * sidecars, so planning a batch stats no data file.
  */
final class GraftLakeMicroBatchStream(root: String, rootAbs: String,
                                      required: StructType,
                                      startingVersion: Long,
                                      skipChangeCommits: Boolean,
                                      maxVersionsPerTrigger: Option[Long],
                                      hconf: Broadcast[SerializableConfiguration],
                                      exact: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
                                      fullSchema: StructType = new StructType(),
                                      maxFilesPerTrigger: Option[Long] = None,
                                      maxBytesPerTrigger: Option[Long] = None,
                                      cdf: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  require(!cdf || (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty),
    "CDF stream admission is version-granular — a commit's change set " +
      "is atomic; use maxVersionsPerTrigger")

  /** Trigger.AvailableNow's drain bound: the head version captured when
    * the trigger starts — batches step toward it (the per-trigger caps
    * at a time) and the query stops there, commits racing the drain
    * left for the next run (Spark's AvailableNow contract). */
  @volatile private var availableNowBound: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound =
      Some(SnapshotLake.currentVersion(root).getOrElse(startingVersion - 1))

  override def initialOffset(): Offset = GraftLakeOffset(startingVersion - 1)

  override def deserializeOffset(json: String): Offset =
    GraftLakeOffset.parse(json)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control form")

  /** The add-files a version feeds the stream (empty for the skipped
    * commit kinds). `strict` applies the fail-on-change-commit contract;
    * admission WALKS with strict=false so the error surfaces when the
    * batch is planned, with the version in hand, not while sizing it. */
  private def emittable(v: Long, strict: Boolean): Seq[String] = {
    val (op, add) = SnapshotLake.commitChange(root, v)
    op match {
      case "append" => add
      case "compact" => Nil // physical-only: never re-emitted
      case "evolve" => Nil // metadata-only: no row ever changes
      case _ if skipChangeCommits || !strict => Nil
      case other => throw new UnsupportedOperationException(
        s"graftlake streaming source hit a change commit (version $v, " +
          s"op '$other'). An append-only stream cannot represent it; " +
          "set .option(\"skipChangeCommits\", \"true\") to skip change " +
          "commits, or follow changes with the CDC feed instead.")
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val head = availableNowBound.getOrElse(
      SnapshotLake.currentVersion(root).getOrElse(startingVersion - 1))
    val s = start.asInstanceOf[GraftLakeOffset]
    if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty)
      // version-granular admission (or none): the original contract
      return GraftLakeOffset(maxVersionsPerTrigger match {
        case Some(n) => math.min(head, s.version + math.max(1L, n))
        case None => head
      })
    // file-granular admission: pack whole files up to the caps, splitting
    // INSIDE a commit when it alone exceeds them; always admit at least
    // one file (the soft-max contract — a file bigger than maxBytes must
    // still flow). Caps compose: maxVersionsPerTrigger still bounds how
    // many source versions one batch may span.
    var v = s.version
    var p = s.part
    var files = 0L
    var bytes = 0L
    var versions = 0L
    var full = false
    while (!full && v < head &&
        maxVersionsPerTrigger.forall(n => versions < math.max(1L, n))) {
      val add = emittable(v + 1, strict = false)
      val size = LakeIndex.lengths(root, add)
      var i = p
      while (!full && i < add.size) {
        val sz = size(add(i.toInt))
        val wouldExceed =
          maxFilesPerTrigger.exists(n => files + 1 > math.max(1L, n)) ||
            maxBytesPerTrigger.exists(b => bytes + sz > b)
        if (wouldExceed && files > 0) full = true
        else { files += 1; bytes += sz; i += 1 }
      }
      if (i == add.size) { v += 1; p = 0; versions += 1 }
      else p = i // the caps landed inside this commit: split it here
    }
    GraftLakeOffset(v, p)
  }

  override def reportLatestOffset(): Offset =
    GraftLakeOffset(SnapshotLake.currentVersion(root)
      .getOrElse(startingVersion - 1))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftLakeOffset]
    val e = end.asInstanceOf[GraftLakeOffset]
    // CDF mode: each version's CHANGE batch — append files as constant
    // 'insert' partitions, change commits' materialized feeds — whole
    // versions only (the ctor refuses file-granular caps with cdf)
    val files =
      if (cdf)
        ((s.version + 1) to e.version).flatMap(v =>
          GraftLakeCdf.partitions(root, rootAbs, v, skipChangeCommits))
      else {
        // versions (s.version, e.version] fully, plus the first e.part
        // files of e.version+1; s.part files of s.version+1 were already
        // emitted. Deterministic in (start, end]: add lists are immutable
        // and ordered, so a restarted batch re-reads byte-identical input.
        val last = if (e.part > 0L) e.version + 1 else e.version
        ((s.version + 1) to last).flatMap { v =>
          val add = emittable(v, strict = true)
          val from = if (v == s.version + 1) s.part else 0L
          val until = if (v == e.version + 1) e.part else add.size.toLong
          val slice = add.slice(from.toInt, until.toInt)
          val size = LakeIndex.lengths(root, slice)
          slice.map(f => GraftLakeInputPartition(s"$rootAbs/$f", size(f),
            GraftLakeScan.partTupleOf(f) :+ ("_file" -> f)))
        }
      }
    GraftLakeScan.pack(org.apache.spark.sql.SparkSession.active, files).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // the scan accepted these filters as EXACT (pushed, not residual) —
    // the streaming readers apply them just like the batch readers do
    new GraftLakeReaderFactory(required, None, hconf, exact, fullSchema)

  override def commit(end: Offset): Unit = () // progress lives in the checkpoint
  override def stop(): Unit = ()
}

/** One writer task's files (none for a zero-row task: no file is even
  * created), each with the stats its writer read off the footer of the
  * file it had just closed. */
final case class GraftLakeFilesMsg(files: Seq[(String, FileStats.FileMeta)])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** The connector's streaming SINK — `df.writeStream
  * .format("graftlake")` — the write half of the streaming story:
  * executors write their epoch-task parquet files straight into the
  * lake's data area through the lake's one file writer
  * ([[GraftLakeDataWriter]]), and the DRIVER turns each epoch's commit
  * messages into ONE tagged manifest commit
  * ([[graft.etl.SnapshotLake.commitStreamedFilesGrouped]]) — sidecar
  * indexes from the stats the tasks reported, like any commit
  * (`.option("statsCols", ...)` / `.option("bloomCol", ...)` work).
  *
  * Exactly-once: the epoch tag is `stream-<queryId>-e<epochId>`
  * (queryId = the checkpoint-stable streaming query id) — a
  * crash-replayed epoch finds its tag and commits nothing; its re-run
  * task files, like any attempt that lost the task-commit
  * coordination, stay unreferenced orphans for vacuum. That is the
  * appendOnce contract surfaced through the standard sink API, so
  * `readStream.format("graftlake") → writeStream.format("graftlake")`
  * is an end-to-end exactly-once lake-to-lake pipeline with no
  * foreachBatch glue. */
final class GraftLakeStreamingWrite(root: String, rootAbs: String,
                                    schema: org.apache.spark.sql.types.StructType,
                                    index: SnapshotLake.IndexSpec,
                                    queryId: String,
                                    hconf: Broadcast[SerializableConfiguration])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  // the lake's append rule, checked once at write construction, before
  // any epoch writes a file: the stream's rows must have the lake's
  // column names and types (an empty lake's first epoch declares them),
  // and every epoch commit re-checks at its own head
  private val admitted = SnapshotLake.admitted(root, schema)
  // files must land under PHYSICAL column names (the column-mapping
  // invariant every reader relies on), and their index keys physical too;
  // resolved once at write construction — the stream's analyzed schema is
  // of this moment's logical names. Identity on unmapped lakes, or before
  // the first commit.
  private val mapping = SnapshotLake.mappingOf(admitted.target)
  private val physSchema = org.apache.spark.sql.types.StructType(
    schema.fields.map(f => f.copy(name = mapping.getOrElse(f.name, f.name))))
  private val physIndex = SnapshotLake.physicalIndex(index, mapping)

  // called once per epoch: each epoch writes a fresh time-ordered data dir
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftLakeWriterFactory(rootAbs, SnapshotLake.newDataDir(), s"stream-$queryId-",
      physSchema, physIndex.statsCols, hconf)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq.collect { case m: GraftLakeFilesMsg => m.files }.flatten
    // Epoch commits ride the GROUP coalescer: with one query per table
    // this is byte-identical to the solo tagged CAS (a batch of one
    // writes the legacy `tag` field), and with N queries sharing a
    // table their epochs coalesce into multi-tag links instead of
    // racing the head once per epoch per trigger — the object-store
    // RTT case CommitContention phase 5 prices.
    SnapshotLake.commitStreamedFilesGrouped(
      org.apache.spark.sql.SparkSession.active, root, files,
      s"stream-$queryId-e$epochId", admitted, physIndex)
    ()
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    // nothing was linked into any manifest: the written task files are
    // unreferenced orphans, exactly what vacuum's sweep exists for
    ()
}

/** The connector's writer factory, for batch row-level rewrites and for
  * sink epochs: each task's files are named by an attempt-unique stem
  * (carrying the epoch, for a sink), so a replayed epoch or a speculative
  * attempt never collides with a live writer, and only committed
  * messages' files are linked. */
final case class GraftLakeWriterFactory(
    rootAbs: String, relDir: String, prefix: String,
    schema: org.apache.spark.sql.types.StructType, statsCols: Seq[String],
    hconf: Broadcast[SerializableConfiguration])
    extends org.apache.spark.sql.connector.write.DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): GraftLakeDataWriter =
    new GraftLakeDataWriter(rootAbs, relDir, f"${prefix}part-$partitionId%05d-t$taskId",
      schema, hconf.value.value, statsCols)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): GraftLakeDataWriter =
    new GraftLakeDataWriter(rootAbs, relDir,
      f"${prefix}e$epochId-part-$partitionId%05d-t$taskId", schema, hconf.value.value, statsCols)
}

/** The lake's one file writer: a task-side parquet writer over
  * InternalRow through Spark's own `ParquetWriteSupport` (the encoder the
  * built-in parquet sink uses, so the files carry the same schema and
  * key-value metadata), with the session's codec and parquet sizes from
  * the broadcast conf ([[GraftLakeConf]]). Files open lazily, so a
  * zero-row task writes nothing at all. Each file is named
  * `<stem>-c<n>.parquet` — the stem is attempt-unique, so a retried or
  * speculative attempt never collides with a live one.
  *
  * With `partCols` the rows are laid out as Spark's dynamic-partition
  * writer does: a new file under `<p1=v1>/.../` whenever the partition
  * tuple changes (callers sort each task's rows by it), the directory
  * names built by the same hive escaping (`ExternalCatalogUtils`, null
  * and empty → `__HIVE_DEFAULT_PARTITION__`) from the values cast to
  * string in the session time zone, and the partition columns left out
  * of the files.
  *
  * On commit the writer reports every file with its
  * [[FileStats.FileMeta]] — row count, and min/max and null count of
  * `statsCols` — read from the footer of the file it had just closed,
  * so a commit never opens the footers it links. */
final class GraftLakeDataWriter(rootAbs: String, relDir: String, stem: String,
                                schema: org.apache.spark.sql.types.StructType,
                                conf: org.apache.hadoop.conf.Configuration,
                                statsCols: Seq[String] = Nil,
                                partCols: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
  import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection, UnsafeRow}
  import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
  import org.apache.spark.sql.types.{StringType, StructType}

  private val partIdx = partCols.map(schema.fieldIndex)
  private val dataIdx = schema.indices.filterNot(partIdx.contains)
  private def bound(i: Int) = BoundReference(i, schema(i).dataType, schema(i).nullable)
  private lazy val partKey = UnsafeProjection.create(partIdx.map(bound))
  private lazy val dataRow = UnsafeProjection.create(dataIdx.map(bound))
  // each partition value as a string, as Spark's partitioned writer casts it
  private lazy val partStrings = partIdx.zipWithIndex.map { case (i, j) =>
    Cast(BoundReference(j, schema(i).dataType, nullable = true), StringType,
      Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
  }
  private val cols = statsCols.toSet
  private lazy val fileConf = {
    val c = new org.apache.hadoop.conf.Configuration(conf)
    ParquetWriteSupport.setSchema(StructType(dataIdx.map(schema(_))), c)
    c
  }

  private var files = Vector.empty[(String, FileStats.FileMeta)]
  private var cur: ParquetWriter[InternalRow] = _
  private var curRel: String = _
  private var curKey: UnsafeRow = _

  private final class RowWriterBuilder(path: org.apache.hadoop.fs.Path)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](path) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(c: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  private def open(sub: String): Unit = {
    curRel = f"$relDir/$sub$stem-c${files.size}%03d.parquet"
    val path = java.nio.file.Paths.get(rootAbs, curRel)
    java.nio.file.Files.createDirectories(path.getParent)
    val c = fileConf
    // the sizes ParquetOutputFormat would take from the conf for the
    // built-in writer; the builder's own defaults ignore the conf
    cur = new RowWriterBuilder(new org.apache.hadoop.fs.Path(path.toString))
      .withConf(c)
      .withCompressionCodec(ParquetOutputFormat.getCompression(c))
      .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(c))
      .withPageSize(ParquetOutputFormat.getPageSize(c))
      .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(c))
      .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(c))
      .withWriterVersion(ParquetOutputFormat.getWriterVersion(c))
      .withValidation(ParquetOutputFormat.getValidation(c))
      .withPageWriteChecksumEnabled(ParquetOutputFormat.getPageWriteChecksumEnabled(c))
      .build()
  }

  private def closeFile(): Unit = if (cur != null) {
    val w = cur
    close()
    files :+= curRel -> FileStats.metaOf(w.getFooter, cols)
  }

  private def dirOf(key: UnsafeRow): String =
    partCols.zip(partStrings).map { case (c, e) =>
      ExternalCatalogUtils.getPartitionPathString(c,
        Option(e.eval(key)).map(_.toString).orNull)
    }.mkString("", "/", "/")

  override def write(record: InternalRow): Unit =
    if (partIdx.isEmpty) {
      if (cur == null) open("")
      cur.write(record)
    } else {
      val key = partKey(record)
      if (cur == null || key != curKey) {
        closeFile()
        curKey = key.copy()
        open(dirOf(curKey))
      }
      cur.write(dataRow(record))
    }

  override def commit(): GraftLakeFilesMsg = {
    closeFile()
    GraftLakeFilesMsg(files)
  }

  /** Best effort: this attempt's files are never linked, so they are
    * only clutter until vacuum's orphan sweep. */
  override def abort(): Unit = {
    try close() catch { case scala.util.control.NonFatal(_) => () }
    (files.map(_._1) ++ Option(curRel)).foreach(f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(rootAbs, f)))
  }

  override def close(): Unit =
    if (cur != null) { val w = cur; cur = null; w.close() }
}

object GraftLakeDataWriter {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.catalyst.InternalRow

  /** Write `df` under `relDir` (relative to `rootAbs`) through one
    * [[GraftLakeDataWriter]] per task, in ONE Spark job, and return every
    * written file with its reported stats. The plan runs
    * under its own SQL execution id, so query listeners see the write; the
    * writers share one broadcast conf of `df`'s session. With `partCols`
    * each task's rows are first sorted by them, as Spark's
    * dynamic-partition writer sorts, so each task writes one file per
    * partition tuple. Only the files of the attempts whose results the
    * job returns are reported. */
  def write(df: DataFrame, rootAbs: String, relDir: String,
            partCols: Seq[String] = Nil,
            statsCols: Seq[String] = Nil): Seq[(String, FileStats.FileMeta)] = {
    val laid =
      if (partCols.isEmpty) df
      else df.sortWithinPartitions(partCols.map(org.apache.spark.sql.functions.col): _*)
    val qe = laid.queryExecution
    val schema = qe.optimizedPlan.schema
    val hconf = GraftLakeConf.session(laid.sparkSession)
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("graftlake write")) {
      laid.sparkSession.sparkContext.runJob(qe.toRdd,
        (ctx: org.apache.spark.TaskContext, rows: Iterator[InternalRow]) => {
          val w = new GraftLakeDataWriter(rootAbs, relDir,
            f"part-${ctx.partitionId}%05d-t${ctx.taskAttemptId}", schema,
            hconf.value.value, statsCols, partCols)
          try { rows.foreach(w.write); w.commit().files }
          catch { case t: Throwable => w.abort(); throw t }
          finally w.close()
        }).toSeq.flatten
    }
  }
}
