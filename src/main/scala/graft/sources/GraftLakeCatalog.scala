package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.etl.SnapshotLake

/** V2 [[TableCatalog]] over snapshot lakes — the SQL surface of the
  * connector. Register once:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.GraftLakeCatalog
  *   spark.sql.catalog.graft.warehouse = /data/lakes
  * }}}
  *
  * and pasted SQL works against lake tables with the index intact:
  *
  * {{{
  *   CREATE TABLE graft.marts.orders USING graftlake
  *     LOCATION '/data/lakes/existing/orders'      -- external, or omit
  *   SELECT ... FROM graft.marts.orders VERSION AS OF 4 WHERE ...
  *   INSERT INTO graft.marts.orders SELECT ...
  * }}}
  *
  * Layout: an identifier `ns1.ns2.t` resolves to
  * `<warehouse>/ns1/ns2/t`. A MANAGED table's lake lives in that
  * directory itself (the first INSERT commits version 1); an EXTERNAL
  * table (`LOCATION`) records a `_location.json` pointer there and the
  * lake stays where it is — DROP removes only the pointer, the Delta
  * external-table contract. Time travel (`VERSION AS OF n`) rides
  * [[TableCatalog.loadTable(Identifier, String)]] into a version-pinned
  * [[GraftLakeTable]], so the pinned scan keeps filter→file pruning,
  * aggregate pushdown, and runtime file pruning. The catalog itself
  * holds NO state beyond the filesystem: table existence is the
  * manifest directory (or pointer), which makes it safe for any number
  * of concurrent sessions — the manifest CAS is the only coordinator. */
class GraftLakeCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    val w = options.get("warehouse")
    require(w != null,
      s"graftlake catalog '$name' needs spark.sql.catalog.$name.warehouse")
    warehouse = Paths.get(w)
    Files.createDirectories(warehouse)
    ()
  }

  override def name(): String = catName

  private def dirOf(ident: Identifier): Path =
    ident.namespace.foldLeft(warehouse)(_ resolve _).resolve(ident.name)

  /** Spark qualifies LOCATION clauses into URIs (`file:/tmp/x`);
    * the lake layer wants plain local paths. */
  private def normalize(l: String): String =
    try {
      val u = new java.net.URI(l)
      if (u.getScheme == "file") Paths.get(u).toString else l
    } catch { case _: Exception => l }

  /** The lake root an identifier resolves to: the `_location.json`
    * pointer if present (external table), else the table directory
    * itself when it holds a manifest log or a CREATE TABLE schema
    * marker (managed — the marker is what makes an empty managed table
    * resolvable before its first commit). */
  private def rootOf(ident: Identifier): Option[String] = {
    val d = dirOf(ident)
    val ptr = d.resolve("_location.json")
    if (Files.exists(ptr)) {
      val s = new String(Files.readAllBytes(ptr),
        java.nio.charset.StandardCharsets.UTF_8)
      val m = """"location"\s*:\s*"([^"]*)"""".r
      m.findFirstMatchIn(s).map(g => normalize(g.group(1)))
    } else if (Files.isDirectory(d.resolve("_manifests")) ||
      Files.exists(d.resolve("_schema.json"))) Some(d.toString)
    else None
  }

  /** The declared schema of a table with no committed version yet. */
  private def declaredSchema(ident: Identifier): Option[StructType] = {
    val f = dirOf(ident).resolve("_schema.json")
    if (!Files.exists(f)) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(
      new String(Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[StructType])
  }

  override def tableExists(ident: Identifier): Boolean =
    rootOf(ident).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = namespace.foldLeft(warehouse)(_ resolve _)
    if (!Files.isDirectory(base)) Array.empty
    else {
      val s = Files.list(base)
      try s.iterator().asScala
        .filter(p => Files.isDirectory(p))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .filter(tableExists)
        .toArray
      finally s.close()
    }
  }

  override def loadTable(ident: Identifier): Table =
    metadataTable(ident, None).getOrElse(load(ident, None))

  /** Iceberg-style METADATA TABLES: `SELECT * FROM cat.ns.t.history` /
    * `cat.ns.t.files` — the trailing name selects the metadata view of
    * the parent identifier's lake. `history` is the commit log (the
    * CALL procedure's rows as a queryable relation); `files` is the
    * HEAD version's live file inventory with per-file byte lengths and
    * sidecar row counts. Both resolve driver-side from manifest
    * metadata — no data file is ever opened. */
  private def metadataTable(ident: Identifier,
                            version: Option[Long]): Option[Table] = {
    if (ident.namespace.isEmpty) return None
    if (!GraftLakeMetaTable.Names.contains(ident.name)) return None
    val parent = Identifier.of(ident.namespace.dropRight(1),
      ident.namespace.last)
    // a REAL table named `history` shadows the metadata view of its
    // namespace — explicit data wins over sugar
    if (rootOf(ident).isDefined) return None
    rootOf(parent).map(root => new GraftLakeMetaTable(root, ident.name, version))
  }

  /** `VERSION AS OF n` — Spark's time-travel syntax resolves here; it
    * pins metadata tables too (`t.files VERSION AS OF 2` is the pinned
    * version's inventory, `t.history VERSION AS OF 2` the log up to
    * it). */
  override def loadTable(ident: Identifier, version: String): Table =
    metadataTable(ident, Some(version.toLong))
      .getOrElse(load(ident, Some(version.toLong)))

  /** `TIMESTAMP AS OF t` — Spark hands the instant in MICROseconds;
    * it resolves to the newest version committed at-or-before it
    * (manifest-record mtimes, [[SnapshotLake.versionAsOfTimestamp]]),
    * then loads exactly like a `VERSION AS OF` pin. An instant before
    * the first retained commit refuses with the valid range rather
    * than silently reading some other snapshot. Metadata tables route
    * here too, mirroring the `VERSION AS OF` overload: `t.files
    * TIMESTAMP AS OF i` resolves the instant against the PARENT lake
    * and pins the metadata view to that version. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    def versionAt(root: String): Long =
      SnapshotLake.versionAsOfTimestamp(root, timestampMicros / 1000L)
        .getOrElse(throw new IllegalArgumentException(
          s"TIMESTAMP AS OF ${java.time.Instant.ofEpochMilli(timestampMicros / 1000L)} " +
            s"predates the first retained commit of $ident"))
    // a metadata identifier resolves the instant against its parent's
    // log — the synthetic name has no manifests of its own
    val meta =
      if (ident.namespace.isEmpty || !GraftLakeMetaTable.Names.contains(ident.name)) None
      else {
        val parent = Identifier.of(ident.namespace.dropRight(1),
          ident.namespace.last)
        if (rootOf(ident).isDefined) None // a real table shadows the view
        else rootOf(parent).flatMap(root =>
          metadataTable(ident, Some(versionAt(root))))
      }
    meta.getOrElse {
      val root = rootOf(ident).getOrElse(throw new NoSuchTableException(ident))
      load(ident, Some(versionAt(root)))
    }
  }

  private def load(ident: Identifier, v: Option[Long]): Table = {
    val root = rootOf(ident).getOrElse(throw new NoSuchTableException(ident))
    val schema =
      if (SnapshotLake.currentVersion(root).isEmpty)
        declaredSchema(ident).getOrElse(new StructType())
      else SnapshotLake.schemaOf(root, v)
    new GraftLakeTable(root, schema, versionAsOf = v)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    require(partitions.isEmpty,
      "graftlake tables partition at WRITE time (appendPartitioned), " +
        "not in the catalog definition")
    val d = dirOf(ident)
    Files.createDirectories(d)
    Option(properties.get(TableCatalog.PROP_LOCATION)).map(normalize)
      .filter(l => Paths.get(l).toAbsolutePath != d.toAbsolutePath) match {
      case Some(l) =>
        Files.write(d.resolve("_location.json"),
          s"""{"location":"$l"}""".getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
      case None =>
        // managed: persist the declared schema so the table resolves
        // (and enforces its shape) before the first commit lands
        Files.write(d.resolve("_schema.json"),
          schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    load(ident, None)
  }

  override def dropTable(ident: Identifier): Boolean =
    rootOf(ident) match {
      case None => false
      case Some(root) =>
        val d = dirOf(ident)
        val external = Files.exists(d.resolve("_location.json"))
        // external: drop only the pointer, the lake survives (Delta's
        // external-table contract); managed: the data goes with it
        val victim = if (external) d else Paths.get(root)
        def rm(p: Path): Unit = {
          if (Files.isDirectory(p)) {
            val s = Files.list(p)
            try s.iterator().asScala.toVector.foreach(rm) finally s.close()
          }
          Files.deleteIfExists(p); ()
        }
        rm(victim)
        if (!external) rm(d)
        true
    }

  /** SQL DDL schema evolution — the metadata-only twin of an
    * auto-merging append: `ALTER TABLE t ADD COLUMN(S) …` (and a widening
    * `ALTER COLUMN … TYPE`) maps to a metadata-only `evolve` commit
    * ([[SnapshotLake.evolveSchema]]). The new column is visible at the
    * new version before any file carries it (old files null-fill); a
    * `VERSION AS OF` pin below the evolve commit still reads the
    * pre-evolution shape. Drops, renames, repositioning, and narrowing
    * casts refuse loudly — those are rewrites, not metadata commits. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootOf(ident).getOrElse(throw new NoSuchTableException(ident))
    val spark = SparkSession.active
    val mappingDdl = changes.collect {
      case c: TableChange.RenameColumn => c
      case c: TableChange.DeleteColumn => c
    }
    if (mappingDdl.nonEmpty) {
      // RENAME/DROP COLUMN: metadata-only via column mapping — one
      // change per evolve commit (SQL sends them one at a time)
      require(changes.length == 1,
        "graftlake ALTER applies RENAME/DROP COLUMN as its own statement")
      require(SnapshotLake.currentVersion(root).isDefined,
        "graftlake RENAME/DROP COLUMN needs a committed version — the " +
          "mapping stamps the physical names files already use")
      mappingDdl.head match {
        case r: TableChange.RenameColumn =>
          require(r.fieldNames.length == 1,
            s"graftlake ALTER supports top-level columns only: ${
              r.fieldNames.mkString(".")}")
          SnapshotLake.renameColumn(spark, root, r.fieldNames.head, r.newName)
        case d: TableChange.DeleteColumn =>
          require(d.fieldNames.length == 1,
            s"graftlake ALTER supports top-level columns only: ${
              d.fieldNames.mkString(".")}")
          SnapshotLake.dropColumn(spark, root, d.fieldNames.head)
      }
    } else if (SnapshotLake.currentVersion(root).isEmpty) {
      // managed table before its first commit: evolve the declared
      // schema marker itself — there is no version to anchor a commit to
      val cur = declaredSchema(ident).getOrElse(new StructType())
      val evolved = applyChanges(cur, changes)
      Files.write(dirOf(ident).resolve("_schema.json"),
        evolved.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } else {
      SnapshotLake.evolveSchema(spark, root,
        applyChanges(SnapshotLake.schemaAt(root), changes))
    }
    load(ident, None)
  }

  /** Fold supported [[TableChange]]s over a schema: AddColumn (top-level,
    * nullable — old files must null-fill it) and widening
    * UpdateColumnType; everything else refuses with the reason. */
  private def applyChanges(schema: StructType,
                           changes: Seq[TableChange]): StructType =
    changes.foldLeft(schema) {
      case (s, add: TableChange.AddColumn) =>
        require(add.fieldNames.length == 1,
          s"graftlake ALTER supports top-level columns only: ${
            add.fieldNames.mkString(".")}")
        require(!s.fieldNames.contains(add.fieldNames.head),
          s"column '${add.fieldNames.head}' already exists")
        require(add.isNullable,
          s"added column '${add.fieldNames.head}' must be nullable — " +
            "files written before the evolution null-fill it")
        val nf = org.apache.spark.sql.types.StructField(
          add.fieldNames.head, add.dataType, nullable = true)
        // on a MAPPED schema a new column gets a fresh physical name, so
        // re-adding a dropped column's name can't resurface its old data
        s.add(if (SnapshotLake.isMapped(s)) SnapshotLake.stampFresh(nf) else nf)
      case (s, upd: TableChange.UpdateColumnType) =>
        require(upd.fieldNames.length == 1,
          s"graftlake ALTER supports top-level columns only: ${
            upd.fieldNames.mkString(".")}")
        org.apache.spark.sql.types.StructType(s.fields.map { f =>
          if (f.name == upd.fieldNames.head) f.copy(dataType = upd.newDataType)
          else f
        }) // widening is validated by evolveSchema against the old type
      case (_, other) => throw new UnsupportedOperationException(
        s"graftlake ALTER supports ADD COLUMN and widening ALTER COLUMN " +
          s"TYPE only; ${other.getClass.getSimpleName} is a rewrite, " +
          "not a metadata commit")
    }

  /** `ALTER TABLE … RENAME TO …` — an atomic directory move: a managed
    * table's lake lives in its identifier directory and moves with it;
    * an external table moves only its `_location.json` pointer (the
    * lake stays where LOCATION put it — the same split as DROP). No
    * manifest is touched, so every pinned version, tag, and sidecar
    * survives the rename verbatim. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val from = dirOf(oldIdent)
    val to = dirOf(newIdent)
    Files.createDirectories(to.getParent)
    Files.move(from, to, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  // ── CALL procedures: the table-maintenance ops as SQL ──────────────
  //    (the Iceberg `CALL catalog.system.<proc>` surface):
  //      CALL graft.system.restore(table => 'ns.t', version => 2)
  //      CALL graft.system.vacuum(table => 'ns.t', keep_versions => 3)
  //      CALL graft.system.compact(table => 'ns.t', partitions => 4)
  //      CALL graft.system.history(table => 'ns.t')
  //    Each resolves the table like any read, runs the corresponding
  //    SnapshotLake op, and returns its result rows as a LocalScan.

  private def identOf(table: String): Identifier = {
    val parts = table.split('.')
    Identifier.of(parts.dropRight(1), parts.last)
  }

  private def tableRoot(table: String): String =
    rootOf(identOf(table)).getOrElse(
      throw new NoSuchTableException(identOf(table)))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftLakeCatalog.ProcNames.map(Identifier.of(Array("system"), _))
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")) &&
      GraftLakeCatalog.ProcNames.contains(ident.name),
      s"unknown graftlake procedure $ident (have: system.${
        GraftLakeCatalog.ProcNames.mkString(", system.")})")
    new GraftLakeProcedure(ident.name, tableRoot)
  }
}

object GraftLakeCatalog {
  private[sources] val ProcNames =
    Array("restore", "vacuum", "compact", "compact_zorder", "history")
}

/** One metadata table (`<table>.history` / `<table>.files` /
  * `<table>.detail`), resolved entirely from manifest metadata as a
  * driver-local scan; `versionAsOf` pins files/detail to a version's
  * inventory and truncates history to commits at-or-below it. */
final class GraftLakeMetaTable(root: String, kind: String,
                               versionAsOf: Option[Long] = None)
    extends Table with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  override def name(): String = s"graftlake:$root.$kind"

  override def schema(): StructType = kind match {
    case "history" => GraftLakeMetaTable.HistorySchema
    case "files" => GraftLakeMetaTable.FilesSchema
    case "detail" => GraftLakeMetaTable.DetailSchema
  }

  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)

  private def inventory(v: Long): Seq[(String, Long, Option[Long])] = {
    val idx = graft.etl.LakeIndex.of(root, v)
    idx.files.map(f => (f, idx.length(f), idx.rows.get(f)))
  }

  private def rows(): Array[InternalRow] = kind match {
    case "history" =>
      SnapshotLake.history(root)
        .filter(ci => versionAsOf.forall(ci.version <= _)).map { ci =>
        new GenericInternalRow(Array[Any](ci.version,
          UTF8String.fromString(ci.op), ci.base,
          ci.tag.map(UTF8String.fromString).orNull, ci.nFiles, ci.rows))
          : InternalRow
      }.toArray
    case "files" =>
      val v = versionAsOf.orElse(SnapshotLake.currentVersion(root))
        .getOrElse(return Array.empty)
      inventory(v).map { case (f, bytes, nRows) =>
        new GenericInternalRow(Array[Any](UTF8String.fromString(f),
          bytes, nRows.map(Long.box).orNull)): InternalRow
      }.toArray
    case "detail" =>
      val v = versionAsOf.orElse(SnapshotLake.currentVersion(root))
        .getOrElse(return Array.empty)
      val inv = inventory(v)
      // an emptied version (delete-all) still has its declared schema
      val schemaStr = SnapshotLake.schemaOf(root, Some(v)).simpleString
      Array(new GenericInternalRow(Array[Any](
        UTF8String.fromString(root), v, inv.size.toLong,
        inv.iterator.map(_._2).sum,
        if (inv.forall(_._3.isDefined)) Long.box(inv.iterator.flatMap(_._3).sum)
        else null,
        SnapshotLake.deletesOf(root, v).size.toLong,
        UTF8String.fromString(schemaStr))))
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new org.apache.spark.sql.connector.read.LocalScan {
      // resolved at SCAN time, so a re-run of a cached plan sees the
      // lake's current state like any metadata query would
      private val out = GraftLakeMetaTable.this.rows()
      override def readSchema(): StructType = schema()
      override def rows(): Array[InternalRow] = out
      override def description(): String = name()
    }
}

object GraftLakeMetaTable {
  private[sources] val Names = Set("history", "files", "detail")
  import org.apache.spark.sql.types._
  private[sources] val HistorySchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("base", LongType, nullable = false),
    StructField("tag", StringType, nullable = true),
    StructField("n_files", IntegerType, nullable = false),
    StructField("added_rows", LongType, nullable = false)))
  private[sources] val FilesSchema = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("rows", LongType, nullable = true)))
  private[sources] val DetailSchema = StructType(Seq(
    StructField("location", StringType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("total_bytes", LongType, nullable = false),
    StructField("total_rows", LongType, nullable = true),
    StructField("n_delete_files", LongType, nullable = false),
    StructField("schema_string", StringType, nullable = false)))
}

/** One maintenance procedure, bound by name. `call` runs the lake op
  * and returns its summary (or, for `history`, the full commit log) as
  * a [[org.apache.spark.sql.connector.read.LocalScan]]. */
final class GraftLakeProcedure(pname: String, tableRoot: String => String)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  override def name(): String = pname
  override def description(): String = s"graftlake table maintenance: $pname"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  private def p(n: String, dt: DataType) = ProcedureParameter.in(n, dt).build()

  override def parameters(): Array[ProcedureParameter] = pname match {
    case "restore" => Array(p("table", StringType), p("version", LongType))
    case "vacuum" => Array(p("table", StringType), p("keep_versions", IntegerType))
    case "compact" => Array(p("table", StringType), p("partitions", IntegerType))
    case "compact_zorder" => Array(p("table", StringType),
      p("col_a", StringType), p("col_b", StringType),
      p("partitions", IntegerType))
    case "history" => Array(p("table", StringType))
  }

  private final case class ResultScan(schema: StructType,
                                      out: Array[InternalRow])
      extends org.apache.spark.sql.connector.read.LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = out
    override def description(): String = s"graftlake $pname result"
  }

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val root = tableRoot(input.getUTF8String(0).toString)
    val scan: Scan = pname match {
      case "restore" =>
        val toV = input.getLong(1)
        val rv = graft.etl.SnapshotLake.restore(root, toV)
        ResultScan(
          StructType(Seq(StructField("restored_to", LongType, nullable = false),
            StructField("new_version", LongType, nullable = false))),
          Array(new GenericInternalRow(Array[Any](toV, rv))))
      case "vacuum" =>
        graft.etl.SnapshotLake.vacuum(root, input.getInt(1))
        ResultScan(
          StructType(Seq(StructField("kept_versions", IntegerType, nullable = false))),
          Array(new GenericInternalRow(Array[Any](input.getInt(1)))))
      case "compact" =>
        val v = graft.etl.SnapshotLake.compact(spark, root, input.getInt(1))
        ResultScan(
          StructType(Seq(StructField("new_version", LongType, nullable = false))),
          Array(new GenericInternalRow(Array[Any](v))))
      case "compact_zorder" =>
        // OPTIMIZE ... ZORDER BY (a, b): rewrite along the Morton curve
        // with min/max harvested on both dimensions, so 2-D box
        // predicates prune at the file level afterwards
        val a = input.getUTF8String(1).toString
        val b = input.getUTF8String(2).toString
        val v = graft.etl.SnapshotLake.compactZOrder(spark, root, a, b,
          input.getInt(3), graft.etl.SnapshotLake.IndexSpec(Seq(a, b), None))
        ResultScan(
          StructType(Seq(StructField("new_version", LongType, nullable = false))),
          Array(new GenericInternalRow(Array[Any](v))))
      case "history" =>
        val rows = graft.etl.SnapshotLake.history(root).map { ci =>
          new GenericInternalRow(Array[Any](ci.version,
            UTF8String.fromString(ci.op), ci.base,
            ci.tag.map(UTF8String.fromString).orNull, ci.nFiles, ci.rows))
            : InternalRow
        }
        ResultScan(
          StructType(Seq(StructField("version", LongType, nullable = false),
            StructField("op", StringType, nullable = false),
            StructField("base", LongType, nullable = false),
            StructField("tag", StringType, nullable = true),
            StructField("n_files", IntegerType, nullable = false),
            StructField("added_rows", LongType, nullable = false))),
          rows.toArray)
    }
    java.util.Collections.singletonList(scan).iterator()
  }
}
