package graft.etl

import java.nio.file.{Files, Paths}
import java.util.Base64

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** File-level data-skipping indexes for [[SnapshotLake]] — the
  * manifest-adjacent statistics Iceberg/Delta keep so a selective reader
  * can drop most FILES from the listing before the scan even plans (the
  * level above parquet's own row-group pruning, which still has to open
  * every footer; at 100 TB with millions of files, opening footers IS
  * the bottleneck the file-level index removes).
  *
  * Two index kinds, both stored as small JSON sidecars inside the commit
  * directory they describe (`data/<uuid>/_stats.json`,
  * `data/<uuid>/_bloom_<col>.json`), written BEFORE the manifest link
  * that makes the commit visible — so any reader that can resolve a file
  * can resolve its index, with no change to the CAS commit protocol:
  *
  *   - MIN/MAX per (file, column), harvested from the parquet FOOTERS the
  *     writer already maintains — a metadata-only pass, no data read, and
  *     distributed over the executors (O(files) footer opens, once at
  *     commit time instead of once per query per reader).
  *   - BLOOM per (file, key column), for point lookups min/max can't
  *     serve on high-cardinality keys. This one costs a column-pruned
  *     scan of the NEW files only — the same build cost Delta documents
  *     for its bloom index.
  *
  * Pruning is CONSERVATIVE by construction: a file is dropped only when
  * its index proves no matching row can exist (range disjoint, or bloom
  * definitely-absent for every probe); files without an index are always
  * kept. So a pruned read returns exactly the rows of the full read — the
  * oracle-checkable contract (q219/q220/q221) — and the index is purely a
  * performance lever, never a correctness input.
  */
object FileStats {

  /** min/max of one column in one file, as the JSON-storable string form
    * of the column's logical type (numbers for numeric, raw text for
    * UTF-8). `nulls` is the column's TOTAL null count across the file
    * when every row group reported one (`None` = unknown — older
    * sidecars, or a row group without the field): the witness
    * [[graft.etl.SnapshotLake.deleteMatching]]'s whole-file-drop fast
    * path needs, because "every row is inside the predicate range" is
    * only provable from min/max when NO row is NULL (a NULL never
    * matches a range predicate, so dropping a file that holds one would
    * delete a row the predicate kept). Unknown ⇒ never whole-dropped —
    * conservative, like every other use of these stats. */
  final case class ColRange(min: String, max: String, numeric: Boolean,
                            nulls: Option[Long] = None)

  /** Compare two harvested string bounds the way the footer min/max were
    * COMPUTED — unsigned UTF-8 byte order (parquet BINARY/UTF8, the same
    * ordering Spark and DuckDB give UTF8String comparisons). Java's
    * `String.compareTo` is UTF-16 code-unit order, which DIVERGES for
    * supplementary-plane code points (surrogate pairs 0xD800.. sort
    * BELOW U+E000..U+FFFF in UTF-16 but ABOVE them in UTF-8), so using
    * it here would make pruning non-conservative: a file whose only
    * value is U+10000 has a byte-order max ABOVE a predicate
    * lo = U+E000 but a UTF-16 max below it, and the file would be
    * silently dropped while its row matches. Byte-wise unsigned compare
    * restores the harvest's own ordering, keeping the prune conservative
    * for any code point. */
  private[graft] def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  // ── footer harvest ──────────────────────────────────────────────────

  /** Everything one footer pass yields for one file: min/max per
    * harvested column, plus the file's total row count (all row
    * groups) — so a commit needing both stats AND row counts (bloom
    * sizing, manifest `addedRows`) opens each footer exactly once. */
  final case class FileMeta(ranges: Map[String, ColRange], rows: Long)

  /** Read min/max for `cols` AND the row count from the footers of
    * `relFiles` (paths relative to `root`), distributed over the
    * executors — one footer open per file total, never one per purpose,
    * and never serialized on the driver (a thousand-file commit harvests
    * in parallel). Columns a footer lacks statistics for are absent
    * (⇒ never pruned on). */
  def harvest(spark: SparkSession, root: String, relFiles: Seq[String],
              cols: Seq[String]): Map[String, FileMeta] = {
    val rootAbs = Paths.get(root).toAbsolutePath.toString
    val colSet = cols.toSet
    spark.sparkContext
      .parallelize(relFiles, math.max(1, math.min(relFiles.size, 32)))
      .map { rel =>
        val conf = new Configuration()
        val in = HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$rootAbs/$rel"), conf)
        val reader = ParquetFileReader.open(in)
        try {
          val ranges = scala.collection.mutable.Map.empty[String, ColRange]
          // Per-column null totals, accumulated across EVERY row group —
          // independently of the range merge, because an all-null chunk
          // contributes no min/max yet its nulls must still count (they
          // are exactly the rows a whole-file range proof would lose).
          // One chunk without the field poisons the column to unknown
          // (None), the conservative direction.
          val nulls = scala.collection.mutable.Map.empty[String, Option[Long]]
          var rows = 0L
          for (block <- reader.getFooter.getBlocks.asScala) {
            rows += block.getRowCount
            for (chunk <- block.getColumns.asScala) {
              val name = chunk.getPath.toDotString
              if (colSet.contains(name)) {
                val st = chunk.getStatistics
                val chunkNulls =
                  if (st != null && st.isNumNullsSet) Some(st.getNumNulls)
                  else None
                nulls(name) = (nulls.getOrElse(name, Some(0L)), chunkNulls) match {
                  case (Some(a), Some(b)) => Some(a + b)
                  case _ => None
                }
                // hasNonNullValue ⇔ the min/max are real values; an all-null
                // or stats-less chunk contributes no range (conservative).
                // Safety note for BINARY: parquet-mr's chunk-level Statistics
                // are EXACT-OR-ABSENT — oversized string min/max are dropped
                // entirely (truncation exists only in column indexes, which
                // this reader never consults) — so a harvested string range
                // can never understate the file and cause a false prune.
                if (st != null && st.hasNonNullValue) {
                  val pt = chunk.getPrimitiveType
                  rangeOf(pt.getPrimitiveTypeName, st.genericGetMin, st.genericGetMax)
                    .map(inMicros(pt, _)).foreach { r =>
                    ranges(name) = ranges.get(name).fold(r)(merge(_, r))
                  }
                }
              }
            }
          }
          val withNulls = ranges.toMap.map { case (c, r) =>
            c -> r.copy(nulls = nulls.getOrElse(c, None))
          }
          rel -> FileMeta(withNulls, rows)
        } finally reader.close()
      }
      .collect().toMap
  }

  private def rangeOf(tpe: PrimitiveTypeName, min: Any,
                      max: Any): Option[ColRange] = tpe match {
    case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 |
         PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE =>
      Some(ColRange(min.toString, max.toString, numeric = true))
    case PrimitiveTypeName.BINARY =>
      (min, max) match {
        case (a: Binary, b: Binary) =>
          Some(ColRange(a.toStringUsingUTF8, b.toStringUsingUTF8,
            numeric = false))
        case _ => None
      }
    case _ => None // INT96 / FIXED / BOOLEAN: no pruning support
  }

  /** A timestamp chunk's range in epoch MICROS whatever unit its writer
    * chose (a session may write `TIMESTAMP_MILLIS`): micros are Spark's
    * internal timestamp value, the unit the connector converts pushed
    * timestamp literals to, so every timestamp sidecar must hold them.
    * MILLIS scale up exactly; every other column passes through. */
  private def inMicros(pt: PrimitiveType, r: ColRange): ColRange =
    pt.getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
          if t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS =>
        r.copy(min = (r.min.toLong * 1000L).toString,
          max = (r.max.toLong * 1000L).toString)
      case _ => r
    }

  /** Numeric compare of two harvested bound strings WITHOUT a lossy
    * Double round-trip: BigDecimal on the original strings, so an INT64
    * bound above 2^53 keeps its exact value through every cross-row-group
    * merge (a Double fold could round a true max DOWN, making two
    * overlapping files look disjoint — the unsafe direction for the NDV
    * combiner's exact-sum path). Doubles fall back to Double compare for
    * the non-decimal forms BigDecimal rejects (Infinity; parquet-mr
    * excludes NaN from stats). */
  private[graft] def numCmp(a: String, b: String): Int =
    try new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    catch {
      case _: NumberFormatException =>
        java.lang.Double.compare(a.toDouble, b.toDouble)
    }

  private[etl] def merge(a: ColRange, b: ColRange): ColRange = {
    require(a.numeric == b.numeric)
    if (a.numeric) // keep the ORIGINAL strings — no precision ever lost
      ColRange(if (numCmp(a.min, b.min) <= 0) a.min else b.min,
        if (numCmp(a.max, b.max) >= 0) a.max else b.max, numeric = true)
    else // string bounds combine under the harvest's own UTF-8 byte order
      ColRange(if (utf8Cmp(a.min, b.min) <= 0) a.min else b.min,
        if (utf8Cmp(a.max, b.max) >= 0) a.max else b.max, numeric = false)
  }

  // ── sidecar IO (commit-dir local, written before the manifest link) ──

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      // braces escape to \uXXXX (legal JSON) so data values can never
      // confuse the sidecar reader's brace-delimited parse
      case c if c < ' ' || c == '{' || c == '}' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s(i) == '\\' && i + 1 < s.length) s(i + 1) match {
        case 'u' => sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
        case c => sb.append(c); i += 2
      } else { sb.append(s(i)); i += 1 }
    }
    sb.toString
  }

  /** `data/<uuid>` directory of a manifest-relative file path. */
  private def commitDirOf(rel: String): String =
    rel.substring(0, rel.lastIndexOf('/'))

  def writeStatsSidecar(root: String,
                        stats: Map[String, Map[String, ColRange]]): Unit =
    stats.groupBy { case (rel, _) => commitDirOf(rel) }.foreach {
      case (dir, perFile) =>
        val json = perFile.toSeq.sortBy(_._1).map { case (rel, cols) =>
          val fields = cols.toSeq.sortBy(_._1).map { case (c, r) =>
            val nf = r.nulls.map(n => s""","nulls":$n""").getOrElse("")
            s""""${esc(c)}":{"min":"${esc(r.min)}","max":"${esc(r.max)}","num":${r.numeric}$nf}"""
          }.mkString(",")
          s""""${esc(rel.substring(rel.lastIndexOf('/') + 1))}":{$fields}"""
        }.mkString("{", ",", "}")
        Files.writeString(Paths.get(root, dir, "_stats.json"), json)
        ()
    }

  // ── parsed-sidecar cache ────────────────────────────────────────────
  //    A commit directory's sidecars are written BEFORE the manifest
  //    link that makes its files visible and never change afterwards
  //    (rewrites land in fresh dirs; clones hardlink under a new root),
  //    so (root, dir[, col]) keys an immutable value — UNLESS the whole
  //    lake is deleted and recreated at the same root, where commit-dir
  //    names can recur (streaming epoch dirs `stream-<id>-e<N>`,
  //    synthetic `cNNNNN` dirs). Each read therefore validates the
  //    cached parse against the sidecar FILE's (mtime, size, fileKey)
  //    fingerprint — the stat replaces the existence check the readers
  //    already paid, so validation costs nothing extra. Soft references:
  //    under memory pressure entries reload. At a million files this is
  //    the difference between an O(files) JSON re-parse per QUERY and
  //    per PROCESS — the per-query planning wall the ManifestCeiling
  //    measurement surfaced. Absence is NOT cached (the existence check
  //    is O(1) and costs nothing to repeat).
  private val sidecarCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String),
    java.lang.ref.SoftReference[((Long, Long, String), AnyRef)]]()

  /** Drop every cached sidecar parse under `root` — called by
    * [[SnapshotLake]] when its resolve fingerprint detects a
    * delete-and-recreate of the lake. */
  private[graft] def invalidateRoot(root: String): Unit = {
    val it = sidecarCache.keys()
    while (it.hasMoreElements) {
      val k = it.nextElement()
      if (k._1 == root) sidecarCache.remove(k)
    }
  }

  private def cachedSidecar[A <: AnyRef](root: String, dir: String,
                                         kind: String, file: java.nio.file.Path,
                                         empty: A)(load: => A): A = {
    val fp =
      try {
        val a = Files.readAttributes(file,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        (a.lastModifiedTime.toMillis, a.size,
          Option(a.fileKey).map(_.toString).getOrElse(""))
      } catch { case _: java.io.IOException => null }
    if (fp == null) return empty
    val k = (root, dir, kind)
    Option(sidecarCache.get(k)).flatMap(r => Option(r.get())) match {
      case Some((f, v)) if f == fp => v.asInstanceOf[A]
      case _ =>
        val v = load
        sidecarCache.put(k, new java.lang.ref.SoftReference(
          ((fp, v): ((Long, Long, String), AnyRef))))
        v
    }
  }

  /** Stats for the files of one commit dir, keyed by manifest-relative
    * path. Empty when the commit carries no sidecar (pre-index commits —
    * their files are never pruned). */
  def readStatsSidecar(root: String, dir: String): Map[String, Map[String, ColRange]] = {
    val p = Paths.get(root, dir, "_stats.json")
    cachedSidecar(root, dir, "stats", p,
      Map.empty[String, Map[String, ColRange]])(
      readStatsSidecarUncached(root, dir))
  }

  private def readStatsSidecarUncached(root: String,
                                       dir: String): Map[String, Map[String, ColRange]] = {
    val p = Paths.get(root, dir, "_stats.json")
    val json = Files.readString(p)
    // parse of our own writer's format (the "nulls" field is optional —
    // round-11/12 sidecars lack it and read back as unknown):
    // {"file":{"col":{"min":"..","max":"..","num":b[,"nulls":n]},..},..}
    val fileRe = """"((?:[^"\\]|\\.)*)":\{((?:[^{}]|\{[^{}]*\})*)\}""".r
    val colRe = """"((?:[^"\\]|\\.)*)":\{"min":"((?:[^"\\]|\\.)*)","max":"((?:[^"\\]|\\.)*)","num":(true|false)(?:,"nulls":(\d+))?\}""".r
    fileRe.findAllMatchIn(json).map { fm =>
      val cols = colRe.findAllMatchIn(fm.group(2)).map { cm =>
        unesc(cm.group(1)) -> ColRange(unesc(cm.group(2)), unesc(cm.group(3)),
          cm.group(4) == "true", Option(cm.group(5)).map(_.toLong))
      }.toMap
      s"$dir/${unesc(fm.group(1))}" -> cols
    }.toMap
  }

  // ── row-count sidecar (metadata-only aggregates) ────────────────────

  /** Per-file ROW COUNTS as a commit-dir sidecar (`_rows.json`) — written
    * by every [[SnapshotLake]] commit from the same footer pass that
    * already produced the manifest's `addedRows`, so it costs nothing
    * extra. This is what makes `SELECT count(*)` a METADATA-ONLY query at
    * any version ([[SnapshotLake.fastCount]]): the Delta/Iceberg
    * numRecords trick — at 100 TB a full count opens zero data files.
    * Commits from before this sidecar existed read back absent, and every
    * metadata-only consumer falls back to a real scan (conservative). */
  def writeRowsSidecar(root: String, rows: Map[String, Long]): Unit =
    rows.groupBy { case (rel, _) => commitDirOf(rel) }.foreach {
      case (dir, perFile) =>
        val json = perFile.toSeq.sortBy(_._1).map { case (rel, n) =>
          s""""${esc(rel.substring(rel.lastIndexOf('/') + 1))}":$n"""
        }.mkString("{", ",", "}")
        Files.writeString(Paths.get(root, dir, "_rows.json"), json)
        ()
    }

  /** Row counts of one commit dir, keyed by manifest-relative path;
    * empty when the commit carries no `_rows.json`. */
  def readRowsSidecar(root: String, dir: String): Map[String, Long] = {
    val p = Paths.get(root, dir, "_rows.json")
    cachedSidecar(root, dir, "rows", p, Map.empty[String, Long]) {
      val json = Files.readString(p)
      val entryRe = """"((?:[^"\\]|\\.)*)":(\d+)""".r
      entryRe.findAllMatchIn(json).map { m =>
        s"$dir/${unesc(m.group(1))}" -> m.group(2).toLong
      }.toMap
    }
  }

  // ── byte-size sidecar (planning without per-file stat calls) ────────

  /** Per-file BYTE SIZES as a commit-dir sidecar (`_bytes.json`) —
    * written at commit time from O(new files) local stat calls, so a
    * reader planning over a million-file lake never issues a million
    * `Files.size` calls (on object storage: a million HEAD requests —
    * Delta and Iceberg both record the size in the log for exactly this
    * reason). Pre-sidecar commits read back absent and the planner
    * falls back to stat-on-demand, per file. */
  def writeBytesSidecar(root: String, bytes: Map[String, Long]): Unit =
    bytes.groupBy { case (rel, _) => commitDirOf(rel) }.foreach {
      case (dir, perFile) =>
        writeBytesSidecarInto(Paths.get(root, dir), perFile.map {
          case (rel, n) => rel.substring(rel.lastIndexOf('/') + 1) -> n
        })
    }

  /** The same sidecar written straight into `dir` with BARE file names
    * as keys — for builders that stage a directory elsewhere and rename
    * it into place (the CDC materializer), where the final
    * manifest-relative prefix isn't the staging path. */
  def writeBytesSidecarInto(dir: java.nio.file.Path,
                            sizes: Map[String, Long]): Unit = {
    val json = sizes.toSeq.sortBy(_._1).map { case (name, n) =>
      s""""${esc(name)}":$n"""
    }.mkString("{", ",", "}")
    Files.writeString(dir.resolve("_bytes.json"), json)
    ()
  }

  /** Byte sizes of one commit dir, keyed by manifest-relative path;
    * empty when the commit predates the sidecar. */
  def readBytesSidecar(root: String, dir: String): Map[String, Long] = {
    val p = Paths.get(root, dir, "_bytes.json")
    cachedSidecar(root, dir, "bytes", p, Map.empty[String, Long]) {
      val json = Files.readString(p)
      val entryRe = """"((?:[^"\\]|\\.)*)":(\d+)""".r
      entryRe.findAllMatchIn(json).map { m =>
        s"$dir/${unesc(m.group(1))}" -> m.group(2).toLong
      }.toMap
    }
  }

  // ── range pruning ───────────────────────────────────────────────────

  /** An inclusive range predicate on one column; `None` bounds are open.
    * Values compare numerically when the harvested stats are numeric,
    * lexically for strings (parquet BINARY/UTF8 ordering — the same
    * ordering the footer min/max were computed under). */
  final case class Range(col: String, lo: Option[String], hi: Option[String])

  /** True iff the file MAY contain a row satisfying ALL of `preds` —
    * i.e. every predicate's range intersects the file's [min,max] for
    * that column. Missing stats for a column ⇒ true (conservative). */
  def mayMatch(stats: Map[String, ColRange], preds: Seq[Range]): Boolean =
    preds.forall { p =>
      stats.get(p.col).forall { r =>
        def ge(a: String, b: String) =
          if (r.numeric) a.toDouble >= b.toDouble else utf8Cmp(a, b) >= 0
        p.lo.forall(lo => ge(r.max, lo)) && p.hi.forall(hi => ge(hi, r.min))
      }
    }

  // ── bloom sidecars ──────────────────────────────────────────────────

  /** Build one bloom per file over `col` (long or string key) by a
    * column-pruned scan of `relFiles`, and write the per-commit-dir
    * sidecars. `expectedPerFile` sizes each filter; `fpp` is the target
    * false-positive rate (false positives cost a wasted file read, never
    * correctness). */
  def buildBloomSidecars(spark: SparkSession, root: String,
                         relFiles: Seq[String], col: String,
                         expectedPerFile: Long, fpp: Double): Unit = {
    import spark.implicits._
    val rootAbs = Paths.get(root).toAbsolutePath.toString
    val paths = relFiles.map(f => s"$rootAbs/$f")
    // longs and strings key the bloom through their canonical string form
    // on BOTH build and probe side, so the representation is consistent
    val perFile = spark.read.parquet(paths: _*)
      .select(input_file_name().as("file"),
        org.apache.spark.sql.functions.col(col).cast("string"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroups { (file, it) =>
        val bf = BloomFilter.create(expectedPerFile, fpp)
        it.foreach { case (_, v) => if (v != null) bf.putString(v) }
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (file, Base64.getEncoder.encodeToString(bos.toByteArray))
      }
      .collect()
    val byRel = perFile.toSeq.map { case (uri, b64) =>
      val abs = new java.net.URI(uri).getPath // input_file_name is a URI
      abs.stripPrefix(rootAbs).stripPrefix("/") -> b64
    }
    byRel.groupBy { case (rel, _) => commitDirOf(rel) }.foreach {
      case (dir, entries) =>
        val json = entries.sortBy(_._1).map { case (rel, b64) =>
          s""""${esc(rel.substring(rel.lastIndexOf('/') + 1))}":"$b64""""
        }.mkString("{", ",", "}")
        Files.writeString(Paths.get(root, dir, s"_bloom_$col.json"), json)
        ()
    }
  }

  // ── ndv sidecars (planner column statistics) ────────────────────────

  /** Exact per-(file, column) distinct-value counts, written as a
    * commit-dir sidecar (`_ndv.json`) — the third statistics level a
    * cost-based planner needs next to min/max and null counts:
    * Catalyst's FilterEstimation refuses to estimate a predicate's
    * selectivity unless the column carries BOTH min/max AND a distinct
    * count (`evaluateBinaryForNumeric` guards on `hasMinMaxStats &&
    * hasDistinctCount`), so without a distinct count the connector's
    * reported statistics can never shrink a Filter's cardinality and
    * CBO-driven join planning stays size-only. Build cost: one
    * column-pruned scan of the NEW files only — the same cost class as
    * the bloom index (Iceberg pays it in Puffin theta-sketch files,
    * Delta in ANALYZE TABLE) — opt-in per commit via
    * [[graft.etl.SnapshotLake.IndexSpec]]. Counts exclude NULLs,
    * matching Catalyst's ColumnStat convention. */
  def buildNdvSidecars(spark: SparkSession, root: String,
                       relFiles: Seq[String], cols: Seq[String]): Unit = {
    val rootAbs = Paths.get(root).toAbsolutePath.toString
    val paths = relFiles.map(f => s"$rootAbs/$f")
    val aggs = cols.map(c =>
      countDistinct(org.apache.spark.sql.functions.col(c)).as(c))
    val rows = spark.read.parquet(paths: _*)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per NEW file of this commit — never data mass
    val byRel: Seq[(String, Map[String, Long])] = rows.toSeq.map { r =>
      val abs = new java.net.URI(r.getString(0)).getPath
      val rel = abs.stripPrefix(rootAbs).stripPrefix("/")
      rel -> cols.zipWithIndex.map { case (c, i) => c -> r.getLong(i + 1) }.toMap
    }
    byRel.groupBy { case (rel, _) => commitDirOf(rel) }.foreach {
      case (dir, entries) =>
        val json = entries.sortBy(_._1).map { case (rel, m) =>
          val fields = m.toSeq.sortBy(_._1)
            .map { case (c, n) => s""""${esc(c)}":$n""" }.mkString(",")
          s""""${esc(rel.substring(rel.lastIndexOf('/') + 1))}":{$fields}"""
        }.mkString("{", ",", "}")
        Files.writeString(Paths.get(root, dir, "_ndv.json"), json)
        ()
    }
  }

  /** NDVs of one commit dir, keyed by manifest-relative path; empty when
    * the commit carries no `_ndv.json` (⇒ no distinct-count statistics
    * for its files — the planner falls back to size-only estimates). */
  def readNdvSidecar(root: String, dir: String): Map[String, Map[String, Long]] = {
    val p = Paths.get(root, dir, "_ndv.json")
    cachedSidecar(root, dir, "ndv", p, Map.empty[String, Map[String, Long]]) {
      val json = Files.readString(p)
      val fileRe = """"((?:[^"\\]|\\.)*)":\{([^{}]*)\}""".r
      val colRe = """"((?:[^"\\]|\\.)*)":(\d+)""".r
      fileRe.findAllMatchIn(json).map { fm =>
        val cols = colRe.findAllMatchIn(fm.group(2)).map { cm =>
          unesc(cm.group(1)) -> cm.group(2).toLong
        }.toMap
        s"$dir/${unesc(fm.group(1))}" -> cols
      }.toMap
    }
  }

  /** Blooms of one commit dir for `col`, keyed by manifest-relative path;
    * empty when absent (⇒ no pruning for that commit's files). */
  def readBloomSidecar(root: String, dir: String,
                       col: String): Map[String, BloomFilter] = {
    // deliberately NOT cached: blooms are megabytes per file (unlike the
    // other sidecars' small maps) and only consulted on point lookups —
    // holding them soft-referenced measurably raised suite-wide GC
    val p = Paths.get(root, dir, s"_bloom_$col.json")
    if (!Files.exists(p)) return Map.empty
    val json = Files.readString(p)
    val entryRe = """"((?:[^"\\]|\\.)*)":"([A-Za-z0-9+/=]*)"""".r
    entryRe.findAllMatchIn(json).map { m =>
      val bf = BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(Base64.getDecoder.decode(m.group(2))))
      s"$dir/${unesc(m.group(1))}" -> bf
    }.toMap
  }
}
