package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}

/** The file index of one lake VERSION — the one place the lake's
  * listing-level pruning reads its metadata from: stats ranges (composed
  * with the path-encoded partition tuples of hive-partitioned commits,
  * so partition pruning and stats pruning are one mechanism), row
  * counts, byte sizes, NDVs, and the sets of stats-indexed and
  * path-tuple columns, all keyed by manifest-relative path and PHYSICAL
  * column name. The connector scan, its filtered-count pushdown, merge
  * and delete targeting, [[SnapshotLake.readPruned]] and
  * [[SnapshotLake.statsRange]] all prune from it.
  *
  * Memoized per (root, version) under soft references: a version's file
  * list and its commit dirs' sidecars are immutable once visible, and
  * rebuilding these maps dominated the residual per-plan driver time at
  * a million files (ManifestCeiling). The first use of a version pays
  * the build; every later one plans from the cached maps. */
final case class LakeIndex(
    root: String,
    files: Seq[String],
    composed: Map[String, Map[String, FileStats.ColRange]],
    rows: Map[String, Long],
    bytes: Map[String, Long],
    ndv: Map[String, Map[String, Long]],
    statCols: Set[String],
    pathCols: Set[String]) {

  /** Whether file `f` may hold a row inside every range: conservative,
    * so a file without a range for a column is kept. */
  def mayMatch(f: String, ranges: Seq[FileStats.Range]): Boolean =
    FileStats.mayMatch(composed(f), ranges)

  /** The files of `among` (default: the version's listing) that may hold
    * a row inside every range. */
  def prune(ranges: Seq[FileStats.Range], among: Seq[String] = files): Seq[String] =
    if (ranges.isEmpty) among else among.filter(mayMatch(_, ranges))

  /** The files of `among` whose bloom sidecar on each probed column may
    * contain at least one of that column's probe values; a file without
    * a bloom is kept. Blooms are megabytes per file and consulted only by
    * point probes, so they are read per call, never held here. */
  def bloomKeep(probes: Seq[(String, Seq[String])], among: Seq[String]): Seq[String] =
    if (probes.isEmpty) among
    else {
      val byCol = probes.map(_._1).distinct.map { c =>
        c -> LakeIndex.perDir(root, among)(FileStats.readBloomSidecar(_, _, c))
      }.toMap
      among.filter { f =>
        probes.forall { case (c, vals) =>
          byCol(c).get(f).forall(bf => vals.exists(bf.mightContainString))
        }
      }
    }

  /** Byte length of `f`: from the commit-time `_bytes.json` sidecars,
    * stat-on-demand only for files the version's sidecars do not cover. */
  def length(f: String): Long =
    bytes.getOrElse(f, Files.size(Paths.get(root, f)))

  /** METADATA-ONLY (min, max) of physical column `col` over the
    * version's files — exact only when every file carries a range for
    * it (a file without stats could hold the true extreme), else None. */
  def range(col: String): Option[FileStats.ColRange] = {
    val rs = files.map(composed(_).get(col))
    if (rs.exists(_.isEmpty)) None
    else rs.flatten.reduceOption { (a, b) =>
      require(a.numeric == b.numeric, s"mixed numeric/string stats for $col")
      // numCmp, not toDouble: two exact INT64 bounds above 2^53 can tie
      // in double, and this fold's answer IS the metadata-only MIN/MAX
      def lt(x: String, y: String) =
        if (a.numeric) FileStats.numCmp(x, y) < 0
        else FileStats.utf8Cmp(x, y) < 0
      FileStats.ColRange(if (lt(b.min, a.min)) b.min else a.min,
        if (lt(a.max, b.max)) b.max else a.max, a.numeric,
        for (x <- a.nulls; y <- b.nulls) yield x + y)
    }
  }
}

object LakeIndex {
  private val NullPart = "__HIVE_DEFAULT_PARTITION__"

  private[etl] def dirOf(rel: String): String = rel.substring(0, rel.lastIndexOf('/'))

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), java.lang.ref.SoftReference[(SnapshotLake.VersionFp, LakeIndex)]]()

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
    String, (Long, SnapshotLake.VersionFp, LakeIndex)]()

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

  /** The index of a lake with no committed version: no files, no stats. */
  def empty(root: String): LakeIndex =
    LakeIndex(root, Nil, Map.empty.withDefaultValue(Map.empty),
      Map.empty, Map.empty, Map.empty, Set.empty, Set.empty)

  def of(root: String, v: Long): LakeIndex = {
    val k = (root, v)
    // the same version-file fingerprint resolve() validates with: a
    // recreated lake at this root can never be served the old index
    val fp = SnapshotLake.versionFingerprint(root, v)
    Option(strongMru.get(root)) match {
      case Some((mv, f, idx)) if mv == v && fp.contains(f) => return idx
      case _ => ()
    }
    def keep(idx: LakeIndex): Unit = fp.foreach { f =>
      strongMru.merge(root, (v, f, idx), (old, nw) => if (nw._1 >= old._1) nw else old)
      ()
    }
    Option(cache.get(k)).flatMap(r => Option(r.get())) match {
      case Some((f, idx)) if fp.contains(f) => keep(idx); idx
      case _ =>
        val idx = build(root, SnapshotLake.files(root, v), numericCols(root, v))
        fp.foreach(f => cache.put(k, new java.lang.ref.SoftReference((f, idx))))
        keep(idx)
        idx
    }
  }

  /** The stats sidecar entries of `files`' commit dirs (every file of
    * those dirs, keyed by manifest-relative path) — for files outside any
    * version, such as a staged batch. */
  def statsOf(root: String, files: Seq[String]): Map[String, Map[String, FileStats.ColRange]] =
    perDir(root, files)(FileStats.readStatsSidecar)

  /** One commit-dir sidecar kind for `files`, merged over their dirs. */
  private def perDir[A](root: String, files: Seq[String])(
      read: (String, String) => Map[String, A]): Map[String, A] =
    files.map(dirOf).distinct.flatMap(read(root, _)).toMap

  private def build(root: String, all: Seq[String], numeric: => Set[String]): LakeIndex = {
    val sidecars = statsOf(root, all)
    val pathIdx = pathRangeIndex(all, numeric)
    // unpartitioned lakes (empty path index) skip the per-file map
    // merge — at a million files the O(files) allocation is real time
    val composed: Map[String, Map[String, FileStats.ColRange]] =
      if (pathIdx.isEmpty) sidecars.withDefaultValue(Map.empty)
      else all.map(f => f -> (sidecars.getOrElse(f, Map.empty) ++
        pathIdx.getOrElse(f, Map.empty))).toMap
        .withDefaultValue(Map.empty) // same no-stats default as above
    LakeIndex(root, all, composed,
      perDir(root, all)(FileStats.readRowsSidecar),
      perDir(root, all)(FileStats.readBytesSidecar),
      perDir(root, all)(FileStats.readNdvSidecar),
      sidecars.valuesIterator.flatMap(_.keysIterator).toSet,
      pathIdx.valuesIterator.flatMap(_.keysIterator).toSet)
  }

  /** Row counts of `files` read from their commit dirs' `_rows.json` at
    * call time — what an answer COUNTED from metadata relies on, so a
    * file whose sidecar is gone is scanned instead, whatever a cached
    * index still holds. Each sidecar parse is cached by its own file
    * fingerprint, so a call costs one stat per commit dir. */
  def exactRows(root: String, files: Seq[String]): Map[String, Long] =
    perDir(root, files)(FileStats.readRowsSidecar)

  /** Byte lengths of arbitrary lake files (a commit's adds, a change
    * feed's files) from their dirs' `_bytes.json` sidecars, stat-on-demand
    * only for files no sidecar covers — planning never issues O(files)
    * stat (object-store HEAD) calls. */
  def lengths(root: String, files: Seq[String]): Map[String, Long] = {
    val bytes = perDir(root, files)(FileStats.readBytesSidecar)
    files.map(f => f -> bytes.getOrElse(f, Files.size(Paths.get(root, f)))).toMap
  }

  /** Inclusive ranges as the filters they mean: `lo` as `>=`, `hi` as
    * `<=`, and an unbounded range as IS NOT NULL (a NULL never matches a
    * range predicate). */
  def boundFilters(preds: Seq[FileStats.Range]): Seq[Filter] =
    preds.flatMap { p =>
      if (p.lo.isEmpty && p.hi.isEmpty) Seq(IsNotNull(p.col))
      else p.lo.map(GreaterThanOrEqual(p.col, _)).toSeq ++ p.hi.map(LessThanOrEqual(p.col, _))
    }

  /** True iff EVERY row of a file provably satisfies `f`, from its
    * harvested/path-derived range: bounds strictly inside the predicate
    * plus a known-ZERO null count. Sound even for outer-approximation
    * bounds (bound-min ≤ true-min, so bound-min > v proves
    * true-min > v), and STRICTNESS-aware — the inclusive superset
    * ranges mayMatch prunes with would over-claim for `>`/`<`. The
    * witness behind a delete's whole-file drop and a count's
    * metadata-counted files. */
  def wholeMatch(stats: Map[String, FileStats.ColRange], f: Filter): Boolean = {
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
      case IsNotNull(a) => stats.get(a).exists(_.nulls.contains(0L))
      case _ => false
    }
  }

  /** Physical names of version `v`'s numeric columns: a path-encoded
    * partition value compares as a number exactly when its column's
    * declared type is one, so the metadata comparison and the re-applied
    * row predicate always agree. */
  private def numericCols(root: String, v: Long): Set[String] =
    SnapshotLake.declaredSchema(root, Some(v)).fold(Set.empty[String])(_.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        SnapshotLake.physNameOf(f)
    }.toSet)

  /** The hive partition tuple `rel`'s path encodes, values decoded from
    * hive's %xx escaping: predicates compare unescaped literals ('a:b',
    * not 'a%3Ab'), and deletes and metadata counts consume these ranges
    * as correctness inputs, not just pruning advice. */
  private def decodedTuple(rel: String): Seq[(String, String)] =
    graft.sources.GraftLakeScan.partTupleOf(rel).map { case (c, raw) =>
      c -> graft.sources.GraftLakeScan.unescapePath(raw)
    }

  /** Path-encoded partition ranges for a whole listing, `numeric` naming
    * the columns that compare as numbers ([[numericCols]]). */
  private def pathRangeIndex(rel: Seq[String], numeric: => Set[String])
      : Map[String, Map[String, FileStats.ColRange]] = {
    // an unpartitioned listing has no path tuples at all — skip the
    // O(files) map construction (at a million files it's measurable)
    if (!rel.exists(_.startsWith("data/commit="))) return Map.empty
    val nc = numeric
    rel.map(f => f -> pathRangesOf(f, nc)).toMap
  }

  /** The hive partition tuple a file's path encodes, as EXACT ranges: a
    * partition value is both min and max of its column for every row of
    * the file, compared as a number when its column's declared type is
    * numeric. The null partition (`__HIVE_DEFAULT_PARTITION__`) keeps its
    * sentinel string form — range preds may then prune the file, which
    * stays exact because the re-applied row filter rejects NULL values
    * anyway. */
  private def pathRangesOf(rel: String,
                           numericCols: Set[String]): Map[String, FileStats.ColRange] =
    // a real partition value is the value of EVERY row in the file (zero
    // nulls by construction — null rows land under the sentinel dir
    // instead, whose null count is the row count, i.e. unknown here:
    // conservative)
    decodedTuple(rel).map { case (c, v) =>
      c -> FileStats.ColRange(v, v,
        numeric = v != NullPart && numericCols.contains(c),
        nulls = if (v == NullPart) None else Some(0L))
    }.toMap
}
