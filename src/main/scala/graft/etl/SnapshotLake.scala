package graft.etl

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.sources.{GraftLakeDataWriter, GraftLakeFileSet, GraftLakeSource}

/** Snapshot-isolated lake commits — the manifest/version protocol a
  * multi-writer 100 TB lake needs (VERDICT r10 item 2). The plain
  * [[PartitionedLake]] is directory-listing based: a reader that lists
  * while an append or compaction is mid-flight sees a torn file set (the
  * same gap the reference's append-only load has — ref:
  * pipeline/ETL/load.py:50-56). This module is the Delta/Iceberg
  * primitive re-expressed minimally:
  *
  *   - DATA is immutable: every commit writes its parquet files into a
  *     fresh `data/<uuid>/` directory and never touches existing files.
  *   - A VERSION is a LOG RECORD: `_manifests/v%09d.json` holding the
  *     COMMIT'S CHANGE — files added/removed, tombstone files
  *     added/removed — never the full listing, so commit bytes are
  *     O(change) however many files the table holds (the Delta
  *     `_delta_log` shape; round 11 wrote the full listing per commit,
  *     O(files) per CAS attempt). Every [[CkptEvery]]-th commit also
  *     publishes a CHECKPOINT; one in every [[FullCkptEveryCommits]]
  *     commits it is FULL (`v%09d.ckpt.json`: the resolved state plus
  *     the idempotence-tag index), the ones between are INCREMENTAL
  *     (`v%09d.ickpt.json`: the composed delta of the window since the
  *     full base, folded straight from the log records — O(change)
  *     bytes and CPU, the Delta v2-checkpoint idea; at 1,000 commits ×
  *     1M files full-only checkpointing wrote 1.7 GB and dominated the
  *     commit path). Readers resolve a version from the nearest
  *     checkpoint at-or-below it (an incremental one adds exactly one
  *     base read) and replay ≤ CkptEvery delta records forward — O(1)
  *     amortized reads, and the same bound makes the
  *     [[appendOnce]]/[[mergeOnce]] tag probe O(1) instead of
  *     O(versions) per micro-batch.
  *   - COMMIT is compare-and-swap: the record is written to a temp name
  *     and published with `Files.createLink` (POSIX link(2)), which fails
  *     atomically with EEXIST if the version was taken. A loser re-reads
  *     the new head, reconciles, and retries — optimistic concurrency,
  *     never a lock. (An atomic rename would silently REPLACE an
  *     existing version on POSIX; link is the create-if-absent primitive.)
  *     Checkpoints ride the same link(2) primitive — their content is a
  *     pure function of the log, so racing checkpoint writers publish
  *     identical state and EEXIST is simply ignored.
  *   - COMPACTION commits a logical no-op: the rewritten files replace the
  *     base snapshot's, and any files appended by commits that raced past
  *     the compactor's base version are carried over by the reconcile step
  *     — concurrent append ∥ compact is safe and neither loses rows.
  *   - Old versions stay readable (time travel / reader pinning) until
  *     [[vacuum]] drops manifests outside the retention window and deletes
  *     data files no retained manifest references.
  *
  * On top of the commit protocol sits the maintenance/index layer built
  * round 11: commit-time file statistics and bloom sidecars with pruned
  * readers ([[IndexSpec]]/[[readPruned]]/[[readPointLookup]], stats in
  * [[FileStats]], pruning through the per-version [[LakeIndex]]),
  * Z-order and small-file-selective compaction
  * ([[compactZOrder]]/[[compactSmall]]), index-targeted copy-on-write
  * [[merge]] (+ tag-idempotent [[mergeOnce]] for streaming CDC apply),
  * merge-on-read deletion vectors ([[deleteWhere]], materialized by
  * [[compact]]), the DV-aware [[changeFeed]], commit metadata
  * ([[history]]), and schema evolution on write (`append(mergeSchema =
  * true)`, [[evolveSchema]]): the log holds every version's schema.
  *
  * Every row this object reads — snapshot, pruned and point reads,
  * metadata counts, and the file subsets its rewrites materialize — is
  * scanned by the `graftlake` DSv2 connector
  * ([[graft.sources.GraftLakeSource]]): one decoder, one deletion-vector
  * probe and one column-mapping translation for the whole lake.
  *
  * At 100 TB the mechanics are identical; commit cost is O(change) by
  * construction (log records), resolution O(checkpoint + CkptEvery), and
  * what remains is the retention policy (vacuum must out-run nothing: a
  * reader pins a version by holding its checkpoint + records, so
  * retention = max query runtime, the same contract Delta's VACUUM
  * documents; [[vacuum]] materializes a checkpoint at the cutoff before
  * dropping older log records, and prunes idempotence tags below the
  * cutoff with it — retention IS the replay horizon).
  *
  * ==Storage portability==
  * Every mutual-exclusion decision in the protocol reduces to ONE
  * primitive, [[CommitPublisher.tryPublish]]: atomically make `target`
  * visible with the full content of `tmp` iff `target` does not exist,
  * reporting which writer created it. The shipping implementation is
  * POSIX link(2) ([[PosixLinkPublisher]] — create-if-absent with atomic
  * all-or-nothing visibility on local filesystems). On an object store
  * the same contract is a conditional PUT — S3 `If-None-Match: *`
  * (conditional writes, GA 2024), GCS `ifGenerationMatch=0`, Azure Blob
  * `If-None-Match: *` — all of which fail the losing writer exactly like
  * EEXIST, so the commit loop, the checkpoint publish, and every retry/
  * backoff measurement above carry over unchanged; only [[vacuum]]'s
  * unreferenced-file sweep additionally needs the store's list-after-
  * write consistency (true of S3/GCS/Azure since 2020). Swap the
  * publisher per table root ([[setPublisher]]); everything else is
  * plain read/write/list/delete of immutable uniquely-named objects.
  */
object SnapshotLake extends LakeCheckpoints {


  /** Protocol observability for the contention/ceiling tools (and the
    * specs that pin retry behavior): lost CAS attempts, serializable-
    * fence aborts, and checkpoint write time/bytes. Monotonic counters,
    * never read by the protocol itself. */
  private[graft] val casLost = new java.util.concurrent.atomic.AtomicLong
  private[graft] val fenceAborts = new java.util.concurrent.atomic.AtomicLong
  // consecutive lost CAS publishes on THIS thread — drives the
  // escalating backoff in tryCommit, reset by any win
  private val lostStreak = ThreadLocal.withInitial[Integer](() => 0)
  // EWMA of tryPublish wall latency (nanos) — the backoff time unit:
  // ~0 on POSIX (unit floors at 1 ms, preserving historical local
  // behavior), one conditional-PUT RTT on an object store. Updated
  // racily by design; any recent sample is a good-enough unit.
  @volatile private var publishEwmaNanos: Long = 0L

  /** Last head this JVM OBSERVED per root — never trusted, always
    * re-verified: versions are contiguous and only ever grow (every
    * writer links head+1; vacuum deletes only below its cutoff), so the
    * true head is found by forward `Files.exists` probes from any
    * still-existing hint — O(1 + commits-since) stats instead of an
    * O(versions) directory listing per call. A hint whose own version
    * file is gone (lake deleted/recreated, or the hint fell below a
    * foreign vacuum horizon) falls back to the full listing. At 16
    * racing writers the per-retry re-listing was most of the measured
    * CAS collapse (CommitContention r17: 110 commits/s at 4k versions);
    * read paths at the million-file ceiling ride the same saving. */
  private val headHint =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Object-store cost model (CommitContention phase 4, VERDICT r18 ask
    * 2): every head-probe stat and head listing optionally pays an
    * injected RTT, so the protocol's forward-probe behavior is
    * measurable at S3/GCS conditional-PUT/HEAD/LIST latency without an
    * object store in the loop. Zero in production (one volatile read
    * per probe). The counters attribute the cost: a CAS loser's re-probe
    * is O(commits since its last observation) HEADs, and under RTT that
    * product — attempts × stats — is the real object-store number. */
  @volatile private[graft] var manifestRttNanos: Long = 0L
  private[graft] val headStatCount = new java.util.concurrent.atomic.AtomicLong
  private[graft] val headListCount = new java.util.concurrent.atomic.AtomicLong
  private def statVersion(root: String, v: Long): Boolean = {
    val rtt = manifestRttNanos
    if (rtt > 0L) {
      java.util.concurrent.locks.LockSupport.parkNanos(rtt)
      headStatCount.incrementAndGet()
    }
    Files.exists(versionFile(root, v))
  }

  /** Forward-probe steps before [[currentVersion]] abandons per-version
    * stats for one directory listing: on an object store a LIST page
    * (1,000 names, 1 RTT) beats per-version HEADs as soon as the
    * observed head is more than a few commits behind, and a loser under
    * heavy contention is exactly the caller that far behind. POSIX
    * default keeps the pure walk (unbounded): local stats are ~1 µs
    * while listing a 10k-version directory is milliseconds, the
    * opposite trade. An object-store deployment sets this to ~4
    * alongside its [[LakeCheckpoints.CommitPublisher]]. */
  @volatile private[graft] var probeStepLimit: Int = Int.MaxValue

  /** Spec-only: plant a stale observed head so the far-behind
    * forward-probe and listing-fallback paths are directly testable
    * (a single JVM's own commits always keep the hint current). */
  private[graft] def plantHeadHint(root: String, v: Long): Unit = {
    headHint.put(root, v); ()
  }

  /** Highest committed version, if any commit exists. A record is
    * visible if and only if its link exists — links appear atomically with
    * their full content, so neither the probe nor the listing can ever
    * observe a torn record. */
  def currentVersion(root: String): Option[Long] = {
    val hint = headHint.get(root)
    if (hint != null && statVersion(root, hint.longValue)) {
      var v = hint.longValue
      var steps = 0
      var walked = true
      while (walked && statVersion(root, v + 1)) {
        v += 1
        steps += 1
        // far behind the true head: stop HEAD-walking and fall through
        // to the single listing below (see [[probeStepLimit]])
        if (steps >= probeStepLimit) walked = false
      }
      // Cross-check against a RACING VACUUM before trusting the walk:
      // the sweep deletes manifests in ascending version order (pinned
      // in [[vacuum]]), so the instantaneous deleted set is always
      // down-closed — "v exists ∧ v+1 vacuum-deleted" is never a state,
      // only a straddle of the probe's two stats. In that straddle v
      // itself was deleted before v+1 was, so re-stating v exposes it.
      // Without this, a stale head below the vacuum cutoff could send a
      // writer to re-link an already-vacuumed slot (the link SUCCEEDS —
      // the file is gone) and its commit would be invisible at the true
      // head: silent data loss.
      if (walked && statVersion(root, v)) {
        if (v != hint.longValue) headHint.put(root, v)
        return Some(v)
      }
    }
    if (hint != null) headHint.remove(root)
    val dir = manifestDir(root)
    if (!Files.isDirectory(dir)) return None
    if (manifestRttNanos > 0L) {
      java.util.concurrent.locks.LockSupport.parkNanos(manifestRttNanos)
      headListCount.incrementAndGet()
    }
    val s = Files.list(dir)
    val vs =
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".json") &&
          !n.endsWith("ckpt.json")) // .ckpt.json and .ickpt.json alike
        .map(n => n.stripPrefix("v").stripSuffix(".json").toLong)
        .toVector
      finally s.close()
    if (vs.isEmpty) None
    else { val v = vs.max; headHint.put(root, v); Some(v) }
  }


  private def applyRec(s: LakeState, r: Record): LakeState =
    r.legacyFull.getOrElse {
      // append fast path: no removes ⇒ no O(state) filter pass. The
      // common record by far — without this, folding a 10,000-commit
      // append log (`.history`, long resolve walks) re-scanned the
      // million-entry file vector once PER RECORD (30 s at the deepened
      // ceiling; 2.9 s with it).
      val files =
        if (r.remove.isEmpty) { if (r.add.isEmpty) s.files else s.files ++ r.add }
        else s.files.filterNot(r.remove.toSet) ++ r.add
      val dels =
        if (r.removeDel.isEmpty) {
          if (r.addDel.isEmpty) s.deletes else s.deletes ++ r.addDel
        } else s.deletes.filterNot(r.removeDel.toSet) ++ r.addDel
      LakeState(files, dels,
        // the declared schema sticks until a later record declares one —
        // RESTORE keeps the head schema unless an overwrite since its
        // target broke continuity (see [[restore]])
        r.schemaB64.orElse(s.schemaB64))
    }

  /** Resolve version `v`: nearest checkpoint at-or-below (or the empty
    * pre-v1 state, or a legacy full-state record), then replay the delta
    * records forward — ≤ [[CkptEvery]] manifest reads on a checkpointed
    * log. Also accumulates the idempotence-tag index ([[findTag]],
    * checkpoint writing). Throws NoSuchFileException for versions
    * vacuumed out of retention, as the full-listing scheme did. */
  /** A version file's identity fingerprint: (mtime-millis, size,
    * fileKey). The fileKey (inode on POSIX) closes the residual hole of
    * (mtime, size) alone — a delete-and-recreate of a lake within one
    * millisecond producing a same-size version file still changes the
    * inode, so a stale cached state can never be served. One stat call;
    * `None` when the file is gone (never cached, never trusted). */
  private[graft] type VersionFp = (Long, Long, String)
  private[graft] def versionFingerprint(root: String,
                                        v: Long): Option[VersionFp] =
    try {
      val a = Files.readAttributes(versionFile(root, v),
        classOf[java.nio.file.attribute.BasicFileAttributes])
      Some((a.lastModifiedTime.toMillis, a.size,
        Option(a.fileKey).map(_.toString).getOrElse("")))
    } catch { case _: java.io.IOException => None }

  /** Resolved-state cache. A version's manifest chain is immutable once
    * its record is linked (CAS hardlink; manifests are never rewritten
    * in place — the only way a (root, v) pair can change meaning is a
    * delete-and-recreate of the whole lake, which replaces the version
    * FILE too). The version file's [[versionFingerprint]] is the
    * validity check: one stat call against a chain walk + JSON fold.
    * Soft references — under memory pressure states reload. This is the
    * second half of the ManifestCeiling lever: every metadata op
    * (files/deletesOf/declaredSchema/columnMapping/statsRange/...)
    * funnels through resolve, and on a million-file lake each uncached
    * call re-read a ~half-million-entry checkpoint. A fingerprint
    * MISMATCH (cached entry under a different identity) is the
    * delete-and-recreate signal, and it invalidates the sidecar caches
    * downstream too ([[FileStats.invalidateRoot]] plus any registered
    * [[onLakeRecreated]] hook): commit-dir names can recur across
    * recreations (streaming epoch dirs, synthetic `cNNNNN` dirs), so a
    * stale sidecar could otherwise serve wrong min/max to the pruner. */
  private val resolveCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long),
    java.lang.ref.SoftReference[((LakeState, Map[String, Long]), VersionFp)]]()

  /** Hooks run (with the root) when resolve detects a recreated lake.
    * The DSv2 layer registers its per-version sidecar-index cache here —
    * a registry instead of a direct call because `etl` must not depend
    * on `sources`. */
  private val recreateHooks =
    new java.util.concurrent.CopyOnWriteArrayList[String => Unit]()
  private[graft] def onLakeRecreated(hook: String => Unit): Unit = {
    recreateHooks.add(hook); ()
  }

  private def invalidateRoot(root: String): Unit = {
    val it = resolveCache.keys()
    while (it.hasMoreElements) {
      val k = it.nextElement()
      if (k._1 == root) resolveCache.remove(k)
    }
    val si = segCache.keys()
    while (si.hasMoreElements) {
      val k = si.nextElement()
      if (k._1 == root) segCache.remove(k)
    }
    FileStats.invalidateRoot(root)
    recreateHooks.forEach(h => h(root))
  }

  private[etl] def resolve(root: String, v: Long): (LakeState, Map[String, Long]) = {
    val fp = versionFingerprint(root, v)
    val k = (root, v)
    val ref = resolveCache.get(k)
    // a GC-cleared referent signals memory pressure emptied part of the
    // map: sweep the stale keys now so they don't accumulate unboundedly
    if (ref != null && ref.get() == null) sweepCleared(resolveCache)
    Option(ref).flatMap(r => Option(r.get())) match {
      case Some((st, f)) if fp.contains(f) => st
      case hit =>
        // a cached entry under a DIFFERENT live fingerprint means the
        // lake was deleted and recreated at this root: every cache keyed
        // by (root, …) is suspect, not just this version
        if (hit.isDefined && fp.isDefined) invalidateRoot(root)
        val st = resolveUncached(root, v)
        fp.foreach(f =>
          resolveCache.put(k, new java.lang.ref.SoftReference((st, f))))
        st
    }
  }

  /** [[LakeCheckpoints.readCkpt]] that treats an UNREADABLE checkpoint as
    * absent instead of fatal: a checkpoint whose segment was swept by a
    * vacuum racing past the orphan grace floor (an overloaded
    * million-file checkpointer can exceed the 5-min writeSeg→link
    * window; ADVICE r18) would otherwise throw on every resolve of its
    * version forever. Checkpoints are pure ACCELERATION — the record log
    * below them is the truth — so the correct degradation is the same as
    * [[LakeCheckpoints.readIckpt]]'s defensive None: warn, fall back to
    * record replay, and let the next checkpoint write heal the hole. */
  private def readCkptDefensive(root: String,
      v: Long): Option[(LakeState, Map[String, Long])] =
    try Some(readCkpt(root, v))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[lake] checkpoint v$v of $root unreadable (${e.getClass.getSimpleName}: " +
            s"${e.getMessage}); falling back to record replay")
        None
    }

  private def resolveUncached(root: String, v: Long): (LakeState, Map[String, Long]) = {
    var pending = List.empty[Record]
    var cur = v
    var base: Option[(LakeState, Map[String, Long])] = None
    while (base.isEmpty) {
      // a cached state ANYWHERE on the walk is as good as a checkpoint
      // there — the common case after a checkpoint write resolved its
      // own version, and what keeps a long record tail from re-parsing
      // the same base over and over
      val cached =
        if (cur == 0L) None
        else Option(resolveCache.get((root, cur))).flatMap(r => Option(r.get()))
          .collect { case (st, f) if versionFingerprint(root, cur).contains(f) => st }
      if (cached.isDefined) base = cached
      else if (cur == 0L) base = Some((EmptyState, Map.empty))
      else if (Files.exists(ckptFile(root, cur)) &&
               { base = readCkptDefensive(root, cur); base.isDefined }) ()
      else if (Files.exists(ickptFile(root, cur)) &&
               { base = readIckpt(root, cur); base.isDefined }) ()
      else {
        val r = readRecord(root, cur)
        pending ::= r // walk is newest→oldest; prepend keeps replay order
        if (r.legacyFull.isDefined)
          // A legacy full-state record IS its own state base, but records
          // BELOW it still carry idempotence tags (round-11 manifests had
          // tag fields too). Completing the tag map here is what keeps the
          // first checkpoint written over an upgraded lake from forgetting
          // every pre-upgrade tag — findTag answers from the checkpoint
          // index as covering everything ≤ v, so a forgotten tag would
          // double-apply a replayed batch. O(legacy records) reads, paid
          // only until that first checkpoint exists.
          base = Some((EmptyState, legacyTagsBelow(root, cur)))
        else cur -= 1
      }
    }
    val (s0, t0) = base.get
    val st = pending.foldLeft(s0)(applyRec)
    val tags = t0 ++ pending.flatMap(r => r.tags.map(_ -> r.version))
    (st, tags)
  }

  /** Idempotence tags of the (legacy full-state) records strictly below
    * version `boundary`, newest occurrence winning — the tag-map
    * completion [[resolve]] performs when its state base is a legacy
    * record rather than a checkpoint. Stops at the retention edge
    * (vacuumed records read as absent, the documented horizon). */
  private def legacyTagsBelow(root: String, boundary: Long): Map[String, Long] = {
    var tags = Map.empty[String, Long]
    var lv = boundary - 1
    while (lv >= 1L && Files.exists(versionFile(root, lv))) {
      readRecord(root, lv).tags.foreach { t =>
        if (!tags.contains(t)) tags += t -> lv // newest-first walk: keep first
      }
      lv -= 1
    }
    tags
  }

  /** The file listing of version `v` (paths relative to `root`). */
  def files(root: String, v: Long): Seq[String] = resolve(root, v)._1.files

  /** Whether version `v`'s record is still within the retention horizon
    * — vacuumed records read as absent, and resolving one throws, so
    * history walkers must stop here (the bound [[legacyTagsBelow]]
    * applies internally, exposed for external walkers like LakeTail). */
  def versionExists(root: String, v: Long): Boolean =
    v >= 1L && Files.exists(versionFile(root, v))

  /** The newest version committed at-or-before `epochMillis` — the
    * resolution behind SQL `TIMESTAMP AS OF` (Delta's contract: the
    * snapshot a reader at that wall-clock instant would have seen).
    * Commit instants are the manifest records' mtimes: a record links
    * atomically with its content, so its mtime IS its publish instant.
    * `None` when the instant predates the first retained commit —
    * either before the table existed or past the vacuum horizon, and
    * both must refuse rather than silently read a different snapshot.
    * O(versions-after-the-instant) stat calls from the head, bounded by
    * retention. */
  def versionAsOfTimestamp(root: String, epochMillis: Long): Option[Long] = {
    var v = currentVersion(root).getOrElse(return None)
    while (versionExists(root, v)) {
      if (Files.getLastModifiedTime(versionFile(root, v)).toMillis
            <= epochMillis) return Some(v)
      v -= 1
    }
    None
  }


  /** Read a snapshot: the pinned `version`, or the latest at resolution
    * time, through the connector scan. The plan holds the manifest's
    * explicit file list, so commits landing AFTER this call change
    * nothing the reader sees — the isolation property the
    * directory-listing lake lacks. The columns are [[schemaOf]]'s: the
    * version's declared schema names the columns, their order and types,
    * null-fills files written before a column was added, and surfaces
    * renamed columns under their logical names. An empty version reads
    * zero rows under the schema the lake last had. Live deletion vectors
    * drop their keys' rows during the scan. */
  def read(spark: SparkSession, root: String,
           version: Option[Long] = None): DataFrame = {
    val v = versionOf(root, version)
    GraftLakeSource.frame(spark, root, schemaOf(root, Some(v)), Some(v))
  }

  /** Files `rel` — of version `v`, or staged beside it — through the
    * connector scan under `schema` (version `v`'s by default), with `v`'s
    * deletion vectors applied when `deletes`. A rewrite that carries the
    * vectors forward materializes its files without them. */
  private def readSubset(spark: SparkSession, root: String, v: Option[Long],
                         rel: Seq[String], deletes: Boolean,
                         schema: Option[StructType] = None): DataFrame =
    GraftLakeSource.frame(spark, root,
      schema.getOrElse(schemaOf(root, v)), v,
      Some(GraftLakeFileSet(rel, deletes)))

  /** The inclusive `preds` as one row condition over `schema`'s columns,
    * each bound cast to its column's type — what a pruned read, a
    * metadata count and a predicate delete apply row by row. */
  private def rangeCondition(schema: StructType,
                             preds: Seq[FileStats.Range]): Column = {
    import org.apache.spark.sql.functions.{col, lit}
    preds.flatMap { p =>
      val typed = (s: String) => lit(s).cast(schema(p.col).dataType)
      p.lo.map(col(p.col) >= typed(_)) ++ p.hi.map(col(p.col) <= typed(_))
    }.reduceOption(_ && _).getOrElse(lit(true))
  }

  /** `version`, or the head when None; fails when `root` has no commit. */
  private def versionOf(root: String, version: Option[Long]): Long =
    version.orElse(currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))

  /** The LOGICAL schema of version `v` (the head's when None) in the read
    * shape: the declared names and types, every field nullable (files
    * written before a column was added null-fill it), no metadata — the
    * one schema rule behind every read, the connector's `load` and the
    * append check. A lake's first commit declares the schema of the rows
    * it wrote, and every later version carries the last declaration
    * forward, so this reads the log and never a data file. */
  def schemaOf(root: String, version: Option[Long] = None): StructType =
    readShape(schemaAt(root, version))

  /** Version `v`'s declared schema (the head's when None), metadata
    * included. A lake that predates declared schemas fails loudly. */
  private[graft] def schemaAt(root: String, version: Option[Long] = None): StructType = {
    val v = versionOf(root, version)
    declaredSchema(root, Some(v)).getOrElse(throw new IllegalStateException(s"version $v " +
      s"of $root declares no schema: the lake predates declared schemas and must be " +
      "rewritten into a new lake"))
  }

  /** `s` as reads see it: names and types, all nullable, no metadata. */
  private def readShape(s: StructType): StructType =
    StructType(s.fields.map(f => StructField(f.name, f.dataType, nullable = true)))

  /** Column names and types — what a schema check compares. Not their
    * order: files are read by name, and the declared schema orders the
    * columns of every read. */
  private def shape(s: StructType): Set[(String, org.apache.spark.sql.types.DataType)] =
    s.fields.iterator.map(f => (f.name, f.dataType)).toSet

  // ── column mapping (rename/drop as metadata — Delta's public design) ─
  //
  //    Each declared field may carry the PHYSICAL name its data lives
  //    under in the files (metadata key `graft.physical`). RENAME then
  //    changes only the field's logical name; DROP only removes the
  //    field — both are O(1) evolve commits, no file is rewritten, and a
  //    version pinned before the change still reads the old shape.
  //
  //    The load-bearing invariant: PHYSICAL NAMES ARE STABLE ACROSS THE
  //    LAKE'S ENTIRE HISTORY. Enabling the mapping stamps every field
  //    with the name its files already use; every later write translates
  //    logical→physical before the parquet lands ([[writeData]]); and a
  //    column ADDED after enablement gets a fresh `col-<uuid>` physical
  //    name, so a dropped column's data can never resurface under a
  //    reused logical name (the hazard Delta's UUID mode exists for).
  //    Consequences: any file ever written resolves under the head
  //    mapping, sidecar indexes (keyed by physical name) survive renames
  //    untouched, and a drop RETAINS the column's sidecars — pinned
  //    pre-drop versions still read them, and no future column can
  //    collide with their physical key.
  //
  //    CDF and column mapping refuse each other (both directions): the
  //    change feed's materialized files freeze column names per version,
  //    which is exactly what a rename breaks mid-stream — the same
  //    restriction Delta documents for CDF reads across mapping changes.

  private[graft] val PhysKey = "graft.physical"

  /** The physical (on-file) name a declared field resolves to. */
  private[graft] def physNameOf(f: StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey) else f.name

  /** Whether column mapping is enabled on this declared schema. */
  private[graft] def isMapped(s: StructType): Boolean =
    s.fields.exists(_.metadata.contains(PhysKey))

  /** logical→physical for the NON-identity pairs of the version's
    * declared schema (empty ⇒ every name is its own physical name). */
  def columnMapping(root: String,
                    version: Option[Long] = None): Map[String, String] =
    declaredSchema(root, version).map(mappingOf).getOrElse(Map.empty)

  private[graft] def mappingOf(decl: StructType): Map[String, String] =
    decl.fields.iterator.map(f => f.name -> physNameOf(f))
      .filter { case (l, p) => l != p }.toMap

  /** Stamp every unstamped field with its current name as physical —
    * the mapping-enablement step (the names files already use). */
  private def stampAll(s: StructType): StructType =
    StructType(s.fields.map { f =>
      if (f.metadata.contains(PhysKey)) f
      else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).putString(PhysKey, f.name).build())
    })

  /** A brand-new field on a MAPPED lake gets a fresh physical name no
    * file has ever used — name reuse after a drop can then never
    * resurface the dropped data. */
  private[graft] def stampFresh(f: StructField): StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata)
      .putString(PhysKey, s"col-${UUID.randomUUID().toString}").build())

  /** Predicate columns translated logical→physical at version `v` —
    * the form the sidecar/path metadata is keyed in. Identity when the
    * lake is unmapped. */
  private def physPredsAt(root: String, v: Option[Long],
                          preds: Seq[FileStats.Range]): Seq[FileStats.Range] = {
    val m = columnMapping(root, v)
    if (m.isEmpty) preds
    else preds.map(p => p.copy(col = m.getOrElse(p.col, p.col)))
  }

  /** The declared schema of version `v` (head when None), metadata
    * included; None when the lake has no commit yet. */
  def declaredSchema(root: String,
                     version: Option[Long] = None): Option[StructType] =
    version.orElse(currentVersion(root)).flatMap(v => resolve(root, v)._1.schemaB64)
      .map(decodeSchema)

  /** A record's `schemaB64` field: base64 of the schema's JSON. */
  private def encodeSchema(s: StructType): String =
    java.util.Base64.getEncoder.encodeToString(
      s.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def decodeSchema(b64: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(
      new String(java.util.Base64.getDecoder.decode(b64),
        java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[StructType]

  /** Commit `newSchema` as the lake's DECLARED schema — a metadata-only
    * `evolve` version (no file changes, CAS-retried like any commit):
    * the metadata-only twin of an auto-merging append, backing SQL
    * `ALTER TABLE … ADD COLUMN` through the catalog. Evolution is
    * ADDITIVE/WIDENING only, validated against the current declared
    * schema: every existing column must survive under its name
    * with its type unchanged or safely widened — drops and renames are
    * rewrites, not metadata commits, and are refused here. Readers at
    * any version ≥ this commit see the declared column set (old files
    * null-fill the additions); a version pinned below it reads exactly
    * the pre-evolution shape. Returns the committed version. */
  /** (narrow, wide) pairs a metadata-only evolution may cross: the
    * parquet readers promote these natively under a requested schema. */
  private[graft] val Widens: Set[(org.apache.spark.sql.types.DataType,
                                  org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    val ints = Seq(ByteType, ShortType, IntegerType, LongType)
    val intPairs = for {
      (a, i) <- ints.zipWithIndex; b <- ints.drop(i + 1)
    } yield (a: DataType, b: DataType)
    (intPairs :+ (FloatType -> DoubleType)).toSet
  }

  /** The schema an auto-merging APPEND evolves the lake to (the write
    * option `mergeSchema=true` — Delta's autoMerge): every lake column
    * survives (widened where the incoming data is wider; the lake type
    * stands where the data is narrower or absent), and data-only
    * columns append as nullable. Irreconcilable types refuse. */
  private def mergeForWrite(lake: StructType, data: StructType): StructType =
    StructType(lake.fields.map { f =>
      data.fields.find(_.name == f.name) match {
        case Some(d) if Widens((f.dataType, d.dataType)) => f.copy(dataType = d.dataType)
        case Some(d) if d.dataType != f.dataType && !Widens((d.dataType, f.dataType)) =>
          throw new IllegalArgumentException(
            s"mergeSchema cannot reconcile column '${f.name}': lake " +
              s"${f.dataType.simpleString} vs append ${d.dataType.simpleString}")
        case _ => f // the same or a narrower type, or absent: null-fills at write
      }
    } ++ data.fields.filterNot(d => lake.fieldNames.contains(d.name)).map { d =>
      val nf = d.copy(nullable = true)
      // a mapped lake's new column gets a physical name no file has
      // ever used — name reuse after a drop can't resurface old data
      if (isMapped(lake)) stampFresh(nf) else nf
    })

  /** Why `after` does not evolve forward from `before` — a column whose
    * physical name it lacks (unless `allowMissing`), or whose type it
    * changes other than by widening — or None when it does. Continuity
    * is PHYSICAL: a renamed column survives under its physical name
    * (metadata-only), while on an unmapped schema the physical name IS
    * the logical name. */
  private def evolutionGap(before: StructType, after: StructType,
                           allowMissing: Boolean): Option[String] = {
    val afterByPhys = after.fields.map(f => physNameOf(f) -> f).toMap
    before.fields.iterator.flatMap { f =>
      afterByPhys.get(physNameOf(f)) match {
        case Some(a) if a.dataType == f.dataType || Widens((f.dataType, a.dataType)) => None
        case Some(a) => Some(s"schema evolution cannot change '${f.name}' from " +
          s"${f.dataType.simpleString} to ${a.dataType.simpleString} " +
          "— only widening casts evolve as metadata")
        case None if allowMissing => None
        case None => Some(s"schema evolution cannot DROP column '${f.name}' — use " +
          "dropColumn (column mapping) for a metadata-only drop")
      }
    }.nextOption()
  }

  def evolveSchema(spark: SparkSession, root: String,
                   newSchema: StructType,
                   allowMissing: Boolean = false): Long = {
    require(newSchema.fields.map(_.name).distinct.length ==
      newSchema.fields.length, "evolved schema repeats a logical name")
    require(newSchema.fields.map(physNameOf).distinct.length ==
      newSchema.fields.length, "evolved schema repeats a physical name")
    commitLoop(root) { head =>
      val cur = head.getOrElse(throw new IllegalStateException(
        s"nothing to evolve at $root (no committed version)"))
      val before = schemaAt(root, Some(cur))
      val gap = evolutionGap(before, newSchema, allowMissing)
      require(gap.isEmpty, gap.get)
      // Fields NOT carried over from the current schema (by physical
      // name) are NEW columns, and on a mapped lake they get their fresh
      // `col-<uuid>` physical names minted HERE — a caller-stamped
      // PhysKey on a new field could otherwise resurrect a previously
      // DROPPED column's physical key and surface its retained file data
      // under a new logical name, the exact hazard the UUID scheme
      // prevents on the DDL paths. On an unmapped result nothing is
      // stamped (the physical name IS the logical name, and drops — the
      // only way old data hides under a key — require the mapping).
      val beforePhys = before.fields.map(physNameOf).toSet
      val resultMapped = isMapped(before) || isMapped(newSchema)
      val declared = StructType(newSchema.fields.map { f =>
        if (beforePhys.contains(physNameOf(f)) || !resultMapped) f
        else stampFresh(f)
      })
      Change("evolve", cur, addedRows = 0L, schema = Some(declared))
    }
  }

  /** `ALTER TABLE … RENAME COLUMN` as a METADATA-ONLY commit (Delta's
    * column-mapping rename): enables the mapping if needed (stamping
    * every field with the physical name its files already use), changes
    * the one field's LOGICAL name, and commits the evolved schema — no
    * file is touched, every sidecar index (keyed by physical name)
    * stays live, and a `VERSION AS OF` pin below the commit still reads
    * the old name. Refused on a CDF-enabled lake (the feed's
    * materialized files freeze names per version — Delta documents the
    * same mapping×CDF restriction). Returns the committed version. */
  def renameColumn(spark: SparkSession, root: String,
                   from: String, to: String): Long = {
    require(cdfKey(root).isEmpty,
      s"column mapping and the change data feed refuse each other: $root " +
        "has CDF enabled, and a rename would break the feed's frozen " +
        "per-version column names")
    val base = stampAll(schemaAt(root))
    require(base.fieldNames.contains(from), s"no column '$from' to rename")
    require(!base.fieldNames.contains(to),
      s"cannot rename '$from' to '$to': the name is taken")
    evolveSchema(spark, root, StructType(base.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f)))
  }

  /** `ALTER TABLE … DROP COLUMN` as a METADATA-ONLY commit: enables the
    * mapping if needed and removes the field from the declared schema —
    * the data stays in the files (pinned pre-drop versions still read
    * it) and the column's sidecars are RETAINED on purpose: time travel
    * needs them, and their physical key can never collide with a future
    * column (new columns get fresh `col-<uuid>` physical names). Same
    * CDF refusal as [[renameColumn]]. Returns the committed version. */
  def dropColumn(spark: SparkSession, root: String, name: String): Long = {
    require(cdfKey(root).isEmpty,
      s"column mapping and the change data feed refuse each other: $root " +
        "has CDF enabled, and a drop would break the feed's frozen " +
        "per-version column names")
    val base = stampAll(schemaAt(root))
    require(base.fieldNames.contains(name), s"no column '$name' to drop")
    require(base.fields.length > 1,
      s"cannot drop '$name': a table needs at least one column")
    evolveSchema(spark, root,
      StructType(base.fields.filterNot(_.name == name)), allowMissing = true)
  }

  /** Partition columns of a partitioned listing, from its first file's
    * path segments (`data/commit=<uuid>/p1=v1/p2=v2/part-*.parquet` →
    * Seq(p1, p2)); empty for plain listings. */
  private def partColsOf(rel: Seq[String]): Seq[String] =
    rel.find(_.startsWith("data/commit=")).fold(Seq.empty[String])(
      graft.sources.GraftLakeScan.partTupleOf(_).map(_._1))

  /** Merge-on-read DELETE: commit `keys` (one column, named for the
    * delete key) as key-tombstone files — NO data file is rewritten, the
    * write cost is O(deleted keys) however many terabytes hold them, and
    * every read of this version on drops the tombstoned keys' rows until
    * [[compact]] materializes them away (clearing the vector). The
    * inverse trade of [[merge]]'s copy-on-write: cheap writes, a read
    * tax — Delta/Iceberg deletion vectors in key form. Tombstone-wins
    * contract: a later [[merge]] carries live tombstones forward, so
    * re-upserting a tombstoned key shows nothing until a compaction
    * clears the vector first (real lakes sequence DV-rewrites the same
    * way). Returns the committed version. */
  def deleteWhere(spark: SparkSession, root: String,
                  keys: DataFrame): Long = {
    require(keys.columns.length == 1,
      s"tombstone relation must be exactly the key column: ${keys.columns.toSeq}")
    val newTombs = writeData(keys, root).files
    commitLoop(root) { head =>
      val cur = head.getOrElse(
        throw new IllegalStateException(s"nothing to delete from at $root"))
      Change("delete", cur, addedRows = 0L, addDel = newTombs)
    }
  }

  /** THE data write every commit's new files come from: rows land in a
    * fresh [[newDataDir]], or — with `partCols` — hive-partitioned under
    * `data/commit=<uuid>/<p1=v1>/.../part-*.parquet`, the commit marker
    * itself hive-encoded so ONE basePath-anchored scan covers every
    * commit of the lake (the marker column is synthesized by partition
    * discovery and dropped by readers). One Spark job of the lake's file
    * writer ([[graft.sources.GraftLakeDataWriter]]) writes them, and its
    * tasks report each file with its row count and index stats, so the
    * commit lists no directory and opens no footer. Every data write
    * funnels through here, which keeps the physical-name invariant:
    * files only ever carry PHYSICAL column names (one simultaneous
    * select, so even swap-shaped mappings translate correctly). An
    * append's names come from the schema its check fixed (an
    * auto-merge's fresh column stamps ride its own commit, not the
    * head); every other write's from the head. Returns the written files
    * with their row total, not yet in any manifest. */
  private def writeData(df0: DataFrame, root: String,
                        index: IndexSpec = IndexSpec.none,
                        admitted: Option[Admitted] = None,
                        partCols: Seq[String] = Nil): Staged = {
    val m = admitted.map(a => mappingOf(a.target)).getOrElse(columnMapping(root))
    val idx = physicalIndex(index, m)
    val df = if (m.isEmpty) df0 else df0.select(df0.columns.toSeq.map(c =>
      org.apache.spark.sql.functions.col(c).as(m.getOrElse(c, c))): _*)
    val sub = if (partCols.isEmpty) newDataDir() else s"data/commit=${UUID.randomUUID()}"
    val written = GraftLakeDataWriter.write(df,
      Paths.get(root).toAbsolutePath.toString, sub,
      partCols.map(c => m.getOrElse(c, c)), idx.statsCols)
    indexAndCount(df.sparkSession, root, written, idx).copy(admitted = admitted)
  }

  private val lastDataDirMillis = new java.util.concurrent.atomic.AtomicLong

  /** A fresh plain commit directory — of an append, a rewrite, or a
    * streaming sink's epoch — `data/t<epoch millis as 12 hex
    * digits>-<uuid>`: the names sort in write order, and after every
    * earlier form of data directory (random-UUID hex, `commit=<uuid>`,
    * `stream-<id>-e<N>`). The millis strictly increase within the JVM,
    * so a clock step back cannot reorder two commits of one writer. */
  private[graft] def newDataDir(): String = {
    val t = lastDataDirMillis.updateAndGet(p => math.max(p + 1, System.currentTimeMillis()))
    f"data/t$t%012x-${UUID.randomUUID()}"
  }

  /** `index` under the files' PHYSICAL column names: index columns
    * arrive logical, and the sidecars key physical, so renames never
    * invalidate an index. */
  private[graft] def physicalIndex(index: IndexSpec, mapping: Map[String, String]): IndexSpec =
    if (mapping.isEmpty) index
    else index.copy(
      statsCols = index.statsCols.map(c => mapping.getOrElse(c, c)),
      bloomCol = index.bloomCol.map(c => mapping.getOrElse(c, c)),
      ndvCols = index.ndvCols.map(c => mapping.getOrElse(c, c)))

  /** The shared post-write pass over `reported`, the files the writer
    * tasks reported with their footer stats (`index` in physical names),
    * staged in path order:
    * the min/max, row-count and byte-size sidecars come from those
    * reports and cost no Spark job; only a requested bloom or NDV index
    * scans the new files. Sidecars land in the commit's directories
    * BEFORE the manifest link that makes the files visible, so a reader
    * that resolves a file always resolves its index too. Pre-manifest
    * crash ⇒ sidecars are swept with their orphan dir by vacuum, like the
    * data files themselves. The writer never creates a zero-row file, so
    * none can enter a commit (the Delta/Iceberg invariant). */
  private def indexAndCount(spark: SparkSession, root: String,
                            reported: Seq[(String, FileStats.FileMeta)],
                            index: IndexSpec): Staged = {
    val written = reported.sortBy(_._1)
    val rel = written.map(_._1)
    // a path must read back from the record's array parser, which splits
    // on `,`: hive escaping keeps `,` in a partition value, so such a
    // file set is refused before any link
    rel.iterator.flatMap(_.split('/')).find(_.exists(Unrecordable)).foreach { seg =>
      throw new IllegalArgumentException(s"cannot commit partition value " +
        s"'$seg': a manifest path may not contain any of ${Unrecordable.mkString(" ")}")
    }
    if (index.statsCols.nonEmpty)
      FileStats.writeStatsSidecar(root, written.map { case (f, m) => f -> m.ranges }.toMap)
    // row counts ride EVERY commit (the writers reported them for the
    // manifest's addedRows) — the metadata-only count ([[fastCount]])
    // needs each live file's entry to answer
    FileStats.writeRowsSidecar(root, written.map { case (f, m) => f -> m.rows }.toMap)
    // byte sizes too: O(new files) stat calls HERE instead of O(live
    // files) per planned scan (a million HEADs on object storage)
    FileStats.writeBytesSidecar(root, rel.map(f =>
      f -> java.nio.file.Files.size(Paths.get(root, f))).toMap)
    index.bloomCol.foreach { c =>
      // sized from footer row counts (no counting scan) unless the
      // caller supplied a tighter expected-distinct bound: a bloom's
      // byte size is linear in `expected`, and rows OVERSTATE distinct
      // keys wherever the column repeats (a fact table's join key) —
      // the caller who knows the multiplicity can halve the index cost.
      // Undersizing degrades fpp, never correctness.
      val expected = index.bloomExpected.getOrElse(
        math.max(1L, written.foldLeft(0L)((a, m) => math.max(a, m._2.rows))))
      FileStats.buildBloomSidecars(spark, root, rel, c, expected, index.bloomFpp)
    }
    if (index.ndvCols.nonEmpty)
      FileStats.buildNdvSidecars(spark, root, rel, index.ndvCols)
    Staged(rel, written.map(_._2.rows).sum)
  }

  /** What to index at commit time: footer min/max for `statsCols`, a
    * per-file bloom over `bloomCol`, exact per-file distinct counts for
    * `ndvCols` (the column statistics a cost-based planner needs — see
    * [[FileStats.buildNdvSidecars]]). All optional; [[IndexSpec.none]]
    * preserves the plain commit path. */
  final case class IndexSpec(statsCols: Seq[String],
                             bloomCol: Option[String],
                             bloomFpp: Double = 0.01,
                             ndvCols: Seq[String] = Nil,
                             bloomExpected: Option[Long] = None)
  object IndexSpec {
    val none: IndexSpec = IndexSpec(Nil, None)
    def stats(cols: String*): IndexSpec = IndexSpec(cols, None)
  }

  /** The key-tombstone (deletion-vector) files live in version `v`, if
    * any — merge-on-read state the connector scan probes each row's key
    * against. */
  def deletesOf(root: String, v: Long): Seq[String] =
    resolve(root, v)._1.deletes

  /** Newest live version whose commit carries idempotence tag `tag`, if
    * any — the probe [[appendOnce]]/[[mergeOnce]] (and [[merge]]'s
    * in-loop recheck) use to make replays no-ops. Walks head-down through
    * the ≤ [[CkptEvery]] records above the nearest checkpoint, then
    * answers from that checkpoint's tag INDEX — O(1) amortized manifest
    * reads per probe, where the round-11 scan re-read O(versions)
    * manifests per micro-batch (O(batches²) over a CDC stream's life).
    * Tags pruned by a vacuum cutoff read as absent — the documented
    * retention-vs-replay-horizon contract. */
  private[etl] def findTag(root: String, tag: String): Option[Long] = {
    val head = currentVersion(root).getOrElse(return None)
    var v = head
    while (v >= 1L) {
      if (Files.exists(ckptFile(root, v)))
        // index covers everything ≤ v; the RAW read keeps the probe at
        // one file — tags are inline, segments never load for a tag
        return readCkptRaw(root, v).tags.get(tag)
      if (Files.exists(ickptFile(root, v))) {
        // an incremental checkpoint's base-plus-delta tag map covers
        // everything ≤ v too (same O(1) probe, one extra read, no
        // segment loads); a dangling base falls through to the record
        // walk
        manifestReads.incrementAndGet()
        val json = Files.readString(ickptFile(root, v))
        val b = longField(json, "baseCkpt")
        if (b >= 0L && Files.exists(ckptFile(root, b)))
          return (readCkptRaw(root, b).tags ++ tagsField(json)).get(tag)
      }
      if (!Files.exists(versionFile(root, v)))
        return None // out of retention with no checkpoint: tag forgotten
      val r = readRecord(root, v)
      if (r.tags.contains(tag)) return Some(v)
      // legacy full-state records resolve state but carry no tag index —
      // keep walking record-by-record, the pre-log-structure cost
      v -= 1
    }
    None
  }

  /** The idempotence tag of version `v`, if its commit carried one. */
  def tagOf(root: String, v: Long): Option[String] =
    readRecord(root, v).tag

  /** Newest live version committed under idempotence tag `tag`, if any —
    * the public form of the [[findTag]] probe (Delta's `txnVersion`
    * shape): O(1) amortized manifest reads through the checkpoint tag
    * index. [[graft.streaming.CdcFeed]] uses it to resume a change-feed
    * drain from the destination's own applied-tag state instead of a
    * side-channel offsets file. None when `root` has no commits. */
  def tagVersion(root: String, tag: String): Option[Long] =
    if (currentVersion(root).isEmpty) None else findTag(root, tag)

  /** MEASUREMENT hook ([[graft.ManifestCeiling]]): commit a pre-listed
    * file set through the normal CAS/checkpoint path without the data
    * write — what lets a synthetic million-file
    * manifest exercise resolution/pruning/planning at a scale no local
    * data generation could reach. Sidecars are the caller's job. With
    * `schema`, the files hold rows of it: the lake's first commit
    * declares it, and a later commit must match the head's. */
  private[graft] def commitSynthetic(root: String, rel: Seq[String],
                                     rows: Long,
                                     schema: Option[StructType] = None): Long =
    publish(root, Staged(rel, rows, schema.map(declaring)))

  /** One commit's CHANGE — the content of its log record: files and
    * tombstone files added/removed against `base`, the rows it added
    * (-1 = unknown), the schema it declares (a lake's first commit, an
    * overwrite, a clone, an evolution; later versions carry the last
    * one forward), and its idempotence tags. Bytes are O(this change),
    * never O(table). */
  private[etl] final case class Change(op: String, base: Long,
                                       addedRows: Long = -1L,
                                       add: Seq[String] = Nil,
                                       remove: Seq[String] = Nil,
                                       addDel: Seq[String] = Nil,
                                       removeDel: Seq[String] = Nil,
                                       schema: Option[StructType] = None,
                                       tags: Seq[String] = Nil)

  /** Characters no record string may carry: the hand-rolled parsers
    * ([[LakeCheckpoints]]) end a string at `"`, split a `tagList` or
    * file array at `,` and end it at `]`, and a real JSON reader would
    * take `\` as an escape. */
  private val Unrecordable = Set('"', '\\', ',', ']')

  /** The one idempotence-tag rule: non-empty, no [[Unrecordable]]
    * character, and no `}`, which ends the checkpoint tag map — every
    * record and checkpoint field then reads the tag back verbatim. A tag
    * that read back different could never be found again, and its
    * replay would commit twice. Returns `tag`. */
  private def checkTag(tag: String): String = {
    require(tag.nonEmpty && !tag.exists(c => c == '}' || Unrecordable(c)),
      s"tag must be non-empty and free of ${Unrecordable.mkString(" ")} }: $tag")
    tag
  }

  /** THE commit loop every manifest write goes through (optimistic
    * concurrency, never a lock). Each attempt runs `beforeAttempt` (a
    * test seam), yields to an already-committed `tag` (a replay, or a
    * racing same-tag writer: returns its version), reads the head, builds
    * the change from it — `attempt` sees the head each time, so
    * reconciling and fencing ([[abortIfRemoved]], which throws) happen
    * per attempt — and links it at head + 1. A lost link re-reads the
    * head and tries again. Returns the committed version. */
  private def commitLoop(root: String, tag: Option[String] = None,
                         beforeAttempt: () => Unit = () => ())(
                         attempt: Option[Long] => Change): Long = {
    tag.foreach(checkTag)
    var committed = -1L
    while (committed < 0) {
      beforeAttempt()
      tag.flatMap(findTag(root, _)).foreach(v => return v)
      val head = currentVersion(root)
      val next = head.getOrElse(0L) + 1
      if (tryCommit(root, next, attempt(head).copy(tags = tag.toSeq)))
        committed = next
    }
    committed
  }

  /** Publish version `version`'s CHANGE record if and only if the version
    * is still free. True on success; false means another writer won the
    * version (after a backoff). Every [[CkptEvery]]-th successful commit
    * also publishes the checkpoint future resolutions and tag probes
    * start from. */
  private[etl] def tryCommit(root: String, version: Long, c: Change): Boolean = {
    Files.createDirectories(manifestDir(root))
    def arr(xs: Seq[String]) = xs.map(f => s""""$f"""").mkString("[", ",", "]")
    // one tag keeps the legacy field (byte-identical with every solo
    // committer); a multi-tag GROUP commit writes `tagList` — k
    // exactly-once appends under one link, Delta's multi-txn shape
    val tagField =
      if (c.tags.size == 1) s""""tag":"${c.tags.head}","""
      else if (c.tags.nonEmpty) s""""tagList":${arr(c.tags)},"""
      else ""
    val rowsField = if (c.addedRows >= 0) s""""addedRows":${c.addedRows},""" else ""
    val schemaField =
      c.schema.map(d => s""""schemaB64":"${encodeSchema(d)}",""").getOrElse("")
    val json =
      s"""{"version":$version,"op":"${c.op}",$tagField$rowsField$schemaField""" +
        s""""base":${c.base},"add":${arr(c.add)},"remove":${arr(c.remove)},""" +
        s""""addDel":${arr(c.addDel)},"removeDel":${arr(c.removeDel)}}"""
    val tmp = manifestDir(root).resolve(s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, json)
    val pubT0 = System.nanoTime()
    val won =
      try publisherFor(root).tryPublish(versionFile(root, version), tmp)
      finally { Files.deleteIfExists(tmp); () }
    // EWMA of the publish attempt's own latency — the backoff's time
    // unit. On POSIX this is ~µs and the unit floors at 1 ms (the
    // historical constant); on an object store one conditional PUT is
    // 10-100 ms, and a backoff tuned in wall-ms constants is then
    // smaller than the very window it must spread losers across
    // (CommitContention phase 4: at 50 ms RTT the 32 ms-capped backoff
    // left 16 writers at 10.0 attempts/commit — every loser re-collided
    // inside the winner's publish).
    val pubD = System.nanoTime() - pubT0
    val prevEwma = publishEwmaNanos
    publishEwmaNanos = if (prevEwma == 0L) pubD else (prevEwma * 7 + pubD) / 8
    if (won) { headHint.put(root, version); lostStreak.set(0) }
    else {
      casLost.incrementAndGet()
      // capped jittered backoff, escalating with this thread's streak of
      // consecutive losses: racing writers interleave instead of
      // thrashing the same next slot (CommitContention r17: 16
      // unthrottled writers collapsed to 110 commits/s; with backoff +
      // head probing the same race sustains thousands). The unit scales
      // with the OBSERVED publish latency so the spread tracks the
      // medium's serialize window; the 2 s cap bounds the worst case.
      // Lock-freedom is untouched — the sleep only ever delays a KNOWN
      // loser's retry.
      val n = lostStreak.get + 1
      lostStreak.set(n)
      val unitMs = math.max(1L, publishEwmaNanos / 1000000L)
      val cap = math.min(2000L,
        math.min(32L, 1L << math.min(n, 5)) * unitMs)
      val pause =
        java.util.concurrent.ThreadLocalRandom.current().nextLong(cap + 1)
      if (pause > 0)
        try Thread.sleep(pause)
        catch { case _: InterruptedException =>
          Thread.currentThread().interrupt() }
    }
    if (won && version % CkptEvery == 0L) writeCheckpoint(root, version)
    if (won) maybeMaterializeCdc(root, version, c.op)
    won
  }

  /** Append `df` as a new snapshot version: new data files + (current
    * snapshot's files ∪ new files) manifest, CAS-retried against
    * concurrent committers. Returns the committed version. The data write
    * happens ONCE; only the (tiny) manifest commit loops. The schema
    * follows [[admit]]'s rule: `df` must have the lake's column names and
    * types, or with `mergeSchema` (the connector's write option —
    * Delta's autoMerge) the lake evolves to the union, declared on the
    * SAME commit record as the files, so a crash can never leave the lake
    * evolved with no data landed. */
  def append(df: DataFrame, root: String,
             index: IndexSpec = IndexSpec.none,
             mergeSchema: Boolean = false): Long = {
    val (data, a) = admit(df, root, mergeSchema)
    publish(root, writeData(data, root, index, Some(a)))
  }

  /** An append's schema as its pre-write check fixed it: `seen`, the
    * head's declared schema the check read (None on an empty lake), and
    * `declare`, what its commit declares while the head still holds
    * `seen` — the written schema on an empty lake, the union under
    * `mergeSchema`, else nothing. */
  private[graft] final case class Admitted(seen: Option[StructType],
                                           declare: Option[StructType],
                                           merge: Boolean = false) {
    /** The schema the files are written for. */
    def target: StructType = declare.orElse(seen).get
  }

  /** The admission of rows of `written` onto an empty lake. */
  private def declaring(written: StructType): Admitted = Admitted(None, Some(readShape(written)))

  /** THE append schema rule, run before any file is written (every append
    * path, the group commits, the connector and its sink follow it): a
    * lake's first commit declares the written schema, with `partCols` —
    * a partitioned append's — after the data columns, the order partition
    * discovery gives; a later append must have the head's column names and
    * types, or with `mergeSchema` is aligned to the union
    * [[mergeForWrite]] evolves the lake to. Returns the rows to write. */
  private def admit(df: DataFrame, root: String, mergeSchema: Boolean = false,
                    partCols: Seq[String] = Nil): (DataFrame, Admitted) = {
    val (part, data) = df.schema.fields.partition(f => partCols.contains(f.name))
    val a = admitted(root, StructType(data ++ partCols.flatMap(c => part.find(_.name == c))),
      mergeSchema)
    // absent columns null-fill and narrower ones widen to the target
    (if (shape(df.schema) == shape(a.target)) df
     else df.select(a.target.fields.toSeq.map(f =>
       (if (df.columns.contains(f.name)) df(f.name) else org.apache.spark.sql.functions.lit(null))
         .cast(f.dataType).as(f.name)): _*), a)
  }

  /** [[admit]]'s rule for rows of `written` at the current head. */
  private[graft] def admitted(root: String, written: StructType,
                              mergeSchema: Boolean = false): Admitted = {
    val lake = currentVersion(root).map(v => schemaAt(root, Some(v)))
    Admitted(lake, declareOver(root, lake, written, mergeSchema), mergeSchema)
  }

  /** What an append of rows of `written` declares over the declared
    * schema `lake` — the rule itself. */
  private def declareOver(root: String, lake: Option[StructType], written: StructType,
                          merge: Boolean): Option[StructType] = lake match {
    case None => Some(readShape(written))
    case Some(l) if shape(l) == shape(written) => None
    case Some(l) if merge =>
      val to = mergeForWrite(l, written)
      Option.when(shape(to) != shape(l))(to)
    case _ => throw mismatch(root, written, lake)
  }

  private def mismatch(root: String, written: StructType, lake: Option[StructType]) =
    new IllegalArgumentException(s"append schema ${readShape(written).simpleString} " +
      s"does not match lake schema ${lake.fold("(none)")(readShape(_).simpleString)} at " +
      s"$root — append with mergeSchema (the connector's write option mergeSchema=true) " +
      "to evolve the lake to the union (additions/widenings only)")

  /** The schema an admitted append's commit declares over `lake`, the
    * declared schema at the head of a commit attempt. While `lake` is
    * what the check saw, its answer stands. Once another writer has
    * changed it, the check runs again against it, for the files as
    * written — unless a column mapping could name their columns
    * differently, when it refuses — and a refused attempt leaves the
    * files orphans for [[vacuum]]. */
  private[etl] def declareOn(root: String, lake: Option[StructType],
                             a: Admitted): Option[StructType] =
    if (lake == a.seen) a.declare
    else lake match {
      case Some(l) if mappingOf(l) != mappingOf(a.target) ||
          (isMapped(l) || isMapped(a.target)) && shape(l) != shape(a.target) =>
        throw mismatch(root, a.target, lake)
      case _ => declareOver(root, lake, a.target, a.merge)
    }

  /** [[append]] through the in-JVM group-commit coalescer
    * ([[GroupCommit]]): the data write is this caller's own distributed
    * job exactly as in [[append]] — only the (tiny) manifest link
    * coalesces with concurrent `appendGrouped` callers on the same
    * root, so k concurrent appends can land under ONE version whose
    * record unions their files. Returns that shared version. Use from a
    * committer process whose threads append the same table
    * concurrently (parallel `foreachBatch` sinks, fan-in ETL legs) —
    * at object-store latency the manifest head serializes links at
    * ~1/(k·RTT), and coalescing is the only protocol-level lever
    * (CommitContention phase 5). Plain appends only: DML and
    * auto-merging commits need their per-record semantics and keep the
    * solo CAS paths. The schema rule is [[append]]'s without
    * `mergeSchema`; the leader re-checks each member at its head. */
  def appendGrouped(df: DataFrame, root: String,
                    index: IndexSpec = IndexSpec.none): Long = {
    val (data, a) = admit(df, root)
    val w = writeData(data, root, index, Some(a))
    GroupCommit.commit(root, w.files, w.rows, w.admitted)
  }

  /** [[appendOnce]] through the group-commit coalescer: exactly-once
    * per `tag` AND coalesced — k concurrent tagged appends (the
    * canonical case: many streaming `foreachBatch` sinks sharing one
    * table) land under ONE manifest link whose record carries every
    * tag (`tagList` — Delta's multi-`txn`-action commit shape). Replay
    * semantics are [[appendOnce]]'s verbatim: an existing tag rides
    * (the replayed caller gets the committed version, its fresh data
    * files stay unreferenced orphans for [[vacuum]]), a same-tag
    * duplicate INSIDE one coalesced batch commits exactly one member's
    * files, and the tag probe answers through the same checkpoint tag
    * index ([[findTag]] — `tagList` tags are indexed identically).
    * Same retention contract as appendOnce: vacuum must retain the
    * writer's replay horizon. */
  def appendOnceGrouped(df: DataFrame, root: String, tag: String,
                        index: IndexSpec = IndexSpec.none): Long = {
    findTag(root, checkTag(tag)).getOrElse { // bad tags fail before enqueue
      val (data, a) = admit(df, root)
      val w = writeData(data, root, index, Some(a))
      GroupCommit.commit(root, w.files, w.rows, w.admitted, Some(tag))
    }
  }

  /** MEASUREMENT hook ([[graft.CommitContention]] phase 5):
    * [[commitSynthetic]] through the group-commit path. */
  private[graft] def commitSyntheticGrouped(root: String, rel: Seq[String],
                                            rows: Long,
                                            tag: Option[String] = None,
                                            schema: Option[StructType] = None): Long =
    GroupCommit.commit(root, rel, rows, schema.map(declaring), tag)

  /** Replace the whole table with `df` as a new snapshot version: new
    * data files, with EVERY previous live file (and live deletion
    * vector) logged as removed — Delta's INSERT OVERWRITE shape, one
    * atomic commit. Time travel still reads the pre-overwrite versions;
    * the removed files stay on disk until [[vacuum]]. The remove list is
    * O(previous state) by nature of the operation; the data write
    * happens once, and only the manifest commit CAS-loops (re-resolving
    * the victim set each attempt, so a racing append's files are
    * removed too, not resurrected). The commit declares `df`'s schema,
    * whatever the lake's was: an overwrite replaces the table. */
  def overwrite(df: DataFrame, root: String,
                index: IndexSpec = IndexSpec.none): Long = {
    val a = declaring(df.schema)
    val w = writeData(df, root, index, Some(a))
    commitLoop(root) { head =>
      Change("overwrite", head.getOrElse(0L), w.rows, w.files,
        remove = head.map(files(root, _)).getOrElse(Nil),
        removeDel = head.map(deletesOf(root, _)).getOrElse(Nil), schema = a.declare)
    }
  }

  /** Append `df` as a HIVE-PARTITIONED snapshot version: rows land under
    * `data/commit=<uuid>/<p1=v1>/.../part-*.parquet`, so every file's
    * partition tuple is recorded by its manifest path at commit time —
    * no extra manifest field — and readers re-attach the partition
    * columns from each file's path. [[readPruned]] and [[merge]]'s
    * candidate targeting compose partition-level pruning (exact ranges
    * synthesized from the path tuple by the [[LakeIndex]]) with the
    * min/max sidecar index — the first pruning level every real
    * lake query uses, ahead of file statistics. Rewrites (merge /
    * compact / compactSmall) preserve the partitioning; a Z-order
    * rewrite trades it for Morton clustering, storing the partition
    * columns back as data columns. Same CAS/O(change) commit mechanics
    * and schema rule as [[append]]; a first commit declares the
    * partition columns after the data columns, with the types `df` gives
    * them, and readers convert path values to those types. Partition
    * values are hive-encoded by the writer, and
    * one that still holds a character a manifest path cannot carry (`,`,
    * which hive escaping keeps) is refused before the link, naming the
    * value — the lake stays at its prior head. */
  def appendPartitioned(df: DataFrame, root: String, partCols: Seq[String],
                        index: IndexSpec = IndexSpec.none): Long = {
    require(partCols.nonEmpty, "appendPartitioned needs partition columns")
    require(!df.columns.contains("commit"),
      "'commit' is the reserved partition-discovery marker column")
    val (data, a) = admit(df, root, partCols = partCols)
    publish(root, writeData(data, root, index, Some(a), partCols))
  }

  /** Exactly-once append for REPLAYABLE writers (a streaming
    * `foreachBatch` is the canonical one): the commit carries an
    * idempotence `tag` (e.g. "dedup-b7" for micro-batch 7), and if any
    * live manifest already carries it, the append is a no-op returning
    * the existing version — so a crash-replayed batch (same batchId,
    * same data: Spark's checkpoint contract) commits exactly once however
    * many times it runs. A replay that crashed BETWEEN its data write and
    * its manifest link leaves orphan data files no manifest references —
    * invisible to every reader, reclaimed by [[vacuum]]'s unreferenced-
    * file sweep. The tag probe answers from the nearest checkpoint's tag
    * index — O(1) amortized manifest reads ([[findTag]]). Retention
    * contract: vacuum must retain at least the writer's replay horizon,
    * or a replayed tag would be forgotten and double-append — the same
    * contract Delta documents between VACUUM and streaming checkpoints. */
  def appendOnce(df: DataFrame, root: String, tag: String,
                 index: IndexSpec = IndexSpec.none): Long = {
    // probe BEFORE the write, so a replay writes no data; a racing
    // same-tag writer that wins meanwhile leaves our files orphans
    findTag(root, checkTag(tag)).getOrElse {
      val (data, a) = admit(df, root)
      publish(root, writeData(data, root, index, Some(a)), Some(tag))
    }
  }

  /** Exactly-once commit of PRE-WRITTEN data files through the
    * group-commit coalescer — for writers that landed their parquet
    * through their own distributed path (the connector's streaming SINK:
    * executors write task files, the driver commits the epoch). `written`
    * is what those tasks reported — each file with its footer stats,
    * `index` in physical names — so the sidecars cost no job, and only
    * the tagged manifest link coalesces — N streaming queries
    * epoch-committing the same table land under shared multi-tag links
    * ([[GroupCommit]]) instead of racing the head once per epoch. Replay
    * semantics are [[appendOnce]]'s: an existing tag wins and the
    * caller's files stay unreferenced orphans for [[vacuum]]. An empty
    * `written` commits an empty tagged version — a no-data epoch still
    * advances exactly-once state. `admitted` is the append rule's answer
    * ([[admitted]]) the writer got before its tasks wrote a file. */
  private[graft] def commitStreamedFilesGrouped(spark: SparkSession, root: String,
                                                written: Seq[(String, FileStats.FileMeta)],
                                                tag: String, admitted: Admitted,
                                                index: IndexSpec = IndexSpec.none): Long = {
    findTag(root, checkTag(tag)).getOrElse { // bad tags fail before enqueue
      val w = indexAndCount(spark, root, written, index)
      GroupCommit.commit(root, w.files, w.rows, Some(admitted), Some(tag))
    }
  }

  /** Compact the current snapshot: rewrite its files as one coalesced set
    * and commit a manifest carrying (rewritten files ∪ anything appended
    * since the compaction's base version). Readers of older versions are
    * untouched — their manifests still reference the original files, which
    * [[vacuum]] alone may delete. Returns the committed version.
    * `onBeforeCommit` is the same race-injection test seam as
    * [[merge]]'s. */
  def compact(spark: SparkSession, root: String, partitions: Int = 1,
              onBeforeCommit: () => Unit = () => ()): Long = {
    val baseV = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"nothing to compact at $root"))
    val baseFiles = files(root, baseV)
    val baseDeletes = deletesOf(root, baseV)
    // the rewrite MATERIALIZES the base version's tombstones (the
    // merge-on-read debt is paid here, once) — and preserves the lake's
    // hive partitioning when it has one
    val materialized = read(spark, root, Some(baseV)).repartition(partitions)
    val rewritten =
      writeData(materialized, root, partCols = partColsOf(baseFiles)).files
    commitLoop(root, beforeAttempt = onBeforeCommit) { head =>
      // Conflict fence: this rewrite READ every base file; if a commit
      // that raced past baseV REMOVED one (a concurrent merge/compact
      // rewrote it), our rewrite holds its stale rows and carrying the
      // winner's replacement too would duplicate every survivor row.
      // Append-only races never remove files, so they never trip this.
      // (head ≥ baseV: manifests never retract)
      abortIfRemoved(root, baseV, head.get, baseFiles, "compact")
      // Delta record: base files out, rewrite in. Reconciliation is
      // structural — files added by racing commits simply aren't in
      // `remove`, and tombstones committed since baseV aren't in
      // `removeDel`, so both survive (key tombstones are file-agnostic,
      // so carrying them stays correct); the base tombstones the rewrite
      // materialized come out.
      Change("compact", baseV, addedRows = 0L,
        add = rewritten, remove = baseFiles, removeDel = baseDeletes)
    }
  }

  /** REPLACE a set of live files with pre-written replacements — the
    * commit half of Spark's group-based (copy-on-write) row-level
    * operations (SQL UPDATE / MERGE INTO / rewrite-shape DELETE through
    * the connector): the executors already wrote the affected groups'
    * post-state rows and reported their stats; this writes the sidecar
    * indexes for the new files from those reports and commits `removed` out /
    * `added` in under the same serializable-writer fence every
    * rewriting commit checks ([[abortIfRemoved]]) — a racing rewrite of
    * any replaced file aborts rather than resurrecting stale rows.
    * Racing appends reconcile; live key tombstones are carried
    * (file-agnostic, tombstone-wins like [[merge]]). `baseV` is the
    * version the caller's scan resolved. */
  private[graft] def commitReplace(spark: SparkSession, root: String,
                                   baseV: Long, removed: Seq[String],
                                   added: Seq[(String, FileStats.FileMeta)], op: String,
                                   index: IndexSpec = IndexSpec.none): Long = {
    val w = indexAndCount(spark, root, added, index)
    commitLoop(root) { head =>
      val cur = head.getOrElse(
        throw new IllegalStateException(s"nothing to replace at $root"))
      abortIfRemoved(root, baseV, cur, removed, op)
      Change(op, baseV, w.rows, w.files, remove = removed)
    }
  }

  /** The serializable-writer fence every REWRITING commit (compact /
    * Z-order / merge) checks inside its CAS loop: if any file the
    * rewrite READ has been removed by a commit that raced past `baseV`,
    * the rewrite was computed against bytes a concurrent writer already
    * replaced — committing would resurrect the stale rows alongside the
    * winner's rewrite, silently duplicating every survivor row of the
    * overlap. Real lakes abort here (Delta's
    * ConcurrentDeleteReadException); so do we. Racing APPENDS and
    * [[deleteWhere]] never remove files, so pure append/delete
    * concurrency keeps its lock-free reconcile (spec'd, rounds 10-11) —
    * only rewrite-vs-rewrite overlap aborts. */
  private def abortIfRemoved(root: String, baseV: Long, cur: Long,
                             readSet: Seq[String], op: String): Unit = {
    val lost = readSet.filterNot(files(root, cur).toSet)
    if (lost.nonEmpty) {
      fenceAborts.incrementAndGet()
      throw new java.util.ConcurrentModificationException(
        s"$op at $root based on v$baseV read ${lost.size} file(s) a commit " +
          s"≤ v$cur removed (e.g. ${lost.head}): a concurrent writer rewrote " +
          "the overlap; retry the operation from the new head")
    }
  }

  /** Selective small-file compaction — production OPTIMIZE's incremental
    * form: rewrite ONLY the files under `minBytes` into `partitions`
    * bin-packed files and carry every adequately-sized file verbatim, so
    * steady-state maintenance cost tracks the small-file backlog (the
    * freshly-streamed tail), never the table. Purely physical: deletion
    * vectors are carried live in full, NOT materialized — tombstoned
    * keys may live in carried files too, and a key vector applies
    * file-agnostically, so partial materialization is neither needed nor
    * attempted (full [[compact]] is the vector-clearing op). No-op
    * returning the current version when fewer than two files qualify. */
  def compactSmall(spark: SparkSession, root: String, minBytes: Long,
                   partitions: Int = 1,
                   index: IndexSpec = IndexSpec.none): Long = {
    val baseV = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"nothing to compact at $root"))
    val baseFiles = files(root, baseV)
    val idx = LakeIndex.of(root, baseV)
    val small = baseFiles.filter(idx.length(_) < minBytes)
    if (small.size <= 1) return baseV
    val packed = readSubset(spark, root, Some(baseV), small, deletes = false)
      .repartition(partitions)
    val rewritten =
      writeData(packed, root, index, partCols = partColsOf(baseFiles)).files
    commitLoop(root) { head =>
      // read set = the small files only; disjoint racing rewrites survive
      abortIfRemoved(root, baseV, head.get, small, "compactSmall")
      // racing appends survive structurally (absent from `remove`);
      // deletion vectors are carried live in full (no del delta)
      Change("compact", baseV, addedRows = 0L, add = rewritten, remove = small)
    }
  }

  /** Compact the current snapshot into `files` files laid out along the
    * Z-curve of (`colA`, `colB`) — Delta/Iceberg's `OPTIMIZE ZORDER BY`
    * on the manifest lake: the rewrite range-partitions + sorts by the
    * Morton interleave ([[ZOrder.interleave]]), so every output file
    * covers a small rectangle of the two-dimension key space and the
    * commit-time min/max index (kept on BOTH dims) prunes on either
    * dimension or a box of both. Same reconcile/CAS semantics as
    * [[compact]]; racing appends survive un-clustered until the next
    * optimize pass — eventual clustering, the production contract. */
  def compactZOrder(spark: SparkSession, root: String, colA: String,
                    colB: String, nFiles: Int,
                    index: IndexSpec = IndexSpec.none): Long = {
    import org.apache.spark.sql.functions.col
    val baseV = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"nothing to compact at $root"))
    val baseFiles = files(root, baseV)
    val baseDeletes = deletesOf(root, baseV)
    val base = read(spark, root, Some(baseV)) // materialize, as compact()
    val rewritten = writeData(
      base.withColumn("__z", ZOrder.interleave(col(colA), col(colB)))
        .repartitionByRange(nFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z"),
      root, index).files
    commitLoop(root) { head =>
      abortIfRemoved(root, baseV, head.get, baseFiles, "compactZOrder")
      Change("compact", baseV, addedRows = 0L,
        add = rewritten, remove = baseFiles, removeDel = baseDeletes)
    }
  }

  /** A snapshot read whose file listing was pruned by an index: `df`
    * scans only `kept` of `total` manifest files and, with the predicate
    * applied row by row, holds exactly the full read's matching rows. */
  final case class PrunedScan(df: DataFrame, kept: Int, total: Int)

  /** Range-pruned snapshot read: resolve the manifest of `version` (or
    * latest), drop every file whose commit-time min/max index proves it
    * cannot satisfy ALL of `preds`, and scan the survivors. On a
    * partitioned lake the file's path-encoded partition tuple joins the
    * prune as exact ranges — partition pruning and stats pruning compose
    * in the one conservative mechanism of the version's [[LakeIndex]],
    * partition level first in effect because its ranges are the
    * tightest. At 100 TB this listing-level skip is what turns a
    * point-ish query on a million-file table from a footer-open storm
    * into a handful of file reads (Iceberg's manifest filtering). The
    * returned frame has the predicates APPLIED (row-level), so the
    * result is exactly the full scan's: the pruning only decides which
    * files the scan opens. */
  def readPruned(spark: SparkSession, root: String,
                 preds0: Seq[FileStats.Range],
                 version: Option[Long] = None): PrunedScan = {
    val v = versionOf(root, version)
    // the index speaks PHYSICAL names; the frame, LOGICAL ones
    val idx = LakeIndex.of(root, v)
    val kept = idx.prune(physPredsAt(root, Some(v), preds0))
    val df = readSubset(spark, root, Some(v), kept, deletes = true)
    PrunedScan(df.filter(rangeCondition(df.schema, preds0)), kept.size, idx.files.size)
  }

  /** Point-lookup snapshot read through the per-file bloom index on
    * `col`: a file survives only if its bloom might contain AT LEAST ONE
    * probe value (or carries no bloom — conservative). False positives
    * cost a wasted file read; false negatives cannot occur (the sketch
    * guarantee), so with the IN-filter re-applied the result equals the
    * full scan's. */
  def readPointLookup(spark: SparkSession, root: String, col0: String,
                      values: Seq[String],
                      version: Option[Long] = None): PrunedScan = {
    import org.apache.spark.sql.functions.{col, lit}
    val v = versionOf(root, version)
    // bloom sidecar files are named for the PHYSICAL column
    val idx = LakeIndex.of(root, v)
    val kept = idx.bloomKeep(
      Seq(columnMapping(root, Some(v)).getOrElse(col0, col0) -> values), idx.files)
    val df = readSubset(spark, root, Some(v), kept, deletes = true)
    val typed = values.map(lit(_).cast(df.schema(col0).dataType))
    PrunedScan(df.filter(col(col0).isin(typed: _*)), kept.size, idx.files.size)
  }

  /** Copy-on-write MERGE (upsert + optional tombstone delete) keyed on
    * `key`, targeted by the min/max file index: only manifest files whose
    * commit-time `key` range MAY contain an update key are rewritten —
    * every other file is carried into the new manifest untouched, which
    * at 100 TB is the whole point (a merge touching 0.1% of keys rewrites
    * ~0.1% of files, not the table; Delta's MERGE + data-skipping
    * composition). Candidate discovery joins the O(files) stats relation
    * against the update keys broadcast-style — the update set is never
    * collected to the driver. Files without harvested `key` stats are
    * always candidates (conservative, so pre-index history merges
    * correctly). Rows of `updates` REPLACE same-key rows; rows flagged
    * true in `deleteCol` (if given) are tombstones: the matched row is
    * removed and nothing re-inserted. Assumes `key` is unique per version
    * on both sides (the upsert contract). Concurrency: racing APPENDS
    * (and racing merges/compactions over DISJOINT files) are reconciled
    * against the current listing inside the CAS loop and survive; a
    * racing rewrite that removed any file THIS merge read aborts with
    * `ConcurrentModificationException` (Delta's
    * ConcurrentDeleteReadException contract — see [[abortIfRemoved]]),
    * because committing would resurrect the stale survivors next to the
    * winner's rewrite. Returns the committed version.
    *
    * `onBeforeCommit` is a test seam: the spec injects a racing commit
    * between candidate discovery and the CAS attempt to exercise the
    * conflict fence deterministically. Production callers leave it. */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
            key: String, index: IndexSpec = IndexSpec.none,
            deleteCol: Option[String] = None,
            broadcastUpdates: Boolean = true,
            tag: Option[String] = None,
            onBeforeCommit: () => Unit = () => ()): Long = {
    import org.apache.spark.sql.functions.{col, lit, not}
    tag.foreach(checkTag) // before the rewrite, not after it
    // The anti-join's update-key side is usually tiny relative to the
    // touched files and its size ESTIMATE derives from a filtered scan
    // (the Finding-2 estimator class), so it is pinned broadcast by
    // default; a bulk backfill whose update set rivals the table passes
    // broadcastUpdates=false and gets a plain shuffled anti-join.
    val hint: DataFrame => DataFrame =
      if (broadcastUpdates) org.apache.spark.sql.functions.broadcast else identity
    val baseV = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"nothing to merge into at $root"))
    val baseFiles = files(root, baseV)
    val touched = candidateFiles(spark, root, LakeIndex.of(root, baseV), baseFiles, key, updates)
    val upKeys = updates.select(col(key)).distinct()
    val newRows = deleteCol match {
      case None => updates
      case Some(dc) => updates.filter(not(col(dc) === lit(true))).drop(dc)
    }
    // the append rule: update rows of another shape are refused before
    // anything is written, whichever branch below writes them
    val (_, a) = admit(newRows, root)
    val survivors =
      if (touched.isEmpty) newRows
      else readSubset(spark, root, Some(baseV), touched, deletes = false)
        .join(hint(upKeys), Seq(key), "left_anti")
        .unionByName(newRows)
    // a partitioned lake's rewrite stays partitioned (updates must carry
    // the partition columns — unionByName above enforces it)
    val rewritten = writeData(survivors, root, index, partCols = partColsOf(baseFiles))
    // The same-tag recheck runs INSIDE the loop (not only up front in
    // [[mergeOnce]]): a zombie replay racing its successor must not
    // double-apply — if the tag landed while we were rewriting, this
    // attempt yields to it and our rewrite is vacuum-reapable orphans.
    commitLoop(root, tag, onBeforeCommit) { head =>
      // read set = the touched candidates; see [[abortIfRemoved]]
      abortIfRemoved(root, baseV, head.get, touched, "merge")
      // Delta record: touched files out, rewrite in. Racing appends and
      // racing DISJOINT rewrites survive structurally (their files are
      // simply not in `remove`), and live tombstones are carried —
      // tombstone-wins (see deleteWhere). A racing schema change
      // re-runs the rule's check against the new head.
      Change("merge", baseV, rewritten.rows, rewritten.files, remove = touched,
        schema = declareOn(root, head.map(v => schemaAt(root, Some(v))), a))
    }
  }

  /** Files of `fileList` that MAY contain a key of `keys` (any column
    * set containing `key`), per `idx`'s ranges — the commit-time min/max
    * index AND the path-encoded partition tuple (a merge keyed on a partition column
    * targets exactly the matching partitions' files): one pass over
    * `keys` against the tiny broadcast stats relation (string ranges
    * compare lexically — only numeric-keyed files join the numeric
    * branch and vice versa); files without harvested or path-derived
    * `key` stats are always candidates. The keys are never collected to
    * the driver. */
  private[graft] def candidateFiles(spark: SparkSession, root: String,
                             idx: LakeIndex, fileList: Seq[String], key: String,
                             keys: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.{col, not}
    // index ranges key PHYSICAL names; `key` names the column in the
    // (logical) `keys` relation — translate for the stats side only
    val physKey = columnMapping(root).getOrElse(key, key)
    val (ranged, blind) = fileList.partition(f => idx.composed(f).contains(physKey))
    val statsRows = ranged.map { f =>
      val r = idx.composed(f)(physKey); (f, r.min, r.max, r.numeric)
    }
    val candidates: Seq[String] =
      if (statsRows.isEmpty) Seq.empty
      else {
        import spark.implicits._
        val sdf = statsRows.toDF("file", "min", "max", "numeric")
        val k = keys.select(col(key).cast("string").as("k"),
          col(key).cast("double").as("kd")).distinct()
        k.join(org.apache.spark.sql.functions.broadcast(sdf),
            (col("numeric") && col("kd").between(
              col("min").cast("double"), col("max").cast("double"))) ||
            (not(col("numeric")) && col("k").between(col("min"), col("max"))))
          .select("file").distinct().as[String].collect().toSeq
      }
    candidates ++ blind
  }

  /** Exactly-once MERGE for replayable writers — [[appendOnce]]'s
    * idempotence contract on the [[merge]] path: the commit carries `tag`
    * (e.g. "cdc-b7" for micro-batch 7 of a streaming CDC apply), and if
    * any live manifest already carries it, the whole merge is a no-op
    * returning the existing version — a crash-replayed batch (same
    * batchId ⇒ same changes under Spark's checkpoint contract) applies
    * exactly once however many times it runs, and a replay that died
    * between its data write and its manifest link leaves only vacuum-
    * reapable orphans. Like appendOnce, the tag is rechecked INSIDE
    * merge's CAS loop, so even a zombie replay racing its successor
    * yields instead of double-applying; the same
    * vacuum-vs-replay-horizon retention contract applies. */
  def mergeOnce(spark: SparkSession, root: String, updates: DataFrame,
                key: String, tag: String,
                index: IndexSpec = IndexSpec.none,
                deleteCol: Option[String] = None,
                onBeforeCommit: () => Unit = () => ()): Long = {
    findTag(root, checkTag(tag)).getOrElse {
      merge(spark, root, updates, key, index, deleteCol, tag = Some(tag),
        onBeforeCommit = onBeforeCommit)
    }
  }

  /** Change data feed between two committed versions — the LOGICAL diff,
    * derived from the manifest diff plus the deletion-vector delta:
    *
    *   - Files removed by `fromV`→`toV` (pre side) and files added (post
    *     side) full-outer join on `key` (unique per version — the same
    *     contract [[merge]] keeps) and classify into `_change_type` ∈
    *     insert / delete / update_preimage / update_postimage. Rows in
    *     carried-over files never enter this join, so a copy-on-write
    *     merge that touched 0.1% of files diffs 0.1% of the table (the
    *     Delta CDF trick). Each side is its version's LOGICAL relation —
    *     that version's tombstoned keys are dropped first — so a
    *     pre-range delete materialized by an in-range compaction cancels
    *     instead of surfacing as a false delete.
    *   - A [[deleteWhere]] inside the range changes NO file, so its
    *     victims live in carried files: the vector KEY delta (toV's
    *     tombstone keys − fromV's, and the reverse for un-deletes) is
    *     semi-joined against the carried files — pruned to the index's
    *     candidate files, the same targeting a merge uses — and emitted
    *     as delete pre-images / insert post-images.
    *
    * Physical-only moves (compaction) produce equal pre/post images and
    * are dropped, so a pure compact step feeds zero changes. */
  def changeFeed(spark: SparkSession, root: String, fromV: Long, toV: Long,
                 key: String): DataFrame = {
    require(columnMapping(root, Some(toV)).isEmpty,
      s"changeFeed on $root: the lake uses column mapping (rename/drop " +
        "history) — the feed's frozen per-version column names and the " +
        "mapping refuse each other, as in Delta")
    import org.apache.spark.sql.functions.{array, col, explode, lit, struct, when}
    val from = files(root, fromV).toSet
    val to = files(root, toV).toSet
    val removed = (from -- to).toSeq.sorted
    val added = (to -- from).toSeq.sorted
    val carried = (from intersect to).toSeq.sorted
    val schema = schemaOf(root, Some(toV))
    val cols = schema.fieldNames.toSeq
    // each side is its version's LOGICAL relation: that version's vector applies
    def side(fs: Seq[String], v: Long) =
      readSubset(spark, root, Some(v), fs, deletes = true, Some(schema))
    val pre = side(removed, fromV)
      .select(col(key).as("_k"), struct(cols.map(col): _*).as("_pre"))
    val post = side(added, toV)
      .select(col(key).as("_kp"), struct(cols.map(col): _*).as("_post"))
    // ONE full-outer join, classified and exploded in the same pass — the
    // naive four-branch union would replicate the join (and both file
    // scans) once per change type, 4× the shuffle at any scale. An
    // unchanged row (equal images after a physical-only move) explodes an
    // empty array and vanishes; null-safe struct compare so a column set
    // to NULL counts as a change.
    val fileDiff = pre.join(post, col("_k") === col("_kp"), "full_outer")
      .select(col("_pre"), col("_post"), explode(
        when(col("_k").isNull, array(lit("insert")))
          .when(col("_kp").isNull, array(lit("delete")))
          .when(!(col("_pre") <=> col("_post")),
            array(lit("update_preimage"), lit("update_postimage")))
          .otherwise(array().cast("array<string>"))).as("_change_type"))
      .select(
        when(col("_change_type").isin("insert", "update_postimage"),
          col("_post")).otherwise(col("_pre")).as("_row"),
        col("_change_type"))
      .select((cols.map(c => col(s"_row.$c")) :+ col("_change_type")): _*)
    // vector deltas over carried files (key-level, direction-aware)
    def tombKeys(v: Long): Option[DataFrame] = {
      val ds = deletesOf(root, v)
      if (ds.isEmpty) None
      else {
        val t = spark.read.parquet(ds.map(f => Paths.get(root, f).toString): _*)
        Some(t.select(col(t.columns.head).as(key)).distinct())
      }
    }
    def carriedHits(delta: DataFrame, tpe: String) = {
      val cand = candidateFiles(spark, root, LakeIndex.of(root, toV), carried, key, delta)
      if (cand.isEmpty) fileDiff.limit(0)
      else readSubset(spark, root, Some(toV), cand, deletes = false, Some(schema))
        .join(delta, Seq(key), "left_semi")
        .withColumn("_change_type", lit(tpe))
        .select((cols.map(col) :+ col("_change_type")): _*)
    }
    val (fk, tk) = (tombKeys(fromV), tombKeys(toV))
    val newDel = (fk, tk) match {
      case (_, None) => None
      case (None, Some(t)) => Some(t)
      case (Some(f), Some(t)) => Some(t.except(f))
    }
    val unDel = (fk, tk) match {
      case (None, _) => None
      case (Some(f), None) => Some(f)
      case (Some(f), Some(t)) => Some(f.except(t))
    }
    if (carried.isEmpty || (newDel.isEmpty && unDel.isEmpty)) fileDiff
    else Seq(
      newDel.map(carriedHits(_, "delete")),
      unDel.map(carriedHits(_, "insert"))
    ).flatten.foldLeft(fileDiff)(_ unionByName _)
  }

  // ── Change-data-feed enablement + materialization ───────────────────
  //    The connector's `readChangeFeed` surface (Delta's CDF design):
  //    APPEND commits need no extra state — their added files ARE their
  //    inserts — but a CHANGE commit's diff is a join ([[changeFeed]]),
  //    which a distributed file scan can't replay per-row. So, like
  //    Delta's `delta.enableChangeDataFeed`, an enabled lake MATERIALIZES
  //    each change commit's feed once, at write time, as parquet under
  //    `_cdc/v=<N>/` (schema = the version's columns + `_change_type`),
  //    and every CDF read — batch or streaming — is then a pure file
  //    scan: distributed, vectorized, plan-identical at any scale.

  private def cdcConfigFile(root: String): Path =
    Paths.get(root, "_cdc", "_config.json")
  private def cdcDir(root: String, v: Long): Path =
    Paths.get(root, "_cdc", s"v=$v")

  /** Enable the change data feed: record the row-identity `key` column
    * ([[changeFeed]]'s diff key — unique per version, the same contract
    * [[merge]] keeps) under `_cdc/_config.json`. From this call on,
    * every CHANGE commit (merge / delete / overwrite / restore /
    * row-level rewrite) materializes its feed at commit time; change
    * commits made BEFORE enablement refuse a CDF read, exactly Delta's
    * contract for ranges predating `enableChangeDataFeed`. Idempotent;
    * re-enabling with a different key refuses. */
  def enableCdf(root: String, key: String): Unit = {
    require(key.nonEmpty && !key.exists(c => c == '"' || c == '\\'),
      s"CDF key must be quote-free: $key")
    require(columnMapping(root).isEmpty,
      s"cannot enable CDF on $root: the lake uses column mapping " +
        "(rename/drop history), and the feed's materialized files freeze " +
        "column names per version — the two refuse each other, as in Delta")
    cdfKey(root) match {
      case Some(k) => require(k == key,
        s"CDF already enabled on $root with key '$k' (asked for '$key')")
      case None =>
        Files.createDirectories(cdcConfigFile(root).getParent)
        Files.writeString(cdcConfigFile(root), s"""{"key":"$key"}""")
        ()
    }
  }

  /** The CDF diff key, if the feed is enabled on this lake. */
  def cdfKey(root: String): Option[String] =
    if (!Files.exists(cdcConfigFile(root))) None
    else strField(Files.readString(cdcConfigFile(root)), "key")

  /** The materialized change files of version `v` (root-relative),
    * None when `v` was never materialized. Presence of the directory IS
    * the done marker: it appears atomically via rename. */
  def cdcFiles(root: String, v: Long): Option[Seq[String]] = {
    val d = cdcDir(root, v)
    if (!Files.isDirectory(d)) None
    else {
      val s = Files.list(d)
      try Some(s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toVector.sorted
        .map(n => s"_cdc/v=$v/$n"))
      finally s.close()
    }
  }

  /** Materialize version `v`'s change feed under `_cdc/v=<v>/` —
    * idempotent (the directory appears atomically via rename; a racing
    * materializer's output is discarded) and self-healing (a write-time
    * materialization that crashed re-runs on first CDF read, while the
    * v-1 manifest is still within retention). Cost = the commit's
    * CHANGE mass, the [[changeFeed]] property. Returns the change
    * files. */
  def materializeCdc(spark: SparkSession, root: String, v: Long): Seq[String] =
    cdcFiles(root, v).getOrElse {
      val key = cdfKey(root).getOrElse(throw new IllegalStateException(
        s"change data feed is not enabled on $root — " +
          "SnapshotLake.enableCdf(root, key) first; change commits made " +
          "before enablement have no feed (the Delta contract)"))
      val changes = changeFeed(spark, root, v - 1, v, key)
      val tmpRel = s"_cdc/.tmp-${UUID.randomUUID()}"
      val tmp = Paths.get(root, tmpRel)
      // a change-free version writes no file, and still gets its (empty) dir
      Files.createDirectories(tmp)
      val parts = GraftLakeDataWriter.write(changes,
        Paths.get(root).toAbsolutePath.toString, tmpRel).map(_._1)
      // byte-size sidecar rides INSIDE the staged dir, atomic with the
      // rename: CDF planning resolves feed-file lengths from it instead
      // of a per-file stat (HEAD on object storage), same as data commits
      FileStats.writeBytesSidecar(root, parts.map(f => f -> Files.size(Paths.get(root, f))).toMap)
      try Files.move(tmp, cdcDir(root, v),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: FileAlreadyExistsException |
             _: java.nio.file.DirectoryNotEmptyException |
             _: java.nio.file.FileSystemException =>
          // a racer won: keep theirs (content is a pure function of the
          // immutable log, so both outputs are equivalent), drop ours
          Scratch.rm(tmp)
      }
      cdcFiles(root, v).getOrElse(throw new IllegalStateException(
        s"CDC materialization of $root v$v produced no directory"))
    }

  /** The write-time CDF hook [[tryCommit]] fires on every won CHANGE
    * commit of an enabled lake. Appends need no feed (their add list IS
    * the feed); compactions and evolves are physical/metadata-only and
    * feed zero changes, so materializing them would cost a diff to
    * store nothing. Failures don't poison the commit (it is already
    * durable) — the read path re-runs the same idempotent
    * materialization. */
  private def maybeMaterializeCdc(root: String, v: Long, op: String): Unit =
    op match {
      case "append" | "compact" | "evolve" => ()
      case _ if cdfKey(root).isEmpty => ()
      case _ =>
        try { materializeCdc(SparkSession.active, root, v); () }
        catch { case scala.util.control.NonFatal(_) => () }
    }

  /** One manifest's commit metadata: what DESCRIBE HISTORY shows. `rows`
    * is the commit's ADDED row count (from footer metadata at commit
    * time; -1 for manifests written before this field existed — the
    * mixed-history read is part of the contract). */
  final case class CommitInfo(version: Long, op: String, base: Long,
                              tag: Option[String], nFiles: Int, rows: Long)

  /** The retained commit history, oldest first — versions vacuumed out
    * of retention are simply absent. Driver-side O(retained versions)
    * manifest reads; at production scale this is the (tiny) manifest
    * list, never the data. */
  def history(root: String): Seq[CommitInfo] = {
    val cur = currentVersion(root).getOrElse(return Seq.empty)
    val existing = (1L to cur).filter(v => Files.exists(versionFile(root, v)))
    if (existing.isEmpty) return Seq.empty
    if (existing.last - existing.head + 1 == existing.size.toLong) {
      // the normal contiguous log: ONE resolve at the retention edge,
      // then an incremental fold — O(total change), not O(versions ×
      // checkpoint) (at 100 commits × 10k files the per-version resolve
      // was 7 s of the ManifestCeiling's `.history` reading)
      var st = resolve(root, existing.head)._1
      existing.map { v =>
        val r = readRecord(root, v)
        if (v != existing.head) st = applyRec(st, r)
        CommitInfo(v, r.op, r.base, r.tag, st.files.size, r.addedRows)
      }
    } else existing.map { v => // defensive: a gapped log resolves per version
      val r = readRecord(root, v)
      CommitInfo(v, r.op, r.base, r.tag, files(root, v).size, r.addedRows)
    }
  }

  /** RESTORE the table to the state of `toV` — Delta's `RESTORE TABLE …
    * TO VERSION` re-expressed on the log: ONE new commit whose change
    * record is the file-set diff head→target, so the restore is O(diff)
    * manifest bytes and ZERO data movement (the target's immutable files
    * are simply referenced again). History is preserved — the undone
    * versions stay time-travelable until vacuum ages them out, and the
    * restore itself appears in [[history]] as `op=restore` with
    * `base=toV`. The CAS loop recomputes the diff against the current
    * head on every attempt, so a racing append's rows are dropped from
    * the head — RESTORE means "the table IS the target state", exactly
    * Delta's contract (the racing rows remain in their own version).
    * `toV` must be within vacuum retention: its manifests must resolve
    * (else NoSuchFileException) and retention guarantees its data files
    * still exist. The head's declared schema stays while it evolved
    * forward from `toV`'s ([[evolveSchema]]'s continuity: renames,
    * mapped drops, additions, widenings), so `toV`'s files read under
    * it; when a commit in between broke that continuity (an
    * [[overwrite]] with another shape), the restore declares `toV`'s
    * schema, the one its files were written for. */
  def restore(root: String, toV: Long): Long = {
    val target = resolve(root, toV)._1
    commitLoop(root) { head =>
      val curSt = resolve(root, head.get)._1 // ≥ toV: toV resolved above
      val schema = for {
        to <- target.schemaB64.map(decodeSchema)
        cur <- curSt.schemaB64.map(decodeSchema)
        if evolutionGap(to, cur, allowMissing = isMapped(cur)).nonEmpty
      } yield to
      Change("restore", toV, addedRows = 0L,
        add = target.files.filterNot(curSt.files.toSet),
        remove = curSt.files.filterNot(target.files.toSet),
        addDel = target.deletes.filterNot(curSt.deletes.toSet),
        removeDel = curSt.deletes.filterNot(target.deletes.toSet), schema = schema)
    }
  }

  /** ZERO-COPY CLONE of version `version` (default: head) of `srcRoot`
    * into the empty lake `dstRoot` — Delta's SHALLOW CLONE: no data byte
    * is read or copied, the clone's v1 manifest references the source
    * snapshot's immutable files, and the two tables evolve independently
    * from there (appends/merges/vacuums on either side never affect the
    * other). On POSIX the reference is a HARD LINK per data file and
    * index sidecar — O(files) metadata ops — which makes the clone even
    * stronger than Delta's: a vacuum on the source only unlinks the
    * source's name, the shared inode survives until the clone drops its
    * own link (no dangling-reference failure mode). On object storage
    * the same protocol would record absolute source URIs instead and
    * inherit Delta's source-retention caveat. Index sidecars
    * (`_stats.json`, `_bloom_*`, `_rows.json`) link over with their
    * commit dirs, so pruned reads and metadata-only counts work on the
    * clone unchanged. The clone's record declares the source version's
    * schema, column mapping included. Returns the clone's version
    * (always 1). */
  def cloneTo(srcRoot: String, dstRoot: String,
              version: Option[Long] = None): Long = {
    val v = version.orElse(currentVersion(srcRoot)).getOrElse(
      throw new IllegalStateException(s"nothing to clone at $srcRoot"))
    require(currentVersion(dstRoot).isEmpty,
      s"clone target $dstRoot must have no commits")
    val st = resolve(srcRoot, v)._1
    val schema = schemaAt(srcRoot, Some(v))
    val all = st.files ++ st.deletes
    all.foreach { rel =>
      val dst = Paths.get(dstRoot, rel)
      Files.createDirectories(dst.getParent)
      try { Files.createLink(dst, Paths.get(srcRoot, rel)); () }
      catch { case _: FileAlreadyExistsException => () } // idempotent re-run
    }
    all.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.foreach { d =>
      val srcDir = Paths.get(srcRoot, d)
      val s = Files.list(srcDir)
      val sidecars =
        try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("_")).toVector
        finally s.close()
      sidecars.foreach { p =>
        try { Files.createLink(Paths.get(dstRoot, d, p.getFileName.toString), p); () }
        catch { case _: FileAlreadyExistsException => () }
      }
    }
    if (!tryCommit(dstRoot, 1L,
        Change("clone", 0L, add = st.files, addDel = st.deletes, schema = Some(schema))))
      throw new IllegalStateException(
        s"clone target $dstRoot was committed to concurrently")
    1L
  }

  /** What a [[deleteMatching]] commit did to each class of file — the
    * scale evidence: `carried` files were untouched (range disjoint),
    * `dropped` files left the manifest with NO rewrite (every row
    * provably matched), only `rewritten` files cost data IO. */
  final case class DeleteResult(version: Long, carried: Int, dropped: Int,
                                rewritten: Int)

  /** Predicate DELETE (copy-on-write) — `DELETE WHERE <conjunction of
    * ranges>` through the file index, with the three-way classification
    * every production lake's DELETE does:
    *
    *   - files whose stats/partition ranges are DISJOINT from the
    *     predicate are carried verbatim (zero IO);
    *   - files EVERY row of which provably matches are dropped from the
    *     manifest with NO rewrite — the "drop a whole partition by
    *     metadata" fast path ([[LakeIndex.wholeMatch]]: provable only
    *     when min ≥ lo, max ≤ hi AND the harvested null count is zero,
    *     because a NULL row never matches a range predicate and must
    *     survive);
    *   - overlapping files are rewritten keeping the rows that do NOT
    *     match (NULL-safe: a NULL predicate value survives).
    *
    * At 100 TB this is why `DELETE WHERE event_date < retention` on a
    * date-partitioned table is a manifest-only commit: every in-range
    * file whole-drops, cost O(metadata). The inverse of [[deleteWhere]]
    * (merge-on-read key tombstones): pay the write now, read clean
    * forever. Same CAS/fence semantics as [[merge]] — the read-or-
    * dropped set aborts on concurrent rewrite ([[abortIfRemoved]]);
    * racing appends reconcile. Live key tombstones are carried (they
    * apply file-agnostically). */
  def deleteMatching(spark: SparkSession, root: String,
                     preds: Seq[FileStats.Range],
                     index: IndexSpec = IndexSpec.none): DeleteResult = {
    require(preds.nonEmpty, "deleteMatching needs at least one predicate")
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val baseV = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"nothing to delete from at $root"))
    val baseFiles = files(root, baseV)
    // the metadata proofs consult the physical-keyed index; the row-level
    // rewrite below filters the DECLARED (logical) relation — each side
    // gets the predicate in its own space
    val physPreds = physPredsAt(root, Some(baseV), preds)
    val idx = LakeIndex.of(root, baseV)
    val candidates = idx.prune(physPreds)
    val whole = LakeIndex.boundFilters(physPreds)
    val dropped = candidates.filter(f => whole.forall(LakeIndex.wholeMatch(idx.composed(f), _)))
    val rewriteSet = candidates.filterNot(dropped.toSet)
    val rewritten: Seq[String] =
      if (rewriteSet.isEmpty) Nil
      else {
        val d0 = readSubset(spark, root, Some(baseV), rewriteSet, deletes = false)
        // survivors = rows NOT matching; NULL-valued rows never match a
        // range predicate, so they must survive (coalesce, not plain NOT)
        val survivors = d0.filter(not(coalesce(rangeCondition(d0.schema, preds), lit(false))))
        writeData(survivors, root, index, partCols = partColsOf(baseFiles)).files
      }
    val committed = commitLoop(root) { head =>
      // read-or-dropped set: a racing rewrite of a dropped file would
      // re-home its rows into files this commit doesn't remove
      abortIfRemoved(root, baseV, head.get, candidates, "deleteMatching")
      Change("delete", baseV, addedRows = 0L, add = rewritten, remove = candidates)
    }
    DeleteResult(committed, baseFiles.size - candidates.size,
      dropped.size, rewriteSet.size)
  }

  /** A pruning-based predicate count's cost breakdown: `rows` is exact;
    * `metadataFiles` were counted from their `_rows.json` entry without
    * being opened (provably all-matching), `scannedFiles` were actually
    * read and filtered (boundary overlap), `prunedFiles` were skipped
    * outright (provably disjoint). */
  final case class CountWhere(rows: Long, metadataFiles: Int,
                              scannedFiles: Int, prunedFiles: Int)

  /** Exact `SELECT count(*) WHERE <conjunction of ranges>` by PRUNING
    * ARITHMETIC — the Iceberg/Snowflake trick, run as the connector's
    * filtered-count pushdown ([[graft.sources.GraftLakeCountScan]]):
    * files provably disjoint from the predicate contribute nothing, files
    * provably ALL-matching ([[LakeIndex.wholeMatch]]: range inside
    * bounds, zero nulls) contribute their sidecar row count WITHOUT being
    * opened, and only the boundary-overlap files are scanned with the
    * predicate applied. On a range-ingested 100 TB table a time-band
    * count opens the two edge files and metadata-counts the interior —
    * however wide the band. A whole-matching file without a rows-sidecar
    * entry downgrades to a scan (correct, just slower). `None` — the
    * caller scans — when live key tombstones make any metadata count
    * inexact, or when a predicate column's type is one the pushdown
    * cannot evaluate exactly (anything but integral and string
    * columns). */
  def fastCountWhere(spark: SparkSession, root: String,
                     preds: Seq[FileStats.Range],
                     version: Option[Long] = None): Option[CountWhere] = {
    require(preds.nonEmpty, "fastCountWhere needs at least one predicate")
    import org.apache.spark.sql.functions.{count, lit}
    val v = version.orElse(currentVersion(root)).getOrElse(return None)
    if (deletesOf(root, v).nonEmpty) return None
    val df = spark.read.format("graftlake").option("exactPushdown", "true")
      .option("versionAsOf", v.toString).load(root)
    val counted = df.filter(rangeCondition(df.schema, preds)).agg(count(lit(1)))
    counted.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if r.scan.isInstanceOf[graft.sources.GraftLakeCountScan] =>
        r.scan.asInstanceOf[graft.sources.GraftLakeCountScan]
    }.map(scan => CountWhere(counted.collect().head.getLong(0),
      scan.metadataFiles, scan.scannedFiles, scan.prunedFiles))
  }

  /** METADATA-ONLY row count of version `v` (default: head) — `SELECT
    * count(*)` answered entirely from the `_rows.json` sidecars of the
    * live files: zero data-file opens however large the table (the
    * Delta/Iceberg numRecords path). `None` — and the caller falls back
    * to a real scan — when any live file predates the sidecar or the
    * version holds live key tombstones (the rows they hide are not
    * countable from metadata). */
  def fastCount(root: String, version: Option[Long] = None): Option[Long] = {
    val v = version.orElse(currentVersion(root)).getOrElse(return None)
    val st = resolve(root, v)._1
    if (st.deletes.nonEmpty) return None
    val rows = LakeIndex.exactRows(root, st.files)
    if (st.files.forall(rows.contains)) Some(st.files.map(rows).sum) else None
  }

  /** METADATA-ONLY exact (min, max) of `col` at version `v` — the fold
    * of every live file's range in the version's [[LakeIndex]] (sidecar
    * or path-encoded partition tuple). Exact only when EVERY live file
    * carries a range for the column (a file without stats could hold the
    * true extreme) and the version has no live tombstones (a hidden row
    * could BE the extreme) — `None` otherwise, and the caller scans. */
  def statsRange(root: String, col0: String,
                 version: Option[Long] = None): Option[FileStats.ColRange] = {
    val v = version.orElse(currentVersion(root)).getOrElse(return None)
    if (deletesOf(root, v).nonEmpty) None
    else LakeIndex.of(root, v).range(columnMapping(root, Some(v)).getOrElse(col0, col0))
  }

  /** CHECK-constrained append — Delta's table constraints on the commit
    * path: every row must satisfy every named constraint (SQL CHECK
    * semantics: TRUE and UNKNOWN/NULL pass, only FALSE violates), or the
    * WHOLE append fails with the constraint's name in the error and NO
    * version is committed — the half-written data files are unreferenced
    * orphans [[vacuum]] reaps, exactly the crashed-commit path. The
    * check is a codegen'd in-row expression (`assert_true` fused into
    * the write scan), not a separate validation pass: one scan, zero
    * extra shuffles, at any scale. */
  def appendChecked(df: DataFrame, root: String,
                    constraints: Seq[(String, org.apache.spark.sql.Column)],
                    index: IndexSpec = IndexSpec.none): Long = {
    require(constraints.nonEmpty, "appendChecked needs constraints")
    import org.apache.spark.sql.functions.{assert_true, col, concat, concat_ws, lit, when}
    val allPass = constraints.map { case (_, c) => !(c <=> lit(false)) }
      .reduce(_ && _)
    val failed = concat_ws(",", constraints.map { case (n, c) =>
      when(c <=> lit(false), lit(n))
    }: _*)
    val msg = concat(lit("CHECK constraint violated ["), failed, lit("]"))
    // the guard rides the first output column so column pruning can never
    // drop it: assert_true returns NULL when it doesn't throw, making the
    // `when` branch always taken and type-preserving
    val c0 = df.columns.head
    val checked = df.withColumn(c0,
      when(assert_true(allPass, msg).isNull, col(c0)))
    append(checked, root, index)
  }

  /** Result of an [[appendExpect]]: the clean commit, and the quarantine
    * lake's commit when any row violated (None = all clean). */
  final case class Expected(clean: Long, quarantine: Option[Long])

  /** EXPECTATIONS append — the warn/quarantine flavor of constraints
    * (dlt's `expect`, the lake-native form of the CSV PERMISSIVE
    * quarantine S4 keeps): rows satisfying every expectation commit to
    * `root`; violating rows commit to `quarantineRoot` with a
    * `_violated` column naming the failed expectations (comma-joined) —
    * nothing is dropped silently, the audit trail is a queryable lake.
    * The two commits are independent (not one cross-lake transaction —
    * the quarantine side is diagnostic data); a crash between them
    * leaves the clean commit live and the dirty rows re-derivable from
    * the source. When no row violates, the quarantine write yields zero
    * rows (known from the writer's reports, no counting scan), writes no
    * file, and no quarantine version is committed. */
  def appendExpect(df: DataFrame, root: String, quarantineRoot: String,
                   expectations: Seq[(String, org.apache.spark.sql.Column)],
                   index: IndexSpec = IndexSpec.none): Expected = {
    require(expectations.nonEmpty, "appendExpect needs expectations")
    import org.apache.spark.sql.functions.{concat_ws, lit, not, when}
    val failAny = expectations.map { case (_, c) => c <=> lit(false) }
      .reduce(_ || _)
    val viol = concat_ws(",", expectations.map { case (n, c) =>
      when(c <=> lit(false), lit(n))
    }: _*)
    val clean = append(df.filter(not(failAny)), root, index)
    val (bad, a) = admit(df.filter(failAny).withColumn("_violated", viol), quarantineRoot)
    val w = writeData(bad, quarantineRoot, admitted = Some(a))
    Expected(clean, if (w.rows == 0L) None else Some(publish(quarantineRoot, w)))
  }

  /** A write-audit-publish staging handle — and what every data write
    * returns: data files (and their index sidecars) that exist on disk
    * but appear in NO manifest, invisible to every reader until a commit
    * links them in, plus their total row count (from the footer stats
    * the writer tasks reported — the record's `addedRows` and bloom
    * sizing never cost a footer open). An append's handle carries its
    * schema admission, which its commit declares or re-checks. */
  final case class Staged(files: Seq[String], rows: Long,
                          private[graft] val admitted: Option[Admitted] = None)

  /** WRITE-AUDIT-PUBLISH stage 1 (Iceberg's WAP pattern): write `df`'s
    * data files and index sidecars exactly as [[append]] would — but
    * publish NO manifest, so production readers cannot see a byte of it.
    * The audit step reads the staged files directly ([[readStaged]]) or,
    * cheaper, their commit-time sidecars (row counts and min/max arrive
    * with the handle's commit dir — a metadata audit costs zero data
    * reads). [[publish]] turns the audited batch into a normal commit;
    * [[discard]] removes a rejected one (a crashed stage needs neither —
    * its files are unreferenced orphans [[vacuum]] reaps, the same
    * guarantee the exactly-once writers lean on). */
  def stageAppend(df: DataFrame, root: String,
                  index: IndexSpec = IndexSpec.none): Staged = {
    val (data, a) = admit(df, root)
    writeData(data, root, index, Some(a))
  }

  /** The audit view of a staged batch: exactly its rows, read from the
    * staged files under the schema they were admitted with (production
    * readers still see nothing). Union with [[read]] for the
    * post-publish preview. */
  def readStaged(spark: SparkSession, root: String, staged: Staged): DataFrame =
    readSubset(spark, root, currentVersion(root), staged.files, deletes = false,
      staged.admitted.map(a => readShape(a.target)))

  /** Publish an audited staged batch as a normal append commit — same
    * CAS loop, O(change) record. With `tag`, publication is exactly-once
    * ([[appendOnce]]'s contract): a replayed publish of the same tag
    * returns the existing version and the duplicate staged files stay
    * orphans for vacuum. The change is only this commit's files —
    * O(change) — and the schema its admission declares at the head. */
  def publish(root: String, staged: Staged, tag: Option[String] = None): Long =
    commitLoop(root, tag) { head =>
      Change("append", head.getOrElse(0L), staged.rows, staged.files, schema =
        staged.admitted.flatMap(declareOn(root, head.map(v => schemaAt(root, Some(v))), _)))
    }

  /** Drop a rejected staged batch: delete its files, sidecars, and
    * commit dirs. Deterministic cleanup for the audit-failed path;
    * forgetting to call it merely leaves vacuum-reapable orphans. */
  def discard(root: String, staged: Staged): Unit = {
    staged.files.foreach(f => Files.deleteIfExists(Paths.get(root, f)))
    staged.files.map(f => f.substring(0, f.lastIndexOf('/'))).distinct
      .foreach { d =>
        val dir = Paths.get(root, d)
        if (Files.isDirectory(dir)) {
          val s = Files.list(dir)
          val left = try s.iterator().asScala.toVector finally s.close()
          // only sidecars and FS metadata may remain ("_stats.json",
          // "_SUCCESS", Hadoop ".…crc" checksums) — they die with the dir
          if (left.forall { p =>
              val n = p.getFileName.toString
              Files.isRegularFile(p) && (n.startsWith("_") || n.startsWith("."))
            }) {
            left.foreach(Files.deleteIfExists(_))
            Files.deleteIfExists(dir)
            ()
          }
        }
      }
  }

  /** The op and data files ADDED by commit `v` — the per-commit payload
    * of the streaming tail source ([[graft.streaming.LakeTail]]): an
    * append's `add` list IS its rows, no diff join needed. Legacy
    * full-state manifests predate the change-record shape and are
    * rejected. */
  def commitChange(root: String, v: Long): (String, Seq[String]) = {
    val (op, add, _, _) = commitDelta(root, v)
    (op, add)
  }

  /** One commit's FULL delta: (op, added files, removed files, added
    * deletion vectors) — what a streaming consumer needs to tell an
    * append from a rewrite before deciding to emit or abort. */
  def commitDelta(root: String, v: Long): (String, Seq[String], Seq[String], Seq[String]) = {
    val r = readRecord(root, v)
    require(r.legacyFull.isEmpty,
      s"v$v is a legacy full-state manifest; the tail source needs change records")
    (r.op, r.add, r.remove, r.addDel)
  }

  /** Read an explicit set of lake files — e.g. a commit's added files
    * ([[commitChange]]) or a staged batch — with no deletion vector
    * applied. Partitioned files carry their path-encoded columns. The
    * columns are the head's schema. */
  def readFiles(spark: SparkSession, root: String,
                rel: Seq[String]): DataFrame =
    readSubset(spark, root, currentVersion(root), rel, deletes = false)

  /** Drop manifests older than the newest `keepVersions`, then delete
    * every data file under `data/` that no RETAINED manifest references
    * and whose mtime is older than `orphanGraceMs` — this reaps both
    * files only dropped manifests referenced AND orphans from commits
    * that crashed between their data write and their manifest link
    * (which no manifest ever referenced). The grace window is what makes
    * the sweep safe against IN-FLIGHT commits, whose data files exist
    * before their manifest does — production sets it above the maximum
    * commit latency plus reader runtime (Delta VACUUM's retention
    * contract); 0 keeps specs deterministic when nothing runs
    * concurrently. Version-count retention stands in for production's
    * time-based retention for the same reason. */
  /** Vacuum's victim ordering: ascending by parsed version, so the
    * deleted set is down-closed at every instant of the sweep — the
    * contract [[currentVersion]]'s head re-check depends on (see the
    * sweep comment below). Record-vs-checkpoint order within one version
    * is irrelevant: the probe stats only record files. */
  private[etl] def ascendingByVersion(ps: Vector[Path]): Vector[Path] =
    ps.sortBy { p =>
      val n = p.getFileName.toString
      (n.stripPrefix("v").stripSuffix(".json")
        .stripSuffix(".ckpt").stripSuffix(".ickpt").toLong, n)
    }

  def vacuum(root: String, keepVersions: Int, orphanGraceMs: Long = 0L): Unit = {
    val cur = currentVersion(root).getOrElse(return)
    val cutoff = math.max(1L, cur - keepVersions + 1)
    // The oldest retained version must stay resolvable once the log
    // records below it are gone: materialize its checkpoint FIRST.
    // Idempotence tags below the cutoff are pruned with it — retention
    // IS the replay horizon (the documented vacuum-vs-checkpoint
    // contract: a writer replaying a batch older than retention would
    // double-append with the full listing scheme too).
    writeCheckpoint(root, cutoff, pruneTagsBelow = cutoff)
    val dir = manifestDir(root)
    val s = Files.list(dir)
    val old =
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("v") && n.endsWith(".json") &&
          n.stripPrefix("v").stripSuffix(".json")
            .stripSuffix(".ckpt").stripSuffix(".ickpt").toLong < cutoff
      }.toVector
      finally s.close()
    // ASCENDING version order — the probe-safety contract currentVersion
    // leans on. Files.list order is unspecified; deleting v+1 before v
    // would create a transient "gap above a live version" a concurrent
    // head-hint probe could mistake for the head, and a writer would
    // then re-link the vacuumed slot below the true head (silent loss).
    // Ascending deletion keeps the deleted set down-closed at every
    // instant (concurrent vacuums too: a union of down-closed sets is
    // down-closed), so a probe that finds v+1 missing can re-stat v and
    // detect the straddle. Sorted by (version, name): record-vs-ckpt
    // order within one version is irrelevant, the probe stats only
    // record files.
    ascendingByVersion(old).foreach(Files.deleteIfExists(_))
    // retained INCREMENTAL checkpoints whose full base fell below the
    // cutoff just lost that base: delete them (resolution of their
    // versions replays records from the cutoff's full checkpoint —
    // bounded by the retention window), never leave a dangling pointer
    locally {
      val s2 = Files.list(dir)
      val ick =
        try s2.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".ickpt.json")).toVector
        finally s2.close()
      ick.foreach { p =>
        val b = longField(Files.readString(p), "baseCkpt")
        if (b < cutoff) { Files.deleteIfExists(p); () }
      }
    }
    // segment GC: retained full checkpoints pin their segments (a
    // vacuum-cutoff checkpoint deliberately SHARES the aged-out base's
    // segments — dropping the base's ckpt file doesn't orphan them).
    // Everything unreferenced — crashed/raced checkpoint writes, dirty
    // rewrites whose last referencing checkpoint aged out — is swept
    // behind a grace window, since a mid-flight checkpointer writes its
    // segments BEFORE its link. Two safeguards against a CONCURRENT
    // checkpoint writer: (a) `referenced` is built from EVERY live
    // *.ckpt.json in the directory, not just (cutoff..cur) — a
    // checkpoint published at a version above the head this vacuum
    // observed at start still pins its segments; (b) seg files get a
    // minimum grace floor independent of the caller's orphanGraceMs,
    // covering the write-segments-then-link window of a checkpointer
    // whose link hasn't landed yet ([[segOrphanGraceFloorMs]]; specs
    // pinning deterministic single-threaded GC set it to 0).
    locally {
      val s3 = Files.list(dir)
      val segs =
        try s3.iterator().asScala
          .filter(_.getFileName.toString.startsWith("seg-")).toVector
        finally s3.close()
      if (segs.nonEmpty) {
        val cs = Files.list(dir)
        val liveCkpts =
          try cs.iterator().asScala.map(_.getFileName.toString)
            .filter(n => n.startsWith("v") && n.endsWith(".ckpt.json") &&
              !n.endsWith(".ickpt.json"))
            .map(_.stripPrefix("v").stripSuffix(".ckpt.json").toLong)
            .toVector
          finally cs.close()
        val referenced = liveCkpts.iterator.flatMap { x =>
          // a checkpoint swept by a racing vacuum between the listing
          // and this read pins nothing — its segments are then judged
          // by the remaining live checkpoints plus the grace floor
          try readCkptRaw(root, x).segs
          catch { case _: java.io.IOException => Vector.empty }
        }.toSet
        val segDeadline = System.currentTimeMillis() -
          math.max(orphanGraceMs, segOrphanGraceFloorMs)
        segs.filterNot(p => referenced(p.getFileName.toString))
          .filter(p => Files.getLastModifiedTime(p).toMillis <= segDeadline)
          .foreach(p => { Files.deleteIfExists(p); () })
      }
    }
    // CDF materializations follow version retention: a vacuumed
    // version's feed can't be read anyway (its v-1 manifest is gone)
    val cdcRoot = Paths.get(root, "_cdc")
    if (Files.isDirectory(cdcRoot)) {
      val cs = Files.list(cdcRoot)
      val victims =
        try cs.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          n.startsWith("v=") &&
            scala.util.Try(n.stripPrefix("v=").toLong).toOption
              .exists(_ < cutoff)
        }.toVector
        finally cs.close()
      victims.foreach { d =>
        val w = Files.walk(d)
        val all = try w.iterator().asScala.toVector finally w.close()
        all.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
      }
    }
    // References of every retained version: resolve the cutoff once,
    // then accumulate the forward deltas — never a per-version
    // re-resolution.
    val retained = {
      val base = resolve(root, cutoff)._1
      var acc = base.files.toSet ++ base.deletes.toSet
      for (v <- cutoff + 1 to cur; if Files.exists(versionFile(root, v))) {
        val r = readRecord(root, v)
        acc ++= r.legacyFull.map(st => st.files ++ st.deletes)
          .getOrElse(r.add ++ r.addDel)
      }
      acc
    }
    val dataRoot = Paths.get(root, "data")
    if (!Files.isDirectory(dataRoot)) return
    val deadline = System.currentTimeMillis() - orphanGraceMs
    val rootPath = Paths.get(root)
    // RECURSIVE sweep: partitioned commits ([[appendPartitioned]]) nest
    // hive directories below data/commit=<uuid>/, so the walk goes to
    // arbitrary depth. "_"-prefixed index sidecars (_stats.json,
    // _bloom_*.json) are commit-dir metadata, never manifest-listed:
    // they live and die with their directory, not with the retained set.
    val walk = Files.walk(dataRoot)
    val entries = try walk.iterator().asScala.toVector finally walk.close()
    entries.foreach { f =>
      val name = f.getFileName.toString
      if (Files.isRegularFile(f) && !name.startsWith("_") &&
          !retained.contains(rootPath.relativize(f).toString) &&
          Files.getLastModifiedTime(f).toMillis <= deadline) {
        Files.deleteIfExists(f); ()
      }
    }
    // drop directories (and their sidecars) once no DATA file below them
    // survives — deepest first, so emptied hive leaves release their
    // parents; sidecars alone don't pin a dir
    entries.filter(p => Files.isDirectory(p) && p != dataRoot)
      .sortBy(-_.getNameCount)
      .foreach { d =>
        val ls = Files.list(d)
        val left = try ls.iterator().asScala.toVector finally ls.close()
        if (left.forall(p =>
            Files.isRegularFile(p) && p.getFileName.toString.startsWith("_"))) {
          left.foreach(Files.deleteIfExists(_))
          Files.deleteIfExists(d); ()
        }
      }
  }
}
