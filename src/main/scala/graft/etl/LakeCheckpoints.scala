package graft.etl

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

/** The checkpoint/segment layer of [[SnapshotLake]] — pure code motion
  * out of the 3,000-line object along its one self-contained boundary:
  * everything below the commit protocol that turns an append-only record
  * log into O(1)-read state (full checkpoints, incremental checkpoints,
  * immutable segment files, window composition) plus the leaf utilities
  * that layer owns (manifest path scheme, the hand-rolled record/ckpt
  * JSON parsers, the publish primitive). [[SnapshotLake]] is the only
  * implementor; the single call OUT of this layer is the abstract
  * [[resolve]] (the from-scratch fallback when no composable window
  * exists). Design rationale and measurements live with the protocol
  * docs in SnapshotLake's header and SCALE.md.
  */
trait LakeCheckpoints {

  /** Full state resolution — implemented by [[SnapshotLake]]; the
    * checkpoint writer's fallback when window composition bails
    * (legacy records, vacuumed windows, duplicate in-window adds). */
  private[etl] def resolve(root: String,
                           v: Long): (LakeState, Map[String, Long])

  /** The atomic create-if-absent publish primitive (see the header's
    * storage-portability section). Implementations must guarantee:
    * (1) `target` becomes visible atomically with its FULL content —
    * no reader ever observes a torn object; (2) exactly one concurrent
    * caller returns true; (3) a false return means `target` existed
    * (some writer won — possibly this process on a replay). */
  private[graft] trait CommitPublisher {
    def tryPublish(target: Path, tmp: Path): Boolean
  }

  /** POSIX link(2): the only shipping implementation. Hard-linking the
    * fully-written temp file makes content visibility atomic, and the
    * kernel serializes concurrent links to one winner (EEXIST losers). */
  private[graft] object PosixLinkPublisher extends CommitPublisher {
    def tryPublish(target: Path, tmp: Path): Boolean =
      try { Files.createLink(target, tmp); true }
      catch { case _: FileAlreadyExistsException => false }
  }

  // per-root publisher override (a deployment may mount different
  // stores per table root; specs inject deterministic race-losers)
  private[etl] val publisherOverrides =
    new java.util.concurrent.ConcurrentHashMap[String, CommitPublisher]()
  private[graft] def setPublisher(root: String, p: CommitPublisher): Unit = {
    publisherOverrides.put(root, p); ()
  }
  private[graft] def clearPublisher(root: String): Unit = {
    publisherOverrides.remove(root); ()
  }
  private[etl] def publisherFor(root: String): CommitPublisher =
    publisherOverrides.getOrDefault(root, PosixLinkPublisher)

  private[etl] def manifestDir(root: String): Path = Paths.get(root, "_manifests")
  private[etl] def versionFile(root: String, v: Long): Path =
    manifestDir(root).resolve(f"v$v%09d.json")
  private[etl] def ckptFile(root: String, v: Long): Path =
    manifestDir(root).resolve(f"v$v%09d.ckpt.json")
  private[etl] def ickptFile(root: String, v: Long): Path =
    manifestDir(root).resolve(f"v$v%09d.ickpt.json")

  /** Log records between checkpoints — the resolution walk's bound (and
    * with it the tag-probe cost). Delta's default is 10 commits for the
    * same reason: records stay tiny, checkpoints stay rare. */
  private[etl] val CkptEvery = 10L

  /** How far an INCREMENTAL checkpoint chain may stretch before the
    * next checkpoint is written full again. Checkpoints between full
    * ones store only the state DELTA against their full base
    * (`.ickpt.json` — Delta's v2-checkpoint sidecar idea in one file),
    * so on a long-lived million-file lake the every-10th-commit
    * checkpoint costs O(change since the full base), not O(files): at
    * 1,000 commits × 1M files the full-only scheme wrote ~45 GB of
    * checkpoint JSON and dominated commit time (ManifestCeiling r17).
    * Resolution stays O(1) reads: one ickpt + its full base + ≤
    * CkptEvery records. */
  @volatile private[graft] var FullCkptEveryCommits = 100L

  /** Measurement escape hatch for the ceiling tools/specs: `false`
    * restores the full-checkpoint-always scheme (the r16 behavior) so
    * the A/B cost of incremental checkpoints stays reproducible. */
  @volatile private[graft] var incrementalCkpt = true

  /** Count of manifest-file reads (records + checkpoints) — the
    * observable the log-structure spec pins: a tag probe or version
    * resolution must cost O(CkptEvery) reads, never O(versions). */
  private[etl] val manifestReads = new java.util.concurrent.atomic.AtomicLong

  private[graft] val ckptNanos = new java.util.concurrent.atomic.AtomicLong
  private[graft] val ckptBytes = new java.util.concurrent.atomic.AtomicLong

  /** The resolved snapshot of one version: its full file listing, its
    * live key-tombstone (deletion-vector) files (both in commit order),
    * and its DECLARED schema (None only on a lake that predates them) — base64 of
    * the StructType JSON, so the hand-rolled record parsers never meet a
    * quote or brace from inside a schema. */
  private[etl] final case class LakeState(files: Vector[String],
                                     deletes: Vector[String],
                                     schemaB64: Option[String] = None)
  private[etl] val EmptyState = LakeState(Vector.empty, Vector.empty)

  /** One parsed log record. `legacyFull` carries the full listing of a
    * round-11-format manifest (which stored state, not change) so
    * pre-log-structure lakes stay readable: such a record IS its own
    * resolution base. */
  private[etl] final case class Record(version: Long, op: String, base: Long,
      tag: Option[String], addedRows: Long,
      add: Seq[String], remove: Seq[String],
      addDel: Seq[String], removeDel: Seq[String],
      legacyFull: Option[LakeState],
      schemaB64: Option[String] = None,
      tagList: Seq[String] = Nil) {
    /** ALL idempotence tags this commit carries: the single legacy
      * `tag` field, or the `tagList` a multi-tag GROUP commit writes
      * (k coalesced exactly-once appends under one link — Delta's
      * multi-`txn`-action commit shape). `tag` stays populated with
      * the first entry for display surfaces (history, tagOf). */
    def tags: Seq[String] = if (tagList.nonEmpty) tagList else tag.toSeq
  }

  // minimal parsers of our own writer's format: tags and paths reach it
  // only through SnapshotLake's checks (checkTag, and indexAndCount's
  // path check), which keep out every character these parsers misread
  private[etl] def arrField(json: String, key: String): Seq[String] = {
    val mark = s""""$key":["""
    val i = json.indexOf(mark)
    if (i < 0) Seq.empty
    else {
      val body = json.substring(i + mark.length)
      val arr = body.substring(0, body.indexOf(']'))
      if (arr.trim.isEmpty) Seq.empty
      else arr.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
    }
  }
  private[etl] def strField(json: String, key: String): Option[String] = {
    val mark = s""""$key":""""
    val i = json.indexOf(mark)
    if (i < 0) None
    else {
      val rest = json.substring(i + mark.length)
      Some(rest.substring(0, rest.indexOf('"')))
    }
  }
  private[etl] def longField(json: String, key: String): Long = {
    val mark = s""""$key":"""
    val i = json.indexOf(mark)
    if (i < 0) -1L
    else json.substring(i + mark.length)
      .takeWhile(c => c.isDigit || c == '-').toLong
  }

  private[etl] def readRecord(root: String, v: Long): Record = {
    manifestReads.incrementAndGet()
    val json = Files.readString(versionFile(root, v))
    val legacy =
      if (json.contains(""""files":[""")) // round-11 full-state manifest
        Some(LakeState(arrField(json, "files").toVector,
          arrField(json, "deletes").toVector))
      else None
    val tagList = arrField(json, "tagList")
    Record(v, strField(json, "op").getOrElse("?"), longField(json, "base"),
      strField(json, "tag").orElse(tagList.headOption),
      longField(json, "addedRows"),
      arrField(json, "add"), arrField(json, "remove"),
      arrField(json, "addDel"), arrField(json, "removeDel"), legacy,
      strField(json, "schemaB64"), tagList)
  }

  private[etl] def tagsField(json: String): Map[String, Long] = {
    val i = json.indexOf(""""tags":{""")
    if (i < 0) Map.empty[String, Long]
    else {
      val body = json.substring(i + 8, json.indexOf('}', i))
      """"([^"]*)":(\d+)""".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toLong).toMap
    }
  }

  /** A full checkpoint's RAW shape: segment references plus the inline
    * tail. The file vector of the checkpointed version is
    * `concat(segs.map(readSeg)) ++ tail`, in exactly that order — the
    * segments are an ordered partition of the vector's frozen prefix.
    * Pre-segmentation checkpoints read back with `segs` empty. */
  private[etl] final case class CkptRaw(segs: Vector[String], tail: Vector[String],
                                   deletes: Vector[String],
                                   tags: Map[String, Long],
                                   schemaB64: Option[String])

  private[etl] def readCkptRaw(root: String, v: Long): CkptRaw = {
    manifestReads.incrementAndGet()
    val json = Files.readString(ckptFile(root, v))
    CkptRaw(arrField(json, "segs").toVector,
      arrField(json, "files").toVector,
      arrField(json, "deletes").toVector,
      tagsField(json), strField(json, "schemaB64"))
  }

  /** Target entries per frozen checkpoint SEGMENT (`_manifests/
    * seg-<uuid>.json`, immutable once written): big enough that a
    * million-file state is a handful of reads, small enough that the
    * mutable tail a full checkpoint rewrites stays a sliver of the
    * state. Mutable only for specs (exercising dirty-segment rewrites
    * at toy scale). */
  @volatile private[graft] var SegEntries = 50000

  /** Minimum age a `seg-*.json` file must reach before vacuum's segment
    * GC may sweep it as unreferenced, REGARDLESS of the caller's
    * `orphanGraceMs` — a concurrent full-checkpoint writer publishes its
    * segments BEFORE its checkpoint link, so a zero-grace sweep racing
    * that window would delete just-written segments and leave the
    * about-to-land checkpoint dangling (readCkpt would then throw on
    * every resolve of that version). Five minutes dwarfs any real
    * checkpoint write; specs that pin deterministic single-threaded GC
    * set it to 0 explicitly. */
  @volatile private[graft] var segOrphanGraceFloorMs = 300000L

  /** Per-(root, segment) parsed content — segments are immutable, so
    * the cache never revalidates; a delete-and-recreate of the lake
    * clears it through [[invalidateRoot]] like every (root, …) cache. */
  private[etl] val segCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), java.lang.ref.SoftReference[Vector[String]]]()

  /** Drop every entry whose SoftReference referent was GC-cleared.
    * Called when a cleared-reference miss is OBSERVED — that is exactly
    * the moment memory pressure has emptied some of the map, and the
    * only time the sweep finds work — so key tuples don't accumulate
    * unboundedly after the values they held are long gone (ADVICE r18:
    * softening the values without sweeping the keys just moved the
    * leak). O(live keys), amortized over a GC pressure event. */
  private[etl] def sweepCleared[K, V](
      m: java.util.concurrent.ConcurrentHashMap[
        K, java.lang.ref.SoftReference[V]]): Unit = {
    val it = m.entrySet().iterator()
    while (it.hasNext) if (it.next().getValue.get() == null) it.remove()
  }

  private[etl] def readSeg(root: String, name: String): Vector[String] = {
    val k = (root, name)
    val ref = segCache.get(k)
    Option(ref).flatMap(r => Option(r.get())).getOrElse {
      if (ref != null) sweepCleared(segCache)
      manifestReads.incrementAndGet()
      val v = arrField(Files.readString(manifestDir(root).resolve(name)),
        "files").toVector
      segCache.put(k, new java.lang.ref.SoftReference(v))
      v
    }
  }

  /** Freeze `entries` as a new immutable segment file; returns its
    * name. Written under a unique name BEFORE any checkpoint references
    * it, so a crash or a racing-checkpointer loss leaves only an
    * unreferenced orphan for vacuum's grace-window sweep. */
  private[etl] def writeSeg(root: String, entries: Vector[String]): String = {
    val name = s"seg-${UUID.randomUUID()}.json"
    val json = entries.map(f => s""""$f"""").mkString("""{"files":[""", ",", "]}")
    Files.writeString(manifestDir(root).resolve(name), json)
    ckptBytes.addAndGet(json.length.toLong)
    segCache.put((root, name), new java.lang.ref.SoftReference(entries))
    name
  }

  private[etl] def readCkpt(root: String, v: Long): (LakeState, Map[String, Long]) = {
    val raw = readCkptRaw(root, v)
    val files =
      if (raw.segs.isEmpty) raw.tail
      else raw.segs.flatMap(readSeg(root, _)) ++ raw.tail
    (LakeState(files, raw.deletes, raw.schemaB64), raw.tags)
  }

  /** Reconstruct version `v`'s full state from an INCREMENTAL
    * checkpoint: its delta applied over its full base checkpoint — the
    * same fold [[applyRec]] performs for records, so survivor order and
    * addition order are exactly what a record replay would produce.
    * `None` when the base was vacuumed out from under it (the sweep in
    * [[vacuum]] removes such orphans; this is the defensive read) —
    * resolution then walks the log records instead. */
  private[etl] def readIckpt(root: String, v: Long)
      : Option[(LakeState, Map[String, Long])] = {
    manifestReads.incrementAndGet()
    val json = Files.readString(ickptFile(root, v))
    val b = longField(json, "baseCkpt")
    if (b < 0L || !Files.exists(ckptFile(root, b))) return None
    val (stB, tagsB) = readCkpt(root, b)
    val rm = arrField(json, "remove").toSet
    val rmDel = arrField(json, "removeDel").toSet
    Some((LakeState(
      stB.files.filterNot(rm) ++ arrField(json, "add"),
      stB.deletes.filterNot(rmDel) ++ arrField(json, "addDel"),
      // the ickpt stores v's RESOLVED schema when one is declared; a
      // base-only schema means no evolve landed in (base, v]
      strField(json, "schemaB64").orElse(stB.schemaB64)),
      // tag deltas all postdate the base, so they survive any base
      // prune: pruned-base ++ delta is itself correctly pruned
      tagsB ++ tagsField(json)))
  }

  /** Publish the full resolved state of `v` (plus the tag index) as a
    * checkpoint, via the same link(2) create-if-absent primitive as
    * commits — content is a pure function of the log, so a racing
    * publisher's EEXIST is ignored. `pruneTagsBelow` drops tag entries
    * older than a vacuum cutoff (retention = replay horizon); a pruning
    * writer REPLACES an existing checkpoint via atomic rename rather than
    * skipping on EEXIST — otherwise whether out-of-horizon tags read as
    * absent or as applied would depend on whether the cutoff happened to
    * land on a [[CkptEvery]] multiple (the commit-time checkpoint there
    * still holds the unpruned map). Readers racing the swap see the old
    * superset map or the new pruned one, never a torn file — and the
    * superset direction only ever makes a replay a no-op, never a
    * double-apply, so the swap needs no coordination. */
  private[etl] def writeCheckpoint(root: String, v: Long,
                              pruneTagsBelow: Long = 0L): Unit = {
    val t0 = System.nanoTime()
    try writeCheckpointTimed(root, v, pruneTagsBelow)
    finally { ckptNanos.addAndGet(System.nanoTime() - t0); () }
  }

  private[etl] def writeCheckpointTimed(root: String, v: Long,
                                   pruneTagsBelow: Long): Unit = {
    val fullExists = Files.exists(ckptFile(root, v))
    if (pruneTagsBelow == 0L &&
        (fullExists || Files.exists(ickptFile(root, v)))) return
    def arr(xs: Seq[String]) = xs.map(f => s""""$f"""").mkString("[", ",", "]")
    def publish(json: String, target: Path): Unit = {
      val tmp = manifestDir(root).resolve(s".tmp-ck-${UUID.randomUUID()}")
      Files.writeString(tmp, json)
      ckptBytes.addAndGet(json.length.toLong)
      // checkpoint content is a pure function of the log: a losing
      // publish (some racer linked the same version first) is ignored
      try { publisherFor(root).tryPublish(target, tmp); () }
      finally { Files.deleteIfExists(tmp); () }
    }
    // A commit-time checkpoint goes INCREMENTAL when a full base is
    // near enough (≤ FullCkptEveryCommits commits back): the write then
    // costs O(change in the window) — the (b, v] records folded
    // directly, no state resolution, no million-entry set diff. A FULL
    // checkpoint (every FullCkptEveryCommits commits, and at every
    // vacuum cutoff) reuses the PREVIOUS full's frozen segments by
    // reference and rewrites only dirty segments plus the tail — so it,
    // too, writes O(change since the last full) + O(#segments), never
    // O(files) (the Delta v2-checkpoint sidecar-reuse idea; full-only
    // inline checkpointing wrote 1.8 GB over a 10,000-commit
    // million-file history, the last depth-quadratic term).
    val fullBase =
      if (!incrementalCkpt || pruneTagsBelow > 0L) None
      else prevFull(root, v).filter(b => v - b < FullCkptEveryCommits)
    val incremental = fullBase.flatMap { b =>
      composeWindow(root, b, v).map { d =>
        val schemaField = d.schema
          .map(s => s""""schemaB64":"$s",""").getOrElse("")
        s"""{"version":$v,"baseCkpt":$b,""" +
          s""""add":${arr(d.add)},"remove":${arr(d.rm)},""" +
          s""""addDel":${arr(d.addDel)},"removeDel":${arr(d.rmDel)},""" +
          schemaField +
          s""""tags":{${d.tagDelta.map { case (t, tv) => s""""$t":$tv""" }.mkString(",")}}}"""
      }
    }
    incremental match {
      case Some(json) => publish(json, ickptFile(root, v))
      case None if fullExists =>
        // tag-pruning REPLACE of an existing full checkpoint: the state
        // is already on disk (segments + tail, both unchanged by a
        // prune) — rewrite only the tag map, atomically (see scaladoc)
        val raw = readCkptRaw(root, v)
        val kept = raw.tags.toSeq.filter(_._2 >= pruneTagsBelow).sortBy(_._1)
        if (kept.size == raw.tags.size) return // nothing to prune
        val json = ckptJson(v, raw.segs, raw.tail, raw.deletes,
          raw.schemaB64, kept)
        val tmp = manifestDir(root).resolve(s".tmp-ck-${UUID.randomUUID()}")
        Files.writeString(tmp, json)
        ckptBytes.addAndGet(json.length.toLong)
        Files.move(tmp, ckptFile(root, v),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      case None =>
        // fresh full checkpoint: segment-reuse path first — previous
        // full's segments carried by reference, dirty ones re-frozen as
        // new segments IN PLACE (survivor order = replay order), window
        // adds appended to the tail, oversize tail frozen into new
        // segments. Falls back to a from-scratch resolve (itself
        // segmented) when no reusable base or the window has legacy /
        // vacuumed records.
        // defensive like the read path's readCkptDefensive: a previous
        // full whose segment a racing vacuum swept must degrade this
        // write to the from-scratch resolve below, not fail the commit
        // that triggered it (checkpoints accelerate; records are truth)
        val reused =
          if (!incrementalCkpt) None
          else try prevFull(root, v).flatMap { b =>
            composeWindow(root, b, v).map { d =>
              val rawB = readCkptRaw(root, b)
              val rmSet = d.rm.toSet
              val segs1 = rawB.segs.flatMap { sname =>
                val c = readSeg(root, sname)
                if (!c.exists(rmSet)) Some(sname) // clean: by reference
                else {
                  val surv = c.filterNot(rmSet)
                  if (surv.isEmpty) None else Some(writeSeg(root, surv))
                }
              }
              val tail0 = rawB.tail.filterNot(rmSet) ++ d.add
              val (segs, tail) = freezeTail(root, segs1, tail0)
              val tags = (rawB.tags ++ d.tagDelta).toSeq
                .filter(_._2 >= pruneTagsBelow).sortBy(_._1)
              ckptJson(v, segs, tail,
                rawB.deletes.filterNot(d.rmDel.toSet) ++ d.addDel,
                d.schema.orElse(rawB.schemaB64), tags)
            }
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[lake] segment reuse for ckpt v$v of " +
                s"$root failed (${e.getClass.getSimpleName}); writing full")
              None
          }
        val json = reused.getOrElse {
          val (st, tags) = resolve(root, v)
          val kept = tags.toSeq.filter(_._2 >= pruneTagsBelow).sortBy(_._1)
          if (incrementalCkpt) {
            val (segs, tail) = freezeTail(root, Vector.empty, st.files)
            ckptJson(v, segs, tail, st.deletes, st.schemaB64, kept)
          } else
            ckptJson(v, Vector.empty, st.files, st.deletes, st.schemaB64, kept)
        }
        publish(json, ckptFile(root, v))
    }
  }

  /** The newest FULL checkpoint strictly below `v`, if any. */
  private[etl] def prevFull(root: String, v: Long): Option[Long] = {
    val s = Files.list(manifestDir(root))
    val bs =
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".ckpt.json") &&
          !n.endsWith(".ickpt.json"))
        .map(_.stripPrefix("v").stripSuffix(".ckpt.json").toLong)
        .filter(_ < v)
        .toVector
      finally s.close()
    if (bs.isEmpty) None else Some(bs.max)
  }

  private[etl] final case class WindowDelta(add: Vector[String], rm: Vector[String],
                                       addDel: Vector[String],
                                       rmDel: Vector[String],
                                       tagDelta: Seq[(String, Long)],
                                       schema: Option[String])

  /** Fold the records of (b, v] into ONE composed delta, mirroring
    * [[applyRec]] exactly: a remove cancels an in-window add (the
    * LinkedHashSet keeps replay order), otherwise it targets the base;
    * re-adds append at the tail like a replayed append would. O(change
    * in window) — no state resolution. `None` when the window holds a
    * legacy full-state record or a record aged out under a racing
    * vacuum; callers fall back to resolve-based construction. */
  private[etl] def composeWindow(root: String, b: Long,
                            v: Long): Option[WindowDelta] =
    try {
      val win = ((b + 1) to v).map(readRecord(root, _))
      if (win.exists(_.legacyFull.isDefined)) None
      else {
        // A path added TWICE within the window without an intervening
        // remove would collapse to one LinkedHashSet entry here while
        // applyRec's replay appends both duplicates — a checkpoint built
        // from this composition would diverge from the log. Unreachable
        // with this writer (data paths carry fresh UUIDs), but commit
        // records are just files: bail to the resolve-based fallback
        // rather than trust the precondition.
        var dupAdd = false
        def compose(adds: Record => Seq[String],
                    removes: Record => Seq[String]) = {
          val add = new java.util.LinkedHashSet[String]()
          val rm = new java.util.LinkedHashSet[String]()
          win.foreach { r =>
            removes(r).foreach(f => if (!add.remove(f)) { rm.add(f); () })
            adds(r).foreach(f => if (!add.add(f)) dupAdd = true)
          }
          (add.iterator().asScala.toVector, rm.iterator().asScala.toVector)
        }
        val (add, rm) = compose(_.add, _.remove)
        val (addDel, rmDel) = compose(_.addDel, _.removeDel)
        if (dupAdd) None
        else Some(WindowDelta(add, rm, addDel, rmDel,
          win.flatMap(r => r.tags.map(_ -> r.version)),
          win.flatMap(_.schemaB64).lastOption))
      }
    } catch { case _: java.io.IOException => None }

  /** Freeze full [[SegEntries]]-sized chunks of an oversized tail into
    * new immutable segments, keeping at least one segment's worth
    * mutable (a just-frozen run would otherwise be the likeliest to
    * dirty on the next rewrite). */
  private[etl] def freezeTail(root: String, segs: Vector[String],
                         tail: Vector[String])
      : (Vector[String], Vector[String]) = {
    var s = segs
    var t = tail
    while (t.size >= 2 * SegEntries) {
      s = s :+ writeSeg(root, t.take(SegEntries))
      t = t.drop(SegEntries)
    }
    (s, t)
  }

  private[etl] def ckptJson(v: Long, segs: Vector[String], tail: Vector[String],
                       dels: Vector[String], schema: Option[String],
                       tags: Seq[(String, Long)]): String = {
    def arr(xs: Seq[String]) = xs.map(f => s""""$f"""").mkString("[", ",", "]")
    val segsField = if (segs.isEmpty) "" else s""""segs":${arr(segs)},"""
    val schemaField = schema.map(b => s""""schemaB64":"$b",""").getOrElse("")
    s"""{"version":$v,$segsField"files":${arr(tail)},""" +
      s""""deletes":${arr(dels)},$schemaField""" +
      s""""tags":{${tags.map { case (t, tv) => s""""$t":$tv""" }.mkString(",")}}}"""
  }
}
