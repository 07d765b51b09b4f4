package graft.etl

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap,
  ConcurrentLinkedQueue, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.ReentrantLock

/** In-JVM GROUP COMMIT for the snapshot-lake manifest: concurrent
  * appenders coalesce into ONE manifest link instead of racing the CAS
  * head one-by-one.
  *
  * Why this exists (CommitContention phase 4): one table's manifest
  * head serializes publishes, so at object-store latency the link rate
  * is floored at ~1/(k·RTT) NO MATTER the retry policy — 16 writers at
  * 50 ms RTT sustain ~5 links/s, exactly Delta-on-S3's per-table
  * number. The only protocol-level lever left is to make each link
  * carry MANY logical commits. That is what every database WAL does
  * under the same constraint (one fsync carries a group of
  * transactions), and it composes with the deployment answer at
  * 100 TB — few fat committer processes per table, each coalescing its
  * own concurrent writers through this class.
  *
  * Mechanics: a caller enqueues its (files, rows) delta and tries to
  * become LEADER (a `tryLock`, never blocking). The leader drains
  * everything queued at that instant — its own delta plus every
  * concurrent follower's — and publishes one combined "append" record
  * through [[SnapshotLake.tryCommit]], the link every commit takes (same
  * backoff, same checkpoint cadence, same CDC hook). It retries in a
  * loop of its own rather than the lake's one commit loop, because
  * each attempt re-decides which members ride an already-committed tag
  * and which in-batch duplicates piggyback. Followers park on
  * their future; the leader completes every member with the SAME
  * committed version. A group commit IS a plain append record whose
  * `add` list happens to union k writers' files — readers, time
  * travel, vacuum, and the oracle are all unaffected; the batch is
  * restricted to appends because adds are commuting inserts (the
  * combined `addedRows` is their sum). TAGGED appends coalesce too
  * ([[SnapshotLake.appendOnceGrouped]]): the combined record carries
  * every member's idempotence tag (`tagList` — Delta's
  * multi-`txn`-action commit), already-committed tags ride the
  * existing version, and a same-tag duplicate inside one batch
  * commits exactly one member's files. Each member's rows must fit the
  * schema at the leader's head — on an empty lake, the one the batch's
  * first member declares — or that member alone fails, its files left
  * as orphans for vacuum. DML and auto-merging commits keep their solo
  * paths: a rewrite's serializable fence must observe ITS OWN read
  * set.
  *
  * Scope: coalescing is per-JVM by design — cross-process writers
  * still race the CAS link, which phase 3 proved collapse-free. A
  * leader crash is an in-process exception: it completes every drained
  * member exceptionally (no member can be silently dropped, because a
  * member is either still queued — the next leader takes it — or in
  * the crashed leader's batch — completed exceptionally).
  *
  * Latency note: a member's commit latency becomes the leader's link
  * latency (one CAS round), not k of them — group commit trades
  * nothing locally (the POSIX link is ~µs) and wins k× logical
  * throughput where the link is the bottleneck (measured:
  * CommitContention phase 5 vs phase 4 in SCALE.md).
  */
private[graft] object GroupCommit {

  /** Max logical commits per manifest link. Bounds the record's `add`
    * array (batch × filesPerCommit paths); 256 appends × 10 files ×
    * ~50 B/path ≈ 128 KB — well under one object-store PUT's sweet
    * spot, and far past the coalescing any real contention produces. */
  private val MaxBatch = 256

  private final class Pending(val add: Seq[String], val rows: Long,
                              val admitted: Option[SnapshotLake.Admitted],
                              val tag: Option[String]) {
    val done = new CompletableFuture[java.lang.Long]()
  }

  /** Measurement counters (CommitContention phase 5): manifest links
    * published vs logical commits carried. */
  private[graft] val links = new AtomicLong
  private[graft] val logical = new AtomicLong

  private final class Committer(root: String) {
    private val queue = new ConcurrentLinkedQueue[Pending]
    private val leader = new ReentrantLock

    def commit(add: Seq[String], rows: Long, admitted: Option[SnapshotLake.Admitted],
               tag: Option[String]): Long = {
      val p = new Pending(add, rows, admitted, tag)
      queue.add(p)
      while (!p.done.isDone) {
        if (leader.tryLock()) {
          try { if (!p.done.isDone) drain() }
          finally leader.unlock()
        } else {
          // a follower: the current leader either drained us (done
          // completes) or snapshot its batch before our add landed —
          // re-check on a short park and take the lock ourselves next
          // loop if it's free. The timeout only bounds the re-check;
          // completion wakes the get() immediately. An exceptional
          // completion exits the loop too — the final get rethrows it.
          try { p.done.get(10, TimeUnit.MILLISECONDS); () }
          catch {
            case _: TimeoutException =>
            case _: java.util.concurrent.ExecutionException =>
          }
        }
      }
      try p.done.get().longValue
      catch { case e: java.util.concurrent.ExecutionException =>
        throw e.getCause }
    }

    /** Leader: drain the queue as it stood on entry (bounded by
      * [[MaxBatch]]) and publish one combined append record. */
    private def drain(): Unit = {
      var batch = Vector.empty[Pending]
      var next = queue.poll()
      while (next != null) {
        batch :+= next
        next = if (batch.size < MaxBatch) queue.poll() else null
      }
      if (batch.isEmpty) return
      try {
        var remaining = batch
        while (remaining.nonEmpty) {
          // RIDERS first — tagged members whose tag is already in the
          // lake (a racing external writer won, or an earlier drain of
          // this loop committed it): complete at the existing version,
          // their fresh data files stay orphans for vacuum — verbatim
          // appendOnce's lost-race contract. Probed every attempt because a
          // lost CAS below means SOMEONE committed, possibly one of
          // our own tags from another process.
          val known: Map[String, Long] = remaining.flatMap(_.tag).distinct
            .flatMap(t => SnapshotLake.findTag(root, t).map(t -> _)).toMap
          val (riders, rest) = remaining.partition(_.tag.exists(known.contains))
          riders.foreach(p => { p.done.complete(known(p.tag.get)); () })
          val cur = SnapshotLake.currentVersion(root)
          // the schema rule per member, at this attempt's head: the first
          // member that declares (an empty lake) sets the schema the rest
          // must fit; a member that does not fit fails alone
          var lake =
            if (rest.forall(_.admitted.isEmpty)) None
            else cur.map(v => SnapshotLake.schemaAt(root, Some(v)))
          remaining = rest.filter { p =>
            p.admitted.forall { a =>
              try { SnapshotLake.declareOn(root, lake, a).foreach(d => lake = Some(d)); true }
              catch { case e: IllegalArgumentException =>
                p.done.completeExceptionally(e); false }
            }
          }
          if (remaining.nonEmpty) {
            // in-batch same-tag duplicates: the first occurrence
            // commits its files, later ones piggyback on the version
            // (same tag ⇒ same logical data, the replay contract) —
            // their files must NOT also land or the batch double-appends
            val seen = scala.collection.mutable.Set.empty[String]
            val (committers, piggy) =
              remaining.partition(_.tag.forall(seen.add))
            val v = cur.getOrElse(0L) + 1
            if (SnapshotLake.tryCommit(root, v, SnapshotLake.Change("append",
                cur.getOrElse(0L), committers.iterator.map(_.rows).sum,
                committers.flatMap(_.add), schema = if (cur.isEmpty) lake else None,
                tags = committers.flatMap(_.tag)))) {
              links.incrementAndGet()
              (committers ++ piggy).foreach(p => { p.done.complete(v); () })
              remaining = Vector.empty
            } // lost CAS: loop — tryCommit already backed off
          }
        }
        logical.addAndGet(batch.size.toLong)
      } catch { case e: Throwable =>
        batch.foreach(_.done.completeExceptionally(e))
        throw e
      }
    }
  }

  private val committers = new ConcurrentHashMap[String, Committer]

  /** Commit pre-written data files through the group path. Returns the
    * committed version (shared with every coalesced co-member).
    * `admitted` is the member's schema admission (None: files of no
    * declared schema, the measurement hooks). A
    * `tag` makes the member exactly-once ([[SnapshotLake.appendOnceGrouped]]):
    * an already-committed tag rides the existing version instead. */
  private[etl] def commit(root: String, add: Seq[String], rows: Long,
                          admitted: Option[SnapshotLake.Admitted],
                          tag: Option[String] = None): Long =
    committers.computeIfAbsent(root, new Committer(_)).commit(add, rows, admitted, tag)
}
