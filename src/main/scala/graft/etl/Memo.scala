package graft.etl

/** Exactly-once keyed memoization for side-effecting builders.
  *
  * `TrieMap.getOrElseUpdate` alone is lock-free but NOT once-only: two
  * threads racing on the same absent key may both evaluate the by-name
  * default, and for our builders (staging a parquet copy, opening a
  * dashboard session, running incremental batches) a double evaluation
  * means doubled IO and a leaked scratch directory. Wrapping the value in
  * a lazy holder fixes it: racing threads may create two *holders*, but
  * `getOrElseUpdate`'s put-if-absent installs exactly one, both callers
  * receive the installed holder, and Scala's `lazy val` initialization
  * (synchronized per holder) runs the build exactly once.
  *
  * Every build is metered on the thread that runs it (see
  * [[Memo.billed]]); a hit runs no meter at all.
  */
final class Memo[K, V] {
  private val m = scala.collection.concurrent.TrieMap.empty[K, () => V]

  def apply(k: K)(build: => V): V = {
    val holder = m.getOrElseUpdate(k, { lazy val v = Memo.metered(build); () => v })
    holder()
  }

  /** Drop every entry whose key matches — the eviction hook for callers
    * whose keys can go stale (a stopped session, an invalidated path).
    * Concurrent-safe: TrieMap snapshot semantics make the scan consistent,
    * and a racing `apply` on a removed key simply rebuilds. */
  def removeIf(p: K => Boolean): Unit =
    m.keys.filter(p).foreach(m.remove)
}

object Memo {
  /** Outermost builds run on one thread so far, and their wall time. */
  final case class Billed(builds: Long, nanos: Long)

  private final class Meter { var depth = 0; var builds = 0L; var nanos = 0L }
  private val meter = ThreadLocal.withInitial[Meter](() => new Meter)

  /** This thread's running total. A build nested in another build (a
    * label relation building the pair relation it reads) is part of the
    * outer one's time and is not counted again; a failed build is
    * billed for the time it ran. Take the difference of two readings to
    * bill a span, as the bench does per query run. */
  def billed: Billed = { val t = meter.get; Billed(t.builds, t.nanos) }

  private def metered[V](build: => V): V = {
    val t = meter.get
    val t0 = System.nanoTime()
    t.depth += 1
    try build
    finally {
      t.depth -= 1
      if (t.depth == 0) { t.builds += 1; t.nanos += System.nanoTime() - t0 }
    }
  }
}
