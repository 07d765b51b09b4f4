package graft

/** Benchmark main — runs every `SparkEntry.queries` entry against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query seconds.
  * Failures are recorded per query in an `errors` map (never swallowed —
  * a broken query must not bench as ~0 s with rc=0; VERDICT.md round 1).
  *
  * Accounting: every build of memoized shared state (a base-table load,
  * a lake fixture, a graft.etl.Artifact such as the dedup pair relation)
  * is billed to `prepare_sec`, wherever it runs — the warm-up, a query's
  * untimed warm lap, or a timed run. [[graft.etl.Memo]] meters each build
  * on the thread that runs it; a timed run's builds are subtracted from
  * that run, and a query's cost is the minimum over its runs of what
  * remains. `query_sec` sums those minimums; `total_sec` is
  * prepare + query.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // Box-calibration probe (VERDICT r17 ask 3) — see [[BoxProbe]] for
    // the design and the ledger interpretation rule (comparable at
    // equal probes; a uniform shift at unequal probes is the box).
    val probeSec = BoxProbe.measure()
    // Parallel probe (round 20) — same work at min(32, cores)-way; sees
    // the SMT/host parallel-throughput contention the single-thread
    // probe is blind to. Comparable at equal probe_sec AND probe_par_sec.
    val probeParSec = BoxProbe.measurePar()

    val spark = Sessions.local()
    def billedNanos: Long = graft.etl.Memo.billed.nanos
    val billed0 = billedNanos

    // untimed warm-up: initialize the parquet reader, shuffle, codegen and
    // JIT infrastructure once, so the alphabetically-first query does not
    // absorb session start-up in its measurement; then read every base
    // table fully once (noop sink = full scan, no result materialization)
    // so a query's first run measures compute, not the machine's cold
    // page cache.
    try {
      spark.range(1 << 20).selectExpr("sum(id)").collect()
      import graft.model.Tables
      Seq[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
        Tables.lineitem, Tables.orders, Tables.customer, Tables.supplier,
        Tables.part, Tables.nation, Tables.region, Tables.events,
        Tables.documents, Tables.embeddings)
        .foreach(t => t(spark, sfDir).write.mode("overwrite").format("noop").save())
    } catch { case e: Throwable => System.err.println(s"warm-up: $e") }

    // Per-query time = MIN over `runs` repeats: single runs swing up to
    // ~2× on JIT compiler-queue state (a query's generated code may or may
    // not be compiled in time, nondeterministically — observed as
    // "regressions" that vanish on re-run), and min-of-N is the standard
    // way to report the code's actual cost rather than the JIT's mood.
    // 3 timed runs by default (median-of-3 is the committed protocol,
    // VERDICT r9/r10): with 2 runs a single JIT-queue hiccup makes the
    // spread section cry wolf every round; with 3, `med` separates a
    // one-off stall (med ≈ best → noise, not a regression) from a real
    // slowdown (med ≈ worst), and min stays the reported cost.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // SPARK_GRAFT_BENCH_ONLY=q79,q35 → bench only the named queries
    // (prefix match) — the isolation lever for chasing per-query anomalies.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      only.forall(_.exists(name.startsWith))
    }
    // Per-query JVM telemetry (VERDICT r6 item 2): GC-time delta and
    // post-query heap, appended to target/bench_detail.jsonl — the full
    // per-query record the one-line driver JSON has no width for. In-suite
    // numbers 10-40× the isolated cost with identical plans are a JVM/
    // harness condition; this file is what tells heap pressure apart from
    // state accumulation when it happens.
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    def heapMb: Long = {
      val h = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      h.getUsed >> 20
    }
    val detailPath = java.nio.file.Paths.get("target/bench_detail.jsonl")
    java.nio.file.Files.createDirectories(detailPath.getParent)
    // one line per query, flushed as each finishes: a mid-suite crash or
    // OOM (the exact heap-pressure scenario this file exists to diagnose)
    // must keep every record produced before it.
    java.nio.file.Files.deleteIfExists(detailPath)
    def appendDetail(line: String): Unit =
      java.nio.file.Files.writeString(detailPath, line + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    // per-query full GC keeps one query's garbage from billing the NEXT
    // query's measurement (collection happens outside every timed window;
    // at 159 queries the alphabetical tail otherwise pays the q1xx block's
    // accumulated debt). Opt out with SPARK_GRAFT_BENCH_GC=0 to A/B.
    val gcEachQuery = sys.env.getOrElse("SPARK_GRAFT_BENCH_GC", "1") == "1"
    case class R(name: String, best: Double, med: Double, worst: Double,
                 err: Option[String], gcMs: Long)
    // Per-query untimed warm lap: the first execution of a query pays
    // whole-stage-codegen compile + JIT queue nondeterminism, which showed
    // up as >2× min/max spreads on small queries (BENCH_r07: q132 3.8×,
    // q54 3.0×, q37 2.9×, q113 2.4×) with identical plans. Running once untimed before the measured repeats
    // makes both timed runs measure the compiled code. Memoized first-use
    // builds usually run here; they bill to prepare either way.
    // Opt out: SPARK_GRAFT_BENCH_WARM=0.
    val warmLap = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "1") == "1"
    // After the warm lap, wait for the JIT compile queue to drain before
    // the timed runs (bounded): the warm lap ENQUEUES the query's
    // generated code for C2 compilation but returns before compilation
    // finishes, so without the settle the first timed run races 16
    // background compiler threads for cores — the residual >2× spreads of
    // BENCH_r10 (q203/q167/q178) are exactly this. CompilationMXBean's
    // cumulative compile time flattening out is the drain signal.
    val compileBean = ManagementFactory.getCompilationMXBean
    def jitSettle(maxMs: Long): Unit = {
      if (compileBean == null || !compileBean.isCompilationTimeMonitoringSupported) return
      val deadline = System.nanoTime() + maxMs * 1000000L
      var prev = compileBean.getTotalCompilationTime
      var settled = false
      while (!settled && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val cur = compileBean.getTotalCompilationTime
        settled = (cur - prev) < 30 // <30 ms of JIT work in the last 100 ms
        prev = cur
      }
    }
    val results = selected.map { case (name, fn) =>
      // per-run cost = wall minus the builds billed inside that run
      var times = Vector.empty[Double]
      // per-run GC deltas IN RUN ORDER (times above get sorted): when a
      // spread anomaly fires (BENCH_r14's q191: run 1 fast, runs 2-3
      // ~20× slower, unreproducible on the build box), this is what
      // separates "the later runs collected garbage" from "the later
      // runs executed differently" without needing the box in hand.
      var runGc = Vector.empty[Long]
      var err: Option[String] = None
      var i = 0
      val prep0 = billedNanos
      if (warmLap) {
        // failures here are ignored — the timed loop records them properly
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
        Runner.cleanup(spark)
        jitSettle(2000)
      }
      val gc0 = gcMs
      val wall0 = System.nanoTime()
      while (i < runs && err.isEmpty) {
        val b0 = billedNanos
        val t0 = System.nanoTime()
        val g0 = gcMs
        try fn(spark, sfDir).count()
        catch { case e: Throwable => err = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        times :+= (System.nanoTime() - t0 - (billedNanos - b0)) / 1e9
        runGc :+= gcMs - g0
        // outside the timed window: teardown is bench bookkeeping
        Runner.cleanup(spark)
        i += 1
      }
      val prepareS = (billedNanos - prep0) / 1e9
      // gc_ms = GC incurred during this query's timed runs ONLY — read the
      // delta BEFORE the inter-query cleanup collection, and report that
      // collection's cost as its own field so the two never conflate.
      val queryGcMs = gcMs - gc0
      val cleanupGc0 = gcMs
      if (gcEachQuery) System.gc()
      val cleanupGcMs = gcMs - cleanupGc0
      val wallS = (System.nanoTime() - wall0) / 1e9
      val sorted = times.sorted
      val best = if (sorted.isEmpty) Double.MaxValue else sorted.head
      val med = if (sorted.isEmpty) Double.MaxValue else sorted(sorted.size / 2)
      val worst = if (sorted.isEmpty) 0.0 else sorted.last
      val runsField = times.map(t =>
        "%.3f".formatLocal(java.util.Locale.ROOT, t)).mkString("[", ",", "]")
      val runGcField = runGc.mkString("[", ",", "]")
      appendDetail(
        s"""{"q":${Runner.json(name)},"best":${"%.3f".formatLocal(java.util.Locale.ROOT, best)},"med":${"%.3f".formatLocal(java.util.Locale.ROOT, med)},"worst":${"%.3f".formatLocal(java.util.Locale.ROOT, worst)},"runs":$runsField,"run_gc_ms":$runGcField,"wall":${"%.3f".formatLocal(java.util.Locale.ROOT, wallS)},"prepare_s":${"%.3f".formatLocal(java.util.Locale.ROOT, prepareS)},"gc_ms":$queryGcMs,"cleanup_gc_ms":$cleanupGcMs,"heap_mb":$heapMb}""")
      R(name, best, med, worst, err, runGc.sum)
    }
    // 3-decimal seconds: ~70 full-precision doubles push the line past the
    // harness's stdout-tail window and truncate the leading fields (the
    // total and the first ~16 queries vanished from BENCH_r04); millisecond
    // resolution is far below run-to-run noise anyway.
    def sec(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // Per-query keys are shortened to their unique qNN prefix: at 92
    // queries the full-name maps push the ONE output line past the
    // harness's ~2.9 KB stdout-tail window, which truncates the LEADING
    // fields (BENCH_r04 lost its total this way). Full names appear only
    // in `errors` (rare, and a failing run matters more than its width).
    def short(n: String): String = n.takeWhile(_ != '_')
    val qs = results.map(r => s"${Runner.json(short(r.name))}:${sec(r.best)}").mkString("{", ",", "}")
    val errs = results.collect { case R(k, _, _, _, Some(e), _) => s"${Runner.json(k)}:${Runner.json(e)}" }
      .mkString("{", ",", "}")
    // Variance disclosure without blowing the line budget: `spread` lists
    // [runs, min, med, max] ONLY for queries whose MEDIAN disagrees
    // materially with the min (>0.25 s AND >1.5×), capped at the 10
    // widest. The median gate (not max, as before r11) is what makes the
    // section trustworthy: with 3 runs, one JIT/GC stall inflates max but
    // not med — med ≫ min is the signature of a real, repeatable
    // slowdown, which is the only thing worth a regression triage.
    val spread = results
      .filter(r => runs > 1 && r.err.isEmpty &&
        (r.med - r.best) > 0.25 && r.med > 1.5 * r.best)
      .sortBy(r => r.best - r.med)
      .take(10)
      .map(r => s"${Runner.json(short(r.name))}:[$runs,${sec(r.best)},${sec(r.med)},${sec(r.worst)}]")
      .mkString("{", ",", "}")
    val querySec = results.map(_.best).sum
    val prepareSec = (billedNanos - billed0) / 1e9
    // GC split: collections inside the timed windows (Σ run_gc_ms) versus
    // the harness's own (the per-query System.gc(), the warm-up, warm laps
    // and the cleanup between runs)
    val gcQuerySec = results.map(_.gcMs).sum / 1000.0
    val gcHarnessSec = gcMs / 1000.0 - gcQuerySec
    println(s"""{"metric":"total","value":${sec(prepareSec + querySec)},"unit":"sec","queries":$qs,"errors":$errs,"runs":$runs,"spread":$spread,"prepare_sec":${sec(prepareSec)},"query_sec":${sec(querySec)},"total_sec":${sec(prepareSec + querySec)},"gc_query_sec":${sec(gcQuerySec)},"gc_harness_sec":${sec(gcHarnessSec)},"heap_mb":$heapMb,"probe_sec":${sec(probeSec)},"probe_par_sec":${sec(probeParSec)},"sf":"$sfDir","n_queries":${results.size}}""")
    spark.stop()
    if (results.exists(_.err.nonEmpty)) sys.exit(1)
  }
}
