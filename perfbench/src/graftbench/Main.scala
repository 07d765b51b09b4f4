package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM. `run.py` starts it once per run; it never
  * computes percentiles or gates anything, it measures and writes the
  * run record (JSON) that `run.py` turns into metrics.
  *
  * {{{
  *   graftbench.Main --mode prepare --sf DIR --fixtures DIR --cpus N
  *   graftbench.Main --mode run --workload W --seed N --seconds S --trace 0|1
  *                   --sf DIR --fixtures DIR --rundir DIR --out FILE --cpus N
  * }}}
  *
  * A run: Spark session, data profile, [[SetupRepeats]] fresh fixtures
  * (median kept), warm-up, then the measured loop of a fixed number of
  * unit ops, then the output checks and the box probe(s). The harness never
  * forces a collection. */
object Main {

  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = o.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val spark = graft.Sessions.local(opt("cpus"))
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    try opt("mode") match {
      case "prepare" =>
        graft.etl.PartitionedLake.ensureLineitemLake(spark, opt("sf"))
        LakeHistory.prepare(spark, opt("sf"), Paths.get(opt("fixtures")))
      case "run" =>
        val rec = run(spark, sessionS, o)
        Files.writeString(Paths.get(opt("out")), Json.render(rec))
    } finally spark.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(spark: SparkSession, sessionS: Double, o: Map[String, String]): Map[String, Any] = {
    val seconds = o("seconds").toInt
    val tracer = new Tracer(spark, o("trace") == "1")
    val runDir = Paths.get(o("rundir"))
    val c = new Ctx(spark, o("sf"), runDir, Paths.get(o("fixtures")), tracer, o("seed").toLong,
      o.get("break-check").contains("1"))
    val w = Workloads(o("workload"))

    val (_, profileS) = Workloads.seconds(w.profile(c))
    val fixtureS = (1 to SetupRepeats).map(i => Workloads.seconds(w.fixture(c, runDir.resolve(s"fixture-$i")))._2)
    val (_, warmupS) = Workloads.seconds(w.warmup(c))

    val planned = w.plannedOps(seconds)
    // a safety stop only: a run that needs it reports its loop time scaled
    // to the planned op count, and says so in the record
    val deadline = System.nanoTime() + math.max(60L, 4L * seconds) * 1000000000L
    tracer.startLoop()
    val (_, loopS) = Workloads.seconds(w.loop(c, planned, deadline))
    val capped = System.nanoTime() >= deadline
    tracer.endLoop()
    val loopOps = tracer.attempted
    val done = tracer.samples.get(w.unitKind).map(_.size).getOrElse(0)

    val checks = w.checks(c)
    val failedChecks = checks.count(!_.ok)
    val wholeRun = checks.count(!_.perOp)
    val layers =
      if (!tracer.tracing) Map.empty[String, Double]
      else {
        val n = math.max(1, loopOps).toDouble
        val common = tracer.totals.toMap.collect {
          case (k, v) if k.startsWith("spark.") => k -> v / n
        }
        common ++ w.layers(c) ++ Map(
          "jvm.gc_s" -> tracer.gcInOpsS / n,
          "jvm.jit_s" -> tracer.loopJitS / n,
          "jvm.heap_peak_mb" -> tracer.heapPeakMb,
          "trace.unattributed_share" ->
            tracer.total("trace.unattributed_s") / math.max(1e-9, tracer.total("trace.op_wall_s")))
      }
    // the single-thread probe costs ≈ 2.5 s, so only traced runs take it;
    // every run records the parallel one
    val probe = if (tracer.tracing) Some(graft.BoxProbe.measure()) else None
    val probePar = graft.BoxProbe.measurePar()

    Json.obj(
      "workload" -> w.name,
      "seed" -> c.seed,
      "trace" -> tracer.tracing,
      "cpus" -> o("cpus").toInt,
      "box" -> Json.obj(
        "probe_sec" -> probe, "probe_par_sec" -> probePar,
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq),
      "setup" -> Json.obj(
        "session_s" -> sessionS, "profile_s" -> profileS, "fixture_s" -> fixtureS,
        "warmup_s" -> warmupS,
        "setup_s" -> (sessionS + profileS + median(fixtureS) + warmupS)),
      "loop" -> Json.obj(
        "wall_s" -> loopS, "unit" -> w.unitKind, "planned_ops" -> planned,
        "done_ops" -> done, "ops" -> loopOps, "capped" -> capped),
      "samples" -> tracer.samples.map { case (k, v) => k -> v.toSeq },
      "attempted" -> (loopOps + wholeRun),
      "failed" -> (tracer.failed + failedChecks),
      "errors" -> tracer.errors.toSeq,
      "checks" -> checks.map(k => Json.obj("name" -> k.name, "ok" -> k.ok, "detail" -> k.detail)),
      "jvm" -> Json.obj(
        "gc_in_ops_s" -> tracer.gcInOpsS,
        "gc_loop_s" -> tracer.loopGcS,
        "gc_between_ops_s" -> (tracer.loopGcS - tracer.gcInOpsS),
        "forced_gcs" -> 0,
        "jit_loop_s" -> tracer.loopJitS,
        "heap_peak_mb" -> tracer.heapPeakMb,
        "live_heap_peak_mb" -> tracer.liveHeapPeakMb),
      "layers" -> layers,
      "record" -> w.record(c))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}
