package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-query time attribution for the optimization rounds: where does a
  * bench entry's wall-clock go — plan construction (driver), Spark jobs
  * (count + per-job wall), or untracked driver work between jobs?
  *
  * Usage: runMain graft.ProfileQ <query...>   (data: SPARK_GRAFT_SF_DIR,
  * default sf0.1). For each query, runs the same `fn(spark, dir).count()`
  * action the bench times, twice (run 1 = cold plan/codegen, run 2 = the
  * bench's post-warm-lap shape), printing build/exec wall and the job log
  * from a SparkListener. Diagnostic main only — never on a query path.
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.CopyOnWriteArrayList[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.put(j.jobId, (System.nanoTime(),
          Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")))
        ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(j.jobId)).foreach { case (t0, desc) =>
          done.add((j.jobId, System.nanoTime() - t0, desc)); ()
        }
      }
    })
    // same infra warm-up as Bench
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    for (q <- args) {
      val fn = SparkEntry.queries(q)
      for (run <- 1 to 2) {
        done.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.count()
        val t2 = System.nanoTime()
        Runner.cleanup(spark)
        Thread.sleep(300) // let listener events drain
        val jobMs = done.toArray(Array.empty[(Int, Long, String)]).sortBy(_._1)
        val jobTotal = jobMs.map(_._2).sum / 1e6
        println(f"== $q run$run build=${(t1 - t0) / 1e6}%.0fms exec=${(t2 - t1) / 1e6}%.0fms " +
          f"jobs=${jobMs.length} jobwall=$jobTotal%.0fms")
        jobMs.foreach { case (id, ns, desc) =>
          println(f"   job#$id%-4d ${ns / 1e6}%7.1fms  ${desc.take(90)}") }
      }
    }
    spark.stop()
  }
}
