package graft

/** Plan-stability audit across data scales (SCALE.md): for each named
  * query, execute at BOTH sf dirs and diff the executed (AQE-final) plan's
  * operator profile — join strategies, exchange count, scan count. A scale
  * jump must not change the plan's shape: a dim-side broadcast flipping to
  * sort-merge, or a new exchange appearing, is exactly the regression a
  * 100× production growth would hit, surfaced here at 10×.
  *
  * `runMain graft.ScaleAudit <dirA> <dirB> <q1,q2,...>` (prefix match)
  *
  * Output, one line per query: `AUDIT <name> SAME|DIFF a={...} b={...}`
  * where the profile counts BroadcastHashJoin / SortMergeJoin /
  * ShuffledHashJoin / BroadcastNestedLoopJoin / Exchange / FileScan nodes.
  * Skew-split and coalesce markers are ignored — AQE re-sizing reducers is
  * the mechanism working as designed, not a shape change.
  */
object ScaleAudit {
  private val NodeRe =
    ("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|" +
      "BroadcastNestedLoopJoin|CartesianProduct|Exchange|FileScan)").r

  def profile(plan: String): Map[String, Int] =
    NodeRe.findAllMatchIn(plan).map(_.group(1)).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap

  def main(args: Array[String]): Unit = {
    val Array(dirA, dirB, qlist) = args
    val prefixes = qlist.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = Sessions.local()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
    var diffs = 0
    for ((name, fn) <- selected) {
      def run(dir: String): Map[String, Int] = {
        val df = fn(spark, dir)
        df.count()
        val p = profile(df.queryExecution.executedPlan.toString)
        Runner.cleanup(spark)
        p
      }
      try {
        val a = run(dirA)
        val b = run(dirB)
        val same = a == b
        if (!same) diffs += 1
        def fmt(m: Map[String, Int]) =
          m.toSeq.sorted.map { case (k, v) => s"$k:$v" }.mkString("{", ",", "}")
        println(s"AUDIT $name ${if (same) "SAME" else "DIFF"} a=${fmt(a)} b=${fmt(b)}")
      } catch {
        case e: Throwable =>
          diffs += 1
          println(s"AUDIT $name ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    println(s"AUDIT_TOTAL diffs=$diffs of ${selected.size}")
    spark.stop()
  }
}
