package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic storage release for localCheckpointed Datasets.
  *
  * `Dataset.unpersist()` only talks to the SQL CacheManager, but a
  * localCheckpoint's blocks are pinned on the underlying RDD — so both
  * `unpersist()` and `catalog.clearCache()` leave them in executor
  * storage until the async ContextCleaner notices the RDD became
  * unreferenced after a driver GC (probed on this Spark build: the
  * persisted-RDD count is unchanged by either call). An iterative loop
  * that "releases" superseded rounds with Dataset.unpersist therefore
  * strands one edge-sized block set per round, and a long-lived session
  * (a 176-query bench suite, a production driver running for days)
  * inherits the accumulated heap pressure. Unpersisting the
  * LogicalRDD's underlying RDD directly is synchronous and exact.
  */
object Ckpt {
  /** Free the checkpoint blocks behind `df` (a localCheckpointed
    * Dataset — its analyzed plan is a LogicalRDD leaf). Safe on any
    * plan: only LogicalRDD leaves are touched. A released Dataset must
    * not be recomputed (the lineage was truncated at the checkpoint),
    * so call this only once every consumer of it has materialized. */
  def release(df: DataFrame): Unit = releaseBeyond(df, Set.empty)

  /** [[release]] of what a build made from `input`: the blocks of every
    * checkpoint in `out`'s plan except those `input` itself reads, which
    * belong to the caller. */
  def releaseBuilt(out: DataFrame, input: DataFrame): Unit =
    releaseBeyond(out, input.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet)

  private def releaseBeyond(df: DataFrame, keep: Set[Int]): Unit =
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD if !keep(l.rdd.id) => l.rdd.unpersist(blocking = false)
      case _                                => ()
    }
}
