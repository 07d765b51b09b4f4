package graft

import org.scalatest.funsuite.AnyFunSuite

/** Inventory-wide plan guard: no query may introduce an unbounded
  * cartesian. A BroadcastNestedLoopJoin is allowed only where the build
  * side is a documented constant-size relation; everything else must plan
  * hash/sort-merge joins. This is the automated version of the per-round
  * PlanAudit sweep — a new query with a scale-killing product fails CI
  * instead of surfacing in review.
  */
class PlanGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Queries whose plan legitimately carries a BroadcastNestedLoopJoin —
    * each with a constant-size build side. */
  private val allowedNestedLoop = Map(
    "q39_ann_brute_topk"     -> "5-row query batch (exact-scan baseline)",
    "q40_ann_ivf_topk"       -> "query batch × centroid table (tiny × tiny)",
    "q44_report_metrics"     -> "cross join of single-row aggregates",
    "q45_embedding_near_dup" -> "sampled baseline capped at 500 rows",
    "q49_range_join_price_bands" -> "5-row literal interval dimension",
    "q71_tfidf_topk"         -> "cross join of the single-row corpus count",
    "q77_ann_recall"         -> "5-row query batch × corpus/centroids (recall harness over q39+q40)",
    "q79_daily_anomaly"      -> "cross join of the single-row mean/stddev aggregate",
    "q80_user_erasure"       -> "cross join of the single-row total count",
    "q92_unigram_surprisal"  -> "cross join of the single-row corpus token count",
    "q95_ann_int8"           -> "5-row quantized query batch (int8 exact-scan)",
    "q97_kmv_distinct"       -> "cross join of the single-row exact-count aggregate",
    "q103_binned_percentiles" -> "3-row percentile targets × 1000-row histogram + single-row bounds",
    "q104_funnel"            -> "cross join of three single-row stage counts",
    "q105_pagerank"          -> "per-iteration cross join of the single-row node count",
    "q96_ann_rerank"         -> "5-row quantized query batch (recall stage of the rerank)",
    "q126_bm25_topk"         -> "cross join of the single-row corpus length/count stats",
    "q128_distribution_drift" -> "cross join of the single-row period totals onto the ~12-bucket histogram",
    "q139_triangle_count"    -> "cross join of three single-row graph-metric aggregates",
    "q140_fk_orphan_audit"   -> "cross join of three single-row orphan counts",
    "q143_ewma_daily_revenue" -> "cross join of the single-row max-day bound",
    "q152_pareto_revenue"    -> "cross joins of the single-row total and count aggregates",
    "q153_sql_not_in_null_trap" -> "null-aware NOT IN against the supplier-sized broadcast list",
    "q161_incremental_dedup" -> "cross join of the single-row corpus/batch split bound",
    "q165_kmeans_centroids"  -> "Lloyd assignment: corpus × broadcast k=10 centroid table, argmin via window",
    "q166_ann_recall_kmeans" -> "Lloyd assignment (k=10 centroids) + 5-row query batch × corpus exact baseline",
    "q170_semantic_dedup"    -> "Lloyd assignment: corpus × broadcast k=10 centroid table, argmin via window",
    "q171_temperature_mixture" -> "cross join of the single-row weight-sum/total aggregate onto the source dim",
    "q173_bigram_perplexity" -> "cross join of the single-row vocabulary-size aggregate",
    "q174_kmv_partition_merge" -> "cross join of the single-row global exact-distinct onto the single-row merged sketch",
    "q175_hybrid_rrf" -> "5-row query batch broadcast onto the corpus (dense ranking stage)",
    "q176_hard_negative_mining" -> "5-row query batch broadcast onto the corpus under the label-mismatch predicate",
    "q178_ivfadc" -> "Lloyd assignment (k-row centroid broadcasts) + 5-query probe cross join (nprobe·k rows)",
    "q179_retrieval_metrics" -> "q166's shapes: Lloyd assignment + 5-row query batch × corpus exact baseline",
    "q180_ann_index_refresh" -> "cross joins of the single-row split bound + k=10 frozen-centroid assignment",
    "q190_nb_quality_classifier" -> "cross join of the single-row class-prior aggregate onto the scored docs",
    "q191_dsir_importance" -> "cross join of the single-row target/raw hashed-bucket totals onto the bucket weight table",
    "q200_token_budget_plan" -> "cross join of the single-row weight/token total onto the source dim (q171 family)",
    "q210_curriculum_phases" -> "q173's vocabulary-size single-row cross join + the single-row n_total bound",
    "q212_zipf_audit" -> "cross join of the single-row regression-sums aggregate onto the single-row vocab stats")

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name plans no unexpected nested-loop or cartesian join") {
      val plan = fn(spark, TestSpark.Sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$plan")
      if (!allowedNestedLoop.contains(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin with no documented bound:\n$plan")
    }
  }
}
