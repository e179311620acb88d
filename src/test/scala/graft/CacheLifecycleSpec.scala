package graft

/** The cache-hygiene contract: a query leaves no `CacheManager` entry
  * behind once its action returns. An operator shares a frame between the
  * branches of its result either through the planner's exchange reuse or
  * through a checkpoint ([[graft.operators.CacheLifecycle.scaffold]]),
  * whose blocks never enter the `CacheManager`; nothing releases a cache
  * asynchronously, so the count is read right after the action, without
  * polling. */
class CacheLifecycleSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Every query whose builder shares a frame between the branches of its
    * result (the queries that once persisted one): each family, the
    * IVF/PQ index builders and the GlobalOrder prefix scans included. */
  private val sharing = Seq(
    "ann_ivf_balance", "ann_ivf_recall", "ann_ivf_topk", "ann_ivfpq_topk",
    "ann_ivfsq_topk", "ann_matryoshka", "ann_pq_recall",
    "ann_pq_recall_curve", "ann_pq_rerank", "ann_pq_topk", "ann_probe_curve",
    "bpe_merge_apply", "cdc_commit_floor", "cdc_debezium_e2e",
    "cdc_evaluate", "cdc_evaluate_log", "cdc_incremental_snapshot",
    "cdc_snapshot_tail", "cdc_txn_apply", "corpus_budget_by_source",
    "corpus_drift", "corpus_funnel_order", "corpus_token_budget",
    "events_attribution", "events_cohort_ltv", "events_dau", "events_funnel",
    "events_funnel_cohorted", "events_funnel_windowed", "events_gini",
    "events_growth_accounting", "events_new_vs_returning", "events_pagerank",
    "events_transitions", "events_user_octaves", "events_weekday_profile",
    "export_shard_stats", "mix_temperature", "mm_aspect_buckets",
    "mm_modality_mix", "pack_efficiency", "pack_efficiency_curve",
    "pack_plan", "q_cold_customers", "q_top_supplier",
    "quality_source_matrix", "split_contamination_matrix",
    "split_kfold_clustered", "split_leakage_guard", "vocab_coverage",
    "vocab_zipf")

  for (name <- sharing)
    test(s"$name leaves no CacheManager entry after its action") {
      spark.catalog.clearCache()
      SparkEntry.queries(name)(spark, sf).write.mode("overwrite").format("noop").save()
      val left = org.apache.spark.sql.CacheEntries(spark)
      assert(left === 0, s"$name left $left CacheManager entries")
    }
}
