package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit main: prints the formatted explain for representative queries
  * so shuffle shape, pushed filters, read schemas, and broadcast choices can
  * be reviewed (and re-reviewed after changes). What moves between two
  * runs of the same code is masked: a typed operator's JVM lambda
  * (`ApplyEngine$$$Lambda$2343/0x…@58e2af93`) prints as `$Lambda$<fn>`,
  * an object's identity hash (`KMinValues@28e64ca0`) as `@<obj>`, a temp
  * index directory (`graft_idx_5060934859848480232__delta_…`) as
  * `graft_idx_<tmp>` and a run-tagged table or path
  * (`graft_bq_lineitem_local_1760…_…`) as `_local_<run>_…`. Expression
  * ids (`#123`) and `plan_id`s are left as they are. Usage:
  *   runMain graft.Plans [sfDir] [--executed] [query ...]
  * `--executed` runs each query and prints its final adaptive plan, where
  * a subtree the planner shares shows as `ReusedExchange`.
  */
object Plans {

  /** `explain` text with the per-run identities masked. */
  private def stable(plan: String): String =
    plan.replaceAll("\\$Lambda\\$[0-9]+/0x[0-9a-f]+@[0-9a-f]+", "\\$Lambda\\$<fn>")
      .replaceAll("(?<=[A-Za-z0-9_$])@[0-9a-f]{1,8}\\b", "@<obj>")
      .replaceAll("graft_idx_\\w+", "graft_idx_<tmp>")
      .replaceAll("_local_[0-9]+", "_local_<run>")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // `all` = EVERY query (the SCALE.md shuffle-inventory set). The
    // Clusters.assign consumers (dedup_clusters, mm_phash_clusters and
    // their capped/persisted forms, dedup_clusters_persisted) compute
    // their star edges while the DataFrame is CONSTRUCTED: the edge dedup
    // shuffle, then one per-round test action (a structural check that
    // also counts the edges), and either more star-contraction rounds or,
    // once the edge count is within Clusters.FinishEdges, a union-find
    // finish in one task behind a lazy checkpoint. Every current surface
    // graph is under the bound, so none runs a round. What this main then
    // explains is the one
    // post-contraction final tree — the interpretation the inventory
    // documents uniformly, instead of excluding an inconsistent subset
    // (round-12 ADVICE). Per-round plans are dedup_clusters' budgeted
    // cost, audited by the SCALE.md contraction-exponent rows, not here.
    val executed = args.length > 1 && args(1) == "--executed"
    val given = args.drop(if (executed) 2 else 1).toSeq
    val names = if (given == Seq("all"))
      SparkEntry.queries.keys.toSeq.sorted
    else if (given.nonEmpty) given
      else Seq("cdc_apply_state", "cdc_difflane", "q1_lineitem_agg",
        "q_region_revenue", "dedup_jaccard", "ann_cosine_topk",
        "cdc_evaluate", "cdc_txn_apply", "cdc_commit_floor", "ann_ivf_topk",
        // the bench's heaviest composites + the round-5 join operators
        "cdc_debezium_e2e", "cdc_snapshot_tail", "q_events_asof",
        "q_events_window_pairs", "q_events_salted_join")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (executed) df.collect()
      println(stable(df.queryExecution.explainString(FormattedMode)))
    }
    spark.stop()
  }
}
