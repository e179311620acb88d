package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit main: prints the formatted explain for representative queries
  * so shuffle shape, pushed filters, read schemas, and broadcast choices can
  * be reviewed (and re-reviewed after changes). A typed operator's JVM
  * lambda (`ApplyEngine$$$Lambda$2343/0x…@58e2af93`) prints as
  * `$Lambda$<fn>`: its number and identity hash move with class-loading
  * order, so two builds' dumps differ only where a plan did. Usage:
  *   runMain graft.Plans [sfDir] [query ...]
  */
object Plans {

  /** `explain` text with every JVM lambda identity masked. */
  private def stable(plan: String): String =
    plan.replaceAll("\\$Lambda\\$[0-9]+/0x[0-9a-f]+@[0-9a-f]+", "\\$Lambda\\$<fn>")

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
    val names = if (args.length > 1 && args(1) == "all")
      SparkEntry.queries.keys.toSeq.sorted
    else if (args.length > 1) args.drop(1).toSeq
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
      println(stable(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)))
    }
    spark.stop()
  }
}
