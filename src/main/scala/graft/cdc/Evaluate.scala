package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The harness verifier's `evaluate()` report
  * (`harness/verifier/index.js:169-205`): compose lane diff, delete-capture
  * accounting, ordering check, and state diff into one metrics report;
  * `pass = complete && orderingOk`.
  */
object Evaluate {

  /** Evaluate a capture lane against the source op stream. Returns
    * (metric, value) rows: produced, matched/missing/extra, deletes
    * expected/captured, ordering issues, state mismatches, pass (0/1).
    *
    * `ops` is the source op stream (delete accounting); `state` the
    * `CdcOps.withState` enrichment of the same stream (expected lane keys
    * AND — via its `cur_*` merged images — the expected final state);
    * `actual` needs (tbl, op_code, pk, time, ord); `stateActual` the
    * lane's replayed destination state.
    *
    * Single-job report: every counter is a 1-row aggregate; they combine via
    * broadcast cross-joins into one row, `pass` is derived as an expression,
    * and `stack` unpivots to (metric, value) — so the whole report is ONE
    * Spark action regardless of how many metrics it carries. `actual`
    * feeds three aggregate subtrees and `ops` the delete count; both are
    * read as given, cached or not — a caller whose lane is an expensive
    * lineage scaffolds it ([[graft.operators.CacheLifecycle.scaffold]]),
    * as `cdc_evaluate` does with its poll lane.
    */
  def lane(
      ops: DataFrame,
      state: DataFrame,
      actual: DataFrame,
      stateActual: DataFrame): DataFrame = {
    // Pair accounting in CLOSED FORM: `Diff.lanePairs` matches the k-th
    // expected event of a (tbl, opc, pk) group to the k-th actual, so the
    // per-group tallies determine the statuses exactly — matched =
    // min(e, a), missing = e − matched, extra = a − matched. The report
    // only reads the tallies, so the two per-row ordinal windows and the
    // row-level full-outer join collapse into two partial-aggregating
    // count shuffles and a group-level join (per-pair `lag_ms` consumers —
    // cdc_difflane, cdc_lag_topk — still use lanePairs itself).
    val eCnt = state.groupBy(
      col("tbl"), CdcOps.opCode(col("op")).as("opc"), col("pk"))
      .agg(count(lit(1)).as("n_e"))
    val aCnt = actual.groupBy(
      col("tbl"), col("op_code").as("opc"), col("pk"))
      .agg(count(lit(1)).as("n_a"))
    val pairCounts = eCnt.join(aCnt, Seq("tbl", "opc", "pk"), "full_outer")
      .select(coalesce(col("n_e"), lit(0L)).as("n_e"),
        coalesce(col("n_a"), lit(0L)).as("n_a"))
      .agg(
        sum(least(col("n_e"), col("n_a"))).cast("long").as("matched"),
        sum(greatest(col("n_e") - col("n_a"), lit(0L))).cast("long").as("missing"),
        sum(greatest(col("n_a") - col("n_e"), lit(0L))).cast("long").as("extra"))
    // expected final state = last enriched row per key (the `state` input
    // already carries the merged images `cur_val`/`cur_k`) — equivalent to
    // `ApplyEngine.applyState(ops)` without re-running the merge fold.
    // Argmax by lsn as a hash aggregation (`max_by` over the needed
    // columns), not a sort-window rank-1: partial aggregation, no per-key
    // sort stage.
    val truth = state
      .groupBy("tbl", "pk")
      .agg(max_by(
        struct(col("op"), col("cur_val"), col("cur_k")), col("lsn")).as("last"))
      .filter(col("last.op") =!= "delete")
      .select(col("tbl"), col("pk"),
        col("last.cur_val").as("val"), col("last.cur_k").as("k"))
    val stateDiff = Diff.diffStates(truth, stateActual, Seq("val", "k"))
      .agg(count(when(col("status") =!= "match", 1)).as("state_mismatches"))
    val deletes = ops.agg(
      count(when(col("op") === "delete", 1)).as("deletes_expected"))
    val capturedDeletes = actual.agg(
      count(when(col("op_code") === "d", 1)).as("captured_deletes"))
    // Per-table running-max scan, matching the harness verifier's per-table
    // ordering bookkeeping (`harness/verifier/diff.js:153-179`). Partitioning
    // by tbl keeps the window distributed — no single-partition WindowExec on
    // the capture lane (each table's scan runs in its own task).
    // Intentionally STRICTER than the reference on faulty lanes: diff.js
    // resets its baseline whenever the table changes in the interleaved
    // delivery sequence, so it only flags inversions between *consecutive*
    // same-table events; the running max here flags an inversion against any
    // earlier event of the table. Conforming lanes score 0 under both, and
    // the oracle encodes the same running-max rule, so the gate agrees —
    // the stricter form just never under-reports a real ordering violation.
    val ordering = Diff.orderingInversions(
      actual, Seq("tbl"), Seq(col("time"), col("ord")), "ord")
      .agg(count(when(col("inverted"), 1)).as("inversions"))

    pairCounts
      .crossJoin(stateDiff)
      .crossJoin(deletes)
      .crossJoin(capturedDeletes)
      .crossJoin(ordering)
      .withColumn("pass",
        when(col("missing") === 0 && col("inversions") === 0 &&
          col("state_mismatches") === 0, 1L).otherwise(0L))
      .selectExpr(
        """stack(8,
          |  'matched', matched,
          |  'missing', missing,
          |  'extra', extra,
          |  'deletes_expected', deletes_expected,
          |  'deletes_captured', captured_deletes,
          |  'ordering_issues', inversions,
          |  'state_mismatches', state_mismatches,
          |  'pass', pass) AS (metric, value)""".stripMargin)
  }
}
