package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transaction assembly + apply-on-commit (`src/changefeed/model.ts:169-244`):
  * events buffer per `txId` until the transaction is complete
  * (`events.length >= total`); complete txns apply atomically in
  * `(commitTs, lsn)` order once the commit floor (low watermark over
  * in-flight commit timestamps) passes them.
  *
  * Batch-replay form: with the full feed known, every txn is complete and the
  * commit floor degenerates to the global order, so the result is the
  * deterministic ordered apply log. The streaming form (incremental buffering
  * + watermark floor) is `graft.streaming.StreamsV2.applyOnCommitStream`.
  */
object Txn {

  /** Group ops into transactions of `size` consecutive events (by event id),
    * with commit ts = max op time + `commitDelayMs` (the reference stamps
    * commitTs = clock + 100, `model.ts:278`). Returns one row per txn with
    * assembly metadata and the global apply order.
    */
  def assemble(ops: DataFrame, size: Int = 3, commitDelayMs: Long = 100L): DataFrame = {
    val grouped = ops
      .withColumn("tx_num", expr(s"event_id div $size"))
      .groupBy("tx_num")
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("t")) + commitDelayMs).as("commit_ts"),
        min(col("lsn")).as("first_lsn"),
        countDistinct(col("tbl")).as("n_tables"))
    // Ordered apply log: (commitTs, first lsn) — `model.ts:215-227`. The
    // apply log is inherently a total order, but the *position* is computed
    // scalably: range-partition + local rank + prefix offsets
    // (`GlobalOrder.rank`) — no single-partition window anywhere in the plan.
    GlobalOrder.rank(grouped, Seq(col("commit_ts"), col("first_lsn")), "apply_order")
      .withColumn("tx_id", concat(lit("tx-"), col("tx_num").cast("string")))
      .select("tx_id", "tx_num", "n_events", "n_tables", "commit_ts", "first_lsn", "apply_order")
  }

  /** Apply-on-commit with the commit-floor barrier
    * (`src/changefeed/model.ts:169-244`): a completed transaction applies
    * only once the commit floor — the min commitTs over everything still
    * in flight — has passed it, and txns apply in `(commitTs, lsn)` order.
    *
    * Batch closed form: with per-txn delivery-completion time `ready_at`
    * (max broker delivery time of its events, possibly drift-reordered), a
    * txn's `applied_at` is the running max of `ready_at` over commit order —
    * it can never apply before a commit-earlier txn is complete, which is
    * exactly what the floor enforces. Atomicity under drift falls out: a
    * drifted event delays its whole txn and every commit-later txn.
    *
    * Input: one row per txn with (tx_id, commit_ts, first_lsn, ready_at).
    */
  def applyOnCommit(txns: DataFrame): DataFrame =
    // position AND running-max floor computed distributively: per-partition
    // scan + tiny cross-partition prefix combine (`GlobalOrder.rank`)
    GlobalOrder.rank(
      txns, Seq(col("commit_ts"), col("first_lsn")), "apply_order",
      runningMax = Some("ready_at" -> "applied_at"))
      .withColumn("held_ms", col("applied_at") - col("ready_at"))
}
