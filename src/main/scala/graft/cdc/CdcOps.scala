package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Canonical CDC source-op stream derived deterministically from the driver's
  * `events` table, mirroring the reference's `SourceOp` model
  * (`src/domain/types.ts:88-111`: discriminated insert|update|delete with
  * logical-ms time `t`, table, pk, and a *partial* `after` payload).
  *
  * Mapping (fixed, shared with the DuckDB oracle SQL):
  *   - `t`   = epoch-ms of the event timestamp (logical clock).
  *   - `lsn` = `t * 1_000_000 + event_id` — a monotone, globally unique,
  *     *distribution-friendly* log sequence number (no global row_number —
  *     computable without a global sort, which matters at 100 TB; the
  *     reference only requires monotonicity, `sim/core/types.ts:70-82`).
  *   - `tbl` = `t<user_id % 3>` — a 3-table multiplex so multi-table
  *     semantics (per-table diff, state union) are exercised.
  *   - `pk`  = `user_id` as string.
  *   - op kind: signup→insert, error→delete, click/view/purchase→update.
  *   - Partial payloads: `val` is set by signup/click/purchase, `k` by
  *     signup/view/purchase — so updates are *partial* and last-row-wins is
  *     semantically wrong, exactly like the reference's merge-apply
  *     (`src/domain/storage.ts:159-163`).
  *
  * Data contracts (checked by [[contractViolations]], asserted in CdcOpsSpec):
  *   - `lsn` is monotone in `t` only if `event_id` is assigned in ts order
  *     (true for the driver's generator). An out-of-order or reused
  *     `event_id` would silently reorder the per-key fold.
  *   - `lsn` is unique within (tbl, pk): a replayed op (a redelivery with
  *     the same `t` and `event_id`) would be folded twice, and
  *     `Capture`'s primitive-max rewrite assumes a key's max lsn is one row.
  *   - `sets_val ⇒ val IS NOT NULL` and `sets_k ⇒ k IS NOT NULL` (i.e.
  *     `events.value` is never null and `props` always contains digits).
  *     [[withState]]'s sentinel scan skips null set-values
  *     (`last(..., ignoreNulls)`), whereas `ApplyEngine.applyState` would
  *     overwrite with null — the contract keeps the two (and the DuckDB
  *     oracle's `IGNORE NULLS`) equivalent.
  */
object CdcOps {

  val SetsVal: Seq[String] = Seq("signup", "click", "purchase")
  val SetsK: Seq[String] = Seq("signup", "view", "purchase")

  /** The canonical `Dataset` of source ops. */
  def ops(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val tMs = expr("ts div 1000000")
    e.select(
      tMs.as("t"),
      (tMs * lit(1000000L) + col("event_id")).as("lsn"),
      col("event_id"),
      concat(lit("t"), (col("user_id") % 3).cast("string")).as("tbl"),
      col("user_id").cast("string").as("pk"),
      when(col("event_type") === "signup", lit("insert"))
        .when(col("event_type") === "error", lit("delete"))
        .otherwise(lit("update")).as("op"),
      col("event_type").isin(SetsVal: _*).as("sets_val"),
      col("event_type").isin(SetsK: _*).as("sets_k"),
      when(col("event_type").isin(SetsVal: _*), col("value")).as("val"),
      when(col("event_type").isin(SetsK: _*),
        regexp_extract(col("props"), "([0-9]+)", 1).cast("long")).as("k"))
  }

  /** Enrich ops with per-key row state: the previous and current merged row
    * image around each op, with delete resetting state ("epochs").
    *
    * This is the declarative (window-function) form of the reference's
    * before/after derivation (`sim/engines/LogEngine.ts:27-116` keeps a live
    * `Map<pk,Row>`; we reconstruct the same images relationally):
    *
    *   - delete "epochs" (row lifetimes): a delete clears state, so
    *     pre-delete values must not leak into the next lifetime — handled
    *     by the RESET-sentinel scan below without extra partitioning.
    *   - `prev_val`/`prev_k` — the merged row image *before* this op (null
    *     for the first op of a lifetime).
    *   - `cur_val`/`cur_k` — the merged image *after* this op (null for
    *     deletes).
    *   - `ver` — ops seen on this key so far (the reference's row version
    *     counter, `sim/core/types.ts:1-8`).
    *   - `ver_epoch` — ops applied in the current lifetime (version of the
    *     materialized destination row).
    *
    * Scale note: every window here shares ONE partitioning — (tbl, pk)
    * ordered by lsn — so the whole enrichment costs exactly one shuffle and
    * one sort, which Catalyst fuses into a single Window stage. Delete
    * "epochs" (state resets) are handled without re-partitioning by a
    * sentinel trick: the last-set-value scan records deletes as RESET
    * markers, and a marker surfacing as the "last set value" reads as null
    * state. `ApplyEngine.applyState` is the equivalent single-pass
    * secondary-sort fold used where only final state is needed.
    */
  def withState(ops: DataFrame): DataFrame = {
    val byKey = Window.partitionBy("tbl", "pk").orderBy("lsn")
    val wPre = byKey.rowsBetween(Window.unboundedPreceding, -1)
    val reset = "\u0000RESET"
    // last(value-or-RESET) over preceding rows; a RESET on top ⇒ no value
    def lastSet(sets: Column, value: Column): Column = {
      val marked = when(col("op") === "delete", lit(reset))
        .when(sets, value.cast("string"))
      val lastMark = last(marked, ignoreNulls = true).over(wPre)
      when(lastMark.isNull || lastMark === reset, lit(null)).otherwise(lastMark)
    }
    val withPrev = ops
      .withColumn("rn", row_number().over(byKey))
      .withColumn("ver", col("rn").cast("long")) // row version counter ≡ rn
      .withColumn("last_del_rn",
        last(when(col("op") === "delete", col("rn")), ignoreNulls = true).over(wPre))
      .withColumn("prev_val", lastSet(col("sets_val"), col("val")).cast("double"))
      .withColumn("prev_k", lastSet(col("sets_k"), col("k")).cast("long"))
    withPrev
      .withColumn("ver_epoch", col("rn") - coalesce(col("last_del_rn"), lit(0L)))
      .withColumn("cur_val",
        when(col("op") === "delete", lit(null).cast("double"))
          .when(col("sets_val"), col("val"))
          .otherwise(col("prev_val")))
      .withColumn("cur_k",
        when(col("op") === "delete", lit(null).cast("long"))
          .when(col("sets_k"), col("k"))
          .otherwise(col("prev_k")))
      .drop("rn", "last_del_rn")
  }

  /** Open-schema twin of [[ops]]: the same op stream with its partial
    * payload rendered as a JSON document (`after_json`, null for deletes) —
    * the shape real fixture schemas arrive in
    * (`harness/verifier/index.js:59-76`) and the input contract of
    * `ApplyEngine.applyJsonState` and the Debezium envelope encoder.
    *
    * Every JSON value is a STRING and the numeric payload is quantized to
    * an integer (`floor(val·1000)`), so the DuckDB oracle can reassemble
    * the merged row images by plain string concatenation — no JSON
    * printer differences can leak into the hash compare. Field names sort
    * `id < k < ts < v`, matching `applyJsonState`'s name-sorted output. */
  def jsonOps(ops: DataFrame): DataFrame =
    ops.select(
      col("tbl"), col("pk"), col("op"), col("t"), col("lsn"), col("event_id"),
      when(col("op") =!= "delete", to_json(struct(
        col("pk").as("id"),
        when(col("sets_k"), col("k").cast("string")).as("k"),
        col("t").cast("string").as("ts"),
        when(col("sets_val"), floor(col("val") * 1000).cast("string")).as("v"))))
        .as("after_json"))

  /** One-row diagnostic for the data contracts above: count of set-ops with
    * a null payload (would diverge sentinel-scan vs merge-fold semantics),
    * of ops where lsn order inverts (t, event_id) order (would silently
    * reorder the per-key fold), and of ops whose lsn repeats the previous
    * op's within the key (`dup_lsns`). All must be 0 on conforming input.
    * Cheap — one per-key window pass + a global agg, intended for
    * ingestion-time assertion. The first two columns keep their positions.
    *
    * The window orders each key by (event_id, t), so the inversion count is
    * deterministic when an event_id repeats. With no inversions, two ops of
    * a key with one lsn have equal (t, event_id) (`t·10⁶ + event_id` is
    * injective while `event_id < 10⁶`), so they are adjacent in that order
    * and the adjacent comparison counts every duplicate. */
  def contractViolations(ops: DataFrame): DataFrame = {
    val w = Window.partitionBy("tbl", "pk").orderBy("event_id", "t")
    ops
      .withColumn("prev_t", lag(col("t"), 1).over(w))
      .withColumn("prev_lsn", lag(col("lsn"), 1).over(w))
      .agg(
        count(when((col("sets_val") && col("val").isNull) ||
          (col("sets_k") && col("k").isNull), 1)).as("null_set_payloads"),
        count(when(col("prev_t") > col("t"), 1)).as("lsn_t_inversions"),
        count(when(col("prev_lsn") === col("lsn"), 1)).as("dup_lsns"))
  }

  /** Map the canonical op kind to the Debezium-style single-letter op code
    * (`sim/core/types.ts:42-54`: c/u/d; r is reserved for snapshot reads). */
  def opCode(op: Column): Column =
    when(op === "insert", lit("c"))
      .when(op === "delete", lit("d"))
      .otherwise(lit("u"))
}
