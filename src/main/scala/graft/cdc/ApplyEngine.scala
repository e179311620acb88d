package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.Streams

/** Destination-side apply: fold an ordered change feed into final table state.
  *
  * Reference semantics (`src/domain/storage.ts:137-164`,
  * `harness/verifier/index.js:59-76`): delete removes the key; insert/update
  * shallow-merge the *partial* `after` payload over the current row
  * (`next = {...current, ...after}`). Because payloads are partial,
  * last-row-wins per key is wrong — a true ordered fold is required.
  *
  * Implementation: one keyed group per (tbl, pk) — a hash exchange on the
  * key and a sort by lsn within it — folded through
  * [[graft.streaming.Streams.applyStep]], the step the streaming apply
  * ([[graft.streaming.StreamsV2.applyStream]]) runs too. This is the shape
  * that survives 100 TB: one shuffle on the key, no global sort, no
  * per-group buffering (state is a single row image), no driver-side state.
  */
object ApplyEngine {

  /** One source op, pre-projected for the fold. */
  case class OpIn(
      tbl: String, pk: String, lsn: Long, t: Long, op: String,
      setsVal: Boolean, valV: Option[Double], setsK: Boolean, kV: Option[Long])

  /** Final materialized destination row. */
  case class RowOut(
      tbl: String, pk: String, valV: Option[Double], kV: Option[Long],
      version: Long, updatedAt: Long)

  /** Fold the canonical op stream (from `CdcOps.ops`) into final state.
    *
    * `version` counts ops applied in the row's current lifetime (since the
    * last delete) — the version counter the destination row would carry
    * (`sim/core/types.ts:1-8`); a trailing delete removes the row.
    * `updated_at` is the last op's `t`.
    */
  def applyState(ops: DataFrame): DataFrame = {
    val spark = ops.sparkSession
    import spark.implicits._
    val typed: Dataset[OpIn] = ops.select(
      col("tbl"), col("pk"), col("lsn"), col("t"), col("op"),
      col("sets_val").as("setsVal"), col("val").as("valV"),
      col("sets_k").as("setsK"), col("k").as("kV")).as[OpIn]

    val folded = typed.groupBy(col("tbl"), col("pk")).as[(String, String), OpIn]
      .flatMapSortedGroups(col("lsn")) { case ((tbl, pk), keyOps) =>
        var row = Streams.tombstone(tbl, pk)
        var updatedAt = 0L
        keyOps.foreach { op =>
          row = Streams.applyStep(
            row, op.op == "delete", op.setsVal, op.valV, op.setsK, op.kV, op.lsn)
          updatedAt = op.t
        }
        if (row.deleted) None
        else Some(RowOut(tbl, pk, row.valV, row.kV, row.version, updatedAt))
      }

    folded.toDF()
      .select(
        col("tbl"), col("pk"),
        col("valV").as("val"), col("kV").as("k"),
        col("version"), col("updatedAt").as("updated_at"))
  }

  /** Generic JSON-payload state reduce — the verifier's `reduceState`
    * (`harness/verifier/index.js:59-76`) over arbitrary fixture schemas:
    * delete removes the key; insert/update shallow-merge the *sanitized*
    * partial payload (null-valued fields are dropped by `sanitizeRow`, so an
    * explicit null never clears a field); an update with a payload creates
    * the row if absent; an empty `{}` payload still creates an empty row.
    *
    * Relational form (one shuffle on the key + one on (key, field)):
    * drop everything at or before the key's last delete, explode the
    * surviving payload fields, keep the last non-null value per field, and
    * reassemble a canonical (name-sorted) JSON row image.
    *
    * Input columns: (tbl, pk, op, after_json) + `ordCol`. Output:
    * (tbl, pk, row_json).
    *
    * `dropColumns` is the consumer-side schema-drift projection
    * (`applyRowChange`, `src/changefeed/model.ts:110-120`: with
    * `projectSchemaDrift` off the drifted column is deleted from every
    * merged row) — fields in the list never reach destination rows.
    */
  def applyJsonState(
      ops: DataFrame,
      ordCol: String = "ord",
      dropColumns: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy("tbl", "pk")
    val live = ops
      .withColumn("_last_del", max(when(col("op") === "delete", col(ordCol))).over(byKey))
      .filter(col("op") =!= "delete" &&
        (col("_last_del").isNull || col(ordCol) > col("_last_del")) &&
        col("after_json").isNotNull)
    // explode_outer keeps `{}` payloads as a (null field) marker row, so
    // keys whose only live payloads are empty still materialize as `{}`.
    // Fields and values come from ONE native-expression parse per payload
    // (graft.functions.JsonEntries — the fused json_object_keys +
    // get_json_object pair, 1 parse instead of 1+K): nested-object values —
    // the reference's implicit schema-evolution fixtures carry them —
    // survive as their raw JSON text instead of parsing to null and being
    // dropped.
    val fields = live
      .select(col("tbl"), col("pk"), col(ordCol).as("_ord"),
        explode_outer(graft.functions.GraftFunctions.jsonEntries(col("after_json")))
          .as("entry"))
      .select(col("tbl"), col("pk"), col("_ord"),
        col("entry.field").as("field"), col("entry.value").as("value"))
      .filter(col("field").isNull || col("value").isNotNull) // sanitizeRow
      // drift projection: demote dropped fields to empty-payload markers
      // (not filtered rows) so a key whose only field was the drifted
      // column still materializes as `{}` — the reference deletes the
      // field, never the row
      .withColumn("field",
        if (dropColumns.isEmpty) col("field")
        else when(col("field").isin(dropColumns: _*), lit(null)).otherwise(col("field")))
      .withColumn("value", when(col("field").isNull, lit(null)).otherwise(col("value")))
    // last write per field: argmax by _ord (unique per row) as a hash
    // aggregation — no per-(key, field) sort stage
    val lastPerField = fields
      .groupBy("tbl", "pk", "field")
      .agg(max_by(col("value"), col("_ord")).as("value"))
    lastPerField
      .groupBy("tbl", "pk")
      .agg(to_json(map_from_entries(array_sort(collect_list(
        when(col("field").isNotNull, struct(col("field"), col("value")))))))
        .as("row_json"))
  }

  /** Replay an *event* feed (capture output) into destination state — the
    * `replayEventsToTables` analogue (`src/domain/storage.ts:245-259`): same
    * fold, but over c/u/d event codes with full-row images, keyed by
    * (tbl, pk), ordered by an explicit sequence column. Last state wins per
    * field because capture events carry full images.
    */
  def replayEvents(
      events: DataFrame,
      seqCol: String,
      afterValCol: String = "after_val",
      afterKCol: String = "after_k",
      opCol: String = "op_code"): DataFrame =
    // last event per key as an argmax AGGREGATION (`max_by` over the seq
    // column — unique per key, so the winner is exact), not a sort-window
    // rank-1: a partial-aggregating single shuffle with no per-key sort,
    // and the payload rides through the agg buffer so no rejoin is needed.
    events
      .groupBy("tbl", "pk")
      .agg(max_by(
        struct(col(opCol).as("op"), col(afterValCol).as("v"),
          col(afterKCol).as("kk")), col(seqCol)).as("last"))
      .filter(col("last.op") =!= "d")
      .select(col("tbl"), col("pk"),
        col("last.v").as("val"), col("last.kk").as("k"))

  /** Slowly-changing-dimension TYPE 2 build — turn the change feed into a
    * versioned dimension history: one row per non-delete op carrying the
    * MERGED row image at that version (`CdcOps.withState`'s `cur_*`), the
    * validity interval `[valid_from, valid_to)` (logical ms), and the
    * `is_current` flag. A delete closes the previous version's interval
    * without opening a row, so deleted keys have no current version — the
    * standard warehouse-dimension treatment of the reference's apply
    * semantics (`src/domain/storage.ts:137-164`: merge-upsert + remove).
    *
    * Input is the enriched op-state (`CdcOps.withState`), whose windows
    * are all partitioned (tbl, pk) ordered by lsn — the ONE extra
    * `lead(t)` here shares that exact partitioning and ordering, so the
    * Window operators chain over a single keyed exchange + per-key sort
    * (distinct frame specs keep them separate operators, but nothing
    * re-shuffles or re-sorts): the whole history build still costs one
    * shuffle, the minimum any versioned fold needs. */
  def scd2(st: DataFrame): DataFrame = {
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy("tbl", "pk").orderBy("lsn")
    st
      .withColumn("valid_to", lead(col("t"), 1).over(byKey))
      .filter(col("op") =!= "delete")
      .select(col("tbl"), col("pk"), col("ver"),
        col("t").as("valid_from"), col("valid_to"),
        col("cur_val").as("val"), col("cur_k").as("k"),
        col("valid_to").isNull.as("is_current"))
  }
}
