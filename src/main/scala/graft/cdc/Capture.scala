package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.CacheLifecycle

/** The three CDC capture methods as pure `ops → events` transformations in
  * deterministic batch-replay form (the streaming forms live in
  * `graft.streaming`). Semantics follow the reference sim engines; each
  * doc-comment cites the behavior being reproduced.
  */
object Capture {

  /** Emission tick: an op committed at `t` is emitted by the next interval
    * tick strictly after it — `(t div interval + 1) * interval`. Mirrors the
    * reference's `setInterval`-driven drains (`sim/engines/LogEngine.ts:102-103`).
    */
  private def tickAfter(t: Column, intervalMs: Long): Column =
    t - (t % intervalMs) + intervalMs // pure integer arithmetic — exact

  /** Log-based capture (`sim/engines/LogEngine.ts:4-132`): every op appends a
    * WAL record with monotone `lsn`, full before/after images, commit ts = op
    * time; the fetcher drains the WAL suffix every `fetchIntervalMs` (default
    * 100, `LogEngine.ts:10`). Lossless and ordered.
    *
    * Input must be `CdcOps.withState(ops)`.
    */
  def log(stateOps: DataFrame, fetchIntervalMs: Long = 100L): DataFrame = {
    val emitted = tickAfter(col("t"), fetchIntervalMs)
    stateOps.select(
      col("lsn"), col("tbl"), col("pk"),
      CdcOps.opCode(col("op")).as("op_code"),
      col("prev_val").as("before_val"), col("prev_k").as("before_k"),
      col("cur_val").as("after_val"), col("cur_k").as("after_k"),
      col("t").as("commit_ts"),
      emitted.as("emitted_ts"),
      (emitted - col("t")).as("lag_ms"),
      concat(lit("tx-"), col("lsn").cast("string")).as("tx_id"))
  }

  /** Trigger-based capture (`sim/engines/TriggerEngine.ts:4-153`): a
    * synchronous audit write per op adds `triggerOverheadMs` (default 5,
    * `TriggerEngine.ts:13`) to the commit; the extractor drains the audit log
    * every `extractIntervalMs` (default 500, `TriggerEngine.ts:11`). Captures
    * full before/after; costs one extra write per op (write amplification,
    * `src/modes/triggerBased.ts:217`).
    */
  def trigger(
      stateOps: DataFrame,
      triggerOverheadMs: Long = 5L,
      extractIntervalMs: Long = 500L): DataFrame = {
    val commit = col("t") + triggerOverheadMs
    val emitted = tickAfter(commit, extractIntervalMs)
    stateOps.select(
      col("lsn").as("audit_seq"), col("tbl"), col("pk"),
      CdcOps.opCode(col("op")).as("op_code"),
      col("prev_val").as("before_val"), col("prev_k").as("before_k"),
      col("cur_val").as("after_val"), col("cur_k").as("after_k"),
      commit.as("commit_ts"),
      emitted.as("emitted_ts"),
      (emitted - col("t")).as("lag_ms"))
  }

  /** Polling / query-based capture (`sim/engines/PollingEngine.ts:4-85`,
    * `src/modes/queryBased.ts:258-310`): each poll tick sees only the *latest*
    * state per key — intermediate versions inside a poll window are lost by
    * design, and with `includeSoftDeletes = false` deletes are invisible
    * (suppressed and counted, `queryBased.ts:286-288`). Emitted op kind is
    * derived from the row version counter: deleted→d, version>1→u, else c
    * (`PollingEngine.ts:59-84`).
    *
    * Output: one event per (key, poll window) whose state changed in the
    * window. `before` is always null for polling (the query can't see it).
    */
  def poll(
      stateOps: DataFrame,
      pollIntervalMs: Long = 1000L,
      includeSoftDeletes: Boolean = true): DataFrame = {
    val windowed = stateOps.withColumn("poll_window", expr(s"t div $pollIntervalMs"))
    // Latest op per (tbl, pk, poll_window) — everything earlier in the window
    // is invisible to the poller.
    val w = Window.partitionBy("tbl", "pk", "poll_window").orderBy(col("lsn").desc)
    val latest = windowed
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
    val emissions = latest.select(
      col("tbl"), col("pk"), col("poll_window"),
      when(col("op") === "delete", lit("d"))
        .when(col("ver") > 1, lit("u"))
        .otherwise(lit("c")).as("op_code"),
      col("cur_val").as("after_val"), col("cur_k").as("after_k"),
      col("ver").as("version"),
      ((col("poll_window") + 1) * pollIntervalMs).as("poll_ts"),
      col("t").as("src_t"), col("lsn").as("src_lsn"))
    if (includeSoftDeletes) emissions else emissions.filter(col("op_code") =!= "d")
  }

  /** Polling loss accounting, per table:
    *   - `missed_deletes`: (key, window) groups whose latest op is a delete —
    *     with soft deletes invisible these emissions are suppressed and
    *     counted (`src/modes/queryBased.ts:286-288`).
    *   - `lost_intermediates`: ops overwritten inside their poll window
    *     (never observable by any poll, `PollingEngine` design).
    */
  def pollLoss(stateOps: DataFrame, pollIntervalMs: Long = 1000L): DataFrame = {
    val windowed = stateOps.withColumn("poll_window", expr(s"t div $pollIntervalMs"))
    val w = Window.partitionBy("tbl", "pk", "poll_window").orderBy(col("lsn").desc)
    windowed
      .withColumn("rn", row_number().over(w))
      .groupBy("tbl")
      .agg(
        count(when(col("rn") === 1 && col("op") === "delete", 1)).as("missed_deletes"),
        count(when(col("rn") > 1, 1)).as("lost_intermediates"))
  }

  /** Snapshot phase (`src/modes/queryBased.ts:156-194`, `logBased.ts:147-187`):
    * emit one read/insert event per seed row with a snapshot txn id, before
    * tailing begins. `seed` is any seed table; `pkCol` its primary key.
    */
  def snapshot(seed: DataFrame, tableName: String, pkCol: String, payloadCols: Seq[String]): DataFrame = {
    val payloadHash = md5(concat_ws("|", payloadCols.map(col): _*))
    seed.select(
      lit("r").as("op"),
      lit(tableName).as("tbl"),
      col(pkCol).cast("string").as("pk"),
      payloadHash.as("payload_hash"),
      lit("snapshot-0").as("tx_id"))
  }

  /** Multi-table form of [[snapshot]] over a state frame keyed (tbl, pk):
    * one read event per live row, table taken from the seed's own `tbl`
    * column, payload columns riding along so the snapshot can be replayed
    * downstream (the reference seeds `after` with the full stored row,
    * `logBased.ts:167-180`). */
  def snapshotAll(seed: DataFrame, payloadCols: Seq[String]): DataFrame =
    seed.select(
      (Seq(
        lit("r").as("op_code"), col("tbl"), col("pk"),
        md5(concat_ws("|", payloadCols.map(col): _*)).as("payload_hash"),
        lit("snapshot-0").as("tx_id")) ++ payloadCols.map(col)): _*)

  /** Incremental (chunked) snapshot ledger — the DBLog / Debezium
    * incremental-snapshot algorithm (Andreakis & Papapanagiotou 2020;
    * Debezium's read/ad-hoc snapshots) in deterministic batch-replay
    * form, where the monolithic [[snapshotAll]]+tail composition
    * (`cdc_snapshot_tail`) is the reference's blocking snapshot
    * (`logBased.ts:147-187`): instead of one table read that must finish
    * before tailing starts, the key space is cut into fixed-size chunks
    * read one per watermark interval WHILE the log streams, and a chunk
    * row is DISCARDED when the log already emitted an event for its key
    * inside the snapshot window — the log wins, so the union of emitted
    * chunk rows and tail events is exactly-once without pausing capture.
    *
    * Deterministic reconstruction: snapshot starts at `cut` (the
    * mid-timeline instant the tail composition also uses); in-scope keys
    * are those live at `cut`; chunks are `chunkSize` keys in (tbl, pk)
    * order; chunk c's high watermark is `cut + (c+1)·step` with `step`
    * spreading the chunks over the remaining timeline (integer
    * arithmetic, so every value oracles exactly). A key is superseded
    * when any log event for it lands in `(cut, hw(chunk)]`. Per chunk the
    * ledger reports key/emitted/superseded counts, the watermark, and
    * integer-exact payload sums over the emitted rows (`k` and the
    * 10^-3-quantized `val`) — the content signature a resumable snapshot
    * checkpoint would persist.
    *
    * Scale shape: key ranking is [[GlobalOrder.rank]] (range-partitioned,
    * no single-partition window); the supersede probe is one keyed
    * equality join against the tail slice; params ride 1-row broadcasts.
    * At 100 TB this is exactly the production shape: chunk bounds from a
    * range-partitioned key scan, the dedup join keyed by pk. */
  def incrementalSnapshot(stateOps: DataFrame, chunkSize: Int = 64): DataFrame = {
    val state = stateOps.select("tbl", "pk", "op", "lsn", "t", "cur_val", "cur_k")
      .transform(CacheLifecycle.scaffold)
    val bounds = state.agg(
      expr("(min(t) + max(t)) div 2").as("cut"),
      max("t").as("max_t"))
    // primitive-buffer aggregation only (round-18, same rewrite as the
    // cdc_snapshot_tail seed): numeric max_bys + the lsn-max delete test
    // keep both agg levels HashAggregate; the struct-with-string max_by
    // planned SortAggregate (full pre-cut sort by (tbl, pk))
    val live = state.crossJoin(broadcast(bounds))
      .filter(col("t") <= col("cut"))
      .groupBy("tbl", "pk")
      .agg(
        max_by(col("cur_val"), col("lsn")).as("val"),
        max_by(col("cur_k"), col("lsn")).as("k"),
        max("lsn").as("_mx"),
        max(when(col("op") === "delete", col("lsn"))).as("_mxd"))
      .filter(!(col("_mxd") <=> col("_mx")))
      .select(col("tbl"), col("pk"), col("val"), col("k"))
    val ranked = GlobalOrder.rank(live, Seq(col("tbl"), col("pk")), "rk")
      .withColumn("chunk", expr(s"(rk - 1) div $chunkSize"))
    val params = ranked
      .agg(expr(s"(count(1) + ${chunkSize - 1}) div $chunkSize").as("n_chunks"))
      .crossJoin(broadcast(bounds))
      .select(col("cut"),
        greatest(lit(1L), expr("(max_t - cut) div (n_chunks + 1)")).as("step"))
    val withHw = ranked.crossJoin(broadcast(params))
      .withColumn("hw", col("cut") + (col("chunk") + 1) * col("step"))
    val tail = state.crossJoin(broadcast(bounds.select(col("cut").as("_cut"))))
      .filter(col("t") > col("_cut"))
      .select(col("tbl"), col("pk"), col("t").as("ev_t"))
    withHw.join(tail, Seq("tbl", "pk"), "left")
      .groupBy("chunk", "tbl", "pk", "val", "k", "hw")
      .agg(max(when(col("ev_t") <= col("hw"), lit(1)).otherwise(lit(0))).as("_sup"))
      .groupBy("chunk")
      .agg(
        count(lit(1)).as("n_keys"),
        count(when(col("_sup") === 0, 1)).as("n_emitted"),
        count(when(col("_sup") === 1, 1)).as("n_superseded"),
        max("hw").as("hw"),
        sum(when(col("_sup") === 0, col("k"))).as("sum_k"),
        sum(when(col("_sup") === 0, floor(col("val") * 1000).cast("long")))
          .as("sum_val_q"))
  }

  /** Watermark-delay tuning curve over the [[backfillAudit]] stream — the
    * ledger that answers "how much allowed lateness would this backfill
    * need?": the backfill keys arrive after the live stream has advanced
    * the event-time watermark to `max(live t) − delay`, so a backfill
    * event is DROPPED as too-late exactly when `t < max_live_t − delay`
    * (Structured Streaming's `withWatermark` drop rule). One row per
    * candidate delay with the dropped count and fraction — read the curve,
    * pick the smallest delay with an acceptable loss, knowing a year-old
    * migration simply cannot ride the stream (its row shows ~100% drop)
    * and must go through the snapshot path instead.
    *
    * Two aggregates and a 1-row broadcast; the delay explode multiplies
    * only the backfill slice (×|delays|), never the live stream. */
  def watermarkCurve(ops: DataFrame, backfillMod: Long = 17L,
      delays: Seq[Long] = Seq(0L, 1000L, 10000L, 60000L)): DataFrame = {
    val marked = ops.withColumn("is_backfill",
      col("pk").cast("long") % backfillMod === 0)
    val live = marked.filter(!col("is_backfill"))
      .agg(max("t").as("max_live_t"))
    marked.filter(col("is_backfill"))
      .crossJoin(broadcast(live))
      .select(col("t"), col("max_live_t"),
        explode(array(delays.map(lit(_)): _*)).as("delay_ms"))
      .groupBy("delay_ms")
      .agg(
        count(lit(1)).as("n_backfill"),
        count(when(col("t") < col("max_live_t") - col("delay_ms"), 1))
          .as("n_dropped"),
        (count(when(col("t") < col("max_live_t") - col("delay_ms"), 1))
          .cast("double") / count(lit(1))).as("drop_frac"))
  }

  /** Chain-integrity audit — the per-table legality check a changefeed
    * verifier runs on the raw op stream: within each key's lsn order,
    * an insert must open a row (an insert on a live row is
    * `double_insert`), and update/delete must land on a live row
    * (`update_without_row` / `delete_without_row` when the previous op is
    * a delete or absent — the reference feed's mid-stream keys make these
    * real, not hypothetical). The ledger is per table: op count, each
    * violation class, and the violation fraction (one IEEE division of
    * exact longs) — read before trusting any downstream apply.
    *
    * One (tbl, pk)-keyed lag window (distributed — each key's history is
    * its own partition slice) + one table-keyed rollup; nothing sorts
    * globally. */
  def chainIntegrity(ops: DataFrame): DataFrame = {
    val w = Window.partitionBy("tbl", "pk").orderBy("lsn")
    ops
      .select(col("tbl"), col("pk"), col("lsn"), col("op"))
      .withColumn("_prev", lag("op", 1).over(w))
      .groupBy("tbl")
      .agg(
        count(lit(1)).as("n_ops"),
        count(when(col("op") === "insert" &&
          col("_prev").isin("insert", "update"), 1)).as("n_double_insert"),
        count(when(col("op") === "update" &&
          (col("_prev").isNull || col("_prev") === "delete"), 1))
          .as("n_update_without_row"),
        count(when(col("op") === "delete" &&
          (col("_prev").isNull || col("_prev") === "delete"), 1))
          .as("n_delete_without_row"))
      .select(col("tbl"), col("n_ops"), col("n_double_insert"),
        col("n_update_without_row"), col("n_delete_without_row"),
        ((col("n_double_insert") + col("n_update_without_row") +
          col("n_delete_without_row")).cast("double") / col("n_ops"))
          .as("violation_frac"))
  }

  /** Heartbeat-gap / stall ledger — "is the capture lane alive?" as a
    * table: per capture table, the distribution of consecutive-event
    * time gaps in lsn order, with every gap above `stallMs` counted as a
    * stall (the monitoring signal a heartbeat table emits in a real
    * deployment; here the feed IS the heartbeat). Exact long arithmetic;
    * the mean is one IEEE division.
    *
    * One tbl-keyed lag window + one table rollup — the stream crosses
    * the wire once, keyed by table. */
  def heartbeatGaps(ops: DataFrame, stallMs: Long = 60000L): DataFrame = {
    val w = Window.partitionBy("tbl").orderBy("lsn")
    ops
      .select(col("tbl"), col("lsn"), col("t"))
      .withColumn("_gap", col("t") - lag("t", 1).over(w))
      .filter(col("_gap").isNotNull)
      .groupBy("tbl")
      .agg(
        count(lit(1)).as("n_gaps"),
        count(when(col("_gap") > stallMs, 1)).as("n_stalls"),
        max("_gap").as("max_gap_ms"),
        sum("_gap").as("_sum"))
      .select(col("tbl"), col("n_gaps"), col("n_stalls"), col("max_gap_ms"),
        (col("_sum").cast("double") / col("n_gaps")).as("mean_gap_ms"))
  }

  /** Tombstone-GC planning ledger — [[compactionAudit]] extended with the
    * retention question: of the keys whose compacted record is a
    * tombstone, how many are past `retentionMs` (measured against the
    * stream's high-water time, broadcast) and thus GC-eligible, and how
    * many keys were ever REBORN (a later insert after their last delete —
    * the lifecycle that is exactly why GC must key on the LAST op, never
    * "any delete older than W"). `reclaimable_frac` prices the compaction
    * pass per table.
    *
    * One (tbl, pk)-keyed aggregate (map-side partials), a 1-row
    * high-water broadcast, one table rollup — no windows, no sorts. */
  def tombstoneGc(ops: DataFrame, retentionMs: Long = 86400000L): DataFrame = {
    // same primitive-max trick as [[compactionAudit]]: the key's last op
    // is a delete iff its max delete-lsn IS its max lsn (lsn unique) —
    // keeps the corpus-sized aggregate HashAggregate instead of the
    // string-buffer max_by's SortAggregate (round-18)
    val perKey = ops
      .groupBy("tbl", "pk")
      .agg(
        max("lsn").as("_mx"),
        max("t").as("_last_t"),
        max(when(col("op") === "delete", col("lsn"))).as("_last_del_lsn"),
        max(when(col("op") === "insert", col("lsn"))).as("_last_ins_lsn"))
    val hw = ops.agg(max("t").as("_hw"))
    perKey.crossJoin(broadcast(hw))
      .groupBy("tbl")
      .agg(
        count(lit(1)).as("n_keys"),
        count(when(col("_last_del_lsn") <=> col("_mx"), 1)).as("n_tombstones"),
        count(when((col("_last_del_lsn") <=> col("_mx")) &&
          col("_last_t") < col("_hw") - retentionMs, 1)).as("n_gc_eligible"),
        count(when(col("_last_del_lsn").isNotNull &&
          col("_last_ins_lsn") > col("_last_del_lsn"), 1)).as("n_reborn"))
      .select(col("tbl"), col("n_keys"), col("n_tombstones"),
        col("n_gc_eligible"), col("n_reborn"),
        (col("n_gc_eligible").cast("double") / col("n_keys"))
          .as("reclaimable_frac"))
  }

  // "last op is a delete" is decided from two PRIMITIVE maxes — lsn is
  // globally unique, so max(lsn | op=delete) equals max(lsn) exactly when
  // the key's final op is a delete. The former max_by(op, lsn) carried a
  // string aggregation buffer, which forces SortAggregate (a full sort of
  // the op stream by (tbl, pk) before the partial agg, at any scale);
  // primitive maxes keep both aggregation levels HashAggregate (round-18).
  /** Log-compaction audit — Kafka compacted-topic semantics applied to
    * the capture log: compaction retains only each key's LATEST event (a
    * delete survives as a tombstone until the key's retention passes),
    * so the per-table ledger reports what a compacted changefeed topic
    * would hold — `n_keys` retained records of `n_events` logged, split
    * into live values and tombstones — and `compaction_ratio`, the
    * size reduction a downstream bootstrap consumer reads instead of the
    * full history. `avg_versions` (exact division of longs) is the
    * overwrite pressure: how many times a hot key was rewritten.
    *
    * One (tbl, pk)-keyed argmax by lsn (hash aggregation, map-side
    * partials) + one table-keyed rollup — the log crosses the wire once,
    * keyed; nothing sorts. */
  def compactionAudit(ops: DataFrame): DataFrame =
    ops
      .groupBy("tbl", "pk")
      .agg(count(lit(1)).as("_n"), max("lsn").as("_mx"),
        max(when(col("op") === "delete", col("lsn"))).as("_mxd"))
      .groupBy("tbl")
      .agg(
        sum("_n").as("n_events"),
        count(lit(1)).as("n_keys"),
        count(when(!(col("_mxd") <=> col("_mx")), 1)).as("n_live"),
        count(when(col("_mxd") <=> col("_mx"), 1)).as("n_tombstones"),
        (count(lit(1)).cast("double") / sum("_n")).as("compaction_ratio"),
        (sum("_n").cast("double") / count(lit(1))).as("avg_versions"))

  /** Backfill audit — the canonical backfill failure drill
    * (`scenarios/01-canonical-reference/failures/backfill.sql`): a
    * migration INSERTs historical rows into the source NOW, so CDC
    * captures them with current offsets but year-old business
    * timestamps — "sink receives them in offset order, not created_at
    * order". The drill's designated backfill keys (`pk % backfillMod`)
    * are re-captured after the live stream; the per-table ledger reports
    * how late that data arrives in business time: every backfill event
    * older than the newest live event is an inversion a downstream
    * business-time consumer must tolerate, and `max_skew_ms` bounds the
    * event-time watermark regression the backfill would cause.
    *
    * Two grouped aggregates + one 3-row broadcast — no window scan: live
    * capture order embeds business time in this feed (lsn is t-derived),
    * so the only possible inversions are backfill-vs-live, counted
    * directly against the per-table live maximum. */
  def backfillAudit(ops: DataFrame, backfillMod: Long = 17L): DataFrame = {
    val marked = ops.withColumn("is_backfill",
      col("pk").cast("long") % backfillMod === 0)
    val liveAgg = marked.filter(!col("is_backfill"))
      .groupBy("tbl")
      .agg(max("t").as("max_live_t"), count(lit(1)).as("n_live"))
    marked.filter(col("is_backfill"))
      .join(broadcast(liveAgg), Seq("tbl"), "left")
      .groupBy("tbl", "n_live")
      .agg(
        count(lit(1)).as("n_backfill"),
        count(when(col("t") < col("max_live_t"), 1)).as("n_late"),
        greatest(lit(0L), max(col("max_live_t") - col("t"))).as("max_skew_ms"))
      .select("tbl", "n_live", "n_backfill", "n_late", "max_skew_ms")
  }
}
