package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.cdc._
import graft.functions.GraftFunctions
import graft.llm.{Chunking, Clusters, Corpus, Dedup, Multimodal, Packing, Pii, Sampling, TextAnalysis}
import graft.llm.Similarity
import graft.operators.{AsOfJoin, CacheLifecycle, RangeJoin, SaltedJoin, Sessions}
import graft.sources.{DebeziumSource, Tables}

/** CDC capture / apply / diff / metrics / txn / broker / evaluate queries — one link of the ordered `SparkEntry` trait
  * chain (split from the single-file map by the round-12 verdict's
  * directive #7, the Oracles.scala recipe: pure relocation, the
  * `queries` map API and every entry body unchanged). */
private[graft] trait SparkEntryCdc extends SparkEntryBase {
  private[graft] def cdcQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_log_capture" -> ((s, dir) =>
      Capture.log(st(s, dir)).orderBy("lsn")),
    "cdc_trigger_capture" -> ((s, dir) =>
      Capture.trigger(st(s, dir)).orderBy("audit_seq")),
    "cdc_poll_capture" -> ((s, dir) =>
      Capture.poll(st(s, dir))
        .select("tbl", "pk", "poll_window", "op_code", "after_val", "after_k", "version", "poll_ts")
        .orderBy("tbl", "pk", "poll_window")),
    "cdc_poll_loss" -> ((s, dir) =>
      Capture.pollLoss(st(s, dir)).orderBy("tbl")),
    "cdc_contracts" -> ((s, dir) =>
      // ingestion-time data-contract assertion: both counters must be 0 on
      // conforming input (null set-payloads would diverge the sentinel scan
      // from the merge fold; lsn/t inversions would reorder the fold)
      CdcOps.contractViolations(CdcOps.ops(s, dir))),
    "cdc_verify_sample" -> ((s, dir) => {
      // deterministic-sample per-column compare of truth vs replayed state
      // (verify.mjs:82-126); log replay is lossless so every field matches
      val truth = ApplyEngine.applyState(ops(s, dir))
      val replayed = ApplyEngine.replayEvents(Capture.log(st(s, dir)), "lsn")
      Diff.verifySample(truth, replayed, Seq("val", "k"))
        .orderBy("tbl", "pk", "col_name")
    }),
    "cdc_snapshot" -> ((s, dir) =>
      Capture.snapshot(Tables.customer(s, dir), "customer", "c_custkey", Seq("c_name", "c_mktsegment"))
        .orderBy(col("pk").cast("bigint"))),

    // ------------------------------------------------ apply / state fold
    "cdc_apply_state" -> ((s, dir) =>
      ApplyEngine.applyState(ops(s, dir)).orderBy("tbl", "pk")),
    // SCD Type-2 dimension history off the change feed: merged row image
    // per version with [valid_from, valid_to) and is_current; deletes
    // close intervals without opening a row
    "cdc_scd2" -> ((s, dir) =>
      ApplyEngine.scd2(st(s, dir)).orderBy("tbl", "pk", "ver")),
    "cdc_replay_events" -> ((s, dir) =>
      ApplyEngine.replayEvents(Capture.log(st(s, dir)), "lsn").orderBy("tbl", "pk")),
    // open-schema apply: the generic JSON reduce over the partial-payload
    // feed — the operator real fixture schemas drive (index.js:59-76)
    "cdc_apply_json" -> ((s, dir) =>
      ApplyEngine.applyJsonState(CdcOps.jsonOps(ops(s, dir)), "lsn")
        .orderBy("tbl", "pk")),
    // snapshot → tailing composition (logBased.ts:147-187): seed-row read
    // events emitted AHEAD of the tail with CONTINUOUS offsets — snapshot
    // rows rank 1..S by (tbl, pk), tail events continue S+1.. in lsn order.
    // Both ranks via GlobalOrder (no single-partition window); the dense
    // offset sequence in the oracle hash IS the continuity check.
    "cdc_snapshot_tail" -> ((s, dir) => {
      // ONE enriched lineage feeds both phases: the seed is the state at
      // the cut, read off the cumulative window images (argmax by lsn over
      // rows at or before the cut) — no second merge fold, no second
      // parquet scan. Projected before scaffolding; both phases and the cut
      // aggregate scan the same checkpoint. The 1-row cut is scaffolded
      // too: both GlobalOrder scans build their own scaffold over it, and
      // separate builds share no exchange.
      val state = st(s, dir)
        .select("tbl", "pk", "op", "lsn", "t", "prev_val", "prev_k",
          "cur_val", "cur_k")
        .transform(CacheLifecycle.scaffold)
      val cut = CacheLifecycle.scaffold(state.agg(expr("(min(t) + max(t)) div 2").as("cut")))
      // primitive-buffer aggregation only (round-18): max_by over a struct
      // carrying the `op` STRING forced SortAggregate — a full sort of the
      // pre-cut state stream by (tbl, pk) before the partial agg. The
      // argmax payloads are numeric (cur_val double, cur_k long), and
      // "last op is a delete" is max(lsn | delete) <=> max(lsn) with lsn
      // unique — all primitive buffers, both agg levels HashAggregate.
      val seed = state.crossJoin(broadcast(cut))
        .filter(col("t") <= col("cut"))
        .groupBy("tbl", "pk")
        .agg(
          max_by(col("cur_val"), col("lsn")).as("val"),
          max_by(col("cur_k"), col("lsn")).as("k"),
          max("lsn").as("_mx"),
          max(when(col("op") === "delete", col("lsn"))).as("_mxd"))
        .filter(!(col("_mxd") <=> col("_mx")))
        .select(col("tbl"), col("pk"), col("val"), col("k"))
      val snap = GlobalOrder.rank(
        Capture.snapshotAll(seed, Seq("val", "k")),
        Seq(col("tbl"), col("pk")), "offset")
        .select(col("offset"), lit("snapshot").as("phase"), col("tbl"),
          col("pk"), col("op_code"), col("val"), col("k"))
      val nSnap = seed.agg(count(lit(1)).as("n_snap"))
      val tail0 = Capture.log(state).crossJoin(broadcast(cut))
        .filter(col("commit_ts") > col("cut"))
      val tail = GlobalOrder.rank(tail0, Seq(col("lsn")), "tail_rank")
        .crossJoin(broadcast(nSnap))
        .select((col("tail_rank") + col("n_snap")).as("offset"),
          lit("tail").as("phase"), col("tbl"), col("pk"), col("op_code"),
          col("after_val").as("val"), col("after_k").as("k"))
      snap.unionAll(tail).orderBy("offset")
    }),
    // DBLog / Debezium incremental snapshot: chunked key-space read
    // interleaved with the tail; chunk rows superseded by in-window log
    // events are discarded — the non-blocking snapshot's chunk ledger
    "cdc_incremental_snapshot" -> ((s, dir) =>
      Capture.incrementalSnapshot(st(s, dir)).orderBy("chunk")),
    // the backfill failure drill: historical rows captured NOW — per-table
    // business-time lateness and watermark skew of the designated keys
    "cdc_backfill_audit" -> ((s, dir) =>
      Capture.backfillAudit(ops(s, dir)).orderBy("tbl")),
    // Kafka compacted-topic audit: per table, what compaction would retain
    // (last event per key; deletes as tombstones) vs the full log
    "cdc_compaction" -> ((s, dir) =>
      Capture.compactionAudit(ops(s, dir)).orderBy("tbl")),
    // per-table op-sequence legality audit (double inserts, updates and
    // deletes on dead rows) — the check a verifier runs before any apply
    "cdc_chain_integrity" -> ((s, dir) =>
      Capture.chainIntegrity(ops(s, dir)).orderBy("tbl")),
    // liveness ledger: consecutive-event gap distribution per table with
    // gaps over the stall threshold counted — the heartbeat monitor table
    "cdc_heartbeat_gap" -> ((s, dir) =>
      Capture.heartbeatGaps(ops(s, dir)).orderBy("tbl")),
    // compaction retention planning: GC-eligible tombstones vs the
    // high-water mark, with reborn keys counted (why GC keys on LAST op)
    "cdc_tombstone_gc" -> ((s, dir) =>
      Capture.tombstoneGc(ops(s, dir)).orderBy("tbl")),
    // allowed-lateness tuning curve over the backfill stream: dropped-late
    // fraction per candidate watermark delay
    "cdc_watermark_curve" -> ((s, dir) =>
      Capture.watermarkCurve(ops(s, dir)).orderBy("delay_ms")),
    // Debezium end-to-end without a broker: encode the op feed as envelope
    // JSON (payload-wrapped evens, r-snapshot inserts, before-only deletes)
    // → decode → txn assembly → JSON apply, diffed against the state built
    // directly from the feed — the verifier pipeline
    // (harness/verifier/index.js:254-283,169-205) as one oracled query
    "cdc_debezium_e2e" -> ((s, dir) => {
      // the feed drives both the envelope round-trip and the direct truth
      // fold; the decoded stream drives txn assembly and the JSON apply —
      // scaffold each so the JSON print/parse work runs once per row.
      // repartition BEFORE the render: the sf inputs are one parquet split,
      // which would serialize the whole per-row JSON round trip on a single
      // thread (at scale the input arrives pre-split; this only fixes up
      // the local shape). The checkpoint does not record the (tbl, pk)
      // partitioning, so the truth-side apply's window shuffles again.
      val feed = CdcOps.jsonOps(ops(s, dir).repartition(col("tbl"), col("pk")))
        .transform(CacheLifecycle.scaffold)
      val dec = DebeziumSource.decode(
        DebeziumSource.encode(feed), col("value"))
      // lsn = t·10⁶ + event_id is invertible, so the decoded stream
      // re-derives the txn grouping key without a side channel
      val recOps = dec.select(
        col("ts_ms").as("t"),
        (col("lsn") - col("ts_ms") * lit(1000000L)).as("event_id"),
        col("tbl"), col("pk"), col("op"), col("lsn"), col("after_json"))
        .transform(CacheLifecycle.scaffold)
      val txns = Txn.assemble(recOps)
      val actual = ApplyEngine.applyJsonState(recOps, "lsn")
      val truth = ApplyEngine.applyJsonState(feed, "lsn")
      val diff = Diff.diffStates(truth, actual, Seq("row_json"))
        .agg(
          count(when(col("status") === "match", 1)).as("keys_match"),
          count(when(col("status") =!= "match", 1)).as("keys_mismatch"))
      val txAgg = txns.agg(
        count(lit(1)).as("txns"),
        sum(col("n_events")).cast("long").as("tx_events"))
      diff.crossJoin(txAgg)
        .selectExpr(
          """stack(4,
            |  'keys_match', keys_match,
            |  'keys_mismatch', keys_mismatch,
            |  'tx_events', tx_events,
            |  'txns', txns) AS (metric, value)""".stripMargin)
        .orderBy("metric")
    }),

    // ------------------------------------------------ diff / verification
    "cdc_difflane" -> ((s, dir) => {
      // multi-column diff key (no string-concat key to build or hash)
      val state = st(s, dir)
      val expected = state.select(
        col("tbl"), CdcOps.opCode(col("op")).as("opc"), col("pk"),
        col("t").as("time"), col("lsn").as("ord"))
      val actual = Capture.poll(state).select(
        col("tbl"), col("op_code").as("opc"), col("pk"),
        col("poll_ts").as("time"), col("src_lsn").as("ord"))
      Diff.laneTotals(Diff.lanePairs(expected, actual, "ord", Seq("tbl", "opc", "pk")))
        .orderBy("status")
    }),
    "cdc_lag_topk" -> ((s, dir) =>
      Capture.trigger(st(s, dir))
        .select("audit_seq", "tbl", "pk", "lag_ms")
        .orderBy(col("lag_ms").desc, col("audit_seq"))
        .limit(5)),
    "cdc_diffstates" -> ((s, dir) => {
      val state = st(s, dir)
      val truth = ApplyEngine.applyState(ops(s, dir))
      val pollEmissions = Capture.poll(state, includeSoftDeletes = false)
      val w = Window.partitionBy("tbl", "pk").orderBy(col("poll_window").desc)
      val pollState = pollEmissions
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("tbl"), col("pk"), col("after_val").as("val"), col("after_k").as("k"))
      Diff.diffStates(truth, pollState, Seq("val", "k"))
        .groupBy("status").agg(count(lit(1)).as("cnt")).orderBy("status")
    }),
    // diffStates turned into ACTION: per divergent key, the repair op
    // (insert/update/delete, source image carried) that converges the
    // sink onto the source truth — divergence-sized, not table-sized
    "cdc_reconcile_repair" -> ((s, dir) => {
      val state = st(s, dir)
      val truth = ApplyEngine.applyState(ops(s, dir))
      val pollEmissions = Capture.poll(state, includeSoftDeletes = false)
      val w = Window.partitionBy("tbl", "pk").orderBy(col("poll_window").desc)
      val pollState = pollEmissions
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("tbl"), col("pk"), col("after_val").as("val"), col("after_k").as("k"))
      Diff.reconcileOps(truth, pollState, Seq("val", "k")).orderBy("tbl", "pk")
    }),
    "cdc_ordering_drift" -> ((s, dir) => {
      val drifted = Broker.withDrift(
        ops(s, dir), concat(lit("tx-"), col("lsn").cast("string")), col("t"))
      Diff.orderingInversions(drifted, Seq("tbl"), Seq(col("available_at"), col("lsn")), "lsn")
        .groupBy("tbl")
        .agg(count(when(col("inverted"), 1)).as("inversions"))
        .orderBy("tbl")
    }),

    // ------------------------------------------------ metrics
    "cdc_metrics_lane" -> ((s, dir) => {
      val state = st(s, dir)
      MetricsAgg.laneMix(Capture.log(state), "log", 1, 0)
        .unionAll(MetricsAgg.laneMix(Capture.poll(state), "poll", 1, 0))
        .unionAll(MetricsAgg.laneMix(Capture.trigger(state), "trigger", 1, 1))
        .orderBy("method")
    }),
    "cdc_lag_percentiles" -> ((s, dir) => {
      val state = st(s, dir)
      val pollLag = Capture.poll(state).withColumn("lag_ms", col("poll_ts") - col("src_t"))
      MetricsAgg.lagPercentiles(Capture.log(state), "log")
        .unionAll(MetricsAgg.lagPercentiles(pollLag, "poll"))
        .unionAll(MetricsAgg.lagPercentiles(Capture.trigger(state), "trigger"))
        .orderBy("method")
    }),
    // per-lane SLA attainment: fraction of events captured within each
    // candidate freshness budget - the contract score next to the p95
    "cdc_lag_sla" -> ((s, dir) => {
      val state = st(s, dir)
      val pollLag = Capture.poll(state)
        .withColumn("lag_ms", col("poll_ts") - col("src_t"))
      MetricsAgg.lagSla(Capture.log(state), "log")
        .unionAll(MetricsAgg.lagSla(pollLag, "poll"))
        .unionAll(MetricsAgg.lagSla(Capture.trigger(state), "trigger"))
        .orderBy("method", "sla_ms")
    }),
    "cdc_lane_summary" -> ((s, dir) => {
      // cross-lane comparison (`web/App.tsx:985-1020`): best/worst lag
      // lanes, lag spread, argmax write amplification — min_by/max_by over
      // the 3-row lane table (no sort, no self-join)
      val state = st(s, dir)
      val pollLag = Capture.poll(state).withColumn("lag_ms", col("poll_ts") - col("src_t"))
      // write_amp comes from the measured laneMix rows (audit writes per
      // captured op), not asserted literals — same 3-row frame the
      // cdc_metrics_lane query reports, broadcast onto the lag lanes.
      val mix = MetricsAgg.laneMix(Capture.log(state), "log", 1, 0)
        .unionAll(MetricsAgg.laneMix(Capture.poll(state), "poll", 1, 0))
        .unionAll(MetricsAgg.laneMix(Capture.trigger(state), "trigger", 1, 1))
        .select(col("method"), col("write_amp"))
      val lanes = MetricsAgg.lagPercentiles(Capture.log(state), "log")
        .unionAll(MetricsAgg.lagPercentiles(pollLag, "poll"))
        .unionAll(MetricsAgg.lagPercentiles(Capture.trigger(state), "trigger"))
        .join(broadcast(mix), Seq("method"))
      lanes.agg(
        min_by(col("method"), col("p95")).as("best_lag_lane"),
        max_by(col("method"), col("p95")).as("worst_lag_lane"),
        (max(col("p95")) - min(col("p95"))).as("lag_spread"),
        max_by(col("method"), col("write_amp")).as("top_write_amp_lane"))
    }),
    "cdc_lag_rolling" -> ((s, dir) => {
      val state = st(s, dir)
      val lanes = Capture.log(state)
        .select(lit("log").as("method"), col("emitted_ts").as("ord1"),
          col("lsn").as("ord2"), col("lag_ms"))
        .unionAll(Capture.poll(state)
          .select(lit("poll").as("method"), col("poll_ts").as("ord1"),
            col("src_lsn").as("ord2"), (col("poll_ts") - col("src_t")).as("lag_ms")))
        .unionAll(Capture.trigger(state)
          .select(lit("trigger").as("method"), col("emitted_ts").as("ord1"),
            col("audit_seq").as("ord2"), col("lag_ms")))
      MetricsAgg.lagPercentilesRolling(lanes).orderBy("method")
    }),

    // ------------------------------------------------ txn + broker
    "cdc_txn_apply" -> ((s, dir) =>
      Txn.assemble(ops(s, dir)).orderBy("apply_order")),
    "cdc_broker_route" -> ((s, dir) =>
      Broker.route(ops(s, dir), col("pk"), col("lsn"), 3, 0.1)
        .groupBy("part")
        .agg(
          count(when(!col("dropped"), 1)).as("delivered"),
          count(when(col("dropped"), 1)).as("dropped_cnt"))
        .orderBy("part")),

    // ------------------------------------------------ analytics,
    "cdc_evaluate" -> ((s, dir) => {
      // the enriched op-state and poll lane each feed several report
      // subtrees — scaffold so the single-job report computes them once.
      // Project to the columns the report reads BEFORE scaffolding: the
      // checkpoint (scanned by five subtrees) drops the unused
      // before-images/payload columns the window stage had to compute
      val state = st(s, dir)
        .select("tbl", "pk", "op", "lsn", "t", "ver", "cur_val", "cur_k")
        .transform(CacheLifecycle.scaffold)
      val poll = Capture.poll(state).transform(CacheLifecycle.scaffold)
      val actual = poll.select(
        col("poll_ts").as("time"), col("src_lsn").as("ord"),
        col("op_code"), col("tbl"), col("pk"))
      // last polled row per key: argmax by poll_window (unique per key) as
      // a hash aggregation — no per-key sort stage on the scaffolded lane
      val pollState = poll
        .groupBy("tbl", "pk")
        .agg(max_by(
          struct(col("op_code"), col("after_val"), col("after_k")),
          col("poll_window")).as("last"))
        .filter(col("last.op_code") =!= "d")
        .select(col("tbl"), col("pk"),
          col("last.after_val").as("val"), col("last.after_k").as("k"))
      // `state` is a superset of the ops columns — passing it as the op
      // stream reuses the one scaffolded lineage instead of re-reading parquet
      Evaluate.lane(state, state, actual, pollState).orderBy("metric")
    }),
    "cdc_evaluate_log" -> ((s, dir) => {
      // the same harness report over the LOG lane: lossless capture must
      // report zero missing/extra/mismatches and pass = 1 — the lane-generic
      // counterpart to the polling-lane cdc_evaluate
      val state = st(s, dir)
        .select("tbl", "pk", "op", "lsn", "t", "prev_val", "prev_k", "cur_val", "cur_k")
        .transform(CacheLifecycle.scaffold)
      val lane = Capture.log(state).transform(CacheLifecycle.scaffold)
      val actual = lane.select(
        col("emitted_ts").as("time"), col("lsn").as("ord"),
        col("op_code"), col("tbl"), col("pk"))
      val replayed = ApplyEngine.replayEvents(lane, "lsn")
      Evaluate.lane(state, state, actual, replayed).orderBy("metric")
    }),

    "cdc_commit_floor" -> ((s, dir) => {
      val drifted = Broker.withDrift(
        ops(s, dir), concat(lit("tx-"), col("lsn").cast("string")), col("t"))
      val txns = drifted
        .withColumn("tx_num", expr("event_id div 3"))
        .groupBy("tx_num")
        .agg(
          (max(col("t")) + 100L).as("commit_ts"),
          min(col("lsn")).as("first_lsn"),
          max(col("available_at")).as("ready_at"))
        .withColumn("tx_id", concat(lit("tx-"), col("tx_num").cast("string")))
      Txn.applyOnCommit(txns)
        .select("tx_id", "commit_ts", "first_lsn", "ready_at",
          "apply_order", "applied_at", "held_ms")
        .orderBy("apply_order")
    }),
    "cdc_broker_delivery" -> ((s, dir) => {
      val drifted = Broker.withDrift(
        ops(s, dir), concat(lit("tx-"), col("lsn").cast("string")), col("t"))
        .withColumn("part", graft.functions.GraftFunctions.partitionForKey(col("pk"), 3))
      Consumer.brokerDelivery(drifted, "lsn")
        .select("part", "lsn", "available_at", "queue_pos", "deliver_tick", "deliver_ms")
        .orderBy("part", "queue_pos")
    }),
    "cdc_broker_exact" -> ((s, dir) => {
      // exact FIFO-queue per-tick delivery (head-of-line blocking, drops
      // consuming quota) over 32 hash-routed partitions — the sequential
      // counterpart to cdc_broker_delivery's closed-form schedule
      import s.implicits._
      val routed = Broker.route(
        Broker.withDrift(ops(s, dir), concat(lit("tx-"), col("lsn").cast("string")), col("t")),
        col("pk"), col("lsn"), 32, 0.1)
      Consumer.brokerDeliverExact(
        routed.select(col("part").cast("int").as("part"), col("lsn"),
          col("available_at").as("availableAt"), col("dropped")).as[Consumer.BrokerIn])
        .toDF()
        .select(col("part").cast("long").as("part"), col("lsn"),
          col("availableAt"), col("dropped"), col("deliverTick"), col("deliverMs"))
        .orderBy("part", "lsn")
    }),
    "cdc_broker_drift_exact" -> ((s, dir) => {
      // exact drift-on delivery trace: queue-FRONT insertion per
      // `model.ts:141-149` makes each partition queue a LIFO stack; a
      // drifted head blocks older events beneath it
      import s.implicits._
      val routed = Broker.route(
        Broker.withDrift(ops(s, dir), concat(lit("tx-"), col("lsn").cast("string")), col("t")),
        col("pk"), col("lsn"), 32, 0.1)
      Consumer.brokerDeliverDriftExact(
        routed.select(col("part").cast("int").as("part"), col("lsn"),
          col("t"), col("available_at").as("availableAt"), col("dropped"))
          .as[Consumer.DriftIn])
        .toDF()
        .select(col("part").cast("long").as("part"), col("lsn"),
          col("availableAt"), col("dropped"), col("deliverTick"), col("deliverMs"))
        .orderBy("part", "lsn")
    }),

    "cdc_state_hash" -> ((s, dir) => {
      val state = ApplyEngine.applyState(ops(s, dir))
      state.select(
        col("tbl"), col("pk"),
        sha2(concat_ws("|",
          col("tbl"), col("pk"),
          coalesce(col("val").cast("string"), lit("")),
          coalesce(col("k").cast("string"), lit("")),
          col("version").cast("string"), col("updated_at").cast("string")), 256).as("row_hash"))
        .orderBy("tbl", "pk")
    }),
    "cdc_throttle_drain" -> ((s, dir) => {
      // 32 consumer lanes sharded by pk — lanes drain independently (the
      // parallelism axis of the per-lane sequential fold); the DuckDB oracle
      // replays the same token bucket as a recursive CTE advancing all lane
      // states one event per iteration
      import s.implicits._
      val lane = Capture.log(st(s, dir))
      Consumer.throttleDrain(
        lane.select(
          concat(lit("lane-"),
            lpad(pmod(col("pk").cast("long"), lit(32)).cast("string"), 2, "0")).as("method"),
          col("lsn").as("seq"),
          col("emitted_ts").as("availableAt")).as[Consumer.DeliveryIn],
        rate = 200.0)
        .toDF().orderBy("method", "drainTick", "seq")
    }),

    "cdc_backlog_series" -> ((s, dir) => {
      // produced − drained per (lane, tick) with running backlog — the
      // time-series companion to cdc_throttle_drain (same 32-lane drain)
      import s.implicits._
      val lane = Capture.log(st(s, dir))
      val drained = Consumer.throttleDrain(
        lane.select(
          concat(lit("lane-"),
            lpad(pmod(col("pk").cast("long"), lit(32)).cast("string"), 2, "0")).as("method"),
          col("lsn").as("seq"),
          col("emitted_ts").as("availableAt")).as[Consumer.DeliveryIn],
        rate = 200.0)
      MetricsAgg.backlogSeries(drained.toDF()).orderBy("method", "tick")
    }),

    "cdc_schema_capture" -> ((s, dir) => {
      // deterministic DDL stream derived from the op stream: every 250th
      // event issues a schema change on its table, alternating add/drop
      import s.implicits._
      val changes = ops(s, dir)
        .filter(col("event_id") % 250 === 0)
        .select(col("tbl"),
          when(col("event_id") % 500 === 0, "ADD_COLUMN")
            .otherwise("DROP_COLUMN").as("action"),
          concat(lit("c"), (col("event_id") % 7).cast("string")).as("column"),
          col("t").as("commitTs"))
        .as[SchemaEvolution.SchemaChange]
      SchemaEvolution.captureLanes(changes)
        .orderBy("tbl", "next_version", "method")
    }),

    // ------------------------------------------------ more analytics,
    "cdc_event_search" -> ((s, dir) => {
      val lane = Capture.log(st(s, dir))
      val hay = Canonical.haystack(Seq(col("tbl"), col("op_code"), col("pk")))
      lane
        .filter(col("op_code").isin("c", "d") && Canonical.matchesAllTerms(hay, Seq("7")))
        .groupBy("op_code").agg(count(lit(1)).as("cnt"))
        .orderBy("op_code")
    }),
    "cdc_bus_totals" -> ((s, dir) => {
      val state = st(s, dir)
      val lanes =
        Capture.log(state).groupBy().agg(count(lit(1)).as("produced"))
          .select(lit("log").as("method"), col("produced"))
          .unionAll(Capture.poll(state).groupBy().agg(count(lit(1)).as("produced"))
            .select(lit("poll").as("method"), col("produced")))
          .unionAll(Capture.trigger(state).groupBy().agg(count(lit(1)).as("produced"))
            .select(lit("trigger").as("method"), col("produced")))
      lanes
        .unionAll(lanes.groupBy().agg(sum("produced").as("produced"))
          .select(lit("total").as("method"), col("produced")))
        .orderBy("method")
    }),
    "cdc_verify_counts" -> ((s, dir) => {
      // source↔sink verify: sink := source minus every 50th key, plus a few
      // synthetic orphans — deterministic drift for the anti-join check
      val source = Tables.customer(s, dir).select(col("c_custkey").as("id"))
      val sink = source.filter(col("id") % 50 =!= 0)
        .unionAll(source.filter(col("id") < 5).select((col("id") + 1000000L).as("id")))
      Diff.verifyCounts(source, sink, Seq("id")).orderBy("metric")
    }),
  )
}
