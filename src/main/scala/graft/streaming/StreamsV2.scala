package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Structured-Streaming forms of the stateful CDC, event-analytics and
  * corpus operators — the one streaming front-end.
  *
  * The batch-replay forms in `graft.cdc` / `graft.operators` are the
  * deterministic oracles; these are their unbounded-stream equivalents.
  * Every keyed operator is a `transformWithState` processor over a pure
  * per-batch fold in [[Streams]] (`applyFold`, `throttleFold`, …), so the
  * semantics are testable without Spark (FoldPropertiesSpec) and a
  * processor owns only the state plumbing:
  *
  *   - named, typed `ValueState` / `ListState` — the RocksDB state store
  *     appends an arriving event as its own key-value entry instead of
  *     rewriting the whole buffer on every micro-batch (large in-flight
  *     transactions under drift);
  *   - declarative TTL (`TTLConfig`), or one processing-time timer per key
  *     where expiry must emit something (growth churn, the SCD2 open
  *     version, the drift-broker flush);
  *   - event-time timers where the watermark decides emission
  *     ([[applyOnCommitStream]]).
  *
  * Polling capture and gap sessionization are Spark's own windowed
  * aggregates ([[pollStream]], [[sessionStream]]): there Spark's aggregate
  * owns the state and no hand-written fold exists.
  *
  * State is keyed (per txn, row key, lane, user, …), so it shards across
  * executors. Every buffering operator takes a TTL — the reference keeps
  * buffers forever (`src/changefeed/model.ts:176-205`), which at 100 TB
  * leaks; `ttlMs <= 0` disables expiry (bounded replays, tests).
  *
  * Requires the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass` →
  * `org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`);
  * the HDFS-backed default does not support `transformWithState`.
  */
object StreamsV2 {

  import Streams._

  private def ttlAndMode(ttlMs: Long): (TTLConfig, TimeMode) =
    if (ttlMs > 0)
      (TTLConfig(java.time.Duration.ofMillis(ttlMs)), TimeMode.ProcessingTime())
    else (TTLConfig.NONE, TimeMode.None())

  private def timerMode(ttlMs: Long): TimeMode =
    if (ttlMs > 0) TimeMode.ProcessingTime() else TimeMode.None()

  /** The processor behind every operator whose whole state is one named
    * `ValueState[S]` per key: `step` folds a micro-batch of the key's rows
    * onto the stored state and returns (state to store, output). `None`
    * leaves the stored state as it was. Expiry, if any, is the declarative
    * `ttl` — a silent drop. */
  class FoldProcessor[K, I, S, O](name: String, enc: Encoder[S], ttl: TTLConfig)(
      step: (K, Option[S], Seq[I]) => (Option[S], Seq[O]))
      extends StatefulProcessor[K, I, O] {
    @transient private var st: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState(name, enc, ttl)

    override def handleInputRows(
        key: K, rows: Iterator[I], timerValues: TimerValues): Iterator[O] = {
      val (next, out) = step(key, if (st.exists()) Some(st.get()) else None, rows.toSeq)
      next.foreach(st.update)
      out.iterator
    }
  }

  /** Txn-assembly processor: buffer per txId until complete
    * (`src/changefeed/model.ts:176-205` — same completion rule as
    * `Streams.txnComplete`: declared total reached; the `last` flag alone
    * never completes a known-total txn, a drift-first last event must
    * wait for its siblings). */
  class TxnAssemblyProcessor(ttl: TTLConfig)
      extends StatefulProcessor[String, Event, AssembledTxn] {
    @transient private var buf: ListState[Event] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState("txnBuf", Encoders.product[Event], ttl)

    override def handleInputRows(
        txId: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[AssembledTxn] = {
      val incoming = rows.toList
      val all = buf.get().toList ++ incoming
      if (Streams.txnComplete(all)) {
        buf.clear()
        val sorted = all.sortBy(e => (e.txIndex, e.lsn))
        Iterator.single(AssembledTxn(
          txId, sorted.size,
          sorted.map(_.commitTs).max,
          sorted.map(_.lsn).min,
          sorted))
      } else {
        // append-only state write: only the NEW events hit the store
        buf.appendList(incoming.toArray)
        Iterator.empty
      }
    }
  }

  /** Txn assembly (`src/changefeed/model.ts:176-205`, `web/App.tsx:2115-2156`):
    * buffer events per txId until `count >= total` (or a `last` marker),
    * then emit the whole transaction, events sorted by `txIndex`
    * (`model.ts:196`). Incomplete txns expire after `ttlMs` processing
    * time — the safety valve the reference lacks. */
  def assembleTxns(
      events: Dataset[Event],
      ttlMs: Long = 60000L): Dataset[AssembledTxn] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlAndMode(ttlMs)
    events
      .groupByKey(_.txId)
      .transformWithState(new TxnAssemblyProcessor(ttl), mode, OutputMode.Append())
  }

  /** Commit-floor apply processor: the txn buffer is a `ListState` and the
    * hold is ONE event-time timer per txn at `max(commitTs, watermark) + 1`.
    * A timer fires once the watermark reaches it, so a complete txn is
    * released when the watermark strictly passes its commit, and an
    * incomplete one is dropped then. Buffer and timer both live in the
    * state store and survive a restart. */
  class CommitFloorProcessor
      extends StatefulProcessor[String, Event, AssembledTxn] {
    @transient private var buf: ListState[Event] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState("floorBuf", Encoders.product[Event], TTLConfig.NONE)

    private def assembled(txId: String, events: List[Event]): AssembledTxn = {
      val sorted = events.sortBy(e => (e.txIndex, e.lsn))
      AssembledTxn(txId, sorted.size, sorted.map(_.commitTs).max,
        sorted.map(_.lsn).min, sorted)
    }

    override def handleInputRows(
        txId: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[AssembledTxn] = {
      val incoming = rows.toList
      val all = buf.get().toList ++ incoming
      val commitTs = all.map(_.commitTs).max
      val wm = timerValues.getCurrentWatermarkInMs()
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (Streams.txnComplete(all) && wm > commitTs) {
        buf.clear()
        Iterator.single(assembled(txId, all))
      } else {
        buf.appendList(incoming.toArray)
        // hold until the floor (watermark) passes the commit
        getHandle.registerTimer(math.max(commitTs, wm) + 1)
        Iterator.empty
      }
    }

    override def handleExpiredTimer(
        txId: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[AssembledTxn] = {
      val all = buf.get().toList
      buf.clear()
      if (Streams.txnComplete(all)) Iterator.single(assembled(txId, all))
      else Iterator.empty
    }
  }

  /** Apply-on-commit with the commit floor as an event-time watermark
    * (`src/changefeed/model.ts:169-244`, SURVEY §2.9: the floor — min
    * commitTs over in-flight events — IS the watermark). Transactions
    * assemble per txId; a *complete* transaction is held until the
    * watermark strictly passes its commitTs (drifted stragglers keep the
    * watermark — and therefore every commit-later txn — back), then emits.
    * Incomplete txns are dropped as soon as the watermark passes their max
    * buffered commitTs — no extra lateness beyond `watermarkDelay` is
    * granted.
    *
    * Note: `txnComplete` counts duplicate deliveries toward `total`
    * (reference-faithful, `model.ts:178-186`), so at-least-once sources must
    * drop replays upstream of assembly (`dropDuplicatesWithinWatermark` on
    * the offset triple). */
  def applyOnCommitStream(
      events: Dataset[Event],
      watermarkDelay: String = "10 seconds"): Dataset[AssembledTxn] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    events
      .withColumn("event_time", timestamp_millis(col("commitTs")))
      .withWatermark("event_time", watermarkDelay)
      .as[Event]
      .groupByKey(_.txId)
      .transformWithState(new CommitFloorProcessor, TimeMode.EventTime(), OutputMode.Append())
  }

  /** Row-apply processor: one `ValueState[RowState]` per live key, the step
    * is [[Streams.applyFold]]. Delete emits the tombstone and CLEARS the
    * state; TTL expiry of an idle key's state is a silent drop. */
  class ApplyProcessor(ttl: TTLConfig)
      extends StatefulProcessor[(String, String), Event, RowState] {
    @transient private var row: ValueState[RowState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      row = getHandle.getValueState(
        "rowImage", Encoders.product[RowState], ttl)

    override def handleInputRows(
        key: (String, String), rows: Iterator[Event],
        timerValues: TimerValues): Iterator[RowState] = {
      val start = if (row.exists()) Some(row.get()) else None
      val next = Streams.applyFold(key, start, rows.toSeq)
      if (next.deleted) row.clear() else row.update(next)
      Iterator.single(next)
    }
  }

  /** Streaming merge-upsert apply keyed by (tbl, pk) — the unbounded form of
    * `ApplyEngine.applyState`, over the same per-op step
    * ([[Streams.applyStep]]): delete clears, partial payloads merge
    * (`src/domain/storage.ts:137-164`). Emits the post-image after each
    * micro-batch's events for the key (ordered by lsn within the batch).
    * Deleted keys emit a `deleted = true` tombstone and drop their state. */
  def applyStream(
      events: Dataset[Event],
      ttlMs: Long = 3600000L): Dataset[RowState] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlAndMode(ttlMs)
    events
      .groupByKey(e => (e.tbl, e.pk))
      .transformWithState(new ApplyProcessor(ttl), mode, OutputMode.Append())
  }

  /** Streaming polling capture (`sim/engines/PollingEngine.ts:59-84` as an
    * unbounded stream): tumbling event-time windows of `pollIntervalMs` per
    * key, emitting only the latest state per (key, window) once the
    * watermark closes the window — the poll's lossy-by-design semantics
    * (intermediate versions never leave the aggregation). A windowed
    * `max_by` on lsn, so state per key-window is O(1) and Spark's aggregate
    * owns it. A row arriving after the watermark closed its window is
    * dropped, never re-opens the window. The same call on a static Dataset
    * is the batch form. */
  def pollStream(
      events: Dataset[Event],
      pollIntervalMs: Long = 1000L,
      watermarkDelay: String = "10 seconds"): DataFrame = {
    import org.apache.spark.sql.functions._
    val interval = s"$pollIntervalMs milliseconds"
    events
      .withColumn("event_time", timestamp_millis(col("commitTs")))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), interval), col("tbl"), col("pk"))
      .agg(
        max_by(struct(col("opCode"), col("valV"), col("kV"), col("lsn")), col("lsn")).as("latest"),
        count(lit(1)).as("ops_in_window"))
      .select(
        col("tbl"), col("pk"),
        col("window.end").as("poll_ts"),
        col("latest.opCode").as("op_code"),
        col("latest.valV").as("after_val"),
        col("latest.kV").as("after_k"),
        col("ops_in_window"))
  }

  /** Streaming consumer throttle — the unbounded form of
    * `Consumer.throttleDrain` (`web/App.tsx:2106-2113,2185-2201`), over the
    * same per-event step ([[Streams.throttleStep]]): the per-lane token
    * bucket (tick, allowance, used) is keyed state carried across
    * micro-batches, so a lane's drain schedule is identical no matter how
    * the stream is chopped. Within a batch, events drain in
    * (availableAt, seq) order ([[Streams.throttleFold]]). */
  def throttleStream(
      events: Dataset[graft.cdc.Consumer.DeliveryIn],
      rate: Double,
      stepMs: Long = 50L,
      batchCap: Int = 50,
      ttlMs: Long = 0L): Dataset[graft.cdc.Consumer.DeliveryOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlAndMode(ttlMs)
    events
      .groupByKey(_.method)
      .transformWithState(
        new FoldProcessor[String, graft.cdc.Consumer.DeliveryIn, ThrottleState,
            graft.cdc.Consumer.DeliveryOut](
          "bucket", Encoders.product[ThrottleState], ttl)((_, st, rows) => {
          val (next, out) = throttleFold(
            st.getOrElse(EmptyBucket), rows, rate, stepMs, batchCap)
          (Some(next), out)
        }),
        mode, OutputMode.Append())
  }

  /** Streaming exact broker delivery — the unbounded form of
    * `Consumer.brokerDeliverExact` (`model.ts:246-263` `pollBroker`), over
    * the same per-event step ([[Streams.brokerStep]]): each partition's
    * (tick, used) queue state is keyed, so per-tick caps and head-of-line
    * FIFO order carry across micro-batches ([[Streams.brokerFold]]). Exactly-once FIFO requires lsn-ordered
    * arrival per partition (the broker's own guarantee). */
  def brokerDeliverStream(
      events: Dataset[graft.cdc.Consumer.BrokerIn],
      tickMs: Long = 50L,
      maxApplyPerTick: Int = 4): Dataset[graft.cdc.Consumer.BrokerOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.part)
      .transformWithState(
        new FoldProcessor[Int, graft.cdc.Consumer.BrokerIn, BrokerQueueState,
            graft.cdc.Consumer.BrokerOut](
          "queue", Encoders.product[BrokerQueueState], TTLConfig.NONE)((part, st, rows) => {
          val (next, out) = brokerFold(
            part, st.getOrElse(EmptyQueue), rows, tickMs, maxApplyPerTick)
          (Some(next), out)
        }),
        TimeMode.None(), OutputMode.Append())
  }

  /** Drift-broker (LIFO) processor: the per-partition (clock, pending
    * stack) in one `ValueState` — not a ListState, because the stack
    * mutates at its HEAD (every arrival prepends, every drain pops). The
    * fold is [[Streams.driftFold]]. `ttlMs > 0` arms one processing-time
    * timer, slid on every batch; if it fires with no new arrivals the stack
    * drains to empty. */
  class DriftBrokerProcessor(tickMs: Long, maxApplyPerTick: Int, ttlMs: Long)
      extends StatefulProcessor[Int, graft.cdc.Consumer.DriftIn, graft.cdc.Consumer.BrokerOut] {
    @transient private var queue: ValueState[DriftQueueState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      queue = getHandle.getValueState(
        "driftQueue", Encoders.product[DriftQueueState], TTLConfig.NONE)

    private def current: DriftQueueState =
      if (queue.exists()) queue.get() else EmptyStack

    override def handleInputRows(
        part: Int, rows: Iterator[graft.cdc.Consumer.DriftIn],
        timerValues: TimerValues): Iterator[graft.cdc.Consumer.BrokerOut] = {
      val (next, out) = Streams.driftFold(part, current, rows.toSeq, tickMs, maxApplyPerTick)
      queue.update(next)
      if (ttlMs > 0) {
        // slide the idle deadline: drop the old timer, arm a fresh one
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + ttlMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(
        part: Int, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[graft.cdc.Consumer.BrokerOut] = {
      val (_, out) = Streams.driftFold(part, current, Seq.empty, tickMs, maxApplyPerTick, flush = true)
      queue.clear()
      out.iterator
    }
  }

  /** Streaming exact drift-on broker delivery — the unbounded form of
    * `Consumer.brokerDeliverDriftExact` (`model.ts:141-149,246-263`), whose
    * batch form runs the same fold ([[Streams.driftFold]]): with
    * commit drift every event is spliced into the queue FRONT, so pending
    * events form a LIFO stack and a drifted head blocks older events.
    *
    * A batch can only simulate ticks strictly BEFORE its own latest arrival
    * tick — a later micro-batch may still deliver arrivals for that tick,
    * and they would stack on top and change what pops — so the final tick's
    * arrivals are pushed pending and their drain defers to the next batch.
    * That makes the fold exact under ARBITRARY micro-batch boundaries (the
    * only requirement is per-partition lsn-ordered arrival, as for
    * [[brokerDeliverStream]]). The tail of the stream stays pending until
    * either (a) `ttlMs` passes with no new arrivals — the timer drains the
    * stack to empty — or (b) a bounded replay appends a flush sentinel (an
    * event with `t` past every real arrival); tests use (b), so no wall
    * clock enters the assertion. */
  def brokerDeliverDriftStream(
      events: Dataset[graft.cdc.Consumer.DriftIn],
      tickMs: Long = 50L,
      maxApplyPerTick: Int = 4,
      ttlMs: Long = 0L): Dataset[graft.cdc.Consumer.BrokerOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.part)
      .transformWithState(
        new DriftBrokerProcessor(tickMs, maxApplyPerTick, ttlMs), timerMode(ttlMs),
        OutputMode.Append())
  }

  /** Rolling-lag ring processor: the last ≤ `lastN` lag samples per lane
    * (`src/engine/metrics.ts:42-44,97-139`), snapshot after every batch. */
  class LagRingProcessor(lastN: Int)
      extends StatefulProcessor[String, LagSample, LagSnapshot] {
    @transient private var ring: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ring = getHandle.getListState("lagRing", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        method: String, rows: Iterator[LagSample],
        timerValues: TimerValues): Iterator[LagSnapshot] = {
      val arrived = rows.toSeq.sortBy(s => (s.ord1, s.ord2)).map(_.lagMs)
      val kept = (ring.get().toSeq ++ arrived).takeRight(lastN).toIndexedSeq
      if (kept.isEmpty) Iterator.empty
      else {
        ring.put(kept.toArray)
        val sorted = kept.sorted
        // HALF_UP to 3 places — same rounding as the batch form's
        // `round(percentile(...), 3)`
        def r3(x: Double): Double =
          BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
        Iterator.single(LagSnapshot(
          method,
          r3(Streams.percentile(sorted, 0.5)),
          r3(Streams.percentile(sorted, 0.95)),
          sorted.last,
          kept.length))
      }
    }
  }

  /** Streaming rolling lag percentiles — the live form of the reference's
    * MetricsStore (`src/engine/metrics.ts:42-44,97-139`): a per-lane ring
    * of the LAST `lastN` lag samples, with a p50/p95/max snapshot emitted
    * after every micro-batch. Batch counterpart (same slice, same
    * interpolation): `MetricsAgg.lagPercentilesRolling`. Within a batch,
    * samples append in delivery order (ord1, ord2). */
  def lagRollingStream(
      samples: Dataset[LagSample],
      lastN: Int = 2000): Dataset[LagSnapshot] = {
    val spark = samples.sparkSession
    import spark.implicits._
    samples
      .groupByKey(_.method)
      .transformWithState(new LagRingProcessor(lastN), TimeMode.None(), OutputMode.Append())
  }

  /** Streaming schema-change capture: the unbounded form of
    * `SchemaEvolution.capture` — a per-table monotone version counter
    * (`bumpSchemaVersion`, `src/modes/logBased.ts:210-217`; destination max
    * rule `storage.ts:144-146`) carried across micro-batches
    * ([[Streams.schemaFold]]). Per-lane emission timing is a stateless
    * projection on top (`SchemaEvolution.captureLanes`' lane explode works
    * unchanged on a streaming frame). */
  def schemaCaptureStream(
      changes: Dataset[graft.cdc.SchemaEvolution.SchemaChange])
      : Dataset[VersionedSchemaChange] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes
      .groupByKey(_.tbl)
      .transformWithState(
        new FoldProcessor[String, graft.cdc.SchemaEvolution.SchemaChange,
            SchemaVersionState, VersionedSchemaChange](
          "schemaVersion", Encoders.product[SchemaVersionState], TTLConfig.NONE)(
          (_, st, rows) => {
            val (v, out) = schemaFold(st.map(_.version).getOrElse(1), rows)
            (Some(SchemaVersionState(v)), out)
          }),
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming form of [[graft.operators.AsOfJoin]]: enrich a probe stream
    * with the latest at-or-before build row per key, both sides arriving on
    * ONE tagged stream (union the two feeds upstream — the batch form's
    * trick, which makes batch↔streaming parity exact).
    *
    * Within a micro-batch, rows fold in (ts, tag) order with builds first on
    * ties ([[Streams.asOfFold]]); across batches the latest build per key
    * rides in keyed state, so a probe in a later batch still sees it. The
    * one semantic difference from batch, inherent to streaming: a build
    * row arriving in a LATER batch than a probe with a larger ts cannot
    * retro-enrich it (the probe already emitted) — bound skew with a
    * watermark upstream if the feeds can interleave across batches. State
    * is one (ts, id) pair per key; `ttlMs` evicts idle keys. */
  def asOfStream(rows: Dataset[AsOfIn], ttlMs: Long = 3600000L): Dataset[AsOfOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlAndMode(ttlMs)
    rows
      .groupByKey(_.key)
      .transformWithState(
        new FoldProcessor[Long, AsOfIn, AsOfState, AsOfOut](
          "latestBuild", Encoders.product[AsOfState], ttl)(asOfFold),
        mode, OutputMode.Append())
  }

  /** Streaming per-source token-budget admission — the ingest-time quota
    * gate: state is ONE long (tokens consumed) per source, carried across
    * micro-batches ([[Streams.budgetFold]]), so a runaway feed is cut off at
    * write time without any global coordination; exactly-once under
    * checkpoint resume (FailureDrillSpec). A strict GLOBAL budget would
    * serialize the world through one key — the per-source shard is the
    * scalable contract, and the curation-time global cut stays a batch job
    * ([[graft.llm.Corpus.tokenBudget]]). TTL expiry drops the counter. */
  def budgetAdmissionStream(
      rows: Dataset[BudgetIn],
      budgetPerSource: Long = 2000L,
      ttlMs: Long = 3600000L): Dataset[BudgetOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlAndMode(ttlMs)
    rows
      .groupByKey(_.source)
      .transformWithState(
        new FoldProcessor[String, BudgetIn, Long, BudgetOut](
          "usedTokens", Encoders.scalaLong, ttl)((source, st, in) => {
          val (used, out) = budgetFold(source, st, in, budgetPerSource)
          (Some(used), out)
        }),
        mode, OutputMode.Append())
  }

  /** Streaming ordered-conversion funnel — the incremental twin of
    * [[graft.operators.EventAnalytics.funnel]]: per-user stage progress
    * (≤ |steps| longs) as keyed state, one [[Streams.FunnelAdvance]] per
    * (user, stage) ever ([[Streams.funnelFold]]), so the downstream
    * per-stage count is an append-only aggregate instead of a re-scan of
    * history. */
  def funnelStream(
      events: Dataset[EventIn],
      steps: Seq[String] = Seq("signup", "click", "purchase"),
      ttlMs: Long = 0L): Dataset[FunnelAdvance] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlAndMode(ttlMs)
    events
      .groupByKey(_.userId)
      .transformWithState(
        new FoldProcessor[Long, EventIn, FunnelProgress, FunnelAdvance](
          "funnelProgress", Encoders.product[FunnelProgress], ttl)((_, st, rows) => {
          val (next, out) = funnelFold(steps, st, rows)
          (Some(next), out)
        }),
        mode, OutputMode.Append())
  }

  /** Streaming twin of the batch transition matrix: one previous-event
    * tuple of state per user ([[Streams.transitionsFold]]); each arriving
    * event emits its (previous → current) pair, so the matrix downstream is
    * an append-only count per (from, to) instead of a `lead` window over all
    * history. `events` rows are (userId, eventId, eventType, tMs). TTL
    * expiry drops the tuple: a re-appearing user starts a new chain. */
  def transitionsStream(
      events: Dataset[(Long, Long, String, Long)],
      ttlMs: Long = 0L): Dataset[TransitionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlAndMode(ttlMs)
    events
      .groupByKey(_._1)
      .transformWithState(
        new FoldProcessor[Long, (Long, Long, String, Long), LastEvent, TransitionOut](
          "lastEvent", Encoders.product[LastEvent], ttl)((uid, st, rows) =>
          transitionsFold(uid, st, rows.map(e => (e._2, e._3, e._4)))),
        mode, OutputMode.Append())
  }

  /** Streaming cohort-retention twin of
    * [[graft.operators.EventAnalytics.retention]]: per-user (cohort day,
    * marked-day set) state, one [[Streams.RetentionMark]] per (user, active
    * day) ever ([[Streams.retentionFold]]). Pre-signup same-day activity is
    * buffered in `pending`, so stream == batch even when the activity row
    * arrives before its user's signup row. */
  def retentionStream(
      events: Dataset[EventIn],
      ttlMs: Long = 0L): Dataset[RetentionMark] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlAndMode(ttlMs)
    events
      .groupByKey(_.userId)
      .transformWithState(
        new FoldProcessor[Long, EventIn, RetentionState, RetentionMark](
          "retention", Encoders.product[RetentionState], ttl)((uid, st, rows) => {
          val (next, out) = retentionFold(uid, st, rows)
          (Some(next), out)
        }),
        mode, OutputMode.Append())
  }

  /** Streaming last-touch attribution twin of
    * [[graft.operators.EventAnalytics.attribution]]: ONE carried touch tuple
    * per user ([[Streams.attributionFold]]); every purchase emits exactly
    * once, already credited, so the channel ledger downstream is an
    * append-only (count, ticks) aggregate. Money stays integer ticks. */
  def attributionStream(
      events: Dataset[AttrIn],
      touchTypes: Set[String] = Set("click", "view"),
      ttlMs: Long = 0L): Dataset[AttributionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlAndMode(ttlMs)
    events
      .groupByKey(_.userId)
      .transformWithState(
        new FoldProcessor[Long, AttrIn, LastEvent, AttributionOut](
          "lastTouch", Encoders.product[LastEvent], ttl)((uid, st, rows) =>
          attributionFold(uid, touchTypes, st, rows)),
        mode, OutputMode.Append())
  }

  /** [[Streams.ActivityState]] plus the last-touch processing time the
    * timer-based TTL eviction needs (a timer is registered per batch and a
    * stale-timer guard compares against `lastTouchMs`). */
  case class ActivityStateV2(days: Seq[Long], everActive: Boolean,
      lastTouchMs: Long)

  /** DAU / new-vs-returning processor over [[Streams.activityFold]]. TTL
    * expiry drops the day SET but keeps the one-boolean `everActive`
    * tombstone, so a re-appearing user's days re-emit as returning, never
    * as a second `new` — the conservative direction (DAU may overcount a
    * TTL-evicted user's revisited day; `new_users` never inflates). */
  class ActivityProcessor(ttlMs: Long)
      extends StatefulProcessor[Long, EventIn, DayActive] {
    @transient private var st: ValueState[ActivityStateV2] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState(
        "activity", Encoders.product[ActivityStateV2], TTLConfig.NONE)

    override def handleInputRows(
        userId: Long, rows: Iterator[EventIn],
        timerValues: TimerValues): Iterator[DayActive] = {
      val start = if (st.exists()) {
        val s = st.get(); Some(ActivityState(s.days, s.everActive))
      } else None
      val (next, out) = Streams.activityFold(userId, start, rows.toSeq)
      val now = timerValues.getCurrentProcessingTimeInMs()
      st.update(ActivityStateV2(next.days, next.everActive, now))
      if (ttlMs > 0) {
        // one pending timer per key, not one per batch: a key active
        // every micro-batch would otherwise accumulate a timer per batch
        // within each TTL window (the stale guard keeps that CORRECT but
        // timer-state size and expired-timer invocations grow with batch
        // rate) — same discipline as DriftBrokerProcessor
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(now + ttlMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(
        userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[DayActive] = {
      // a timer registered before a later touch is STALE — only evict
      // when the key has been silent for a full TTL
      if (st.exists() &&
          timerValues.getCurrentProcessingTimeInMs() - st.get().lastTouchMs >= ttlMs)
        st.update(st.get().copy(days = Seq.empty, everActive = true))
      Iterator.empty
    }
  }

  /** Streaming DAU / new-vs-returning twin of
    * [[graft.operators.EventAnalytics.newVsReturning]]: per-user
    * active-day-set state, one [[Streams.DayActive]] per (user, day) ever.
    * Aggregating the emitted stream by day reproduces the batch ledger
    * (dau / new_users / returning_users) at any point in time. */
  def activityStream(
      events: Dataset[EventIn],
      ttlMs: Long = 0L): Dataset[DayActive] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.userId)
      .transformWithState(new ActivityProcessor(ttlMs), timerMode(ttlMs), OutputMode.Append())
  }

  /** [[Streams.GrowthState]] plus the last-touch processing time (same
    * stale-timer discipline as [[ActivityStateV2]]). */
  case class GrowthStateV2(lastWeek: Long, churned: Boolean, lastTouchMs: Long)

  /** Growth-accounting processor over [[Streams.growthFold]]: expiry emits
    * the silent `churned` row and keeps the (lastWeek, churned=true)
    * tombstone, so a return classifies `resurrected`, never a second
    * `new`. */
  class GrowthProcessor(ttlMs: Long)
      extends StatefulProcessor[Long, EventIn, GrowthMark] {
    @transient private var st: ValueState[GrowthStateV2] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState(
        "growth", Encoders.product[GrowthStateV2], TTLConfig.NONE)

    override def handleInputRows(
        userId: Long, rows: Iterator[EventIn],
        timerValues: TimerValues): Iterator[GrowthMark] = {
      val start = if (st.exists()) {
        val s = st.get(); Some(GrowthState(s.lastWeek, s.churned))
      } else None
      val (next, out) = Streams.growthFold(userId, start, rows.toSeq)
      val now = timerValues.getCurrentProcessingTimeInMs()
      st.update(GrowthStateV2(next.lastWeek, next.churned, now))
      if (ttlMs > 0) {
        // one pending timer per key (see ActivityProcessor)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(now + ttlMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(
        userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[GrowthMark] = {
      if (st.exists() &&
          timerValues.getCurrentProcessingTimeInMs() - st.get().lastTouchMs >= ttlMs) {
        val s = st.get()
        if (s.lastWeek >= 0 && !s.churned) {
          st.update(s.copy(churned = true))
          return Iterator.single(GrowthMark(userId, s.lastWeek + 1, "churned"))
        }
      }
      Iterator.empty
    }
  }

  /** Streaming weekly growth-accounting twin of
    * [[graft.operators.EventAnalytics.growthAccounting]]: one last-active
    * week of state per user, each classification emitted the moment its
    * evidence arrives. With `ttlMs = 0` the event-driven kinds
    * (new/retained/resurrected + gap churn) stream exactly. Silent churn —
    * a user who never returns — has no closing event, so it emits on TTL
    * expiry as `churned` at lastWeek+1, what the batch ledger attributes
    * once max-week passes the user's silence.
    *
    * TTL trade-off (pinned in EventStreamSpec): if the TTL fires before the
    * user's gap is real (they return in week lastWeek+1), the stream has
    * emitted churned+resurrected where the batch ledger says `retained` —
    * an append-only stream cannot retract an eviction-time mark; choose
    * `ttlMs` ≫ the week cadence. */
  def growthStream(
      events: Dataset[EventIn],
      ttlMs: Long = 0L): Dataset[GrowthMark] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.userId)
      .transformWithState(new GrowthProcessor(ttlMs), timerMode(ttlMs), OutputMode.Append())
  }

  /** Streaming RFM twin of [[graft.operators.EventAnalytics.rfm]]: three
    * running totals per purchasing user ([[Streams.rfmFold]]); every
    * purchase batch emits a superseding snapshot, so the segmentation table
    * downstream is a latest-mark-per-user upsert plus the fixed scoring
    * projection. Money stays integer ticks. TTL expiry drops the totals: a
    * re-appearing purchaser restarts them, which the latest-mark-wins
    * consumer surfaces as a visible reset rather than wrong arithmetic. */
  def rfmStream(
      events: Dataset[AttrIn],
      ttlMs: Long = 0L): Dataset[RfmMark] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlAndMode(ttlMs)
    events
      .groupByKey(_.userId)
      .transformWithState(
        new FoldProcessor[Long, AttrIn, RfmState, RfmMark](
          "rfmTotals", Encoders.product[RfmState], ttl)(rfmFold),
        mode, OutputMode.Append())
  }

  /** Streaming cohort-LTV twin of
    * [[graft.operators.EventAnalytics.cohortLtv]]: one cohort day of state
    * per user ([[Streams.ltvFold]]); every purchase emits already
    * cohort-attributed, so the LTV triangle downstream is an append-only
    * (cohortDay, weekOffset) aggregate. TTL expiry forgets a cohort — the
    * user's LATER purchases drop from the triangle (revenue undercounts;
    * cohort sizes never double-count, the entry mark emitted once). */
  def ltvStream(
      events: Dataset[AttrIn],
      ttlMs: Long = 0L): Dataset[LtvMark] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlAndMode(ttlMs)
    events
      .groupByKey(_.userId)
      .transformWithState(
        new FoldProcessor[Long, AttrIn, LtvState, LtvMark](
          "ltvCohort", Encoders.product[LtvState], ttl)((uid, st, rows) => {
          val (next, out) = ltvFold(uid, st, rows)
          (Some(next).filter(_.cohortDay >= 0), out)
        }),
        mode, OutputMode.Append())
  }

  /** SCD2 processor over [[Streams.scd2Fold]]: the OPEN dimension version
    * plus the version counter per key. TTL eviction emits the OPEN version
    * with [[Streams.ScdEvictedOpen]] as its `validTo` (a silently dropped
    * open row would be a dimension history that never ends) and then
    * REMOVES the state — a re-appearing key restarts its version counter at
    * 1. One pending timer per key, slid on every batch, so it fires only
    * after a full TTL of silence. */
  class Scd2Processor(ttlMs: Long)
      extends StatefulProcessor[(String, String), ScdIn, ScdOut] {
    @transient private var st: ValueState[ScdState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState(
        "scd2Open", Encoders.product[ScdState], TTLConfig.NONE)

    override def handleInputRows(
        key: (String, String), rows: Iterator[ScdIn],
        timerValues: TimerValues): Iterator[ScdOut] = {
      val start = if (st.exists()) Some(st.get()) else None
      val (next, out) = Streams.scd2Fold(start, rows.toSeq)
      next.foreach(st.update)
      if (ttlMs > 0) {
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + ttlMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(
        key: (String, String), timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[ScdOut] = {
      val evicted =
        if (st.exists()) {
          val p = st.get()
          if (p.open)
            Some(ScdOut(key._1, key._2, p.openVer, p.validFrom,
              ScdEvictedOpen, p.v, p.kk))
          else None
        } else None
      st.clear()
      evicted.iterator
    }
  }

  /** Streaming SCD Type-2 dimension builder — the incremental twin of
    * [[graft.cdc.ApplyEngine.scd2]]: each arriving op emits the version it
    * closes (exactly once, in Append mode) and a non-delete opens the next.
    * The emitted feed equals the batch history's `is_current = false` rows
    * at any point — the open (current) versions live only in state. A
    * warehouse consuming this feed appends closed versions and maintains
    * current rows from the companion apply stream, so the dimension table
    * needs no rebuild scan at 100 TB. */
  def scd2Stream(
      ops: Dataset[ScdIn],
      ttlMs: Long = 0L): Dataset[ScdOut] = {
    val spark = ops.sparkSession
    import spark.implicits._
    ops
      .groupByKey(o => (o.tbl, o.pk))
      .transformWithState(new Scd2Processor(ttlMs), timerMode(ttlMs), OutputMode.Append())
  }

  /** Streaming liveness monitor — the incremental twin of
    * [[graft.cdc.Capture.heartbeatGaps]]' stall count: one (lsn, t) tuple of
    * state per table ([[Streams.heartbeatFold]]), a [[Streams.StallOut]]
    * emitted exactly once per above-threshold gap, the moment its closing
    * tick arrives. `count by tbl` over the emitted stream equals the batch
    * ledger's `n_stalls` at any point. TTL expiry drops the tuple silently
    * (a table going quiet is itself a gap the next tick reports). */
  def heartbeatStream(
      ticks: Dataset[OpTick],
      stallMs: Long = 60000L,
      ttlMs: Long = 0L): Dataset[StallOut] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlAndMode(ttlMs)
    ticks
      .groupByKey(_.tbl)
      .transformWithState(
        new FoldProcessor[String, OpTick, TickState, StallOut](
          "lastTick", Encoders.product[TickState], ttl)((_, st, rows) =>
          heartbeatFold(stallMs, st, rows)),
        mode, OutputMode.Append())
  }

  /** Streaming gap sessionization — the incremental twin of
    * [[graft.operators.Sessions.sessionize]], which is built on the same
    * native `session_window` aggregate: here the plan runs under a
    * watermark, with Spark's session machinery owning per-key session
    * merge in the state store, watermark-driven close and exactly-once
    * emission from the checkpoint.
    *
    * A session extends while same-user events arrive within `gapMs`; in
    * Append mode a (user, session) row emits ONCE, when the event-time
    * watermark (max seen time − `watermarkDelayMs`) passes the session's
    * end — the closed-session feed, equal to the batch rows for every
    * session the watermark has closed. Late events beyond the allowance are
    * dropped by the watermark, exactly the loss
    * [[graft.cdc.Capture.watermarkCurve]] prices. State is bounded by OPEN
    * sessions (closed ones are evicted at emission). */
  def sessionStream(
      events: Dataset[EventIn],
      gapMs: Long = 28800000L,
      watermarkDelayMs: Long = 0L): DataFrame = {
    import org.apache.spark.sql.functions._
    events.toDF()
      .select(
        col("userId").as("user_id"),
        timestamp_millis(col("tMs")).as("_t"))
      .withWatermark("_t", s"$watermarkDelayMs milliseconds")
      .groupBy(
        col("user_id"),
        session_window(col("_t"), s"$gapMs milliseconds").as("_w"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_millis(col("_w.start")).as("session_start"),
        unix_millis(col("_w.end")).as("session_end"),
        col("n_events"))
  }
}
