package graft.streaming

/** Wire and state types of the streaming operators, and the pure per-batch
  * folds that define their semantics.
  *
  * Each `*Fold` takes the carried state and one micro-batch of a key's rows
  * and returns the next state and the emitted rows; chopped == one-shot on
  * the documented arrival order (FoldPropertiesSpec). The operators that
  * run them on a stream are in [[StreamsV2]].
  *
  * The sequential CDC operators (merge-upsert apply, token-bucket
  * throttle, FIFO broker) are a per-event `*Step` that both forms run: the
  * fold sorts a micro-batch and threads the step from the carried state;
  * the batch operator in `graft.cdc` threads it through each key's sorted
  * group from the key's empty state. The drift broker's batch form runs
  * [[driftFold]] itself.
  */
object Streams {

  /** A change event on the wire (subset of the Debezium-style envelope,
    * `sim/core/types.ts:42-54`). */
  case class Event(
      txId: String, txIndex: Int, txTotal: Int, last: Boolean,
      tbl: String, pk: String, opCode: String,
      setsVal: Boolean, valV: Option[Double], setsK: Boolean, kV: Option[Long],
      commitTs: Long, lsn: Long)

  /** Txn completion (`src/changefeed/model.ts:176-205`): complete when the
    * declared event count has arrived. The `last` flag alone is NOT
    * completion — under broker drift the last-indexed event can arrive
    * first, and trusting it would emit a truncated transaction and orphan
    * its late siblings. `last` only decides when the total is unknown
    * (unknowable-total streams mark completion explicitly). */
  private[streaming] def txnComplete(buf: Seq[Event]): Boolean = {
    val total = buf.headOption.map(_.txTotal).getOrElse(Int.MaxValue)
    if (total > 0 && total != Int.MaxValue) buf.size >= total
    else buf.exists(_.last)
  }

  /** An assembled transaction ready to apply atomically. */
  case class AssembledTxn(
      txId: String, nEvents: Int, commitTs: Long, firstLsn: Long,
      events: Seq[Event])

  /** Thread a per-event `step` from `init` through `events`, lazily: the
    * emitted rows in order, and the carried state as `state` once they are
    * consumed. A batch operator maps a key group's sorted iterator through
    * it; a `*Fold` drains one sorted micro-batch and keeps `state`. */
  final class Threaded[S, I, O](init: S, events: Iterator[I], step: (S, I) => (S, O))
      extends Iterator[O] {
    var state: S = init
    def hasNext: Boolean = events.hasNext
    def next(): O = {
      val (s, o) = step(state, events.next())
      state = s
      o
    }
  }

  private def thread[S, I, O](st: S, sorted: Seq[I])(step: (S, I) => (S, O)): (S, Seq[O]) = {
    val t = new Threaded(st, sorted.iterator, step)
    val out = t.toVector
    (t.state, out)
  }

  /** Materialized destination row emitted by the streaming apply. */
  case class RowState(
      tbl: String, pk: String, valV: Option[Double], kV: Option[Long],
      version: Long, deleted: Boolean, lastLsn: Long = 0L)

  /** A key's image before its first op, and after a delete. */
  def tombstone(tbl: String, pk: String): RowState =
    RowState(tbl, pk, None, None, 0L, deleted = true)

  /** One merge-upsert op (`src/domain/storage.ts:137-164`): delete resets to
    * the tombstone; insert/update shallow-merge the partial payload over the
    * current image (`{...current, ...after}` — only the fields the op sets
    * overwrite) and count one more version in the row's current lifetime. */
  def applyStep(cur: RowState, delete: Boolean, setsVal: Boolean, valV: Option[Double],
      setsK: Boolean, kV: Option[Long], lsn: Long): RowState =
    if (delete) tombstone(cur.tbl, cur.pk).copy(lastLsn = lsn)
    else {
      val base = if (cur.deleted) tombstone(cur.tbl, cur.pk) else cur
      base.copy(
        valV = if (setsVal) valV else base.valV,
        kV = if (setsK) kV else base.kV,
        version = base.version + 1,
        deleted = false,
        lastLsn = lsn)
    }

  /** One apply step for a batch of same-key events — the fold of
    * [[StreamsV2.applyStream]]: events process in lsn order through
    * [[applyStep]]. */
  def applyFold(key: (String, String), start: Option[RowState],
      incoming: Seq[Event]): RowState =
    incoming.sortBy(_.lsn).foldLeft(start.getOrElse(tombstone(key._1, key._2))) { (cur, e) =>
      applyStep(cur, e.opCode == "d", e.setsVal, e.valV, e.setsK, e.kV, e.lsn)
    }

  /** Token-bucket carry-over state for the streaming throttle. */
  case class ThrottleState(tick: Long, allowance: Double, usedThisTick: Int)

  /** A lane's bucket before its first event. */
  val EmptyBucket: ThrottleState = ThrottleState(0L, 0.0, 0)

  /** One event through the token bucket (`web/App.tsx:2106-2113,2185-2201`):
    * every `stepMs` tick, `allowance += rate * stepMs / 1000` capped at
    * `5 * rate`; a tick drains at most `min(floor(allowance), batchCap)`
    * events. Drain order is arrival order (FIFO per lane), so the event
    * drains at the first tick with a token and quota left. The clock jumps
    * straight to the event's availability tick: idle ticks only accrue
    * allowance, which the cap bounds, so the jump is lossless (ticking one
    * step at a time through epoch timestamps would spin forever). */
  def throttleStep(rate: Double, stepMs: Long, batchCap: Int)(
      st: ThrottleState, e: graft.cdc.Consumer.DeliveryIn)
      : (ThrottleState, graft.cdc.Consumer.DeliveryOut) = {
    val cap = 5 * rate
    val perTick = rate * stepMs / 1000.0
    var tick = st.tick
    var allowance = st.allowance
    var used = st.usedThisTick
    val needTick = Math.floorDiv(e.availableAt - 1, stepMs) + 1
    if (needTick > tick) {
      allowance = math.min(allowance + perTick * (needTick - tick), cap)
      tick = needTick
      used = 0
    }
    while (allowance < 1.0 || used >= batchCap) {
      tick += 1
      allowance = math.min(allowance + perTick, cap)
      used = 0
    }
    (ThrottleState(tick, allowance - 1, used + 1),
      graft.cdc.Consumer.DeliveryOut(e.method, e.seq, e.availableAt, tick, tick * stepMs))
  }

  /** One micro-batch step of the token-bucket drain: `incoming` (any
    * order) drains in (availableAt, seq) order through [[throttleStep]],
    * returning the carried state and the drained events
    * ([[StreamsV2.throttleStream]]). */
  def throttleFold(
      st: ThrottleState,
      incoming: Seq[graft.cdc.Consumer.DeliveryIn],
      rate: Double, stepMs: Long, batchCap: Int)
      : (ThrottleState, Seq[graft.cdc.Consumer.DeliveryOut]) =
    thread(st, incoming.sortBy(e => (e.availableAt, e.seq)))(
      throttleStep(rate, stepMs, batchCap))

  /** Per-partition queue state for the streaming broker delivery. */
  case class BrokerQueueState(tick: Long, usedThisTick: Int)

  /** A broker partition's queue before its first event. */
  val EmptyQueue: BrokerQueueState = BrokerQueueState(0L, 0)

  /** One event off a FIFO broker queue (`model.ts:246-263` `pollBroker`):
    * events leave in enqueue (lsn) order, an unavailable head blocks
    * everything behind it, and a tick delivers at most `maxApplyPerTick`;
    * a dropped event uses quota without being delivered. */
  def brokerStep(tickMs: Long, maxApplyPerTick: Int)(
      st: BrokerQueueState, e: graft.cdc.Consumer.BrokerIn)
      : (BrokerQueueState, graft.cdc.Consumer.BrokerOut) = {
    // first tick whose clock (tick·tickMs) has reached availableAt
    val availTick = Math.floorDiv(e.availableAt - 1, tickMs) + 1
    var tick = st.tick
    var used = st.usedThisTick
    if (availTick > tick) { tick = availTick; used = 0 }
    if (used >= maxApplyPerTick) { tick += 1; used = 0 }
    (BrokerQueueState(tick, used + 1), graft.cdc.Consumer.BrokerOut(
      e.part, e.lsn, e.availableAt, e.dropped, tick, tick * tickMs))
  }

  /** One micro-batch step of the FIFO broker delivery: `incoming` (any
    * order) drains in lsn order — the enqueue order — through
    * [[brokerStep]] ([[StreamsV2.brokerDeliverStream]]). */
  def brokerFold(
      part: Int,
      st: BrokerQueueState,
      incoming: Seq[graft.cdc.Consumer.BrokerIn],
      tickMs: Long, maxApplyPerTick: Int)
      : (BrokerQueueState, Seq[graft.cdc.Consumer.BrokerOut]) =
    thread(st, incoming.sortBy(_.lsn))(brokerStep(tickMs, maxApplyPerTick))

  /** A pending drift-broker stack entry (public for the state encoder). */
  case class DriftEntry(lsn: Long, t: Long, availableAt: Long, dropped: Boolean)

  /** Drift-broker queue state: the simulation clock plus the pending LIFO
    * stack (head first). Stack size is bounded by the partition backlog —
    * the same bound the reference's in-memory queue carries. */
  case class DriftQueueState(tick: Long, stack: Seq[DriftEntry])

  /** A drift-broker partition before its first event. */
  val EmptyStack: DriftQueueState = DriftQueueState(0L, Seq.empty)

  /** One micro-batch step of the drift-broker LIFO drain. Simulates ticks
    * strictly BEFORE the batch's latest arrival tick, pushes the final
    * tick's arrivals pending (their drain belongs to the next batch — see
    * [[StreamsV2.brokerDeliverDriftStream]]'s
    * exactness argument), and returns the carried (clock, stack) state.
    * `flush = true` means no more arrivals are coming: drain to empty. */
  def driftFold(
      part: Int,
      st: DriftQueueState,
      incomingAnyOrder: Seq[graft.cdc.Consumer.DriftIn],
      tickMs: Long, maxApplyPerTick: Int,
      flush: Boolean = false)
      : (DriftQueueState, Seq[graft.cdc.Consumer.BrokerOut]) = {
    def tickOf(x: Long) = Math.floorDiv(x - 1, tickMs) + 1
    val stack = scala.collection.mutable.ArrayDeque.from(st.stack)
    var tick = st.tick
    val out = scala.collection.mutable.ArrayBuffer.empty[graft.cdc.Consumer.BrokerOut]
    // simulate ticks ≤ maxTick; returns how many arrivals were consumed
    def drainUpTo(maxTick: Long, arrivals: IndexedSeq[graft.cdc.Consumer.DriftIn]): Int = {
      var i = 0
      var continue = true
      while (continue) {
        val nextArr = if (i < arrivals.length) tickOf(arrivals(i).t) else Long.MaxValue
        val nextDrain =
          if (stack.nonEmpty) math.max(tick + 1, tickOf(stack.head.availableAt))
          else Long.MaxValue
        val T = math.min(nextArr, nextDrain)
        if (T > maxTick) continue = false
        else {
          while (i < arrivals.length && tickOf(arrivals(i).t) <= T) {
            val e = arrivals(i)
            stack.prepend(DriftEntry(e.lsn, e.t, e.availableAt, e.dropped))
            i += 1
          }
          var used = 0
          while (stack.nonEmpty && used < maxApplyPerTick &&
              tickOf(stack.head.availableAt) <= T) {
            val e = stack.removeHead()
            out += graft.cdc.Consumer.BrokerOut(
              part, e.lsn, e.availableAt, e.dropped, T, T * tickMs)
            used += 1
          }
          tick = T
        }
      }
      i
    }
    if (flush) {
      drainUpTo(Long.MaxValue - 1, IndexedSeq.empty)
      (DriftQueueState(tick, Seq.empty), out.toSeq)
    } else {
      val arrivals = incomingAnyOrder.toIndexedSeq.sortBy(_.lsn)
      if (arrivals.nonEmpty) {
        val consumed = drainUpTo(arrivals.map(e => tickOf(e.t)).max - 1, arrivals)
        // the final tick's arrivals were not consumed by the loop: push
        // them pending in lsn order (each lands on top, newest at the
        // head); their drain belongs to the next batch, which may still
        // add same-tick arrivals above them
        arrivals.drop(consumed).foreach { e =>
          stack.prepend(DriftEntry(e.lsn, e.t, e.availableAt, e.dropped))
        }
      }
      (DriftQueueState(tick, stack.toSeq), out.toSeq)
    }
  }

  /** A consumed-lag sample in lane delivery order. */
  case class LagSample(method: String, ord1: Long, ord2: Long, lagMs: Long)

  /** Rolling-percentile snapshot emitted after each micro-batch per lane. */
  case class LagSnapshot(method: String, p50: Double, p95: Double, maxLag: Long, windowN: Int)

  /** Exact interpolating percentile over a sorted sample array — the
    * reference's `percentile` (`src/engine/metrics.ts:131-139`:
    * `index = (n-1)·p`, linear interpolation between floor and ceil; same
    * definition as Spark's `percentile` and DuckDB's `quantile_cont`). */
  private[streaming] def percentile(sorted: IndexedSeq[Long], p: Double): Double = {
    val idx = (sorted.length - 1) * p
    val lo = math.floor(idx).toInt
    val hi = math.ceil(idx).toInt
    if (lo == hi) sorted(lo).toDouble
    else sorted(lo) + (idx - lo) * (sorted(hi) - sorted(lo))
  }

  /** A schema change with its version transition assigned. */
  case class VersionedSchemaChange(
      tbl: String, action: String, column: String, commitTs: Long,
      prevVersion: Int, nextVersion: Int, kind: String)

  /** Per-table version counter state (public for the state encoder). */
  case class SchemaVersionState(version: Int)

  /** One micro-batch step of the per-table version counter: changes apply
    * in the batch form's deterministic (commitTs, column) order
    * ([[StreamsV2.schemaCaptureStream]]). */
  def schemaFold(
      version: Int,
      incoming: Seq[graft.cdc.SchemaEvolution.SchemaChange])
      : (Int, Seq[VersionedSchemaChange]) = {
    var v = version
    val out = incoming.sortBy(c => (c.commitTs, c.column)).map { c =>
      val prev = v
      v += 1
      VersionedSchemaChange(
        c.tbl, c.action, c.column, c.commitTs, prev, v,
        if (c.action == "ADD_COLUMN") "SCHEMA_ADD_COL" else "SCHEMA_DROP_COL")
    }
    (v, out)
  }

  /** One tagged row of an as-of stream: build rows (`isBuild`) carry the
    * lookup value, probe rows get enriched. */
  case class AsOfIn(key: Long, ts: Long, isBuild: Boolean, id: Long)

  /** Enriched probe row: the latest build id/ts at-or-before the probe. */
  case class AsOfOut(key: Long, ts: Long, id: Long,
      matchId: Option[Long], matchTs: Option[Long])

  /** Latest build row seen per key. */
  case class AsOfState(ts: Long, id: Long)

  /** The in-batch as-of fold of [[StreamsV2.asOfStream]]: rows sort
    * in (ts, tag) order with builds first on ties — inclusive as-of,
    * matching the batch form's window order — and the latest build carries
    * forward. Returns (next state, enriched probes). */
  def asOfFold(
      key: Long,
      start: Option[AsOfState],
      incoming: Seq[AsOfIn]): (Option[AsOfState], Seq[AsOfOut]) = {
    val ordered = incoming.sortBy(r => (r.ts, r.isBuild, r.id))(
      Ordering.Tuple3(Ordering.Long, Ordering.Boolean.reverse, Ordering.Long))
    var latest = start
    val out = Seq.newBuilder[AsOfOut]
    ordered.foreach { r =>
      if (r.isBuild) {
        // equal-ts builds: larger id wins, same as the batch dedup
        if (latest.forall(s => r.ts > s.ts || (r.ts == s.ts && r.id >= s.id)))
          latest = Some(AsOfState(r.ts, r.id))
      } else {
        out += AsOfOut(key, r.ts, r.id, latest.map(_.id), latest.map(_.ts))
      }
    }
    (latest, out.result())
  }

  /** A document arriving at the ingest gate: (source, doc id, token count). */
  case class BudgetIn(source: String, docId: Long, nTokens: Long)

  /** Budget-gate verdict: the running per-source token total INCLUDING this
    * doc, and whether it still fits the source's budget. */
  case class BudgetOut(
      source: String, docId: Long, nTokens: Long,
      cumSourceTokens: Long, admitted: Boolean)

  /** One budget step: fold a batch of same-source arrivals (docId order —
    * the arrival order contract every fold here shares) onto the running
    * token total. `used` counts ALL arrived tokens, admitted or not, so the
    * verdict matches the batch window form (`Corpus.sourceBudget`) exactly:
    * admitted ⇔ cum ≤ budget. Deterministic: chopped == one-shot on
    * docId-ordered feeds (FoldPropertiesSpec). */
  def budgetFold(
      key: String,
      start: Option[Long],
      incoming: Seq[BudgetIn],
      budget: Long): (Long, Seq[BudgetOut]) = {
    var used = start.getOrElse(0L)
    val out = incoming.sortBy(_.docId).map { r =>
      used += r.nTokens
      BudgetOut(key, r.docId, r.nTokens, used, used <= budget)
    }
    (used, out)
  }

  // ─────────────────── event analytics (funnel / retention / …) ──────────

  /** A product event on the stream: user, type, event time in millis
    * (the batch forms read `ts div 1000000` off the nanos column —
    * [[graft.operators.EventAnalytics]]). */
  case class EventIn(userId: Long, eventType: String, tMs: Long)

  /** A funnel advance: `userId` first completed `stage` (1-based) at
    * `tMs`. Each (user, stage) emits AT MOST ONCE, so
    * `count(*) group by stage` over the emitted stream equals the batch
    * funnel's per-step `n_users` at any point in time. */
  case class FunnelAdvance(userId: Long, stage: Int, stageName: String,
      tMs: Long)

  /** Per-user funnel state: first-completion time of each reached stage
    * (a ≤ |steps|-element prefix — bounded by construction). */
  case class FunnelProgress(times: Seq[Long])

  /** One funnel step for a batch of same-user events — the shared fold
    * both the stream and its tests drive ([[StreamsV2.funnelStream]]). First-touch
    * semantics on ORDERED ARRIVALS (events non-decreasing in `tMs` across
    * the feed — the same arrival-order contract [[budgetFold]] states):
    * stage k+1 completes at the first step-(k+1) event STRICTLY after
    * stage k's completion, which on a time-ordered replay is exactly the
    * batch form's `min t > c_k` — so chopped == one-shot and
    * stream == batch hold on ordered feeds (EventStreamSpec). A feed with
    * genuine cross-batch time travel needs the batch funnel re-run; the
    * watermark drills ([[graft.cdc.Capture.watermarkCurve]]) quantify how
    * much of such a feed a lateness allowance would rescue. */
  def funnelFold(
      steps: Seq[String],
      start: Option[FunnelProgress],
      incoming: Seq[EventIn]): (FunnelProgress, Seq[FunnelAdvance]) = {
    var times = start.map(_.times.toVector).getOrElse(Vector.empty)
    val out = scala.collection.mutable.ArrayBuffer.empty[FunnelAdvance]
    incoming.sortBy(e => (e.tMs, e.eventType)).foreach { e =>
      val reached = times.length
      if (reached < steps.length && e.eventType == steps(reached) &&
          (reached == 0 || e.tMs > times.last)) {
        times = times :+ e.tMs
        out += FunnelAdvance(e.userId, reached + 1, steps(reached), e.tMs)
      }
    }
    (FunnelProgress(times), out.toSeq)
  }

  /** An observed transition: `userId` went `fromType` → `toType` at
    * `tMs` (the destination event's time). `count(*) group by fromType,
    * toType` over the emitted stream equals the batch
    * [[graft.operators.EventAnalytics.transitions]] pair counts at any
    * point in time. */
  case class TransitionOut(
      userId: Long, fromType: String, toType: String, tMs: Long)

  /** Per-user transition state: the PREVIOUS event — all the state a
    * first-order Markov ledger ever needs (one tuple per user). */
  case class LastEvent(eventType: String, tMs: Long, eventId: Long)

  /** One transition step for a batch of same-user events — shared fold
    * of [[StreamsV2.transitionsStream]] and its tests. Events process in
    * (tMs, eventId) order (the batch form's total order); each event
    * after the first emits the (previous → current) pair. Chopped ==
    * one-shot on ordered arrivals, the [[funnelFold]] contract. */
  def transitionsFold(
      userId: Long,
      start: Option[LastEvent],
      incoming: Seq[(Long, String, Long)]): (Option[LastEvent], Seq[TransitionOut]) = {
    var last = start
    val out = scala.collection.mutable.ArrayBuffer.empty[TransitionOut]
    incoming.sortBy { case (id, _, t) => (t, id) }.foreach { case (id, ty, t) =>
      last.foreach(p => out += TransitionOut(userId, p.eventType, ty, t))
      last = Some(LastEvent(ty, t, id))
    }
    (last, out.toSeq)
  }

  /** A retention mark: `userId` (cohort of `cohortDay`) was active on
    * `cohortDay + dayOffset`. Each (user, day) emits AT MOST ONCE, so
    * `count(*) group by cohortDay, dayOffset` over the emitted stream
    * equals the batch matrix's `n_active`, and the `dayOffset = 0` row
    * is the cohort size (the signup event itself marks its user active
    * that day). */
  case class RetentionMark(userId: Long, cohortDay: Long, dayOffset: Long)

  /** Per-user retention state. `cohortDay < 0` = no signup seen yet;
    * `emitted` = days already marked (the minimal state ANY exact
    * streaming retention needs — one entry per distinct active day,
    * TTL-bounded); `pending` = active days seen BEFORE the signup
    * arrived (an activity earlier the same day must still count toward
    * offset 0 once the signup lands — the ordering edge the batch form
    * never sees). */
  case class RetentionState(
      cohortDay: Long, emitted: Seq[Long], pending: Seq[Long])

  /** One retention step for a batch of same-user events — shared fold of
    * [[StreamsV2.retentionStream]] and its tests. Cohort day = the user's FIRST
    * signup day (on time-ordered arrivals that is the batch `min`); any
    * active day ≥ cohort day emits once. Within a batch, arrival order
    * does not matter (sets, not sequences); across batches the ordered-
    * arrival contract of [[funnelFold]] applies to the signup only. */
  def retentionFold(
      userId: Long,
      start: Option[RetentionState],
      incoming: Seq[EventIn]): (RetentionState, Seq[RetentionMark]) = {
    val dayMs = 86400000L
    val st = start.getOrElse(RetentionState(-1L, Seq.empty, Seq.empty))
    var cohort = st.cohortDay
    val emitted = scala.collection.mutable.Set[Long](st.emitted: _*)
    val pending = scala.collection.mutable.Set[Long](st.pending: _*)
    incoming.foreach { e =>
      val day = Math.floorDiv(e.tMs, dayMs)
      if (e.eventType == "signup" && (cohort < 0 || day < cohort)) cohort = day
      pending += day
    }
    val out =
      if (cohort < 0) Seq.empty
      else {
        val fresh = pending.toSeq.sorted
          .filter(d => d >= cohort && !emitted.contains(d))
        fresh.foreach(emitted += _)
        pending.clear()
        fresh.map(d => RetentionMark(userId, cohort, d - cohort))
      }
    (RetentionState(cohort, emitted.toSeq.sorted,
      if (cohort < 0) pending.toSeq.sorted else Seq.empty), out)
  }

  /** A daily-activity mark: `userId` was active on `day` (epoch days),
    * `isNew` iff that day is the user's first-ever active day. Each
    * (user, day) emits AT MOST ONCE, so over the emitted stream
    * `count(*) group by day` is the DAU series and `count(isNew)` the
    * new-user count — the batch
    * [[graft.operators.EventAnalytics.newVsReturning]] ledger becomes an
    * append-only per-day aggregate instead of a re-scan of all history. */
  case class DayActive(userId: Long, day: Long, isNew: Boolean)

  /** Per-user activity state: the distinct active-day set (bounded by the
    * calendar — the same argument that bounds the batch window frames),
    * sorted ascending so `days.head` is the first-ever day.
    * `everActive` survives TTL eviction as a tombstone (the day set is
    * dropped, the one boolean stays) so a re-appearing user is never
    * re-counted as `new` — without it, eviction would reset the fold to
    * first-contact and inflate `new_users` by one per evicted returnee. */
  case class ActivityState(days: Seq[Long], everActive: Boolean = true)

  /** One DAU step for a batch of same-user events — shared fold of
    * [[StreamsV2.activityStream]] and its tests. Within a batch arrival order does
    * not matter (day sets); across batches the ordered-arrival contract
    * of [[funnelFold]] applies: a day earlier than the recorded first
    * would re-write history the batch `min` already settled, so feeds
    * are time-ordered (the same contract every fold in this file rides). */
  def activityFold(
      userId: Long,
      start: Option[ActivityState],
      incoming: Seq[EventIn]): (ActivityState, Seq[DayActive]) = {
    val dayMs = 86400000L
    val seen = scala.collection.mutable.Set[Long](
      start.map(_.days).getOrElse(Seq.empty): _*)
    // a post-eviction tombstone has an empty day set but everActive=true:
    // the user is known history, so no day of theirs is ever `new` again
    val hadAny = start.exists(s => s.everActive || s.days.nonEmpty)
    val fresh = incoming.map(e => Math.floorDiv(e.tMs, dayMs)).distinct
      .filterNot(seen.contains).sorted
    fresh.foreach(seen += _)
    val out = fresh.zipWithIndex.map { case (d, i) =>
      DayActive(userId, d, isNew = !hadAny && i == 0)
    }
    (ActivityState(seen.toSeq.sorted), out)
  }

  /** A growth-accounting mark: in `week`, `userId` classified as `kind`
    * (`new` / `retained` / `resurrected` / `churned` — churned rows carry
    * the week the user went MISSING, the batch attribution). Conditional
    * counts per week over the emitted stream equal the event-driven rows
    * of [[graft.operators.EventAnalytics.growthAccounting]]; the
    * trailing silent-churn rows (users who never return) additionally
    * need a clock — they emit on TTL eviction ([[StreamsV2.growthStream]]'s
    * timer path), the same evidence a batch re-run would only gain
    * from a later max-week. */
  case class GrowthMark(userId: Long, week: Long, kind: String)

  /** Per-user growth state: the last active week, plus whether a
    * `churned` mark for this user is already on the stream (set by the
    * TTL-eviction path). The tombstone keeps (lastWeek, churned=true)
    * past eviction so a returning user classifies as `resurrected` —
    * consistent with the churn already emitted — never as a second
    * `new`, which is what dropping the state would produce. */
  case class GrowthState(lastWeek: Long, churned: Boolean = false)

  /** One growth step for a batch of same-user events — shared fold of
    * [[StreamsV2.growthStream]] and its tests. Weeks process ascending (ordered-
    * arrival contract): first-ever week emits `new`, consecutive weeks
    * `retained`, a gap emits `churned` AT lastWeek+1 (the week the user
    * went missing) plus `resurrected` at the return week — exactly the
    * batch lag/lead classification, incrementally. */
  def growthFold(
      userId: Long,
      start: Option[GrowthState],
      incoming: Seq[EventIn]): (GrowthState, Seq[GrowthMark]) = {
    val weekMs = 7L * 86400000L
    var last = start.map(_.lastWeek).getOrElse(-1L)
    // churned=true: the TTL path already put this user's churn mark on
    // the stream — the next activity is a resurrection (at ANY later
    // week, even lastWeek+1: the append-only stream cannot retract the
    // eviction-time churn, so the consistent classification is
    // churn → resurrected, exactly the pair a real gap emits)
    var churnOut = start.exists(_.churned)
    val out = scala.collection.mutable.ArrayBuffer.empty[GrowthMark]
    incoming.map(e => Math.floorDiv(e.tMs, weekMs)).distinct.sorted.foreach { w =>
      if (last < 0) out += GrowthMark(userId, w, "new")
      else if (w == last) ()
      else if (churnOut && w > last) {
        out += GrowthMark(userId, w, "resurrected")
        churnOut = false
      }
      else if (w == last + 1) out += GrowthMark(userId, w, "retained")
      else if (w > last + 1) {
        out += GrowthMark(userId, last + 1, "churned")
        out += GrowthMark(userId, w, "resurrected")
      }
      if (w > last) last = w
    }
    (GrowthState(last, churnOut), out.toSeq)
  }

  /** An attributed purchase on the stream: `userId` bought for
    * `valueTicks` (value × 100, exact money) at `tMs`, credited to
    * `channel` — the latest prior touch type, or "direct". Summing
    * (count, ticks) per channel over the emitted stream equals the batch
    * [[graft.operators.EventAnalytics.attribution]] ledger (ticks / 100
    * = the DECIMAL(18,2) revenue) at any point in time. */
  case class AttributionOut(
      userId: Long, channel: String, valueTicks: Long, tMs: Long)

  /** An attribution event: id for the (tMs, eventId) total order, type,
    * time, and value in integer ticks (×100). */
  case class AttrIn(eventId: Long, userId: Long, eventType: String,
      tMs: Long, valueTicks: Long)

  /** One attribution step for a batch of same-user events — shared fold
    * of [[StreamsV2.attributionStream]] and its tests. Events process in
    * (tMs, eventId) order (the batch window's total order): a touch
    * updates the carried channel, a purchase emits credited to the
    * carried channel BEFORE this event — exactly the batch form's
    * rows-(-∞,-1) frame, so a purchase tying a touch's timestamp is
    * credited iff the touch's eventId is lower. Chopped == one-shot on
    * ordered arrivals ([[funnelFold]] contract). */
  def attributionFold(
      userId: Long,
      touchTypes: Set[String],
      start: Option[LastEvent],
      incoming: Seq[AttrIn]): (Option[LastEvent], Seq[AttributionOut]) = {
    var lastTouch = start
    val out = scala.collection.mutable.ArrayBuffer.empty[AttributionOut]
    incoming.sortBy(e => (e.tMs, e.eventId)).foreach { e =>
      if (e.eventType == "purchase")
        out += AttributionOut(userId,
          lastTouch.map(_.eventType).getOrElse("direct"), e.valueTicks, e.tMs)
      if (touchTypes.contains(e.eventType))
        lastTouch = Some(LastEvent(e.eventType, e.tMs, e.eventId))
    }
    (lastTouch, out.toSeq)
  }

  /** A running RFM snapshot for one user: last purchase day, purchase
    * count, and exact money in integer ticks (×100). The LATEST mark per
    * user, joined with a reference "now" day of the consumer's choosing,
    * reproduces the batch [[graft.operators.EventAnalytics.rfm]] row
    * (recency = refDay − lastDay; the 1..3 scores are a deterministic
    * projection of these three numbers) — recency is deliberately NOT
    * baked into the mark because it is a property of the reference
    * clock, not of the user's history. */
  case class RfmMark(
      userId: Long, lastDay: Long, frequency: Long, monetaryTicks: Long)

  /** Per-user RFM state: the three running totals behind [[RfmMark]]. */
  case class RfmState(lastDay: Long, frequency: Long, ticks: Long)

  /** One RFM step for a batch of same-user events — shared fold of
    * [[StreamsV2.rfmStream]] and its tests. Only purchases move the totals; a
    * batch with ≥1 purchase emits ONE superseding mark (marks are
    * snapshots, not deltas — the consumer keeps the latest per user,
    * which makes replay after an exactly-once sink upsert idempotent).
    * max/count/sum are in-batch order free; across batches the
    * ordered-arrival contract of [[funnelFold]] applies. */
  def rfmFold(
      userId: Long,
      start: Option[RfmState],
      incoming: Seq[AttrIn]): (Option[RfmState], Seq[RfmMark]) = {
    val dayMs = 86400000L
    val buys = incoming.filter(_.eventType == "purchase")
    if (buys.isEmpty) (start, Seq.empty)
    else {
      val s = start.getOrElse(RfmState(Long.MinValue, 0L, 0L))
      val next = RfmState(
        math.max(s.lastDay, buys.map(e => Math.floorDiv(e.tMs, dayMs)).max),
        s.frequency + buys.size,
        s.ticks + buys.map(_.valueTicks).sum)
      (Some(next),
        Seq(RfmMark(userId, next.lastDay, next.frequency, next.ticks)))
    }
  }

  /** One cohort-LTV mark: `entry=true` announces the user joining the
    * `cohortDay` cohort (counting these per cohort gives the batch
    * `cohort_size`); `entry=false` is one attributed purchase at
    * `weekOffset` weeks since signup worth `valueTicks`. Aggregating
    * purchase marks per (cohortDay, weekOffset) — count, Σticks/100,
    * running Σ over the week axis, divided by the entry count —
    * reproduces the batch
    * [[graft.operators.EventAnalytics.cohortLtv]] triangle at any point
    * in time. */
  case class LtvMark(userId: Long, cohortDay: Long, weekOffset: Long,
      valueTicks: Long, entry: Boolean)

  /** Per-user LTV state: the signup cohort day (−1 = no signup seen). */
  case class LtvState(cohortDay: Long)

  /** One cohort-LTV step for a batch of same-user events — shared fold
    * of [[StreamsV2.ltvStream]] and its tests. The cohort day settles FIRST from
    * the batch's earliest signup (in-batch order free, like
    * [[activityFold]]), then purchases with day ≥ cohortDay emit one
    * mark each — the batch form's `_pd >= cohort_day` filter applied at
    * day granularity. A purchase arriving before ANY signup of its user
    * drops, exactly like the batch inner join drops purchasers who
    * never signed up; ordered arrival ([[funnelFold]] contract) makes
    * the two forms agree for users who did. */
  def ltvFold(
      userId: Long,
      start: Option[LtvState],
      incoming: Seq[AttrIn]): (LtvState, Seq[LtvMark]) = {
    val dayMs = 86400000L
    var cohort = start.map(_.cohortDay).getOrElse(-1L)
    val out = scala.collection.mutable.ArrayBuffer.empty[LtvMark]
    val sigDays = incoming.filter(_.eventType == "signup")
      .map(e => Math.floorDiv(e.tMs, dayMs))
    if (cohort < 0 && sigDays.nonEmpty) {
      cohort = sigDays.min
      out += LtvMark(userId, cohort, 0L, 0L, entry = true)
    }
    if (cohort >= 0)
      incoming.filter(_.eventType == "purchase").foreach { e =>
        val d = Math.floorDiv(e.tMs, dayMs)
        if (d >= cohort)
          out += LtvMark(userId, cohort, (d - cohort) / 7, e.valueTicks,
            entry = false)
      }
    (LtvState(cohort), out.toSeq)
  }

  /** One heartbeat tick of a capture lane: table, lsn, event time. */
  case class OpTick(tbl: String, lsn: Long, t: Long)

  /** An observed stall: the gap between consecutive ticks of `tbl` in
    * lsn order exceeded the threshold; emitted the moment the closing
    * tick arrives. */
  case class StallOut(tbl: String, fromLsn: Long, toLsn: Long, gapMs: Long)

  /** Last tick seen per table — all the state the stall monitor needs. */
  case class TickState(lsn: Long, t: Long)

  /** One monitor step for a batch of same-table ticks — the shared fold
    * of [[StreamsV2.heartbeatStream]] and its tests. Ticks process in lsn order
    * (the batch form's total order); chopped == one-shot on
    * lsn-ordered feeds (the [[transitionsFold]] contract). */
  def heartbeatFold(
      stallMs: Long,
      start: Option[TickState],
      incoming: Seq[OpTick]): (Option[TickState], Seq[StallOut]) = {
    var last = start
    val out = scala.collection.mutable.ArrayBuffer.empty[StallOut]
    incoming.sortBy(_.lsn).foreach { tick =>
      last.foreach { l =>
        if (tick.t - l.t > stallMs)
          out += StallOut(tick.tbl, l.lsn, tick.lsn, tick.t - l.t)
      }
      last = Some(TickState(tick.lsn, tick.t))
    }
    (last, out.toSeq)
  }

  /** One CDC op for the SCD2 builder: the partial payload (`setsVal`/
    * `setsK` mirror the ops feed's `sets_val`/`sets_k`). */
  case class ScdIn(tbl: String, pk: String, lsn: Long, t: Long, op: String,
      setsVal: Boolean, v: Double, setsK: Boolean, kk: Long)

  /** A CLOSED dimension version: `[validFrom, validTo)` with the merged
    * row image — emitted exactly once, when the closing op arrives (or,
    * under a TTL, when eviction forces the OPEN version out with
    * [[ScdEvictedOpen]] as `validTo`). */
  case class ScdOut(tbl: String, pk: String, ver: Long, validFrom: Long,
      validTo: Long, v: Option[Double], kk: Option[Long])

  /** Sentinel `validTo` marking a TTL-evicted OPEN version — still the
    * key's current row at eviction time, not a business-time closure. */
  val ScdEvictedOpen: Long = -1L

  /** Per-key SCD2 state: the op counter plus the OPEN version (absent
    * after a delete — deleted keys have no current version, and the
    * image resets so a later partial insert starts from nulls, exactly
    * `CdcOps.withState`'s RESET semantics). */
  case class ScdState(lastVer: Long, open: Boolean, openVer: Long,
      validFrom: Long, v: Option[Double], kk: Option[Long])

  /** One SCD2 step for a batch of same-key ops — the shared fold of
    * [[StreamsV2.scd2Stream]] and its tests. Ops process in lsn order; chopped ==
    * one-shot on lsn-ordered feeds (the [[transitionsFold]] contract):
    * every op closes the previous version (emitting it), a non-delete
    * opens the next one with the image merged over the previous. */
  def scd2Fold(
      start: Option[ScdState],
      incoming: Seq[ScdIn]): (Option[ScdState], Seq[ScdOut]) = {
    var st = start
    val out = scala.collection.mutable.ArrayBuffer.empty[ScdOut]
    incoming.sortBy(_.lsn).foreach { o =>
      val ver = st.map(_.lastVer).getOrElse(0L) + 1
      val open = st.filter(_.open)
      open.foreach { p =>
        out += ScdOut(o.tbl, o.pk, p.openVer, p.validFrom, o.t, p.v, p.kk)
      }
      st =
        if (o.op == "delete") Some(ScdState(ver, open = false, 0L, 0L, None, None))
        else Some(ScdState(ver, open = true, ver, o.t,
          if (o.setsVal) Some(o.v) else open.flatMap(_.v),
          if (o.setsK) Some(o.kk) else open.flatMap(_.kk)))
    }
    (st, out.toSeq)
  }
}
