package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Consumer-side delivery mechanics
  * (`web/App.tsx:2102-2248`, `src/changefeed/model.ts:246-274`):
  * token-bucket throttling and per-tick broker delivery with caps.
  *
  * These are inherently sequential *per consumer lane* (or broker
  * partition), so each runs as one keyed group per lane: a hash exchange on
  * the lane key, a sort within it, and the per-event step of the matching
  * streaming fold in [[graft.streaming.Streams]] threaded through the sorted
  * group from the key's empty state. The batch and stream forms share that
  * step; one lane's drain order never depends on another lane's, so lanes
  * parallelize.
  */
object Consumer {

  import graft.streaming.Streams

  case class DeliveryIn(method: String, seq: Long, availableAt: Long)
  case class DeliveryOut(method: String, seq: Long, availableAt: Long, drainTick: Long, drainMs: Long)

  /** Token-bucket drain (`web/App.tsx:2106-2113,2185-2201`): every `stepMs`
    * tick, `allowance += rate * stepMs / 1000` capped at `5 * rate`; the
    * consumer drains `min(floor(allowance), batchCap)` available events.
    * Returns each event's drain tick (and its wall time). Each lane's events,
    * in (availableAt, seq) order, go lazily through
    * [[graft.streaming.Streams.throttleStep]] — O(1) state, no lane-sized
    * buffering. */
  def throttleDrain(
      events: Dataset[DeliveryIn],
      rate: Double,
      stepMs: Long = 50L,
      batchCap: Int = 50): Dataset[DeliveryOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupBy(col("method")).as[String, DeliveryIn]
      .flatMapSortedGroups(col("availableAt"), col("seq")) { (_, lane) =>
        new Streams.Threaded(Streams.EmptyBucket, lane,
          Streams.throttleStep(rate, stepMs, batchCap))
      }
  }

  case class BrokerIn(part: Int, lsn: Long, availableAt: Long, dropped: Boolean)
  case class BrokerOut(
      part: Int, lsn: Long, availableAt: Long, dropped: Boolean,
      deliverTick: Long, deliverMs: Long)

  /** EXACT broker per-tick delivery (`model.ts:246-263` `pollBroker`):
    * each partition queue is FIFO in ENQUEUE (lsn) order — an unavailable
    * head blocks everything behind it — and each tick consumes at most
    * `maxApplyPerTick` from the front, with dropped events consuming quota
    * without being delivered. (The reference's cross-partition
    * `maxToDeliver = maxApply·(partitions+1)` cap can never bind — per-tick
    * consumption is already ≤ maxApply·partitions — so partitions fold
    * independently and in parallel, exactly.)
    *
    * Same keyed shape as [[throttleDrain]]: each partition's events, in lsn
    * order, go lazily through [[graft.streaming.Streams.brokerStep]] with
    * O(1) state. This is the exact counterpart to [[brokerDelivery]]'s
    * closed form (which sorts by availability and is a lower bound after
    * idle gaps).
    */
  def brokerDeliverExact(
      events: Dataset[BrokerIn],
      tickMs: Long = 50L,
      maxApplyPerTick: Int = 4): Dataset[BrokerOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupBy(col("part")).as[Int, BrokerIn]
      .flatMapSortedGroups(col("lsn")) { (_, queue) =>
        new Streams.Threaded(Streams.EmptyQueue, queue,
          Streams.brokerStep(tickMs, maxApplyPerTick))
      }
  }

  case class DriftIn(part: Int, lsn: Long, t: Long, availableAt: Long, dropped: Boolean)

  /** EXACT broker delivery under commit drift (`model.ts:140-149,246-263`):
    * with `commitDrift` on, the reference `splice`s every event into the
    * FRONT of its partition queue (`insertAt = 0`), so the queue is a LIFO
    * stack over pending events — the newest enqueued event delivers first,
    * and a drifted head (`availableAt = enqueueClock + 50`) blocks every
    * older event beneath it for a tick. [[brokerDeliverExact]] models the
    * no-drift FIFO queue; this operator reproduces the drift-on trace.
    *
    * Same keyed shape as the other exact operators: each partition's
    * arrivals, in lsn (enqueue) order, run through the streaming fold
    * [[graft.streaming.Streams.driftFold]] as one micro-batch, then a flush
    * fold drains the stack to empty. Work is O(events), not O(ticks); state
    * is the pending stack — bounded by the per-partition backlog, the same
    * bound the reference's in-memory queue carries.
    */
  def brokerDeliverDriftExact(
      events: Dataset[DriftIn],
      tickMs: Long = 50L,
      maxApplyPerTick: Int = 4): Dataset[BrokerOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupBy(col("part")).as[Int, DriftIn]
      .flatMapSortedGroups(col("lsn")) { (part, arrivals) =>
        val (st, out) = Streams.driftFold(
          part, Streams.EmptyStack, arrivals.toSeq, tickMs, maxApplyPerTick)
        out ++ Streams.driftFold(part, st, Seq.empty, tickMs, maxApplyPerTick, flush = true)._2
      }
  }

  /** Broker delivery schedule bound (`model.ts:246-274` computes this with
    * a per-tick loop; here it is the closed form
    * `max(availability tick, ⌈queue position / maxApplyPerTick⌉)`).
    *
    * Exact when the queue is saturated (events available from the start);
    * after an idle gap it is a *lower bound* — the tick loop would spread
    * the backlog over subsequent ticks, the closed form schedules it at
    * availability. The exact sequential semantics, when needed, are what
    * `throttleDrain` computes (per-lane fold); this operator is the
    * embarrassingly-parallel schedule used for backlog/shape analysis.
    */
  def brokerDelivery(
      routed: DataFrame, // part, seq/lsn col, available_at
      seqCol: String,
      tickMs: Long = 50L,
      maxApplyPerTick: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("part").orderBy(col("available_at"), col(seqCol))
    routed
      .withColumn("queue_pos", row_number().over(w).cast("long"))
      // earliest tick where the event is available
      .withColumn("avail_tick", ceil(col("available_at").cast("double") / tickMs).cast("long"))
      // per-partition throughput cap: position in queue bounds the tick
      .withColumn("cap_tick", ceil(col("queue_pos").cast("double") / maxApplyPerTick).cast("long"))
      .withColumn("deliver_tick", greatest(col("avail_tick"), col("cap_tick")))
      .withColumn("deliver_ms", col("deliver_tick") * tickMs)
  }

  /** Pause/resume gate for `foreachBatch` consumers
    * (`web/App.tsx:2103`; SIGUSR1/2 pause in `consumer.mjs:453-461` pauses
    * the Kafka consumer — fetching stops, nothing is dropped).
    *
    * The guard HOLDS the in-flight micro-batch while paused (backpressure):
    * the batch does not complete, its offsets are not committed, and the
    * backlog builds in the source — a lossless pause, like the reference's.
    * Skipping the body instead would silently DROP the paused batches: a
    * skipped `foreachBatch` still commits its offsets, so the data would
    * never be reprocessed. Resume (or a controller stop, which reopens the
    * gate before stopping the query) releases the held batch. */
  final class PauseGate extends Serializable {
    // monitor-based hold: the guarded thread parks on the gate's monitor
    // instead of burning its task slot polling; resume/stop notify it.
    // (transient + re-init on deserialize: foreachBatch runs driver-side,
    // so in practice the original instance is used — this is belt and
    // braces for closure serialization round-trips.)
    @transient private var lock = new Object
    @volatile private var open = true
    private def monitor: Object = {
      if (lock == null) synchronized { if (lock == null) lock = new Object }
      lock
    }
    def pause(): Unit = open = false
    def resume(): Unit = {
      val m = monitor
      // flip + notify under the monitor: guard's check-then-wait runs under
      // the same lock, so the wakeup cannot fall between them
      m.synchronized { open = true; m.notifyAll() }
    }
    def isOpen: Boolean = open
    /** Wrap a foreachBatch body. */
    def guard[T](body: (Dataset[T], Long) => Unit): (Dataset[T], Long) => Unit =
      (ds, id) => {
        val m = monitor
        m.synchronized {
          while (!open) m.wait() // hold: offsets must not commit
        }
        body(ds, id)
      }
  }
}
