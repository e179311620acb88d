package graft.cdc

/** Driver-side CDC lifecycle controller (`src/engine/stateMachine.ts:6-87`):
  * `IDLE → SNAPSHOTTING → TAILING ⇄ PAUSED`, with emission routed through a
  * per-topic offset-assigning bus (`src/engine/eventBus.ts:8-48`) and
  * produced/consumed/backlog counters (`src/engine/metrics.ts:23-46`).
  *
  * In the Spark engine this object is pure driver-side control flow — the
  * data path attaches through the handlers: `startSnapshot` emits the
  * seed-row INSERT batch ([[Capture.snapshot]] output), `startTailing`
  * starts the StreamingQuery over the tail stream
  * ([[graft.streaming.StreamsV2]]), and `stop` stops it. `pause`/`resume`
  * drive the controller's [[Consumer.PauseGate]], so a `foreachBatch`
  * consumer guarded by [[Consumer.PauseGate.guard]] stops applying while
  * PAUSED and the backlog builds in the source — the reference's paused
  * consumer (`web/App.tsx:2103`). No executor-side state exists; the
  * offset queue models the reference's in-memory topic for the driver-run
  * comparator, not a distributed structure (the distributed bus is Kafka /
  * a streaming source with its own offsets).
  */
final class CdcController[E](
    val mode: String,
    topic0: Option[String] = None,
    handlers: CdcController.ModeHandlers[E] = CdcController.ModeHandlers[E]()) {

  import CdcController._

  val topicName: String = topic0.getOrElse(s"cdc.${mode.toLowerCase}")

  /** Gate for foreachBatch consumers; closed while PAUSED. */
  val gate = new Consumer.PauseGate

  private var state: State = Idle
  private val queue = scala.collection.mutable.ArrayDeque.empty[(Long, E)]
  private var nextOffset = 0L
  private var producedN = 0L
  private var consumedN = 0L

  def currentState: State = state

  /** `stateMachine.ts:39-44`: only from IDLE; hands the snapshot handler an
    * emit function so seed events flow through the bus + counters. */
  def startSnapshot(tables: Seq[String]): Unit = synchronized {
    if (state == Idle) {
      state = Snapshotting
      handlers.startSnapshot(tables, emit)
    }
  }

  /** `stateMachine.ts:46-50`: idempotent entry into TAILING (also the
    * SNAPSHOTTING → TAILING handoff). */
  def startTailing(): Unit = synchronized {
    if (state != Tailing) {
      state = Tailing
      handlers.startTailing(emit)
    }
  }

  /** `stateMachine.ts:52-55`: only TAILING can pause. Closes the gate. */
  def pause(): Unit = synchronized {
    if (state == Tailing) { state = Paused; gate.pause() }
  }

  /** `stateMachine.ts:57-60`: only PAUSED can resume. Reopens the gate. */
  def resume(): Unit = synchronized {
    if (state == Paused) { state = Tailing; gate.resume() }
  }

  /** `stateMachine.ts:62-68`: from any state — stop the tail (handler stops
    * the StreamingQuery), reset the topic queue and the counters. The gate
    * reopens FIRST so a micro-batch held by a paused consumer drains before
    * the query stops (stopping with the gate closed would interrupt the
    * held batch mid-flight). */
  def stop(): Unit = synchronized {
    state = Idle
    gate.resume()
    handlers.stop()
    queue.clear()
    producedN = 0L
    consumedN = 0L
  }

  /** `stateMachine.ts:70-75` + `eventBus.ts:11-20`: assign monotone
    * per-topic offsets, count produced. Returns (offset, event) pairs. */
  def emit(events: Seq[E]): Seq[(Long, E)] = synchronized {
    if (events.isEmpty) Seq.empty
    else {
      val enriched = events.map { e =>
        val o = nextOffset; nextOffset += 1; (o, e)
      }
      queue ++= enriched
      producedN += enriched.length
      enriched
    }
  }

  /** `eventBus.ts:30-38`: FIFO pop up to `max`, counting consumed. */
  def consume(max: Int): Seq[(Long, E)] = synchronized {
    val n = math.min(max, queue.length)
    val out = (0 until n).map(_ => queue.removeHead())
    consumedN += out.length
    out
  }

  def backlog: Long = synchronized(math.max(producedN - consumedN, 0L))

  /** `src/domain/types.ts:70-80` counters subset. */
  def snapshotMetrics: (Long, Long, Long) = synchronized((producedN, consumedN, backlog))
}

object CdcController {
  sealed trait State
  case object Idle extends State
  case object Snapshotting extends State
  case object Tailing extends State
  case object Paused extends State

  /** Pluggable data-path hooks (`stateMachine.ts:10-14`). */
  final case class ModeHandlers[E](
      startSnapshot: (Seq[String], Seq[E] => Seq[(Long, E)]) => Unit =
        (_: Seq[String], _: Seq[E] => Seq[(Long, E)]) => (),
      startTailing: (Seq[E] => Seq[(Long, E)]) => Unit =
        (_: Seq[E] => Seq[(Long, E)]) => (),
      stop: () => Unit = () => ())
}
