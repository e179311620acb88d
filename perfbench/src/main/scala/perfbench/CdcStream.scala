package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.cdc.CdcOps
import graft.streaming.Streams.{Event, RowState}
import graft.streaming.StreamsV2

/** The streaming form of the `cdc` feed: change events with txn ids,
  * through a `MemoryStream` into `StreamsV2.assembleTxns` and
  * `StreamsV2.applyStream` on RocksDB state, written to a memory sink.
  *
  * Closed loop: the feed goes in as a fixed number of equal parts, each
  * added as soon as the micro-batch that applied the previous one commits.
  */
object CdcStream {

  type State = Map[(String, String), (Option[Double], Option[Long], Long)]

  /** Every progress event of every query, as the listener bus delivers them. */
  final class Progress extends StreamingQueryListener {
    private val byQuery =
      new ConcurrentHashMap[java.util.UUID, ConcurrentLinkedQueue[StreamingQueryProgress]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      byQuery.computeIfAbsent(e.progress.id, _ => new ConcurrentLinkedQueue()).add(e.progress)

    /** The progress of `q`'s micro-batches that read input, once the
      * listener has seen the last one `q` reported. */
    def of(q: StreamingQuery, timeoutMs: Long = 30000L): Seq[StreamingQueryProgress] = {
      val last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val deadline = System.currentTimeMillis() + timeoutMs
      def seen = Option(byQuery.get(q.id)).map(_.asScala.toSeq).getOrElse(Nil)
      while (!seen.exists(_.batchId >= last)) {
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(s"progress of batch $last never arrived")
        Thread.sleep(5)
      }
      seen.filter(_.numInputRows > 0)
    }
  }

  /** The feed as wire events; txn = 3 consecutive event ids, as in
    * `DebeziumSource.encode`. */
  def open(spark: SparkSession, dir: String): Array[Event] = {
    val rows = CdcOps.ops(spark, dir)
      .select("event_id", "tbl", "pk", "op", "sets_val", "val", "sets_k", "k", "t", "lsn")
      .orderBy("event_id").collect()
    val n = rows.length.toLong
    rows.map { r =>
      val eid = r.getLong(0)
      val total = math.min(3L, n - eid / 3 * 3).toInt
      val idx = (eid % 3).toInt
      Event(s"tx-${eid / 3}", idx, total, idx == total - 1,
        r.getString(1), r.getString(2), opCode(r.getString(3)),
        r.getBoolean(4), Option(r.get(5)).map(_.asInstanceOf[Double]),
        r.getBoolean(6), Option(r.get(7)).map(_.asInstanceOf[Long]),
        r.getLong(8), r.getLong(9))
    }
  }

  /** `CdcOps.opCode` on one value. */
  private def opCode(op: String): String = op match {
    case "insert" => "c"
    case "delete" => "d"
    case _ => "u"
  }

  /** `ApplyEngine.applyState` rows (tbl, pk, val, k, version, ...) as a [[State]]. */
  def stateOf(rows: Array[org.apache.spark.sql.Row]): State = rows.map { r =>
    (r.getString(0), r.getString(1)) ->
      ((Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))
  }.toMap

  /** Keys on which two states differ. */
  def mismatches(want: State, got: State): Int =
    (want.keySet ++ got.keySet).count(k => want.get(k) != got.get(k))

  /** One streaming query over a fresh checkpoint. */
  final class Run(spark: SparkSession, work: String, cores: Int, val name: String) {
    private val checkpoint = new java.io.File(s"$work/ckpt-$name")
    org.apache.commons.io.FileUtils.deleteQuietly(checkpoint)
    private val input = MemoryStream[Event](spark, cores)(Encoders.product[Event])
    val query: StreamingQuery = {
      import spark.implicits._
      StreamsV2.applyStream(
        StreamsV2.assembleTxns(input.toDS(), ttlMs = 0L).flatMap(_.events), ttlMs = 0L)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", checkpoint.getPath)
        .start()
    }

    /** Closed loop: `parts` equal slices of `feed`, each added once the
      * previous one has committed; stops the query after the last. A part
      * is a multiple of 3 events, so no txn straddles two micro-batches. */
    def drain(feed: Array[Event], parts: Int): Unit = {
      val size = ((feed.length + parts - 1) / parts + 2) / 3 * 3
      feed.grouped(size).foreach { part =>
        input.addData(part.toSeq)
        query.processAllAvailable()
      }
      query.stop()
    }

    /** Final row image per key (deleted keys dropped), read from the
      * stopped query's sink. */
    def result(): State = {
      import spark.implicits._
      val rows = spark.table(name).as[RowState].collect()
      spark.catalog.dropTempView(name)
      org.apache.commons.io.FileUtils.deleteQuietly(checkpoint)
      rows.groupBy(r => (r.tbl, r.pk)).values.map(_.maxBy(_.lastLsn))
        .filter(!_.deleted).map(r => (r.tbl, r.pk) -> ((r.valV, r.kV, r.version))).toMap
    }
  }

  /** The eight per-trigger metrics, each the median over triggers. */
  def triggerMetrics(prog: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def med(f: StreamingQueryProgress => Double): Double = Stats.median(prog.map(f))
    def dur(k: String)(p: StreamingQueryProgress): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def ops(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double)(
        p: StreamingQueryProgress): Double = p.stateOperators.map(f).sum
    val prefix = "streaming.StreamsV2."
    Map(
      "trigger_ms" -> med(dur("triggerExecution")),
      "planning_ms" -> med(dur("queryPlanning")),
      "add_batch_ms" -> med(dur("addBatch")),
      "wal_commit_ms" -> med(dur("walCommit")),
      "state_rows" -> med(ops(_.numRowsTotal.toDouble)),
      "state_mb" -> med(ops(_.memoryUsedBytes / 1e6)),
      "state_commit_ms" -> med(ops(_.commitTimeMs.toDouble)),
      "state_rows_removed" -> med(ops(_.numRowsRemoved.toDouble))
    ).map { case (k, v) => (prefix + k) -> v }
  }
}
