package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.cdc._
import graft.sinks.Sinks
import graft.sources.{DebeziumSource, Tables}

/** The `cdc` pass: the reference's two pipelines over one generated feed.
  *
  *   1. Capture comparator: ops and per-key state → log, trigger and poll
  *      lanes → the harness evaluate report for the poll and log lanes →
  *      lag percentiles per lane.
  *   2. Delivery and apply: Debezium envelope round trip → broker routing,
  *      drift and exact delivery → txn assembly and apply-on-commit → JSON
  *      apply → idempotent upsert into the destination as of `cutMs` →
  *      diff against the typed apply of the same ops.
  */
object CdcBatch {

  /** `cdc.CdcOps` calls `CdcOps.ops(spark, dir)`, which re-reads the
    * table itself. */
  val recomputes: Map[String, String] = Map("cdc.CdcOps" -> "sources.Tables")

  def pass(p: Pass, dir: String, cutMs: Long, nOps: Long): Outcome = {
    val spark = p.spark
    import spark.implicits._

    p.layer("sources.Tables")(p.evaluate(Tables.events(spark, dir)))

    val (ops, state, feed, contract) = p.layer("cdc.CdcOps") {
      val ops = p.out(CdcOps.ops(spark, dir), shared = true)
      val contract = CdcOps.contractViolations(ops).collect().head
      val state = p.out(CdcOps.withState(ops), shared = true)
      // keyed before rendering, as the reference e2e query does: the
      // single input split would otherwise render every envelope on one core
      val feed = p.out(CdcOps.jsonOps(ops.repartition(col("tbl"), col("pk"))), shared = true)
      (ops, state, feed, contract)
    }

    val (log, trig, poll) = p.layer("cdc.Capture") {
      (p.out(Capture.log(state), shared = true),
        p.out(Capture.trigger(state)),
        p.out(Capture.poll(state), shared = true))
    }

    val (pollReport, logReport) = p.layer("cdc.Evaluate") {
      val pollActual = poll.select(col("poll_ts").as("time"), col("src_lsn").as("ord"),
        col("op_code"), col("tbl"), col("pk"))
      val pollState = poll.groupBy("tbl", "pk")
        .agg(max_by(struct(col("op_code"), col("after_val"), col("after_k")),
          col("poll_window")).as("last"))
        .filter(col("last.op_code") =!= "d")
        .select(col("tbl"), col("pk"), col("last.after_val").as("val"),
          col("last.after_k").as("k"))
      val logActual = log.select(col("emitted_ts").as("time"), col("lsn").as("ord"),
        col("op_code"), col("tbl"), col("pk"))
      (report(Evaluate.lane(state, state, pollActual, pollState)),
        report(Evaluate.lane(state, state, logActual, ApplyEngine.replayEvents(log, "lsn"))))
    }

    val lags = p.layer("cdc.MetricsAgg") {
      MetricsAgg.lagPercentiles(log, "log")
        .unionByName(MetricsAgg.lagPercentiles(trig, "trigger"))
        .unionByName(MetricsAgg.lagPercentiles(
          poll.withColumn("lag_ms", col("poll_ts") - col("src_t")), "poll"))
        .collect().map(r => r.getAs[String]("method") -> r.getAs[Long]("max_lag")).toMap
    }

    val recOps = p.layer("sources.DebeziumSource") {
      val dec = DebeziumSource.decode(DebeziumSource.encode(feed), col("value"))
      // lsn = t·10⁶ + event_id is invertible, so the decoded stream
      // re-derives the txn key without a side channel
      p.out(dec.select(
        col("ts_ms").as("t"),
        (col("lsn") - col("ts_ms") * lit(1000000L)).as("event_id"),
        col("tbl"), col("pk"), col("op"), col("lsn"), col("after_json")), shared = true)
    }

    val txKey = concat(lit("tx-"), expr("event_id div 3").cast("string"))
    val delivered = p.layer("cdc.Consumer") {
      val routed = Broker.route(Broker.withDrift(recOps, txKey, col("t")),
        col("pk"), col("lsn"), 32, 0.1)
      p.out(Consumer.brokerDeliverExact(
        routed.select(col("part").cast("int").as("part"), col("lsn"),
          col("available_at").as("availableAt"), col("dropped"))
          .as[Consumer.BrokerIn]).toDF())
    }

    val tx = p.layer("cdc.Txn") {
      val ready = delivered.join(recOps.select("lsn", "event_id"), "lsn")
        .groupBy(expr("event_id div 3").as("tx_num"))
        .agg(max("deliverMs").as("ready_at"),
          count(when(!col("dropped"), 1)).as("n_delivered"))
      Txn.applyOnCommit(Txn.assemble(recOps).join(ready, "tx_num"))
        .agg(count(lit(1)).as("n_tx"), sum("n_events").cast("long").as("n_events"),
          sum("n_delivered").cast("long").as("n_delivered"),
          min("held_ms").as("min_held"), max("apply_order").as("max_order"))
        .collect().head
    }

    val (applied, current, truth) = p.layer("cdc.ApplyEngine") {
      (p.out(ApplyEngine.applyJsonState(recOps, "lsn")),
        p.out(ApplyEngine.applyJsonState(recOps.filter(col("t") <= cutMs), "lsn")),
        p.out(ApplyEngine.applyState(ops)))
    }

    val dest = p.layer("sinks.Sinks") {
      // the change batch since the cut: each touched key's latest op, as a
      // full row image from the apply (or a delete)
      val touched = recOps.filter(col("t") > cutMs).groupBy("tbl", "pk")
        .agg(max_by(col("op"), col("lsn")).as("op"), max("lsn").as("lsn"))
      val batch = touched.join(applied, Seq("tbl", "pk"), "left")
        .select(col("tbl"), col("pk"),
          when(col("op") === "delete", "d").otherwise("u").as("op_code"),
          col("row_json"), col("lsn"))
      p.out(Sinks.idempotentUpsert(current, batch, "lsn", Seq("row_json")))
    }

    val diff = p.layer("cdc.Diff") {
      val want = truth.select(col("tbl"), col("pk"),
        floor(col("val") * 1000).cast("string").as("v"), col("k").cast("string").as("k"))
      val got = dest.select(col("tbl"), col("pk"),
        get_json_object(col("row_json"), "$.v").as("v"),
        get_json_object(col("row_json"), "$.k").as("k"))
      Diff.diffStates(want, got, Seq("v", "k"))
        .agg(count(when(col("status") === "match", 1)).as("matched"),
          count(when(col("status") =!= "match", 1)).as("mismatched"))
        .collect().head
    }
    p.release()

    val nTx = (nOps + 2) / 3
    val failures = Outcome.check(
      (contract.getLong(0) == 0L && contract.getLong(1) == 0L,
        s"contractViolations = $contract"),
      (logReport.get("pass").contains(1L), s"log lane evaluate: $logReport"),
      (pollReport.get("missing").exists(_ > 0L),
        s"poll lane should lose intermediates: $pollReport"),
      (lags.size == 3 && lags.get("log").exists(l => l > 0 && l <= 100),
        s"lag percentiles: $lags"),
      (tx.getAs[Long]("n_tx") == nTx && tx.getAs[Long]("n_events") == nOps &&
        tx.getAs[Long]("min_held") >= 0L && tx.getAs[Long]("max_order") == nTx,
        s"txn apply log: $tx"),
      (diff.getAs[Long]("mismatched") == 0L && diff.getAs[Long]("matched") > 0L,
        s"applied vs truth state: $diff"))
    val pollEmitted = pollReport.getOrElse("matched", 0L) + pollReport.getOrElse("extra", 0L)
    Outcome(failures,
      if (!p.traced) Map.empty
      else Map(
        "cdc.Capture.poll_kept_ratio" -> pollEmitted.toDouble / nOps,
        "cdc.Consumer.delivered_ratio" ->
          tx.getAs[Long]("n_delivered").toDouble / tx.getAs[Long]("n_events")))
  }

  private def report(df: DataFrame): Map[String, Long] =
    df.collect().map((r: Row) => r.getString(0) -> r.getLong(1)).toMap
}
