package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.cdc.{ApplyEngine, Capture, CdcController, CdcOps}
import graft.cdc.CdcController.ModeHandlers
import graft.sinks.Sinks
import graft.testutil.Scenarios

/** Named replays of the canonical scenario's failure drills
  * (`scenarios/01-canonical-reference/failures/` — duplicate.sh, restart.sh,
  * backfill.sql, lag.sh) against the engine's operators — each test encodes
  * the drill's EXPECTED BEHAVIOR block.
  */
class FailureDrillSpec extends SparkSpec {

  import spark.implicits._

  /** `failures/duplicate.sh` — re-snapshot: every existing row is re-emitted
    * as an 'r' read; with upsert semantics the sink state must not change,
    * and row counts must stay correct (the drill's stated failure mode is
    * naive INSERT doubling the counts). */
  test("duplicate drill: full re-snapshot replay is a no-op on an upsert sink") {
    val ops = Scenarios.opsDf(spark, Seq(
      (100L, "t0", "1", "insert", true, Some(1.0), true, Some(10L)),
      (200L, "t0", "2", "insert", true, Some(2.0), true, Some(20L)),
      (300L, "t0", "1", "update", true, Some(1.5), false, None),
      (400L, "t1", "9", "insert", true, Some(9.0), true, Some(90L))))
    val sink = ApplyEngine.applyState(ops).select("tbl", "pk", "val", "k")
    // the connector re-reads the whole source: one 'r' per live row, with
    // NEW offsets strictly after everything already applied
    val resnap = Capture.snapshotAll(sink, Seq("val", "k"))
      .withColumn("seq", lit(1000L) + monotonically_increasing_id())
    def asSet(df: DataFrame) = df.collect()
      .map(r => (r.getAs[String]("tbl"), r.getAs[String]("pk"),
        r.getAs[Double]("val"), r.getAs[Long]("k"))).toSet
    val after = Sinks.idempotentUpsert(sink, resnap, "seq", Seq("val", "k"))
    assert(asSet(after) === asSet(sink),
      "re-snapshot must leave an upsert sink byte-identical")
    // and replaying the re-snapshot twice is still a no-op
    val again = Sinks.idempotentUpsert(after, resnap, "seq", Seq("val", "k"))
    assert(asSet(again) === asSet(sink))
  }

  /** `failures/restart.sh` — connector crash + restart: events accumulate at
    * the source while down; on restart the stream resumes from the last
    * committed offset — nothing already applied is re-delivered, nothing
    * accumulated is lost. */
  test("restart drill: checkpoint resume applies accumulated events exactly once") {
    val root = Files.createTempDirectory("restart_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val applied = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val schema = "lsn LONG, tbl STRING, pk STRING, op_code STRING"
    def startQuery() = spark.readStream.schema(schema)
      .json(srcDir.getPath)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: DataFrame, _: Long) =>
        df.orderBy("lsn").collect().foreach(r => applied.add(r.getAs[Long]("lsn"))))
      .start()
    def writeBatch(name: String, lsns: Range): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        lsns.map(i => s"""{"lsn":$i,"tbl":"t0","pk":"${i % 3}","op_code":"u"}""")
          .mkString("\n"))

    writeBatch("wal-1.json", 1 to 5)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash
    assert(applied.toArray.toSeq === (1L to 5L),
      "pre-crash events applied once, in order")
    // source keeps writing while the connector is down
    writeBatch("wal-2.json", 6 to 9)
    val q2 = startQuery() // same checkpoint → resume from committed offset
    q2.processAllAvailable()
    q2.stop()
    val seen = applied.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
    assert(seen === (1L to 9L),
      s"resume must deliver exactly the accumulated suffix, once: $seen")
  }

  /** Restart drill for the LLM ingestion path: the streaming dedup gate
    * (`Dedup.ingestGate` — stream-static join against the corpus signature
    * index) is killed between micro-batches and resumed from its
    * checkpoint; every arriving document must be flagged exactly once and
    * the flags must equal the batch `incrementalFlags` over the union of
    * arrivals (the gate is stateless on the stream side, so recovery is
    * pure source-offset replay — the drill pins exactly that). */
  test("restart drill: streaming ingest dedup gate resumes flagging exactly once") {
    val root = Files.createTempDirectory("ingest_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val corpus = Seq(
      (0L, "spark filter join table scan window batch merge"),
      (5L, "completely different words entirely other content here"))
      .toDF("doc_id", "text")
    val flagged = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean, Long)]()
    def startQuery() = {
      val arrivals = spark.readStream.schema("doc_id LONG, text STRING").json(srcDir.getPath)
      graft.llm.Dedup.ingestGate(arrivals, corpus)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((df: DataFrame, _: Long) =>
          df.collect().foreach(r =>
            flagged.add((r.getLong(0), r.getBoolean(1), r.getLong(2)))))
        .start()
    }
    def writeDocs(name: String, docs: Seq[(Long, String)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n"))

    writeDocs("day-1.json", Seq(
      (10L, "spark filter join table scan window batch merge"),
      (11L, "fresh unseen tokens nothing like the corpus rows")))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash
    // arrivals continue while the gate is down
    writeDocs("day-2.json", Seq(
      (12L, "completely different words entirely other content here")))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = flagged.toArray(Array.empty[(Long, Boolean, Long)]).toSeq.sortBy(_._1)
    assert(got.map(_._1) === Seq(10L, 11L, 12L), s"each doc flagged exactly once: $got")
    val batch = graft.llm.Dedup.incrementalFlags(corpus, Seq(
      (10L, "spark filter join table scan window batch merge"),
      (11L, "fresh unseen tokens nothing like the corpus rows"),
      (12L, "completely different words entirely other content here"))
      .toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got === batch, "kill/resume must not change any flag vs the batch path")
  }

  /** Restart drill for the streaming admission controller
    * (`Corpus.admissionGate` — quality + PII + dedup verdicts per arriving
    * doc): killed between micro-batches with arrivals continuing while
    * down, resumed from checkpoint. Every document must receive exactly
    * one verdict and the ADMITTED SET must equal the batch gate over the
    * union of arrivals — a restart can neither re-admit, drop, nor flip
    * any verdict. */
  test("restart drill: admission controller's admitted set survives kill/resume") {
    val root = Files.createTempDirectory("admission_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val corpus = Seq(
      (0L, "spark filter join table scan window batch merge"),
      (5L, "completely different words entirely other content here"))
      .toDF("doc_id", "text")
    type Verdict = (Long, Boolean, Boolean, Boolean, Long, Boolean)
    val verdicts = new java.util.concurrent.ConcurrentLinkedQueue[Verdict]()
    def startQuery() = {
      val arrivals = spark.readStream.schema("doc_id LONG, text STRING").json(srcDir.getPath)
      graft.llm.Corpus.admissionGate(arrivals, corpus)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((df: DataFrame, _: Long) =>
          df.collect().foreach(r => verdicts.add((r.getLong(0), r.getBoolean(1),
            r.getBoolean(2), r.getBoolean(3), r.getLong(4), r.getBoolean(5)))))
        .start()
    }
    def writeDocs(name: String, docs: Seq[(Long, String)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n"))
    val clean1 = (1 to 60).map(i => s"alpha$i").mkString(" ") // admitted
    val pii = (1 to 60).map(i => s"beta$i").mkString(" ") +
      " reach me at someone@example.com" // quality-pass, PII-reject
    val dup = "spark filter join table scan window batch merge" // dedup-reject
    val clean2 = (1 to 60).map(i => s"gamma$i").mkString(" ") // admitted after resume
    writeDocs("day-1.json", Seq((10L, clean1), (11L, pii), (12L, dup)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash
    writeDocs("day-2.json", Seq((13L, clean2))) // arrives while the gate is down
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = verdicts.toArray(Array.empty[Verdict]).toSeq.sortBy(_._1)
    assert(got.map(_._1) === Seq(10L, 11L, 12L, 13L),
      s"each arrival gets exactly one verdict: $got")
    val batch = graft.llm.Corpus.admissionGate(
      Seq((10L, clean1), (11L, pii), (12L, dup), (13L, clean2)).toDF("doc_id", "text"),
      corpus)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getLong(4), r.getBoolean(5))).sortBy(_._1).toSeq
    assert(got === batch, "kill/resume must not change any verdict vs the batch gate")
    assert(got.filter(_._6).map(_._1) === Seq(10L, 13L),
      s"admitted set exactly the clean docs: $got")
  }

  /** Restart drill for the streaming per-source budget gate
    * (`StreamsV2.budgetAdmissionStream`): the consumed-token counter is
    * keyed state — a kill between micro-batches must neither reset it
    * (which would re-open a spent budget) nor double-count the batch that
    * committed before the crash. Verdicts over the union of arrivals must
    * equal the batch `Corpus.sourceBudget` ledger exactly. */
  test("restart drill: budget gate's consumed-token state survives kill/resume") {
    val root = Files.createTempDirectory("budget_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    type V = (String, Long, Long, Long, Boolean)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[V]()
    def startQuery() = {
      val arrivals = spark.readStream
        .schema("source STRING, docId LONG, nTokens LONG").json(srcDir.getPath)
        .as[graft.streaming.Streams.BudgetIn]
      graft.streaming.StreamsV2
        .budgetAdmissionStream(arrivals, budgetPerSource = 10L, ttlMs = 0L)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((df: org.apache.spark.sql.Dataset[graft.streaming.Streams.BudgetOut], _: Long) =>
          df.collect().foreach(o =>
            out.add((o.source, o.docId, o.nTokens, o.cumSourceTokens, o.admitted))))
        .start()
    }
    def writeRows(name: String, rows: Seq[(String, Long, Long)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        rows.map { case (s, id, t) => s"""{"source":"$s","docId":$id,"nTokens":$t}""" }
          .mkString("\n"))
    // s0: 6 then (after the kill) 7 — the second must see cum 13 > 10,
    // which only happens if the 6 survived the crash in state
    writeRows("b1.json", Seq(("s0", 1L, 6L), ("s1", 2L, 9L)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash
    writeRows("b2.json", Seq(("s0", 3L, 7L), ("s1", 4L, 1L)))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = out.toArray(Array.empty[V]).toSeq.sortBy(v => (v._1, v._2))
    assert(got === Seq(
      ("s0", 1L, 6L, 6L, true),
      ("s0", 3L, 7L, 13L, false),   // pre-kill spend persisted: 6 + 7 > 10
      ("s1", 2L, 9L, 9L, true),
      ("s1", 4L, 1L, 10L, true)),   // exactly exhausts the budget
      s"budget state must survive the restart: $got")
    // and the streamed ledger equals the batch form over the union
    val docsDf = Seq(
      (1L, "w w w w w w", "s0"), (3L, "w w w w w w w", "s0"),
      (2L, (1 to 9).map(_ => "w").mkString(" "), "s1"), (4L, "w", "s1"))
      .toDF("doc_id", "text", "source")
    val batch = graft.llm.Corpus.sourceBudget(docsDf, budgetPerSource = 10L)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_source_tokens"),
        r.getAs[Boolean]("admitted"))).sortBy(v => (v._1, v._2)).toSeq
    assert(got === batch, "streamed ledger == batch keyed prefix sum over the union")
  }

  /** Restart drill for the chunking path (`Chunking.chunkPlan` — the RAG
    * indexing feed): killed between micro-batches with documents arriving
    * while down, resumed from checkpoint. Chunking is stateless per-row
    * work (projection + posexplode), so recovery is pure source-offset
    * replay — but the EXACTLY-ONCE consequence still needs pinning: a
    * restart must neither re-emit any (doc, chunk) nor lose the chunks of
    * a document that arrived during the outage, and the streamed chunk set
    * must equal the batch `chunkPlan` over the union of arrivals
    * (batch==streaming parity, now also under fault). */
  test("restart drill: streaming chunk plan emits each (doc, chunk) exactly once across kill") {
    val root = Files.createTempDirectory("chunk_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    type Chunk = (Long, Long, Long, Long, String)
    val chunks = new java.util.concurrent.ConcurrentLinkedQueue[Chunk]()
    def startQuery() = {
      val arrivals = spark.readStream.schema("doc_id LONG, text STRING").json(srcDir.getPath)
      graft.llm.Chunking.chunkPlan(arrivals, size = 8, stride = 6)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((df: DataFrame, _: Long) =>
          df.collect().foreach(r => chunks.add((r.getLong(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getString(4)))))
        .start()
    }
    def writeDocs(name: String, docs: Seq[(Long, String)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n"))
    // 20 tokens → 3 chunks at (8,6); 7 tokens → 1 short chunk
    val long1 = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val short1 = (1 to 7).map(i => s"beta$i").mkString(" ")
    val long2 = (1 to 15).map(i => s"gamma$i").mkString(" ") // arrives during outage

    writeDocs("day-1.json", Seq((10L, long1), (11L, short1)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash
    val preCrash = chunks.size
    assert(preCrash === 4, s"pre-crash chunk count (3 + 1): $preCrash")
    writeDocs("day-2.json", Seq((12L, long2))) // arrives while the chunker is down
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = chunks.toArray(Array.empty[Chunk]).toSeq.sortBy(c => (c._1, c._2))
    assert(got.map(c => (c._1, c._2)).distinct.size === got.size,
      s"no (doc, chunk) may emit twice across the kill: $got")
    val batch = graft.llm.Chunking.chunkPlan(
      Seq((10L, long1), (11L, short1), (12L, long2)).toDF("doc_id", "text"),
      size = 8, stride = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).sortBy(c => (c._1, c._2)).toSeq
    assert(got === batch,
      "kill/resume must not change any chunk vs the batch plan over the union")
  }

  /** Restart drill for streaming sessionization
    * ([[graft.streaming.StreamsV2.sessionStream]]): the recovery mode a
    * stateless replay cannot fake — a session SPANNING the crash (events
    * on both sides of the kill, inside the gap) must MERGE from the
    * checkpointed open-session state, and every closed session must emit
    * exactly once across the restart. */
  test("restart drill: a session spanning the kill merges; closed sessions emit once") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("session_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    type Sess = (Long, Long, Long, Long)
    val sessions = new java.util.concurrent.ConcurrentLinkedQueue[Sess]()
    def startQuery() = {
      val typed = spark.readStream.schema("user_id LONG, t_ms LONG")
        .json(srcDir.getPath)
        .select(col("user_id").as("userId"), lit("view").as("eventType"),
          col("t_ms").as("tMs"))
        .as[graft.streaming.Streams.EventIn]
      graft.streaming.StreamsV2.sessionStream(typed, gapMs = 60000L)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch((df: DataFrame, _: Long) =>
          df.collect().foreach(r => sessions.add(
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))))
        .start()
    }
    def writeEvents(name: String, evs: Seq[(Long, Long)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        evs.map { case (u, t) => s"""{"user_id":$u,"t_ms":$t}""" }.mkString("\n"))
    // day 1: u1's session is OPEN (events 0, 30 s, 50 s; end = 110 s),
    // u2's too (end 70 s); watermark after the batch is only 50 s
    writeEvents("day-1.json", Seq((1L, 0L), (1L, 30000L), (2L, 10000L), (1L, 50000L)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash with every session still open
    assert(sessions.isEmpty, "nothing may close before the watermark moves")
    // while down: u1's 70 s event lands INSIDE its open session (< 110 s),
    // and u3's far event will push the watermark past u1/u2's closes
    writeEvents("day-2.json", Seq((1L, 70000L), (3L, 500000L)))
    val q2 = startQuery()
    q2.processAllAvailable()
    writeEvents("day-3.json", Seq((99L, 10000000L))) // sentinel closes u3
    q2.processAllAvailable()
    q2.stop()
    val got = sessions.asScala.toSeq.filter(_._1 != 99L)
    assert(got.distinct.size === got.size,
      s"no session may emit twice across the kill: $got")
    assert(got.toSet === Set(
      (1L, 0L, 130000L, 4L), // merged ACROSS the crash: 0/30 s/50 s + 70 s
      (2L, 10000L, 70000L, 1L),
      (3L, 500000L, 560000L, 1L)), s"got $got")
    // batch==streaming under fault: equals Sessions.sessionize on the union
    val batch = graft.operators.Sessions.sessionize(
      Seq((1L, 0L), (1L, 30000L), (2L, 10000L), (1L, 50000L),
        (1L, 70000L), (3L, 500000L))
        .map { case (u, t) => (u, t * 1000000L) }.toDF("user_id", "ts"),
      gapMs = 60000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.toSet === batch)
  }

  /** `failures/restart.sh`, stateful form — the drill the shell script
    * actually runs is killing a LIVE consumer with in-flight state and
    * restarting it from its offsets. Here the consumer is the
    * transformWithState txn assembler (RocksDB ListState): the kill lands
    * between micro-batches while tx-b and tx-c are HALF-BUFFERED, and the
    * resumed query must complete them from recovered state — every
    * transaction assembles exactly once, event-complete, in-order. */
  test("restart drill: stateful StreamsV2 query resumes half-buffered txns from checkpoint") {
    import graft.streaming.{Streams, StreamsV2}
    val root = Files.createTempDirectory("restart_tws")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val assembled = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, String)]()
    val schema = "txId STRING, txIndex INT, txTotal INT, last BOOLEAN, tbl STRING, " +
      "pk STRING, opCode STRING, setsVal BOOLEAN, valV DOUBLE, setsK BOOLEAN, " +
      "kV LONG, commitTs LONG, lsn LONG"
    def startQuery() = StreamsV2.assembleTxns(
      spark.readStream.schema(schema).json(srcDir.getPath).as[Streams.Event], ttlMs = 0L)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: org.apache.spark.sql.Dataset[Streams.AssembledTxn], _: Long) =>
        df.collect().foreach(t => assembled.add(
          (t.txId, t.nEvents, t.firstLsn, t.events.map(_.txIndex).mkString(",")))))
      .start()
    def ev(txId: String, idx: Int, total: Int, lsn: Long): String =
      s"""{"txId":"$txId","txIndex":$idx,"txTotal":$total,"last":${idx == total - 1},""" +
        s""""tbl":"t0","pk":"p$lsn","opCode":"u","setsVal":true,"valV":1.5,""" +
        s""""setsK":false,"kV":null,"commitTs":${lsn * 10},"lsn":$lsn}"""

    // batch 1: tx-a complete; tx-b 1/2; tx-c 2/3 (out of order: last first)
    Files.writeString(srcDir.toPath.resolve("wal-1.json"), Seq(
      ev("tx-a", 0, 1, 1L),
      ev("tx-b", 0, 2, 2L),
      ev("tx-c", 2, 3, 3L),
      ev("tx-c", 0, 3, 4L)).mkString("\n"))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash with tx-b, tx-c half-buffered in RocksDB
    assert(assembled.toArray.toSeq === Seq(("tx-a", 1, 1L, "0")),
      "only the complete txn emits before the crash")
    // source keeps writing while the consumer is down
    Files.writeString(srcDir.toPath.resolve("wal-2.json"), Seq(
      ev("tx-b", 1, 2, 5L),
      ev("tx-c", 1, 3, 6L),
      ev("tx-d", 0, 1, 7L)).mkString("\n"))
    val q2 = startQuery() // same checkpoint → offsets AND state recover
    q2.processAllAvailable()
    q2.stop()
    val out = assembled.toArray(Array.empty[(String, Int, Long, String)]).toSeq
    assert(out.map(_._1).sorted === Seq("tx-a", "tx-b", "tx-c", "tx-d"),
      s"each txn exactly once across the kill: $out")
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId("tx-b") === (("tx-b", 2, 2L, "0,1")), "recovered buffer + new event")
    assert(byId("tx-c") === (("tx-c", 3, 3L, "0,1,2")), "events sorted by txIndex on emit")
    assert(byId("tx-d") === (("tx-d", 1, 7L, "0")))
  }

  /** Restart drill for the commit-floor apply
    * (`StreamsV2.applyOnCommitStream`): a COMPLETE transaction held behind
    * the watermark lives only in the state store — its buffered events AND
    * its event-time timer. The kill lands after tx-a completes but before
    * the watermark passes its commit; after resume the watermark advances
    * and the recovered timer must emit tx-a exactly once, event-complete.
    * Incomplete transactions are dropped when the watermark passes them,
    * never emitted. */
  test("restart drill: commit-floor apply releases a held txn exactly once after resume") {
    import graft.streaming.{Streams, StreamsV2}
    val root = Files.createTempDirectory("restart_floor")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val schema = "txId STRING, txIndex INT, txTotal INT, last BOOLEAN, tbl STRING, " +
      "pk STRING, opCode STRING, setsVal BOOLEAN, valV DOUBLE, setsK BOOLEAN, " +
      "kV LONG, commitTs LONG, lsn LONG"
    // 1 s of allowed lateness: tx-a (commit 1000) is the newest event of
    // batch 1, so the watermark after it is 0 and tx-a stays held
    def startQuery() = StreamsV2.applyOnCommitStream(
      spark.readStream.schema(schema).json(srcDir.getPath).as[Streams.Event],
      watermarkDelay = "1 second")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: org.apache.spark.sql.Dataset[Streams.AssembledTxn], _: Long) =>
        df.collect().foreach(t =>
          emitted.add((t.txId, t.events.map(_.txIndex).mkString(",")))))
      .start()
    def ev(txId: String, idx: Int, total: Int, commitTs: Long, lsn: Long): String =
      s"""{"txId":"$txId","txIndex":$idx,"txTotal":$total,"last":${idx == total - 1},""" +
        s""""tbl":"t0","pk":"p$lsn","opCode":"u","setsVal":true,"valV":1.5,""" +
        s""""setsK":false,"kV":null,"commitTs":$commitTs,"lsn":$lsn}"""
    def got = emitted.toArray(Array.empty[(String, String)]).toSeq

    // tx-x is incomplete (1 of 3); tx-a is complete, last index first
    Files.writeString(srcDir.toPath.resolve("wal-1.json"), Seq(
      ev("tx-x", 0, 3, 500L, 1L),
      ev("tx-a", 1, 2, 1000L, 3L),
      ev("tx-a", 0, 2, 1000L, 2L)).mkString("\n"))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash: tx-a complete but held, tx-x buffered
    assert(got.isEmpty, s"nothing may emit while the floor is behind: $got")
    // after resume: tx-y's commit moves the watermark to 4000, past tx-a
    // (1000) and tx-x (500); one more event runs a batch under it
    Files.writeString(srcDir.toPath.resolve("wal-2.json"),
      ev("tx-y", 0, 2, 5000L, 4L))
    val q2 = startQuery()
    q2.processAllAvailable()
    Files.writeString(srcDir.toPath.resolve("wal-3.json"),
      ev("tx-z", 0, 2, 6000L, 5L))
    q2.processAllAvailable()
    q2.stop()
    assert(got === Seq(("tx-a", "0,1")),
      s"the held txn must emit exactly once after resume, incomplete ones never: $got")
  }

  /** `failures/restart.sh` against a REAL database: the consumer's
    * foreachBatch JDBC upsert (embedded Derby — an actual DriverManager
    * JDBC sink, the consumer.mjs path with Derby in Postgres' seat) killed
    * between micro-batches and resumed from the checkpoint. The seq-guard
    * makes any batch replay converge, so the final table equals the
    * max-seq image per key no matter where the kill landed. */
  test("restart drill: JDBC sink (real database) replay-safe across kill/resume") {
    val root = Files.createTempDirectory("jdbc_drill")
    val srcDir = root.resolve("src").toFile; srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val url = s"jdbc:derby:${root.resolve("db")};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().executeUpdate(
      "CREATE TABLE sink_t (pk VARCHAR(64) PRIMARY KEY, val DOUBLE, seq BIGINT)")
    conn.close()

    val schema = "pk STRING, val DOUBLE, seq LONG"
    def startQuery() = spark.readStream.schema(schema).json(srcDir.getPath)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: DataFrame, _: Long) =>
        Sinks.jdbcIdempotentUpsert(df, url, "sink_t", "pk", "seq", Seq("val")))
      .start()
    def write(name: String, rows: Seq[(String, Double, Long)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        rows.map { case (p, v, s) => s"""{"pk":"$p","val":$v,"seq":$s}""" }.mkString("\n"))

    write("wal-1.json", Seq(("a", 1.0, 1L), ("b", 2.0, 1L), ("a", 1.5, 2L)))
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop() // crash
    write("wal-2.json", Seq(("a", 0.5, 1L), ("b", 9.0, 5L), ("c", 3.0, 1L)))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()

    val got = spark.read.format("jdbc").option("url", url).option("dbtable", "sink_t")
      .load().collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got === Set(("a", 1.5, 2L), ("b", 9.0, 5L), ("c", 3.0, 1L)),
      s"max-seq image per key across the kill (stale post-restart 'a' ignored): $got")
  }

  /** Composite end-to-end drill: the full StreamsV2 pipeline — capture
    * normalization → drift (LIFO) broker → txn assembly → apply — wired
    * as a two-hop checkpointed topology (files between hops, the
    * standard production shape with a bus between stages), KILLED with
    * in-flight state in BOTH hops (pending events in the drift stack,
    * half-buffered txns in the assembler), resumed from both checkpoints,
    * and asserted equal to the batch folds over the same feed. */
  test("composite drill: capture → drift broker → txn assembly → apply survives a two-hop kill") {
    import graft.streaming.{Streams, StreamsV2}
    import graft.cdc.Consumer
    import graft.cdc.Consumer.{BrokerOut, DriftIn}

    val root = Files.createTempDirectory("composite_drill")
    val srcDir = root.resolve("src").toFile; srcDir.mkdirs()
    val midDir = root.resolve("mid").toFile; midDir.mkdirs()
    val ckptA = root.resolve("ckptA").toString
    val ckptB = root.resolve("ckptB").toString

    // the feed: 4 interleaved txns over 10 events; t = lsn*40 spreads the
    // 50ms ticks, every lsn%3==0 event is commit-drifted (+120ms) so the
    // LIFO stack reorders; capture routes part = lsn%2
    val txOf = Map(1L -> ("tx-a", 0, 2), 4L -> ("tx-a", 1, 2),
      2L -> ("tx-b", 0, 3), 5L -> ("tx-b", 1, 3), 8L -> ("tx-b", 2, 3),
      3L -> ("tx-c", 0, 2), 9L -> ("tx-c", 1, 2),
      6L -> ("tx-d", 0, 3), 7L -> ("tx-d", 1, 3), 10L -> ("tx-d", 2, 3))
    def evJson(lsn: Long): String = {
      val (txId, idx, total) = txOf(lsn)
      s"""{"txId":"$txId","txIndex":$idx,"txTotal":$total,"last":${idx == total - 1},""" +
        s""""tbl":"t${lsn % 2}","pk":"p${lsn % 3}","opCode":"u","setsVal":true,""" +
        s""""valV":$lsn.5,"setsK":false,"kV":null,"commitTs":${lsn * 40},"lsn":$lsn}"""
    }
    def sentinelJson(lsn: Long): String =
      s"""{"txId":"flush","txIndex":0,"txTotal":99,"last":false,"tbl":"tx","pk":"px",""" +
        s""""opCode":"u","setsVal":false,"valV":null,"setsK":false,"kV":null,""" +
        s""""commitTs":1000000,"lsn":$lsn}"""
    def toDrift(lsn: Long, t: Long) =
      DriftIn((lsn % 2).toInt, lsn, t, t + (if (lsn % 3 == 0) 120L else 0L),
        dropped = false)

    // batch-fold precondition: this feed's drift config genuinely reorders
    // (the drill is vacuous otherwise)
    val allDrift = (1L to 10L).map(l => toDrift(l, l * 40)) ++
      Seq(DriftIn(0, 9000L, 1000000L, 1000000L, dropped = true),
        DriftIn(1, 9001L, 1000000L, 1000000L, dropped = true))
    val batchDelivery = Consumer.brokerDeliverDriftExact(allDrift.toDS(), 50L, 2)
      .collect().filter(_.lsn < 9000L)
    val batchInversions = batchDelivery.groupBy(_.part).values.map { p =>
      val byDeliver = p.sortBy(o => (o.deliverMs, o.lsn)).map(_.lsn)
      byDeliver.indices.count(i => byDeliver.take(i).exists(_ > byDeliver(i)))
    }.sum
    assert(batchInversions > 0, "precondition: the drift plan must reorder — retune t spacing")

    val schema = "txId STRING, txIndex INT, txTotal INT, last BOOLEAN, tbl STRING, " +
      "pk STRING, opCode STRING, setsVal BOOLEAN, valV DOUBLE, setsK BOOLEAN, " +
      "kV LONG, commitTs LONG, lsn LONG"
    val payload = txOf.keys.map(l => l -> evJson(l)).toMap

    // hop A: capture normalization (Event → routed DriftIn) through the
    // drift broker; the sink republishes delivered events (payload looked
    // up by lsn) to the inter-hop bus with their delivery coordinates
    def startHopA() = spark.readStream.schema(schema).json(srcDir.getPath)
      .as[Streams.Event]
      .map(e => toDrift(e.lsn, e.commitTs))
      .transform(ds => StreamsV2.brokerDeliverDriftStream(ds, tickMs = 50L, maxApplyPerTick = 2))
      .writeStream
      .option("checkpointLocation", ckptA)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[BrokerOut], batchId: Long) =>
        val delivered = df.collect().filter(_.lsn < 9000L)
          .sortBy(o => (o.deliverMs, o.part, o.lsn))
        if (delivered.nonEmpty) {
          val lines = delivered.map { o =>
            payload(o.lsn).dropRight(1) +
              s""","part":${o.part},"deliverMs":${o.deliverMs}}"""
          }
          Files.writeString(midDir.toPath.resolve(s"delivered-$batchId.json"),
            lines.mkString("\n"))
        }
        ()
      }
      .start()

    // hop B: txn assembly over the bus feed
    val assembled = new java.util.concurrent.ConcurrentLinkedQueue[Streams.AssembledTxn]()
    def startHopB() = StreamsV2.assembleTxns(
      spark.readStream.schema(schema).json(midDir.getPath).as[Streams.Event], ttlMs = 0L)
      .writeStream
      .option("checkpointLocation", ckptB)
      .foreachBatch((df: org.apache.spark.sql.Dataset[Streams.AssembledTxn], _: Long) =>
        df.collect().foreach(assembled.add))
      .start()

    // phase 1: first six events — tx-a completes, tx-b/c/d half-buffered,
    // and the drift stack still holds the undrained tail
    Files.writeString(srcDir.toPath.resolve("wal-1.json"),
      (1L to 6L).map(evJson).mkString("\n"))
    val a1 = startHopA(); a1.processAllAvailable()
    val b1 = startHopB(); b1.processAllAvailable()
    a1.stop(); b1.stop() // kill BOTH hops with in-flight state
    assert(assembled.size < 4, "the kill must land mid-pipeline, not after it")

    // phase 2: the rest of the feed + the flush sentinels, then resume
    Files.writeString(srcDir.toPath.resolve("wal-2.json"),
      ((7L to 10L).map(evJson) ++ Seq(sentinelJson(9000L), sentinelJson(9001L)))
        .mkString("\n"))
    val a2 = startHopA(); a2.processAllAvailable()
    val b2 = startHopB(); b2.processAllAvailable()
    a2.stop(); b2.stop()

    val out = assembled.toArray(Array.empty[Streams.AssembledTxn]).toSeq
    assert(out.map(_.txId).sorted === Seq("tx-a", "tx-b", "tx-c", "tx-d"),
      s"every txn exactly once across the two-hop kill: ${out.map(_.txId)}")
    assert(out.forall(t => t.events.map(_.txIndex).sorted ===
      (0 until t.nEvents)), "each txn event-complete and in order")

    // the bus actually saw the LIFO reorder (not a degenerate pass-through)
    val busRows = spark.read.schema("lsn LONG, part INT, deliverMs LONG")
      .json(midDir.getPath).collect()
      .map(r => (r.getAs[Int]("part"), r.getAs[Long]("lsn"), r.getAs[Long]("deliverMs")))
    assert(busRows.length === 10, s"bus must carry each event exactly once: ${busRows.length}")
    val busInversions = busRows.groupBy(_._1).values.map { p =>
      val byDeliver = p.sortBy(x => (x._3, x._2)).map(_._2)
      byDeliver.indices.count(i => byDeliver.take(i).exists(_ > byDeliver(i)))
    }.sum
    assert(busInversions === batchInversions,
      "streamed delivery order must equal the batch drift fold")

    // apply stage: the assembled pipeline output and the raw feed must
    // produce the SAME final sink state through the real apply operator
    def opsOf(evs: Seq[Streams.Event]) = Scenarios.opsDf(spark,
      evs.sortBy(_.lsn).map(e => (e.lsn * 10L, e.tbl, e.pk, "update",
        e.setsVal, e.valV, e.setsK, e.kV)))
    val viaPipeline = ApplyEngine.applyState(opsOf(out.flatMap(_.events)))
      .select("tbl", "pk", "val").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val direct = ApplyEngine.applyState(opsOf(txOf.keys.toSeq.sorted.map { l =>
      val (txId, idx, total) = txOf(l)
      Streams.Event(txId, idx, total, idx == total - 1, s"t${l % 2}", s"p${l % 3}",
        "u", setsVal = true, Some(l + 0.5), setsK = false, None, l * 40, l)
    }))
      .select("tbl", "pk", "val").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(viaPipeline === direct,
      "final applied state must match the batch apply over the raw feed")
  }

  /** Same kill, scalar state: the throttle's token bucket must resume its
    * tick clock from the checkpoint — a reset bucket would re-drain the
    * post-restart events from tick 1 instead of continuing at tick 3 (the
    * batch fold over the whole feed is the oracle). */
  test("restart drill: throttle bucket continues its tick clock across the kill") {
    import graft.cdc.Consumer
    import graft.cdc.Consumer.DeliveryIn
    import graft.streaming.StreamsV2
    val root = Files.createTempDirectory("restart_throttle")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val drained = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def startQuery() = StreamsV2.throttleStream(
      spark.readStream.schema("method STRING, seq LONG, availableAt LONG")
        .json(srcDir.getPath).as[DeliveryIn],
      rate = 2.0, stepMs = 1000L)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: org.apache.spark.sql.Dataset[Consumer.DeliveryOut], _: Long) =>
        df.collect().foreach(d => drained.add((d.seq, d.drainTick))))
      .start()
    def row(seq: Long): String = s"""{"method":"m","seq":$seq,"availableAt":0}"""

    Files.writeString(srcDir.toPath.resolve("b1.json"), (1 to 4).map(i => row(i)).mkString("\n"))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash after ticks 1,1,2,2 drained
    Files.writeString(srcDir.toPath.resolve("b2.json"), (5 to 6).map(i => row(i)).mkString("\n"))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val streamed = drained.toArray(Array.empty[(Long, Long)]).toMap
    val batch = Consumer.throttleDrain(
      (1 to 6).map(i => DeliveryIn("m", i.toLong, 0L)).toDS(), rate = 2.0, stepMs = 1000L)
      .collect().map(d => d.seq -> d.drainTick).toMap
    assert(streamed === batch, "recovered bucket must equal the uninterrupted batch fold")
    assert(streamed(5L) === 3L && streamed(6L) === 3L,
      "post-restart drains continue at tick 3 — a reset bucket would say 1")
  }

  /** Third state shape across the kill: a windowed aggregate's buffer
    * under the watermark. The poll's open window (its `max_by` image and op
    * count) exists only in the checkpointed state store at the kill; after
    * resume the watermark advances and the recovered window must close and
    * emit the recovered image — losing the buffer or the watermark loses
    * the window silently. */
  test("restart drill: poll row-image MapState and its timers survive the kill") {
    import graft.streaming.{Streams, StreamsV2}
    val root = Files.createTempDirectory("restart_poll")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String, Long)]()
    val schema = "txId STRING, txIndex INT, txTotal INT, last BOOLEAN, tbl STRING, " +
      "pk STRING, opCode STRING, setsVal BOOLEAN, valV DOUBLE, setsK BOOLEAN, " +
      "kV LONG, commitTs LONG, lsn LONG"
    def startQuery() = StreamsV2.pollStream(
      spark.readStream.schema(schema).json(srcDir.getPath).as[Streams.Event],
      pollIntervalMs = 1000L, watermarkDelay = "0 seconds")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: DataFrame, _: Long) =>
        df.collect().foreach(r => emitted.add((r.getAs[String]("pk"),
          r.getAs[java.sql.Timestamp]("poll_ts").getTime, r.getAs[String]("op_code"),
          r.getAs[Long]("ops_in_window")))))
      .start()
    def ev(pk: String, op: Long, t: Long, lsn: Long): String =
      s"""{"txId":"tx","txIndex":0,"txTotal":1,"last":true,"tbl":"t0","pk":"$pk",""" +
        s""""opCode":"${if (op == 0) "c" else "u"}","setsVal":true,"valV":$lsn.0,""" +
        s""""setsK":false,"kV":null,"commitTs":$t,"lsn":$lsn}"""

    // window [0,1000) of key a gets three ops; nothing closes it yet
    Files.writeString(srcDir.toPath.resolve("w1.json"),
      Seq(ev("a", 0, 100L, 1L), ev("a", 1, 300L, 2L), ev("a", 1, 700L, 3L)).mkString("\n"))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash: window open, its image only in the checkpoint
    assert(emitted.isEmpty, "open window must not emit before the watermark closes it")
    // watermark-advancing event arrives while the consumer is down
    Files.writeString(srcDir.toPath.resolve("w2.json"),
      Seq(ev("b", 0, 5000L, 4L)).mkString("\n"))
    val q2 = startQuery()
    q2.processAllAvailable()
    // close key b's window too, so both emissions are observed
    Files.writeString(srcDir.toPath.resolve("w3.json"),
      Seq(ev("c", 0, 9000L, 5L)).mkString("\n"))
    q2.processAllAvailable()
    q2.stop()
    val out = emitted.toArray(Array.empty[(String, Long, String, Long)]).toSeq.sortBy(_._1)
    assert(out.contains(("a", 1000L, "u", 3L)),
      s"recovered window must emit the recovered image (latest op, 3 ops): $out")
    assert(out.contains(("b", 6000L, "c", 1L)), s"post-restart window emits normally: $out")
  }

  /** `failures/backfill.sql` — historical rows arrive with OLD business
    * timestamps but NEW offsets: the sink applies them in offset order, so
    * backfill values win over "newer" business data already present (the
    * drill's merge-vs-replace point), and the capture assigns them monotone
    * offsets at the tail of the feed. */
  test("backfill drill: offset order beats business time at the sink") {
    // organic history: key 1 updated to 2.0 at business time t=500; then a
    // legacy migration (t >= 600 = "now") re-inserts key 1 with its
    // HISTORICAL value and adds a purely historical key 7 — arriving at the
    // tail of the feed, business created_at long past
    val feed = Scenarios.opsDf(spark, Seq(
      (100L, "t0", "1", "insert", true, Some(1.0), true, Some(10L)),
      (500L, "t0", "1", "update", true, Some(2.0), false, None),
      (600L, "t0", "1", "insert", true, Some(1.0), true, Some(10L)),
      (610L, "t0", "7", "insert", true, Some(7.0), true, Some(70L))))
    val log = Capture.log(CdcOps.withState(feed))
    // capture stamps the backfill at the tail: its lsns exceed every organic lsn
    val maxOrganic = log.filter(col("commit_ts") < 600L)
      .agg(max("lsn")).collect()(0).getLong(0)
    val backfillLsns = log.filter(col("commit_ts") >= 600L)
      .select("lsn").as[Long].collect()
    assert(backfillLsns.nonEmpty && backfillLsns.forall(_ > maxOrganic))
    // sink applies in offset order → backfill's historical value wins
    val state = ApplyEngine.replayEvents(log, "lsn").collect()
      .map(r => (r.getAs[String]("pk"), r.getAs[Double]("val"))).toMap
    assert(state("1") === 1.0,
      "last offset must win even though its business value is historical")
    assert(state("7") === 7.0, "purely historical rows appear as new inserts")
  }

  /** `failures/schema-evolution.sql` — ADD COLUMN mid-stream: a schema
    * change event is captured with a version bump; events before the change
    * don't carry the column (null handling at the sink), events after do;
    * the sink merges both gracefully — and the backward-compatibility
    * escape hatch (drop the drifted column at the consumer) projects it
    * out of every merged row. */
  test("schema-evolution drill: mid-stream ADD COLUMN handled gracefully at the sink") {
    import graft.cdc.SchemaEvolution
    import graft.cdc.SchemaEvolution.SchemaChange
    // the drill's sequence: two customers exist, then ALTER TABLE ADD
    // COLUMN tier, then an update backfills one tier and an insert uses it
    val feed = Seq(
      ("customers", "c1", "insert", 1L, """{"id":"c1","name":"Ada"}"""),
      ("customers", "c2", "insert", 2L, """{"id":"c2","name":"Bob"}"""),
      ("customers", "c2", "update", 3L, """{"id":"c2","tier":"premium"}"""),
      ("customers", "c3", "insert", 4L, """{"id":"c3","name":"Eve","tier":"gold"}"""))
      .toDF("tbl", "pk", "op", "ord", "after_json")
    val state = ApplyEngine.applyJsonState(feed, "ord").collect()
      .map(r => r.getAs[String]("pk") -> r.getAs[String]("row_json")).toMap
    assert(state("c1") === """{"id":"c1","name":"Ada"}""",
      "pre-change rows must not grow the column")
    assert(state("c2") === """{"id":"c2","name":"Bob","tier":"premium"}""",
      "post-change partial update merges the new column into the old row")
    assert(state("c3") === """{"id":"c3","name":"Eve","tier":"gold"}""")
    // the schema change itself is captured with a monotone version bump
    val change = SchemaChange("customers", "ADD_COLUMN", "tier", 500L)
    val captured = SchemaEvolution.capture(Seq(change).toDS()).collect()
    assert(captured.length === 1)
    assert(captured.head.getAs[Int]("prev_version") === 1 &&
      captured.head.getAs[Int]("next_version") === 2)
    // destination DDL: existing rows get the column null-filled
    val dest = SchemaEvolution.applyChanges(
      Seq(("c1", "Ada"), ("c2", "Bob")).toDF("id", "name"), Seq(change))
    assert(dest.columns.toSeq === Seq("id", "name", "tier"))
    assert(dest.filter(col("tier").isNotNull).count() === 0)
    // backward-compat escape hatch: project the drifted column back out
    val rolledBack = ApplyEngine.applyJsonState(feed, "ord",
      dropColumns = Seq("tier")).collect()
      .map(r => r.getAs[String]("pk") -> r.getAs[String]("row_json")).toMap
    assert(!rolledBack.values.exists(_.contains("tier")),
      "dropColumns must remove the field from every merged row")
    assert(rolledBack("c2") === """{"id":"c2","name":"Bob"}""")
  }

  /** `failures/lag.sh` — consumer pause: the sink stops consuming while the
    * source keeps writing; backlog builds; on resume the consumer catches
    * up losslessly and in order (offsets uncommitted while paused — the
    * lossless-hold contract of the pause gate). */
  test("lag drill: pause builds backlog, resume catches up losslessly in order") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val applied = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var query: org.apache.spark.sql.streaming.StreamingQuery = null
    val c = new CdcController[String]("LOG_BASED", Some("cdc.stream"),
      ModeHandlers[String](
        startTailing = _ => (),
        stop = () => if (query != null) query.stop()))
    query = input.toDS().writeStream
      .outputMode("append")
      .foreachBatch(c.gate.guard[String](
        (ds, _) => ds.collect().sorted.foreach(applied.add)))
      .start()
    c.startTailing()
    input.addData("e1", "e2")
    query.processAllAvailable()
    assert(applied.size === 2)

    c.pause() // consumer down — source keeps writing (lag builds)
    input.addData("e3", "e4")
    input.addData("e5")
    val backlogWhilePaused = new java.util.concurrent.atomic.AtomicInteger(-1)
    val resumer = new Thread(() => {
      try {
        Thread.sleep(400)
        backlogWhilePaused.set(applied.size)
      } finally c.resume()
    })
    resumer.start()
    query.processAllAvailable() // catch-up drains the whole backlog
    resumer.join()
    assert(backlogWhilePaused.get === 2,
      "nothing may apply while paused — lag accumulates at the source")
    assert(applied.toArray.toSeq === Seq("e1", "e2", "e3", "e4", "e5"),
      "catch-up must deliver the backlog losslessly, in order")
    c.stop()
  }

  /** Restart drill for the streaming funnel twin
    * (`StreamsV2.funnelStream`): per-user stage progress is keyed state —
    * a kill between micro-batches must neither reset it (a user halfway
    * down the funnel would re-emit stage 1) nor replay the advances the
    * committed batch already emitted. The advance set over the union of
    * arrivals must equal the batch `EventAnalytics.funnel` counts, and
    * the mid-funnel user's post-crash purchase must emit stage 3 WITHOUT
    * re-emitting stages 1-2 — proof the progress state survived. */
  test("restart drill: funnel stage state survives kill/resume, no advance re-emits") {
    val root = Files.createTempDirectory("funnel_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    type A = (Long, Int, String, Long)
    val advances = new java.util.concurrent.ConcurrentLinkedQueue[A]()
    def startQuery() = {
      val arrivals = spark.readStream
        .schema("userId LONG, eventType STRING, tMs LONG").json(srcDir.getPath)
        .as[graft.streaming.Streams.EventIn]
      graft.streaming.StreamsV2.funnelStream(arrivals, ttlMs = 0L)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(
          (df: org.apache.spark.sql.Dataset[graft.streaming.Streams.FunnelAdvance], _: Long) =>
            df.collect().foreach(a =>
              advances.add((a.userId, a.stage, a.stageName, a.tMs))))
        .start()
    }
    def writeRows(name: String, rows: Seq[(Long, String, Long)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        rows.map { case (u, e, t) =>
          s"""{"userId":$u,"eventType":"$e","tMs":$t}""" }.mkString("\n"))
    // u1 reaches stage 2 pre-crash; the post-crash purchase may only
    // advance to 3 if stages 1-2 survived in state. u2 signs up pre-crash
    // and clicks post-crash.
    writeRows("b1.json", Seq((1L, "signup", 100L), (1L, "click", 200L),
      (2L, "signup", 150L)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash
    val preCrash = advances.toArray(Array.empty[A]).toSeq
    assert(preCrash.map(a => (a._1, a._2)).sorted ===
      Seq((1L, 1), (1L, 2), (2L, 1)), s"pre-crash advances: $preCrash")
    writeRows("b2.json", Seq((1L, "purchase", 300L), (2L, "click", 250L)))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = advances.toArray(Array.empty[A]).toSeq.sortBy(a => (a._1, a._2))
    assert(got.map(a => (a._1, a._2)).distinct.size === got.size,
      s"no (user, stage) advance may emit twice across the kill: $got")
    assert(got.map(a => (a._1, a._2)) ===
      Seq((1L, 1), (1L, 2), (1L, 3), (2L, 1), (2L, 2)),
      s"mid-funnel state must survive the restart: $got")
    // and the streamed per-stage counts equal the batch funnel on the union
    val union = Seq((1L, "signup", 100L), (1L, "click", 200L), (2L, "signup", 150L),
      (1L, "purchase", 300L), (2L, "click", 250L))
      .map { case (u, e, t) => (u, e, t * 1000000L) }
      .toDF("user_id", "event_type", "ts")
    val batch = graft.operators.EventAnalytics.funnel(union).collect()
      .map(r => r.getAs[Long]("step").toInt -> r.getAs[Long]("n_users")).toMap
    val streamed = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(streamed === batch.filter(_._2 > 0),
      s"streamed counts $streamed != batch $batch over the union")
  }

  /** Restart drill for the streaming attribution twin
    * (`StreamsV2.attributionStream`): the carried last-touch tuple must
    * survive a kill — a reset would misroute every post-resume purchase
    * to "direct" (revenue silently re-bucketed, the worst kind of wrong).
    * A purchase arriving during the outage must emit exactly once after
    * resume, credited to the PRE-crash touch. */
  test("restart drill: attribution carried touch survives kill/resume") {
    val root = Files.createTempDirectory("attr_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    type O = (Long, String, Long, Long)
    val credits = new java.util.concurrent.ConcurrentLinkedQueue[O]()
    def startQuery() = {
      val arrivals = spark.readStream
        .schema("eventId LONG, userId LONG, eventType STRING, tMs LONG, valueTicks LONG")
        .json(srcDir.getPath)
        .as[graft.streaming.Streams.AttrIn]
      graft.streaming.StreamsV2.attributionStream(arrivals)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(
          (df: org.apache.spark.sql.Dataset[graft.streaming.Streams.AttributionOut],
              _: Long) =>
            df.collect().foreach(o =>
              credits.add((o.userId, o.channel, o.valueTicks, o.tMs))))
        .start()
    }
    def writeRows(name: String,
        rows: Seq[(Long, Long, String, Long, Long)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        rows.map { case (id, u, e, t, v) =>
          s"""{"eventId":$id,"userId":$u,"eventType":"$e","tMs":$t,"valueTicks":$v}"""
        }.mkString("\n"))
    // pre-crash: u1 views (touch), u2 buys direct; the u1 purchase comes
    // AFTER the kill and must still credit the pre-crash view
    writeRows("b1.json", Seq(
      (0L, 1L, "view", 100L, 0L),
      (1L, 2L, "purchase", 150L, 500L)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash
    val preCrash = credits.toArray(Array.empty[O]).toSeq
    assert(preCrash === Seq((2L, "direct", 500L, 150L)),
      s"pre-crash credits: $preCrash")
    writeRows("b2.json", Seq(
      (2L, 1L, "purchase", 300L, 700L),   // arrives while down
      (3L, 2L, "click", 350L, 0L),
      (4L, 2L, "purchase", 400L, 900L)))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = credits.toArray(Array.empty[O]).toSeq.sortBy(_._4)
    assert(got === Seq(
      (2L, "direct", 500L, 150L),
      (1L, "view", 700L, 300L),    // the pre-crash touch survived the kill
      (2L, "click", 900L, 400L)),
      s"credits across the kill: $got")
    // parity over the union with the batch ledger
    val union = Seq(
      (0L, 1L, "view", 100L, 0L), (1L, 2L, "purchase", 150L, 500L),
      (2L, 1L, "purchase", 300L, 700L), (3L, 2L, "click", 350L, 0L),
      (4L, 2L, "purchase", 400L, 900L))
      .map { case (id, u, e, t, v) =>
        (id, u, e, t * 1000000L, v / 100.0, "p") }
      .toDF("event_id", "user_id", "event_type", "ts", "value", "props")
    val batch = graft.operators.EventAnalytics.attribution(union).collect()
      .map(r => r.getAs[String]("channel") ->
        (r.getAs[Long]("n_purchases"),
          math.round(r.getAs[Double]("revenue") * 100))).toMap
    val streamed = got.groupBy(_._2).view
      .mapValues(v => (v.size.toLong, v.map(_._3).sum)).toMap
    assert(streamed.toMap === batch,
      s"streamed ledger $streamed != batch $batch over the union")
  }

  /** Restart drill for the streaming retention twin
    * (`StreamsV2.retentionStream`): the per-user (cohort, marked-day) state
    * must survive a kill — a reset would re-emit day marks the committed
    * batches already counted (double-counted retention) or lose the
    * cohort day entirely. Includes the pre-signup buffering edge across
    * the crash: an activity row arrives BEFORE its user's signup, the
    * process dies, and the signup lands after resume — the buffered day
    * must still emit exactly once. */
  test("restart drill: retention cohort/day state survives kill/resume") {
    val root = Files.createTempDirectory("retention_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val dayMs = 86400000L
    type M = (Long, Long, Long)
    val marks = new java.util.concurrent.ConcurrentLinkedQueue[M]()
    def startQuery() = {
      val arrivals = spark.readStream
        .schema("userId LONG, eventType STRING, tMs LONG").json(srcDir.getPath)
        .as[graft.streaming.Streams.EventIn]
      graft.streaming.StreamsV2.retentionStream(arrivals, ttlMs = 0L)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(
          (df: org.apache.spark.sql.Dataset[graft.streaming.Streams.RetentionMark], _: Long) =>
            df.collect().foreach(m =>
              marks.add((m.userId, m.cohortDay, m.dayOffset))))
        .start()
    }
    def writeRows(name: String, rows: Seq[(Long, String, Long)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        rows.map { case (u, e, t) =>
          s"""{"userId":$u,"eventType":"$e","tMs":$t}""" }.mkString("\n"))
    // u1 signs up day 0 and is active day 1 pre-crash; u2's view arrives
    // pre-crash with NO signup yet (must buffer, emit nothing)
    writeRows("b1.json", Seq(
      (1L, "signup", 100L), (1L, "view", dayMs + 100L),
      (2L, "view", 2 * dayMs + 100L)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash
    val preCrash = marks.toArray(Array.empty[M]).toSeq
    assert(preCrash.sorted === Seq((1L, 0L, 0L), (1L, 0L, 1L)),
      s"u2 must emit nothing before its signup: $preCrash")
    // post-resume: u1 re-active day 1 (must NOT re-emit) + new day 3;
    // u2's signup lands, same day as the buffered view -> offset 0
    writeRows("b2.json", Seq(
      (1L, "view", dayMs + 500L), (1L, "view", 3 * dayMs + 100L),
      (2L, "signup", 2 * dayMs + 200L)))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = marks.toArray(Array.empty[M]).toSeq.sortBy(m => (m._1, m._3))
    assert(got.distinct.size === got.size,
      s"no (user, day) mark may emit twice across the kill: $got")
    assert(got === Seq((1L, 0L, 0L), (1L, 0L, 1L), (1L, 0L, 3L), (2L, 2L, 0L)),
      s"buffered pre-signup day must emit once after resume: $got")
  }

  /** Restart drill for the streaming SCD2 builder (`StreamsV2.scd2Stream`):
    * the OPEN version lives only in state — a reset would re-open it at
    * version 1 with a blank image, silently rewriting dimension history.
    * The version spanning the crash must close exactly once after
    * resume, with the pre-crash image and version number intact. */
  test("restart drill: scd2 open version spans the kill and closes once") {
    val root = Files.createTempDirectory("scd2_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    type V = (String, Long, Long, Long, Option[Double], Option[Long])
    val closed = new java.util.concurrent.ConcurrentLinkedQueue[V]()
    def startQuery() = {
      val arrivals = spark.readStream
        .schema("tbl STRING, pk STRING, lsn LONG, t LONG, op STRING, " +
          "setsVal BOOLEAN, v DOUBLE, setsK BOOLEAN, kk LONG")
        .json(srcDir.getPath)
        .as[graft.streaming.Streams.ScdIn]
      graft.streaming.StreamsV2.scd2Stream(arrivals)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(
          (df: org.apache.spark.sql.Dataset[graft.streaming.Streams.ScdOut],
              _: Long) =>
            df.collect().foreach(o =>
              closed.add((o.pk, o.ver, o.validFrom, o.validTo, o.v, o.kk))))
        .start()
    }
    def writeRows(name: String, rows: Seq[String]): Unit =
      Files.writeString(srcDir.toPath.resolve(name), rows.mkString("\n"))
    // pre-crash: insert (ver 1, sets both) then a partial update (ver 2
    // opens with the carried k) — ver 2 is OPEN when the kill lands
    writeRows("b1.json", Seq(
      """{"tbl":"t0","pk":"a","lsn":1,"t":10,"op":"insert","setsVal":true,"v":1.5,"setsK":true,"kk":100}""",
      """{"tbl":"t0","pk":"a","lsn":2,"t":20,"op":"update","setsVal":true,"v":2.5,"setsK":false,"kk":0}"""))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash with ver 2 open
    val pre = closed.toArray(Array.empty[V]).toSeq
    assert(pre === Seq(("a", 1L, 10L, 20L, Some(1.5), Some(100L))),
      s"only ver 1 may close before the crash: $pre")
    // post-resume: the delete must close ver 2 with the PRE-crash image
    // (v from the update, k carried from the insert) — exactly once
    writeRows("b2.json", Seq(
      """{"tbl":"t0","pk":"a","lsn":3,"t":30,"op":"delete","setsVal":false,"v":0.0,"setsK":false,"kk":0}"""))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = closed.toArray(Array.empty[V]).toSeq
    assert(got === Seq(
      ("a", 1L, 10L, 20L, Some(1.5), Some(100L)),
      ("a", 2L, 20L, 30L, Some(2.5), Some(100L))),
      s"ver 2 must close once, image and version intact across the kill: $got")
  }

  /** Restart drill for the streaming DAU / new-vs-returning twin
    * (`StreamsV2.activityStream`): the per-user active-day set must survive
    * a kill — a day marked before the crash must not re-emit when the
    * same (user, day) arrives again after resume, and the ONE-isNew-ever
    * invariant must hold across the restart (a resumed user is returning,
    * never new again). */
  test("restart drill: DAU day-set state survives kill; no (user, day) re-emits") {
    val root = Files.createTempDirectory("dau_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val dayMs = 86400000L
    val marks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Boolean)]()
    def startQuery() = {
      val arrivals = spark.readStream
        .schema("user_id LONG, t_ms LONG").json(srcDir.getPath)
        .select(col("user_id").as("userId"), lit("view").as("eventType"),
          col("t_ms").as("tMs"))
        .as[graft.streaming.Streams.EventIn]
      graft.streaming.StreamsV2.activityStream(arrivals)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(
          (df: org.apache.spark.sql.Dataset[graft.streaming.Streams.DayActive],
              _: Long) =>
            df.collect().foreach(m => marks.add((m.userId, m.day, m.isNew))))
        .start()
    }
    def writeEvents(name: String, evs: Seq[(Long, Long)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        evs.map { case (u, t) => s"""{"user_id":$u,"t_ms":$t}""" }.mkString("\n"))
    // pre-crash: u1 and u2 both active on day 0 (both new)
    writeEvents("b1.json", Seq((1L, 100L), (2L, 200L)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash with both day sets in state
    // while down: u1 revisits day 0 (must NOT re-emit), u1 moves to day 1
    // (returning — the crash must not reset first-ever), u3 appears (new)
    writeEvents("b2.json",
      Seq((1L, 500L), (1L, dayMs + 100L), (3L, dayMs + 200L)))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = marks.toArray(Array.empty[(Long, Long, Boolean)]).toSeq
    assert(got.distinct.size === got.size,
      s"a (user, day) mark may never emit twice across the kill: $got")
    assert(got.toSet === Set(
      (1L, 0L, true), (2L, 0L, true), (1L, 1L, false), (3L, 1L, true)),
      s"got $got")
    // batch==streaming under fault: per-day (dau, new) equals the batch
    // ledger over the union of arrivals
    val streamed = got.groupBy(_._2).view.mapValues(ms =>
      (ms.size.toLong, ms.count(_._3).toLong)).toMap
    val batch = graft.operators.EventAnalytics.newVsReturning(
      Seq((1L, 100L), (2L, 200L), (1L, 500L), (1L, dayMs + 100L),
        (3L, dayMs + 200L))
        .map { case (u, t) => (u, t * 1000000L) }.toDF("user_id", "ts"))
      .collect().map(r => r.getAs[Long]("day") ->
        (r.getAs[Long]("dau"), r.getAs[Long]("new_users"))).toMap
    assert(streamed === batch, s"stream $streamed != batch $batch")
  }

  /** Restart drill for the streaming growth-accounting twin
    * (`StreamsV2.growthStream`): the last-active-week state must survive a
    * kill — a user retained across the crash classifies `retained` (not
    * `new` again), and a gap spanning the crash still yields the
    * churned-at-missing-week + resurrected pair exactly once. */
  test("restart drill: growth last-week state survives kill; classifications stay exact") {
    val root = Files.createTempDirectory("growth_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val weekMs = 7L * 86400000L
    val marks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    def startQuery() = {
      val arrivals = spark.readStream
        .schema("user_id LONG, t_ms LONG").json(srcDir.getPath)
        .select(col("user_id").as("userId"), lit("view").as("eventType"),
          col("t_ms").as("tMs"))
        .as[graft.streaming.Streams.EventIn]
      graft.streaming.StreamsV2.growthStream(arrivals)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(
          (df: org.apache.spark.sql.Dataset[graft.streaming.Streams.GrowthMark],
              _: Long) =>
            df.collect().foreach(m => marks.add((m.userId, m.week, m.kind))))
        .start()
    }
    def writeEvents(name: String, evs: Seq[(Long, Long)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        evs.map { case (u, t) => s"""{"user_id":$u,"t_ms":$t}""" }.mkString("\n"))
    // pre-crash: u1 and u2 both first seen in week 0
    writeEvents("b1.json", Seq((1L, 100L), (2L, 200L)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash with lastWeek=0 in state for both
    // while down: u1 returns in week 1 (retained ACROSS the crash),
    // u2 skips to week 3 (churned @1 + resurrected @3 — the gap spans
    // the kill), u3 first seen in week 1 (new)
    writeEvents("b2.json",
      Seq((1L, weekMs + 100L), (2L, 3 * weekMs + 200L), (3L, weekMs + 300L)))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = marks.toArray(Array.empty[(Long, Long, String)]).toSeq
    assert(got.distinct.size === got.size,
      s"a growth mark may never emit twice across the kill: $got")
    assert(got.toSet === Set(
      (1L, 0L, "new"), (2L, 0L, "new"), (3L, 1L, "new"),
      (1L, 1L, "retained"), (2L, 1L, "churned"), (2L, 3L, "resurrected")),
      s"got $got")
  }

  /** Restart drill for the streaming RFM twin (`StreamsV2.rfmStream`): the
    * three running totals must survive a kill — a post-resume purchase
    * continues the pre-crash frequency/monetary instead of restarting
    * them, and the latest-mark-per-user read stays exact. */
  test("restart drill: RFM running totals survive kill; post-resume marks continue them") {
    val root = Files.createTempDirectory("rfm_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val dayMs = 86400000L
    val marks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    def startQuery() = {
      val arrivals = spark.readStream
        .schema("event_id LONG, user_id LONG, event_type STRING, t_ms LONG, ticks LONG")
        .json(srcDir.getPath)
        .select(col("event_id").as("eventId"), col("user_id").as("userId"),
          col("event_type").as("eventType"), col("t_ms").as("tMs"),
          col("ticks").as("valueTicks"))
        .as[graft.streaming.Streams.AttrIn]
      graft.streaming.StreamsV2.rfmStream(arrivals)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(
          (df: org.apache.spark.sql.Dataset[graft.streaming.Streams.RfmMark],
              _: Long) =>
            df.collect().foreach(m =>
              marks.add((m.userId, m.lastDay, m.frequency, m.monetaryTicks))))
        .start()
    }
    def writeEvents(name: String, evs: Seq[(Long, Long, String, Long, Long)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        evs.map { case (id, u, et, t, v) =>
          s"""{"event_id":$id,"user_id":$u,"event_type":"$et","t_ms":$t,"ticks":$v}"""
        }.mkString("\n"))
    // pre-crash: u1 buys twice on day 0 (one mark: freq 2, 3000 ticks)
    writeEvents("b1.json", Seq(
      (0L, 1L, "purchase", 100L, 1000L), (1L, 1L, "purchase", 200L, 2000L)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash with the running totals in state
    // while down: u1 buys again on day 2; u2's first purchase arrives
    writeEvents("b2.json", Seq(
      (2L, 1L, "purchase", 2 * dayMs + 100L, 500L),
      (3L, 2L, "purchase", 2 * dayMs + 200L, 700L)))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = marks.toArray(Array.empty[(Long, Long, Long, Long)]).toSeq
    assert(got.toSet === Set(
      (1L, 0L, 2L, 3000L), (1L, 2L, 3L, 3500L), (2L, 2L, 1L, 700L)),
      s"post-resume mark must CONTINUE the pre-crash totals: $got")
    // latest mark per user == a batch one-shot over the union
    val latest = got.groupBy(_._1).view.mapValues(_.maxBy(_._3)).toMap
    assert(latest(1L) === ((1L, 2L, 3L, 3500L)) && latest(2L) === ((2L, 2L, 1L, 700L)))
  }

  /** Restart drill for the RFM running totals (`StreamsV2.rfmStream`)
    * on a single-user feed: the ValueState must survive a kill under the
    * RocksDB provider, the post-resume mark continuing the pre-crash
    * totals. */
  test("restart drill: V2 (transformWithState) RFM totals survive kill under RocksDB") {
    val root = Files.createTempDirectory("rfm_v2_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val dayMs = 86400000L
    val marks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    def startQuery() = {
      val arrivals = spark.readStream
        .schema("event_id LONG, user_id LONG, event_type STRING, t_ms LONG, ticks LONG")
        .json(srcDir.getPath)
        .select(col("event_id").as("eventId"), col("user_id").as("userId"),
          col("event_type").as("eventType"), col("t_ms").as("tMs"),
          col("ticks").as("valueTicks"))
        .as[graft.streaming.Streams.AttrIn]
      graft.streaming.StreamsV2.rfmStream(arrivals)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(
          (df: org.apache.spark.sql.Dataset[graft.streaming.Streams.RfmMark],
              _: Long) =>
            df.collect().foreach(m =>
              marks.add((m.userId, m.lastDay, m.frequency, m.monetaryTicks))))
        .start()
    }
    def writeEvents(name: String, evs: Seq[(Long, Long, String, Long, Long)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        evs.map { case (id, u, et, t, v) =>
          s"""{"event_id":$id,"user_id":$u,"event_type":"$et","t_ms":$t,"ticks":$v}"""
        }.mkString("\n"))
    writeEvents("b1.json", Seq(
      (0L, 1L, "purchase", 100L, 1000L), (1L, 1L, "purchase", 200L, 2000L)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    writeEvents("b2.json", Seq(
      (2L, 1L, "purchase", 2 * dayMs + 100L, 500L)))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = marks.toArray(Array.empty[(Long, Long, Long, Long)]).toSeq
    assert(got.toSet === Set((1L, 0L, 2L, 3000L), (1L, 2L, 3L, 3500L)),
      s"V2 post-resume mark must CONTINUE the pre-crash totals: $got")
  }

  /** Restart drill for the V2 timer path (`StreamsV2.growthStream`): a
    * processing-time timer registered BEFORE a kill lives in the state
    * store, so after resume the silent-churn eviction must still fire —
    * and the tombstone it writes must survive into the resumed query so
    * the user's return classifies `resurrected`. Pins the part of the
    * timer plumbing no ttl=0 parity test can reach: recovery. */
  test("restart drill: V2 growth timer fires after resume; tombstone survives the kill") {
    val root = Files.createTempDirectory("growth_v2_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val weekMs = 7L * 86400000L
    val marks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    def startQuery() = {
      val arrivals = spark.readStream
        .schema("user_id LONG, t_ms LONG").json(srcDir.getPath)
        .select(col("user_id").as("userId"), lit("view").as("eventType"),
          col("t_ms").as("tMs"))
        .as[graft.streaming.Streams.EventIn]
      // 3 s TTL so the kill reliably lands before expiry (the engine
      // self-triggers batches under live processing-time timers — see
      // the scd2 drill's note)
      graft.streaming.StreamsV2.growthStream(arrivals, ttlMs = 3000L)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(
          (df: org.apache.spark.sql.Dataset[graft.streaming.Streams.GrowthMark],
              _: Long) =>
            df.collect().foreach(m => marks.add((m.userId, m.week, m.kind))))
        .start()
    }
    def writeEvents(name: String, evs: Seq[(Long, Long)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        evs.map { case (u, t) => s"""{"user_id":$u,"t_ms":$t}""" }.mkString("\n"))
    def u1(): Seq[(Long, Long, String)] =
      marks.toArray(Array.empty[(Long, Long, String)]).toSeq.filter(_._1 == 1L)
    // batch 1: u1 first seen (week 0); a 3 s eviction timer is now
    // registered in the checkpointed state store
    writeEvents("b1.json", Seq((1L, 100L)))
    val q1 = startQuery()
    val d0 = System.currentTimeMillis() + 60000L
    while (!u1().exists(_._3 == "new") && System.currentTimeMillis() < d0)
      Thread.sleep(100L)
    q1.stop() // kill BEFORE the timer fires (the 3 s TTL leaves room)
    assert(u1().map(_._3) === Seq("new"), s"pre-kill marks: ${u1()}")
    Thread.sleep(3500L) // the TTL expires while the query is down
    // resume: the recovered timer must fire once a batch runs — drive
    // batches with an unrelated user's events (the V2 nudge discipline;
    // processAllAvailable can block while timers keep the loop busy)
    val q2 = startQuery()
    val deadline = System.currentTimeMillis() + 90000L
    var nudge = 1000L
    while (!u1().exists(_._3 == "churned") &&
        System.currentTimeMillis() < deadline) {
      Thread.sleep(250L)
      nudge += 1
      writeEvents(s"nudge$nudge.json", Seq((99L, nudge)))
    }
    assert(u1().exists(_._3 == "churned"),
      s"the recovered timer must emit the silent churn: ${u1()}")
    // the tombstone written by the post-resume eviction must classify
    // u1's return as resurrected, never a second new
    writeEvents("b2.json", Seq((1L, 4 * weekMs + 100L)))
    while (!u1().exists(_._3 == "resurrected") &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(250L)
    q2.stop()
    // DISTINCT marks: the foreachBatch queue is an at-least-once sink —
    // a batch whose commit the kill raced can REPLAY identical rows on
    // resume (observed: a duplicate (1,0,new)). The state is exactly
    // once; a real tombstone loss would mint a new mark at a DIFFERENT
    // week, which distinct does not mask.
    val got = u1().distinct
    assert(got.contains((1L, 1L, "churned")) &&
      got.contains((1L, 4L, "resurrected")) &&
      got.count(_._3 == "new") === 1,
      s"churn@1 + resurrect@4 + one new ever, got $got")
  }

  /** Restart drill for the streaming cohort-LTV twin (`StreamsV2.ltvStream`):
    * the cohort-day state must survive a kill — a post-resume purchase
    * still lands in the cohort settled before the crash, the entry mark
    * never re-emits, and a purchase replayed by the checkpointed source
    * never double-counts. */
  test("restart drill: LTV cohort state survives kill; entry never re-emits") {
    val root = Files.createTempDirectory("ltv_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val dayMs = 86400000L
    val marks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long, Boolean)]()
    def startQuery() = {
      val arrivals = spark.readStream
        .schema("event_id LONG, user_id LONG, event_type STRING, t_ms LONG, ticks LONG")
        .json(srcDir.getPath)
        .select(col("event_id").as("eventId"), col("user_id").as("userId"),
          col("event_type").as("eventType"), col("t_ms").as("tMs"),
          col("ticks").as("valueTicks"))
        .as[graft.streaming.Streams.AttrIn]
      graft.streaming.StreamsV2.ltvStream(arrivals)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(
          (df: org.apache.spark.sql.Dataset[graft.streaming.Streams.LtvMark],
              _: Long) =>
            df.collect().foreach(m => marks.add(
              (m.userId, m.cohortDay, m.weekOffset, m.valueTicks, m.entry))))
        .start()
    }
    def writeEvents(name: String, evs: Seq[(Long, Long, String, Long, Long)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        evs.map { case (id, u, et, t, v) =>
          s"""{"event_id":$id,"user_id":$u,"event_type":"$et","t_ms":$t,"ticks":$v}"""
        }.mkString("\n"))
    // pre-crash: u1 joins cohort day 0 and buys in week 0
    writeEvents("b1.json", Seq(
      (0L, 1L, "signup", 100L, 0L), (1L, 1L, "purchase", 200L, 1200L)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash with cohortDay=0 in state
    // while down: u1 buys again in week 1 (must attribute to cohort 0,
    // not re-enter); u2 buys with no signup ever (must drop)
    writeEvents("b2.json", Seq(
      (2L, 1L, "purchase", 8 * dayMs + 100L, 800L),
      (3L, 2L, "purchase", 8 * dayMs + 200L, 999L)))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = marks.toArray(Array.empty[(Long, Long, Long, Long, Boolean)]).toSeq
    assert(got.count(_._5) === 1, s"entry mark must emit exactly once: $got")
    assert(got.toSet === Set(
      (1L, 0L, 0L, 0L, true), (1L, 0L, 0L, 1200L, false),
      (1L, 0L, 1L, 800L, false)),
      s"post-resume purchase joins the pre-crash cohort; signup-less buyer drops: $got")
  }

  /** Restart drill for the V2 SCD2 builder (`StreamsV2.scd2Stream`): the
    * heaviest per-key state of the keyed family must survive a kill under
    * RocksDB — the version OPEN at the crash closes exactly once after
    * resume with image and counter intact; a TTL timer registered BEFORE
    * the kill is recovered from the checkpoint and still evicts (emitting
    * the ScdEvictedOpen row, never dropping it); and the eviction removes
    * the state entirely, so the key's next insert restarts at version 1,
    * drilled through recovery. */
  test("restart drill: V2 scd2 recovered timer evicts the open version; " +
      "counter resets after eviction") {
    val root = Files.createTempDirectory("scd2_v2_drill")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    type V = (String, Long, Long, Long, Option[Double], Option[Long])
    val closed = new java.util.concurrent.ConcurrentLinkedQueue[V]()
    def startQuery() = {
      val arrivals = spark.readStream
        .schema("tbl STRING, pk STRING, lsn LONG, t LONG, op STRING, " +
          "setsVal BOOLEAN, v DOUBLE, setsK BOOLEAN, kk LONG")
        .json(srcDir.getPath)
        .as[graft.streaming.Streams.ScdIn]
      // TTL long enough that the kill reliably lands BEFORE expiry: with
      // live processing-time timers the engine self-triggers batches, so
      // a 200 ms TTL can fire between the poll loop seeing the ver-1
      // close and q1.stop() taking effect (observed as a pre-kill
      // eviction row)
      graft.streaming.StreamsV2.scd2Stream(arrivals, ttlMs = 3000L)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(
          (df: org.apache.spark.sql.Dataset[graft.streaming.Streams.ScdOut],
              _: Long) =>
            df.collect().foreach(o =>
              if (o.tbl == "t0") // nudge-key rows are not under test
                closed.add((o.pk, o.ver, o.validFrom, o.validTo, o.v, o.kk))))
        .start()
    }
    def writeRows(name: String, rows: Seq[String]): Unit =
      Files.writeString(srcDir.toPath.resolve(name), rows.mkString("\n"))
    def rows(): Seq[V] = closed.toArray(Array.empty[V]).toSeq
    // pre-crash: insert (ver 1) + partial update (ver 2 OPEN, carries k);
    // a 3 s eviction timer is now in the checkpointed state store
    writeRows("b1.json", Seq(
      """{"tbl":"t0","pk":"a","lsn":1,"t":10,"op":"insert","setsVal":true,"v":1.5,"setsK":true,"kk":100}""",
      """{"tbl":"t0","pk":"a","lsn":2,"t":20,"op":"update","setsVal":true,"v":2.5,"setsK":false,"kk":0}"""))
    val q1 = startQuery()
    val d0 = System.currentTimeMillis() + 60000L
    while (rows().isEmpty && System.currentTimeMillis() < d0)
      Thread.sleep(100L)
    q1.stop() // kill BEFORE the timer fires (the 3 s TTL leaves room)
    // DISTINCT: the foreachBatch queue is at-least-once across a kill
    // (a raced commit replays identical rows on resume — the growth
    // drill's observed duplicate); state itself is exactly-once
    assert(rows().distinct === Seq(("a", 1L, 10L, 20L, Some(1.5), Some(100L))),
      s"only ver 1 may close before the crash: ${rows()}")
    Thread.sleep(3500L) // the TTL expires while the query is down
    // resume: the recovered timer must evict ver 2 once a batch runs —
    // drive batches with an unrelated key (the V2 nudge discipline)
    val q2 = startQuery()
    val deadline = System.currentTimeMillis() + 90000L
    var nudge = 1000L
    while (!rows().exists(_._4 == graft.streaming.Streams.ScdEvictedOpen) &&
        System.currentTimeMillis() < deadline) {
      Thread.sleep(250L)
      nudge += 1
      writeRows(s"nudge$nudge.json", Seq(
        s"""{"tbl":"t9","pk":"z","lsn":$nudge,"t":$nudge,"op":"insert","setsVal":true,"v":0.0,"setsK":false,"kk":0}"""))
    }
    assert(rows().contains(("a", 2L, 20L, graft.streaming.Streams.ScdEvictedOpen,
      Some(2.5), Some(100L))),
      s"recovered timer must evict ver 2 with the pre-crash image: ${rows()}")
    // eviction removed the state: the key's next insert+update restarts
    // the version counter at 1 with a BLANK image (no k carry-over)
    writeRows("b2.json", Seq(
      """{"tbl":"t0","pk":"a","lsn":50,"t":500,"op":"insert","setsVal":true,"v":9.0,"setsK":false,"kk":0}""",
      """{"tbl":"t0","pk":"a","lsn":51,"t":600,"op":"update","setsVal":true,"v":9.5,"setsK":false,"kk":0}"""))
    while (!rows().exists(_._3 == 500L) &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(250L)
    q2.stop()
    val reborn = rows().filter(_._3 == 500L).distinct
    assert(reborn === Seq(("a", 1L, 500L, 600L, Some(9.0), None)),
      s"post-eviction history must restart at ver 1 with a blank image: $reborn")
  }

  /** State-schema evolution drill — the capability `transformWithState`
    * advertises over `flatMapGroupsWithState`'s `GroupState` (where an
    * added state field is checkpoint-BREAKING: resume needs a fresh
    * checkpoint). With the
    * Avro state encoding (`spark.sql.streaming.stateStore.encodingFormat
    * = avro`, StateSchemaV3), a V2 processor can add a nullable field to
    * its state case class and RESUME THE SAME CHECKPOINT: pre-evolution
    * state decodes with the new field defaulted (None), and new writes
    * round-trip it. The drill: checkpoint [[SchemaEvolutionDrill
    * .CountProcessorV1]] (per-key count state), kill, resume with the
    * evolved [[SchemaEvolutionDrill.CountProcessorV2]] (adds
    * `bonus: Option[Long]`), assert decode + running-count parity with a
    * batch fold of the union. */
  test("schema-evolution drill: V2 state gains a defaulted field and " +
      "resumes the same checkpoint (avro encoding)") {
    import scala.jdk.CollectionConverters._
    import graft.SchemaEvolutionDrill._
    val root = Files.createTempDirectory("tws_schema_evo")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    def writeEvents(name: String, evs: Seq[(Long, Long)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        evs.map { case (u, t) => s"""{"user_id":$u,"t_ms":$t}""" }.mkString("\n"))
    def startQuery(evolved: Boolean) = {
      val typed = spark.readStream.schema("user_id LONG, t_ms LONG")
        .json(srcDir.getPath)
        .select(col("user_id").as("userId"), lit("view").as("eventType"),
          col("t_ms").as("tMs"))
        .as[graft.streaming.Streams.EventIn]
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val counted =
        if (evolved)
          typed.groupByKey(_.userId).transformWithState(
            new CountProcessorV2(), TimeMode.None(), OutputMode.Update())
        else
          typed.groupByKey(_.userId).transformWithState(
            new CountProcessorV1(), TimeMode.None(), OutputMode.Update())
      counted.writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch((df: org.apache.spark.sql.Dataset[CountOut], _: Long) =>
          df.collect().foreach(o => out.add((o.userId, o.count, o.bonus))))
        .start()
    }
    val encKey = "spark.sql.streaming.stateStore.encodingFormat"
    val prevEnc = spark.conf.getOption(encKey)
    // avro from the FIRST write: an unsaferow checkpoint cannot evolve
    spark.conf.set(encKey, "avro")
    try {
      writeEvents("day-1.json", Seq((1L, 1000L), (1L, 2000L), (2L, 3000L)))
      val q1 = startQuery(evolved = false)
      q1.processAllAvailable()
      q1.stop() // kill with u1.count=2, u2.count=1 serialized pre-evolution
      assert(out.asScala.toSet === Set((1L, 2L, -1L), (2L, 1L, -1L)))
      out.clear()
      // while down, the processor EVOLVES: EvoCountV2 adds bonus
      writeEvents("day-2.json", Seq((1L, 4000L), (3L, 5000L)))
      val q2 = startQuery(evolved = true)
      q2.processAllAvailable()
      // decode: u1's pre-evolution state read back (count 2 → 3) with the
      // added field defaulted to None (bonus emits -1); u3 is fresh
      assert(out.asScala.toSet === Set((1L, 3L, -1L), (3L, 1L, -1L)),
        s"pre-evolution state must decode with the new field defaulted: ${out.asScala}")
      out.clear()
      // round-trip: V2 wrote bonus=Some(10*count) for every key it touched
      writeEvents("day-3.json", Seq((1L, 6000L), (3L, 7000L)))
      q2.processAllAvailable()
      q2.stop()
      assert(out.asScala.toSet === Set((1L, 4L, 30L), (3L, 2L, 10L)),
        s"evolved-field writes must round-trip: ${out.asScala}")
      // parity: running counts equal a batch fold of the union
      val batch = Map(1L -> 4L, 2L -> 1L, 3L -> 2L)
      assert(out.asScala.map(o => o._1 -> o._2).toMap ===
        batch.filter { case (k, _) => Set(1L, 3L).contains(k) })
    } finally prevEnc match {
      case Some(v) => spark.conf.set(encKey, v)
      case None => spark.conf.unset(encKey)
    }
  }

  /** Round-16 widening of the evolution drill (verdict #6a): the r15 proof
    * covered `ValueState` — this one evolves the operationally riskier
    * `ListState` TXN BUFFER mid-checkpoint: V1 buffers (seq, payload)
    * items; the kill lands with two items half-buffered; the resumed V2
    * processor's buffered-item schema adds `tag: Option[Long]`. The
    * pre-evolution ITEMS (not just a scalar) must decode with the field
    * defaulted, and items appended post-evolution must round-trip it. */
  test("schema-evolution drill: ListState txn-buffer items gain a defaulted " +
      "field and resume the same checkpoint (avro encoding)") {
    import scala.jdk.CollectionConverters._
    import graft.ListEvolutionDrill._
    val root = Files.createTempDirectory("tws_list_evo")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String, String)]()
    def writeEvents(name: String, evs: Seq[(Long, String, Long)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        evs.map { case (u, e, t) =>
          s"""{"user_id":$u,"event_type":"$e","t_ms":$t}"""
        }.mkString("\n"))
    def startQuery(evolved: Boolean) = {
      val typed = spark.readStream
        .schema("user_id LONG, event_type STRING, t_ms LONG")
        .json(srcDir.getPath)
        .select(col("user_id").as("userId"), col("event_type").as("eventType"),
          col("t_ms").as("tMs"))
        .as[graft.streaming.Streams.EventIn]
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val flushed =
        if (evolved)
          typed.groupByKey(_.userId).transformWithState(
            new BufProcessorV2(), TimeMode.None(), OutputMode.Append())
        else
          typed.groupByKey(_.userId).transformWithState(
            new BufProcessorV1(), TimeMode.None(), OutputMode.Append())
      flushed.writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch((df: org.apache.spark.sql.Dataset[FlushOut], _: Long) =>
          df.collect().foreach(o => out.add((o.userId, o.n, o.payloads, o.tags))))
        .start()
    }
    val encKey = "spark.sql.streaming.stateStore.encodingFormat"
    val prevEnc = spark.conf.getOption(encKey)
    spark.conf.set(encKey, "avro")
    try {
      // two items buffered pre-evolution, NO flush — the kill lands with
      // the interesting state serialized under the V1 item schema
      writeEvents("b1.json", Seq((1L, "open", 1000L), (1L, "add", 2000L)))
      val q1 = startQuery(evolved = false)
      q1.processAllAvailable()
      q1.stop()
      assert(out.isEmpty, "nothing flushed pre-kill")
      // evolve while down; the flush makes V2 READ the V1-buffered items
      writeEvents("b2.json", Seq((1L, "flush", 3000L)))
      val q2 = startQuery(evolved = true)
      q2.processAllAvailable()
      assert(out.asScala.toSeq === Seq((1L, 2L, "open|add", "-1|-1")),
        s"pre-evolution buffered items must decode with tag defaulted: ${out.asScala}")
      out.clear()
      // post-evolution appends round-trip the new field (tag = 2*tMs)
      writeEvents("b3.json", Seq((1L, "add2", 4000L)))
      q2.processAllAvailable()
      writeEvents("b4.json", Seq((1L, "flush", 5000L)))
      q2.processAllAvailable()
      q2.stop()
      assert(out.asScala.toSeq === Seq((1L, 1L, "add2", "8000")),
        s"evolved-field items must round-trip: ${out.asScala}")
    } finally prevEnc match {
      case Some(v) => spark.conf.set(encKey, v)
      case None => spark.conf.unset(encKey)
    }
  }

  /** Round-16 (verdict #6b): the documented unsaferow limitation PINNED as
    * a contract, not a surprise — a checkpoint written under the default
    * UnsafeRow state encoding CANNOT evolve: resuming with the added
    * nullable field must fail loudly with Spark's state-schema
    * incompatibility error (the drill asserts the error chain names the
    * schema problem), never decode garbage or silently reset state. The
    * remedy: a fresh checkpoint, or avro from the first write. */
  test("schema-evolution drill: an unsaferow checkpoint REFUSES to evolve " +
      "(loud state-schema error, pinned)") {
    import graft.SchemaEvolutionDrill._
    val root = Files.createTempDirectory("tws_unsaferow_evo")
    val srcDir = root.resolve("src").toFile
    srcDir.mkdirs()
    val ckpt = root.resolve("ckpt").toString
    def writeEvents(name: String, evs: Seq[(Long, Long)]): Unit =
      Files.writeString(srcDir.toPath.resolve(name),
        evs.map { case (u, t) => s"""{"user_id":$u,"t_ms":$t}""" }.mkString("\n"))
    def startQuery(evolved: Boolean) = {
      val typed = spark.readStream.schema("user_id LONG, t_ms LONG")
        .json(srcDir.getPath)
        .select(col("user_id").as("userId"), lit("view").as("eventType"),
          col("t_ms").as("tMs"))
        .as[graft.streaming.Streams.EventIn]
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val counted =
        if (evolved)
          typed.groupByKey(_.userId).transformWithState(
            new CountProcessorV2(), TimeMode.None(), OutputMode.Update())
        else
          typed.groupByKey(_.userId).transformWithState(
            new CountProcessorV1(), TimeMode.None(), OutputMode.Update())
      counted.writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch((df: org.apache.spark.sql.Dataset[CountOut], _: Long) =>
          { df.collect(); () })
        .start()
    }
    val encKey = "spark.sql.streaming.stateStore.encodingFormat"
    val prevEnc = spark.conf.getOption(encKey)
    // the DEFAULT encoding — explicitly, so the pin survives a session
    // that ran the avro drills first
    spark.conf.set(encKey, "unsaferow")
    try {
      writeEvents("day-1.json", Seq((1L, 1000L), (2L, 2000L)))
      val q1 = startQuery(evolved = false)
      q1.processAllAvailable()
      q1.stop()
      writeEvents("day-2.json", Seq((1L, 3000L)))
      val q2 = startQuery(evolved = true)
      val e = intercept[Exception] { q2.processAllAvailable() }
      try q2.stop() catch { case _: Throwable => () }
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8)
        .map(t => t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage))
        .mkString("\n")
      assert(chain.toLowerCase.contains("schema"),
        s"the refusal must name the state-schema incompatibility, got:\n$chain")
    } finally prevEnc match {
      case Some(v) => spark.conf.set(encKey, v)
      case None => spark.conf.unset(encKey)
    }
  }
}

/** Test-local processor pair for the schema-evolution drill: same state
  * variable name ("evoCount"), V2's state case class adds a NULLABLE
  * field — the evolution StateSchemaV3 + Avro encoding supports in place
  * (a non-nullable addition has no Avro default and is rejected). */
object SchemaEvolutionDrill {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

  case class EvoCountV1(count: Long)
  case class EvoCountV2(count: Long, bonus: Option[Long])
  case class CountOut(userId: Long, count: Long, bonus: Long)

  class CountProcessorV1
      extends StatefulProcessor[Long, graft.streaming.Streams.EventIn, CountOut] {
    @transient private var st: ValueState[EvoCountV1] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState(
        "evoCount", Encoders.product[EvoCountV1], TTLConfig.NONE)
    override def handleInputRows(
        userId: Long, rows: Iterator[graft.streaming.Streams.EventIn],
        timerValues: TimerValues): Iterator[CountOut] = {
      val c = Option(st.get()).map(_.count).getOrElse(0L) + rows.size
      st.update(EvoCountV1(c))
      Iterator.single(CountOut(userId, c, -1L))
    }
  }

  class CountProcessorV2
      extends StatefulProcessor[Long, graft.streaming.Streams.EventIn, CountOut] {
    @transient private var st: ValueState[EvoCountV2] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState(
        "evoCount", Encoders.product[EvoCountV2], TTLConfig.NONE)
    override def handleInputRows(
        userId: Long, rows: Iterator[graft.streaming.Streams.EventIn],
        timerValues: TimerValues): Iterator[CountOut] = {
      val prev = Option(st.get())
      val c = prev.map(_.count).getOrElse(0L) + rows.size
      // emit the DECODED bonus (pre-evolution state must read None),
      // then write an evolved-field value for the round-trip assertion
      val decoded = prev.flatMap(_.bonus).getOrElse(-1L)
      st.update(EvoCountV2(c, Some(10L * c)))
      Iterator.single(CountOut(userId, c, decoded))
    }
  }
}

/** Test-local processor pair for the ListState evolution drill (round 16):
  * a minimal txn-buffer shape — items append per key until a "flush"
  * event, which emits the buffered run and clears. V2's ITEM case class
  * adds a nullable `tag`; same state variable name ("evoBuf"), so the
  * resumed query reads V1-serialized items through the evolved schema. */
object ListEvolutionDrill {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
  import graft.streaming.Streams.EventIn

  case class BufV1(seq: Long, payload: String)
  case class BufV2(seq: Long, payload: String, tag: Option[Long])
  case class FlushOut(userId: Long, n: Long, payloads: String, tags: String)

  class BufProcessorV1 extends StatefulProcessor[Long, EventIn, FlushOut] {
    @transient private var buf: ListState[BufV1] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState("evoBuf", Encoders.product[BufV1], TTLConfig.NONE)
    override def handleInputRows(
        userId: Long, rows: Iterator[EventIn],
        timerValues: TimerValues): Iterator[FlushOut] =
      rows.toSeq.sortBy(_.tMs).iterator.flatMap { ev =>
        if (ev.eventType == "flush") {
          val items = buf.get().toSeq.sortBy(_.seq)
          buf.clear()
          Iterator.single(FlushOut(userId, items.size.toLong,
            items.map(_.payload).mkString("|"), ""))
        } else {
          buf.appendValue(BufV1(ev.tMs, ev.eventType))
          Iterator.empty
        }
      }
  }

  class BufProcessorV2 extends StatefulProcessor[Long, EventIn, FlushOut] {
    @transient private var buf: ListState[BufV2] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState("evoBuf", Encoders.product[BufV2], TTLConfig.NONE)
    override def handleInputRows(
        userId: Long, rows: Iterator[EventIn],
        timerValues: TimerValues): Iterator[FlushOut] =
      rows.toSeq.sortBy(_.tMs).iterator.flatMap { ev =>
        if (ev.eventType == "flush") {
          val items = buf.get().toSeq.sortBy(_.seq)
          buf.clear()
          // pre-evolution items decode tag=None (emitted -1); evolved
          // appends carry Some(2*seq)
          Iterator.single(FlushOut(userId, items.size.toLong,
            items.map(_.payload).mkString("|"),
            items.map(_.tag.getOrElse(-1L)).mkString("|")))
        } else {
          buf.appendValue(BufV2(ev.tMs, ev.eventType, Some(2L * ev.tMs)))
          Iterator.empty
        }
      }
  }
}
