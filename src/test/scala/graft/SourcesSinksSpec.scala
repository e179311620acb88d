package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sinks.Sinks
import graft.sources.{DebeziumSource, ScenarioSource, WorkloadGen}
import graft.testutil.PlanNodes

/** Scenario fixture IO + normaliser, Debezium envelope decode, NDJSON export,
  * idempotent upsert, workload generators. */
class SourcesSinksSpec extends SparkSpec {

  import spark.implicits._

  test("scenario fixture scan + normaliser: op codes, pk derivation, sort by t") {
    val fixture = """{
      "id": "crud-basic", "name": "CRUD basics", "seed": 7, "table": "customers",
      "ops": [
        {"t": 300, "op": "d", "pk": {"id": "c1"}},
        {"t": 100, "op": "c", "after": {"id": "c1", "name": "Ada"}},
        {"t": 200, "op": "u", "after": {"id": "c1", "name": "Ada L."}},
        {"t": 250, "op": "noop", "after": {"id": "c9"}},
        {"t": 260, "op": "u", "after": {"name": "no-pk, dropped"}},
        {"t": 280, "op": "snapshot", "after": {"id": "c2"}}
      ]}"""
    val dir = Files.createTempDirectory("scenario").toFile
    val path = new java.io.File(dir, "s.json")
    Files.writeString(path.toPath, fixture)
    val ops = ScenarioSource.normaliseOps(ScenarioSource.read(spark, path.getPath)).collect()
    assert(ops.map(_.getAs[String]("op")).toSeq ===
      Seq("insert", "update", "insert", "delete")) // sorted by t; noop+no-pk dropped
    assert(ops.forall(_.getAs[String]("tbl") == "customers"))
    assert(ops.map(_.getAs[String]("pk")).toSeq === Seq("c1", "c1", "c2", "c1"))
  }

  test("debezium envelope decode: op normalisation, payload unwrap, allowlist") {
    val envelopes = Seq(
      """{"op":"c","after":"{\"id\":\"1\",\"v\":5}","ts_ms":100,"source":{"table":"users","lsn":1}}""",
      """{"op":"r","after":"{\"id\":\"2\"}","ts_ms":110,"source":{"table":"users","lsn":2}}""",
      """{"op":"d","before":"{\"id\":\"1\"}","ts_ms":120,"source":{"table":"users","lsn":3},"tx":{"id":"t1","index":0,"total":1,"last":true}}""",
      """{"payload":{"op":"u","after":"{\"id\":\"3\"}","ts_ms":130,"source":{"table":"users","lsn":4}}}""",
      """{"op":"c","after":"{\"id\":\"9\"}","ts_ms":140,"source":{"table":"other","lsn":5}}"""
    ).toDF("value")
    val out = DebeziumSource.decode(envelopes, col("value"), tableAllowlist = Seq("users"))
      .orderBy("lsn").collect()
    assert(out.length === 4) // 'other' filtered
    assert(out.map(_.getAs[String]("op")).toSeq === Seq("insert", "insert", "delete", "update"))
    assert(out.map(_.getAs[String]("pk")).toSeq === Seq("1", "2", "1", "3")) // delete pk from before
    assert(out(2).getAs[String]("tx_id") === "t1")
    assert(out.forall(_.getAs[Boolean]("tx_last")))
  }

  test("decode passthrough keeps the kafka offset triple; live source is gated") {
    // the kafka wire's shape without a broker: value + (topic, partition,
    // offset) pass through decode for downstream exactly-once dedup
    val enveloped = Seq(
      ("""{"op":"c","after":"{\"id\":\"1\"}","ts_ms":100,"source":{"table":"users","lsn":1}}""",
        "cdc.users", 0, 41L))
      .toDF("value", "topic", "partition", "offset")
    val out = DebeziumSource.decode(enveloped, col("value"),
      passthrough = Seq("topic", "partition", "offset")).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getAs[String]("topic"), r.getAs[Int]("partition"), r.getAs[Long]("offset")) ===
      (("cdc.users", 0, 41L)))
    assert(r.getAs[String]("op") === "insert" && r.getAs[String]("pk") === "1")
    // without the env gate the live source must fail with the clear
    // contract error, never reach Kafka's opaque data-source lookup
    val e = intercept[IllegalArgumentException] {
      DebeziumSource.kafkaStream(spark, "broker:9092", "cdc.users")
    }
    assert(e.getMessage.contains("spark.graft.kafka.enabled"))
  }

  test("debezium encode→decode round-trip across wrapper/snapshot/delete branches") {
    // event ids chosen to hit every encoder branch: 0 (wrapped + r-snapshot),
    // 7 (odd, r-snapshot), 2 (wrapped update), 3 (odd delete: before-only pk)
    val feed = Seq(
      (0L, "t0", "1", "insert", 100L, """{"id":"1","v":"5"}"""),
      (7L, "t1", "2", "insert", 110L, """{"id":"2","k":"9"}"""),
      (2L, "t0", "1", "update", 120L, """{"id":"1","v":"6"}"""),
      (3L, "t0", "1", "delete", 130L, null: String))
      .toDF("event_id", "tbl", "pk", "op", "t", "after_json")
      .withColumn("lsn", col("t") * 1000000L + col("event_id"))
    val decoded = DebeziumSource.decode(DebeziumSource.encode(feed), col("value"))
      .orderBy("lsn").collect()
    assert(decoded.map(_.getAs[String]("op")).toSeq ===
      Seq("insert", "insert", "update", "delete")) // r-snapshots normalize to insert
    assert(decoded.map(_.getAs[String]("pk")).toSeq === Seq("1", "2", "1", "1"))
    assert(decoded.map(_.getAs[Long]("lsn")).toSeq ===
      feed.orderBy("lsn").collect().map(_.getAs[Long]("lsn")).toSeq)
    assert(decoded.map(_.getAs[String]("after_json")).toSeq ===
      Seq("""{"id":"1","v":"5"}""", """{"id":"2","k":"9"}""",
        """{"id":"1","v":"6"}""", null)) // payload unwrap is lossless
    assert(decoded.map(_.getAs[String]("tx_id")).toSeq ===
      Seq("tx-0", "tx-2", "tx-0", "tx-1")) // event_id div 3
  }

  test("ndjson export: stable field order, coercions") {
    val events = Seq((2L, "u", " padded ", "7.5"), (1L, "c", "x", "oops"))
      .toDF("seq", "op", "s", "num")
      .select(col("seq"), col("op"),
        Sinks.coerceString(col("s")).as("s"),
        Sinks.coerceNumber(col("num")).as("num"))
    val lines = Sinks.ndjsonLines(events.orderBy("seq"), Seq("seq", "op", "s", "num"))
      .as[String].collect()
    assert(lines(0) === """{"seq":1,"op":"c","s":"x"}""") // non-numeric num dropped (null omitted)
    assert(lines(1) === """{"seq":2,"op":"u","s":"padded","num":7.5}""")
  }

  test("JDBC idempotent upsert: real-database roundtrip, replay-safe, order-insensitive") {
    val db = Files.createTempDirectory("derby_sink").resolve("db")
    val url = s"jdbc:derby:$db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().executeUpdate(
      "CREATE TABLE sink_t (pk VARCHAR(64) PRIMARY KEY, val DOUBLE, k BIGINT, seq BIGINT)")
    conn.close()

    // out-of-order delivery: p1's seq-3 image arrives BEFORE its seq-1;
    // p2 carries a null payload column; p3 is a single insert
    val batch = Seq(
      ("p1", Some(3.0), Some(30L), 3L),
      ("p1", Some(1.0), Some(10L), 1L),
      ("p2", None: Option[Double], None: Option[Long], 5L),
      ("p3", Some(7.0), Some(70L), 2L)
    ).toDF("pk", "val", "k", "seq")
    def state(): Map[String, (Option[Double], Option[Long], Long)] =
      spark.read.format("jdbc").option("url", url).option("dbtable", "sink_t").load()
        .collect().map(r => r.getString(0) ->
          ((Option(r.get(1)).map(_.asInstanceOf[Double]),
            Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3)))).toMap
    Sinks.jdbcIdempotentUpsert(batch, url, "sink_t", "pk", "seq", Seq("val", "k"))
    val expected = Map(
      "p1" -> ((Some(3.0), Some(30L), 3L)), // seq-1 replay did not regress seq-3
      "p2" -> ((None, None, 5L)),
      "p3" -> ((Some(7.0), Some(70L), 2L)))
    assert(state() === expected, "max-seq image per key after out-of-order delivery")
    // full replay of the same batch: byte-identical state
    Sinks.jdbcIdempotentUpsert(batch, url, "sink_t", "pk", "seq", Seq("val", "k"))
    assert(state() === expected, "replaying the whole batch is a no-op")
    // a newer event updates; a stale one is ignored — in the same batch
    val next = Seq(
      ("p1", Some(9.0), Some(90L), 9L),
      ("p3", Some(0.1), Some(1L), 1L) // stale: existing seq 2
    ).toDF("pk", "val", "k", "seq")
    Sinks.jdbcIdempotentUpsert(next, url, "sink_t", "pk", "seq", Seq("val", "k"))
    assert(state() === expected ++ Map("p1" -> ((Some(9.0), Some(90L), 9L))),
      "newer seq wins, stale seq ignored")
  }

  test("idempotent upsert: applying the same batch twice is a no-op") {
    val current = Seq(("t0", "1", 1.0), ("t0", "2", 2.0)).toDF("tbl", "pk", "v")
    val batch = Seq(
      ("t0", "1", "u", 10.0, 5L), // update
      ("t0", "2", "d", 0.0, 6L), // delete
      ("t0", "3", "c", 3.0, 7L), // insert
      ("t0", "3", "u", 30.0, 8L) // later update wins within batch
    ).toDF("tbl", "pk", "op_code", "v", "seq")
    def state(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val once = Sinks.idempotentUpsert(current, batch, "seq", Seq("v"))
    val twice = Sinks.idempotentUpsert(once, batch, "seq", Seq("v"))
    val expected = Set(("t0", "1", 10.0), ("t0", "3", 30.0))
    assert(state(once) === expected)
    assert(state(twice) === expected)
  }

  /** The two-anti-join form of [[Sinks.idempotentUpsert]]: drop every
    * `current` row whose key the batch touches, add the batch's latest
    * non-delete rows, drop the deleted keys. The reference the window pass
    * must equal, duplicates and null keys included. */
  private def antiJoinUpsert(current: DataFrame, batch: DataFrame, seqCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy("tbl", "pk").orderBy(col(seqCol).desc)
    val latest = batch.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val upserts = latest.filter(col("op_code") =!= "d")
      .select((Seq(col("tbl"), col("pk")) ++ payloadCols.map(col)): _*)
    val deletes = latest.filter(col("op_code") === "d").select("tbl", "pk")
    current
      .join(latest.select("tbl", "pk"), Seq("tbl", "pk"), "left_anti")
      .unionByName(upserts)
      .join(deletes, Seq("tbl", "pk"), "left_anti")
  }

  test("idempotent upsert: equals the anti-join reference on seeded random inputs") {
    type Key = (Option[String], Option[String])
    def sorted(df: DataFrame): Seq[(Option[String], Option[String], Long)] =
      df.select("tbl", "pk", "v").collect()
        .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2))).toSeq.sorted
    val opCodes = Seq(Some("c"), Some("u"), Some("u"), Some("d"), Some("d"), None)
    Seq(3, 17, 29).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def key(): Key = (
        if (rnd.nextInt(10) == 0) None else Some(s"t${rnd.nextInt(2)}"),
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(40).toString))
      val cur = Seq.fill(100)(key() -> rnd.nextInt(1000).toLong)
      // distinct seqs, so the latest row of every key is defined
      val bat = rnd.shuffle((0L until 100L).toList)
        .map(seq => (key(), opCodes(rnd.nextInt(opCodes.size)), rnd.nextInt(1000).toLong, seq))
      def nullKey(k: Key) = k._1.isEmpty || k._2.isEmpty
      val curKeys = cur.map(_._1)
      val batKeys = bat.map(_._1)
      assert(curKeys.exists(nullKey) && batKeys.exists(nullKey), s"seed $seed: null keys")
      assert(curKeys.filterNot(nullKey).distinct.size < curKeys.count(!nullKey(_)),
        s"seed $seed: duplicate current keys")
      assert(batKeys.filterNot(nullKey).distinct.size < batKeys.count(!nullKey(_)),
        s"seed $seed: several ops per key")
      assert(bat.exists(b => b._2.contains("d") && !curKeys.contains(b._1)),
        s"seed $seed: a delete of an absent key")
      assert(bat.exists(_._2.isEmpty), s"seed $seed: a null op_code")

      val current = cur.map { case ((t, p), v) => (t, p, v) }.toDF("tbl", "pk", "v")
      val batch = bat.map { case ((t, p), op, v, seq) => (t, p, op, v, seq) }
        .toDF("tbl", "pk", "op_code", "v", "seq")
      val got = sorted(Sinks.idempotentUpsert(current, batch, "seq", Seq("v")))
      assert(got.exists(r => r._1.isEmpty || r._2.isEmpty), s"seed $seed: null keys survive")
      assert(got === sorted(antiJoinUpsert(current, batch, "seq", Seq("v"))), s"seed $seed")
    }
  }

  test("idempotent upsert: no broadcast relation in the final plan") {
    val current = (0 until 20).map(i => ("t0", i.toString, i.toDouble)).toDF("tbl", "pk", "v")
    val batch = (10 until 30).map(i => ("t0", i.toString, if (i % 3 == 0) "d" else "u", -i.toDouble,
      i.toLong)).toDF("tbl", "pk", "op_code", "v", "seq")
    val merged = Sinks.idempotentUpsert(current, batch, "seq", Seq("v"))
    assert(merged.collect().length === 10 + 14) // untouched 0-9; 20 batch keys, 6 deleted
    assert(PlanNodes.broadcasts(merged).isEmpty, merged.queryExecution.executedPlan.treeString)
  }

  test("events.ts magnitude bands: in-band units normalize, out-of-band raises both sides") {
    import graft.sources.Tables
    def load(ts: Long*): () => Seq[Long] = {
      val dir = Files.createTempDirectory("events_band").toString
      ts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, 1L, "click", 0.5, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      () => Tables.events(spark, dir).orderBy("event_id")
        .select("ts").as[Long].collect().toSeq
    }
    // one in-band value per unit, all the same instant (2024-ish)
    val sec = 1700000000L
    assert(load(sec, sec * 1000, sec * 1000000, sec * 1000000000L)()
      === Seq.fill(4)(sec * 1000000000L), "all four units → the same nanos")
    // below-band (pre-1973 / unit-undecidable) raises
    val low = intercept[Exception](load(99999999L)())
    assert(low.getMessage.contains("decidable magnitude bands"), low.getMessage)
    // in-band µs value whose ×1000 would wrap the Long (year ~2294) must
    // raise, not wrap to a bogus negative — symmetric with the low guard
    val high = intercept[Exception](load(Long.MaxValue / 1000L + 1L)())
    assert(high.getMessage.contains("decidable magnitude bands"), high.getMessage)
  }

  test("int8 codec declares its types: float arrays are an analysis error, not garbage codes") {
    import graft.functions.GraftFunctions
    val emb = Seq((1L, Array(0.5f, 1.0f))).toDF("vec_id", "embedding")
    // the raw array<float> embedding through packInt8 used to silently
    // bit-reinterpret element storage via getDouble; now it fails analysis
    val e = intercept[Exception](
      emb.select(GraftFunctions.packInt8(col("embedding"))).collect())
    assert(e.getMessage.toLowerCase.contains("array<double>")
      || e.getMessage.contains("pack_int8"), e.getMessage)
    // the documented contract (cast first) still round-trips exactly
    val ok = emb.select(GraftFunctions.unpackInt8(GraftFunctions.packInt8(
      col("embedding").cast("array<double>"))).as("v"))
      .as[Seq[Double]].collect().head
    assert(ok === Seq(0.0, 1.0), "trunc-to-byte of 0.5 and 1.0")
    val bad = intercept[Exception](
      emb.select(GraftFunctions.int8Dot(col("embedding"), col("embedding"))).collect())
    assert(bad.getMessage.contains("int8_dot") ||
      bad.getMessage.toLowerCase.contains("binary"), bad.getMessage)
  }

  test("workload generators are deterministic and honor their contracts") {
    val a = WorkloadGen.randomScenario(7, "t0")
    val b = WorkloadGen.randomScenario(7, "t0")
    assert(a === b, "same seed, same scenario")
    assert(a.size >= 6 && a.exists(_._4 == "delete"))
    assert(WorkloadGen.randomScenario(8, "t0") !== a)

    val live = WorkloadGen.liveWorkload(12, 42, "t0")
    assert(live.size === 12)
    assert(live.head._4 === "insert") // nothing live yet on cycle 0
    assert(live.map(_._1) === live.map(_._1).sorted, "time increases")
    val df = WorkloadGen.toOpsDf(spark, live)
    assert(df.count() === 12)
  }
}
