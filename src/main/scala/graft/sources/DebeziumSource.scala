package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium-style envelope decode
  * (`harness/verifier/index.js:254-283`,
  * `scenarios/01-canonical-reference/sink/consumer.mjs:157-173`):
  * parse a Kafka message value as the CDC envelope, unwrap the optional
  * `payload` wrapper, normalise op codes (`r` snapshot reads → insert), and
  * project `{op, table, pk, before, after, ts_ms, tx}`.
  *
  * Works identically on a batch DataFrame of strings and on a Kafka
  * `readStream` (`selectExpr("CAST(value AS STRING)")` first).
  */
object DebeziumSource {

  /** Bare envelope fields: payloads stay as raw JSON strings (open
    * schema — MapType-like handling downstream, SURVEY §1.3). */
  private val coreFields: Seq[StructField] = Seq(
    StructField("op", StringType),
    StructField("before", StringType),
    StructField("after", StringType),
    StructField("ts_ms", LongType),
    StructField("source", StructType(Seq(
      StructField("table", StringType),
      StructField("lsn", LongType)))),
    StructField("tx", StructType(Seq(
      StructField("id", StringType),
      StructField("index", LongType),
      StructField("total", LongType),
      StructField("last", BooleanType)))))

  /** The unwrapped envelope. */
  val innerSchema: StructType = StructType(coreFields)

  /** Envelope schema with the optional `{payload: {...}}` wrapper parsed as
    * a NESTED struct in the same Jackson pass — wrapped rows cost one parse,
    * not an outer parse plus a re-parse of the captured payload text. The
    * reference unwraps exactly one level (`index.js:258-262`), so a single
    * nesting matches its semantics. */
  val envelopeSchema: StructType = StructType(coreFields :+ StructField("payload", innerSchema))

  /** Decode a column of JSON envelope strings. Rows whose JSON cannot be
    * parsed decode to null fields (tracked, not dropped — the verifier
    * counts them). */
  def decode(
      df: DataFrame, valueCol: Column, tableAllowlist: Seq[String] = Nil,
      passthrough: Seq[String] = Nil): DataFrame = {
    // one from_json; the wrapped form wins when present (index.js:258-262)
    val parsed = df.withColumn("raw", from_json(valueCol, envelopeSchema))
      .withColumn("env", coalesce(col("raw.payload"), struct(
        col("raw.op").as("op"), col("raw.before").as("before"),
        col("raw.after").as("after"), col("raw.ts_ms").as("ts_ms"),
        col("raw.source").as("source"), col("raw.tx").as("tx"))))
    val decoded = parsed.select(passthrough.map(col) ++ Seq(
      when(lower(col("env.op")).isin("c", "r"), "insert")
        .when(lower(col("env.op")) === "u", "update")
        .when(lower(col("env.op")) === "d", "delete").as("op"),
      col("env.source.table").as("tbl"),
      coalesce(
        get_json_object(col("env.after"), "$.id"),
        get_json_object(col("env.before"), "$.id")).as("pk"),
      col("env.before").as("before_json"),
      col("env.after").as("after_json"),
      col("env.ts_ms").as("ts_ms"),
      col("env.source.lsn").as("lsn"),
      col("env.tx.id").as("tx_id"),
      col("env.tx.index").as("tx_index"),
      col("env.tx.total").as("tx_total"),
      coalesce(col("env.tx.last"),
        col("env.tx.index") >= col("env.tx.total") - 1,
        lit(true)).as("tx_last")): _*)
    if (tableAllowlist.isEmpty) decoded
    else decoded.filter(col("tbl").isin(tableAllowlist: _*)) // index.js:265-267
  }

  /** Live Kafka → decoded envelope stream — the wire the verifier pipeline
    * runs against a real broker (`harness/verifier/index.js:31-35`,
    * `consumer.mjs:434-440`): `readStream.format("kafka")` →
    * CAST(value AS STRING) → [[decode]], with the (topic, partition,
    * offset) triple passed through for exactly-once dedup downstream
    * (`Dataset.dropDuplicatesWithinWatermark` on exactly those columns,
    * under a watermark the caller sets; `consumer.mjs:122-143`).
    *
    * Gated on `spark.graft.kafka.enabled=true`: this sandbox ships neither
    * a broker nor the `spark-sql-kafka` connector jar, so the path can
    * compile and be code-reviewed but must not be reachable by accident —
    * the require fails with THIS explanation instead of Kafka's opaque
    * `Failed to find data source: kafka`. Everything downstream of the
    * source is the batch-parity-tested decode (`cdc_debezium_e2e`); on a
    * real cluster the only new moving part is the broker connection. */
  def kafkaStream(
      spark: org.apache.spark.sql.SparkSession,
      bootstrapServers: String,
      topics: String,
      startingOffsets: String = "latest",
      tableAllowlist: Seq[String] = Nil): DataFrame = {
    require(spark.conf.getOption("spark.graft.kafka.enabled").contains("true"),
      "live Kafka source is environment-gated: set spark.graft.kafka.enabled=true " +
        "on a cluster with a broker and the spark-sql-kafka connector on the classpath")
    val raw = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topics)
      .option("startingOffsets", startingOffsets)
      .load()
      .selectExpr("CAST(value AS STRING) AS value", "topic", "partition", "offset")
    decode(raw, col("value"), tableAllowlist,
      passthrough = Seq("topic", "partition", "offset"))
  }

  /** Inverse of [[decode]] — render a JSON op feed (`CdcOps.jsonOps` shape:
    * tbl, pk, op, t, lsn, event_id, after_json) as Debezium envelope
    * strings, the way the canonical scenario's generator emits them
    * (`scenarios/01-canonical-reference/source/generator.mjs`). Used for
    * replay into a sink and to drive the decode path end-to-end without a
    * broker.
    *
    * Deliberately exercises the decoder's normalisation branches
    * deterministically: every 7th insert is emitted as a snapshot read
    * (`r`), and every even event id wraps the envelope in the optional
    * `{"payload": ...}` layer (`index.js:258-262`). Deletes carry only a
    * `before` image, so pk derivation must fall back to `before.id`.
    * Transactions: `txSize` consecutive event ids share a tx envelope
    * block with index/total metadata (`model.ts:169-244`). */
  def encode(jsonOps: DataFrame, txSize: Int = 3): DataFrame = {
    // built as a STRUCT so the wrapped form renders payload as a nested
    // JSON object — the Kafka Connect `{payload: {...}}` layer the
    // reference unwraps (`index.js:258-262`) — in one to_json call
    val env = struct(
      when(col("op") === "insert",
        when(col("event_id") % 7 === 0, "r").otherwise("c"))
        .when(col("op") === "update", lit("u"))
        .otherwise(lit("d")).as("op"),
      when(col("op") === "delete", to_json(struct(col("pk").as("id"))))
        .as("before"),
      col("after_json").as("after"),
      col("t").as("ts_ms"),
      struct(col("tbl").as("table"), col("lsn").as("lsn")).as("source"),
      struct(
        concat(lit("tx-"), expr(s"event_id div $txSize").cast("string")).as("id"),
        (col("event_id") % txSize).as("index"),
        lit(txSize.toLong).as("total")).as("tx"))
    jsonOps.select(
      when(col("event_id") % 2 === 0, to_json(struct(env.as("payload"))))
        .otherwise(to_json(env)).as("value"))
  }
}
