package graft

import graft.operators.AsOfJoin

/** As-of join semantics on planted rows: latest-at-or-before selection,
  * inclusive vs strict ties, left-join nulls, key isolation — and the plan
  * shape claims (one shuffle, no nested-loop join).
  */
class AsOfJoinSpec extends SparkSpec {

  import spark.implicits._

  private val build = Seq(
    // key, ts, build payload
    (1L, 10L, "b10"), (1L, 20L, "b20"), (1L, 30L, "b30"),
    (2L, 15L, "c15"))
    .toDF("k", "t", "b_val")

  private val probe = Seq(
    (1L, 5L, 100L), // before any build row
    (1L, 20L, 101L), // exactly on a build row
    (1L, 25L, 102L), // between builds
    (1L, 99L, 103L), // after all builds
    (2L, 16L, 104L), // other key sees only its own builds
    (3L, 50L, 105L)) // key with no builds at all
    .toDF("k", "t", "p_id")

  test("latest at-or-before per key; null when nothing qualifies") {
    val out = AsOfJoin.asOf(probe, build, Seq("k"), "t")
      .orderBy("p_id")
      .collect()
      .map(r => (r.getLong(r.fieldIndex("p_id")),
        Option(r.getAs[String]("b_val"))))
    assert(out === Array(
      (100L, None),
      (101L, Some("b20")), // inclusive: equal ts matches
      (102L, Some("b20")),
      (103L, Some("b30")),
      (104L, Some("c15")),
      (105L, None)))
  }

  test("strict (exclusive) mode hides the equal-ts build row") {
    val out = AsOfJoin.asOf(probe, build, Seq("k"), "t", inclusive = false)
      .orderBy("p_id")
      .collect()
      .map(r => (r.getLong(r.fieldIndex("p_id")),
        Option(r.getAs[String]("b_val"))))
    assert(out(1) === ((101L, Some("b10"))), "equal-ts build invisible when strict")
    assert(out(2) === ((102L, Some("b20"))), "strictness only moves the tie")
  }

  test("streaming form: build state crosses batches; single-batch == batch operator") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamsV2
    import graft.streaming.Streams.{AsOfIn, AsOfOut}
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[AsOfIn]
    val q = StreamsV2.asOfStream(input.toDS(), ttlMs = 0L)
      .writeStream.format("memory").queryName("asof")
      .outputMode("append").start()

    // Batch 1: two builds then a probe between them (in-batch ordering is
    // by ts, not arrival), plus an equal-ts build/probe tie (inclusive).
    input.addData(
      AsOfIn(1L, 30L, isBuild = true, 300L),
      AsOfIn(1L, 10L, isBuild = true, 100L),
      AsOfIn(1L, 20L, isBuild = false, 900L), // sees ts=10 build
      AsOfIn(1L, 30L, isBuild = false, 901L)) // tie: sees ts=30 build
    q.processAllAvailable()
    // Batch 2: a probe with NO new build — state must carry ts=30
    input.addData(AsOfIn(1L, 99L, isBuild = false, 902L))
    q.processAllAvailable()
    val streamed = spark.table("asof").as[AsOfOut].collect()
      .map(o => (o.id, o.matchId)).sortBy(_._1)
    q.stop()
    assert(streamed === Array(
      (900L, Some(100L)), (901L, Some(300L)), (902L, Some(300L))))

    // Cross-form parity on the spec's planted batch data (key 3 = no build)
    val inRows =
      build.collect().map(r => AsOfIn(r.getLong(0), r.getLong(1), isBuild = true,
        r.getString(2).drop(1).toLong)) ++
      probe.collect().map(r => AsOfIn(r.getLong(0), r.getLong(1), isBuild = false,
        r.getLong(2)))
    val input2 = MemoryStream[AsOfIn]
    val q2 = StreamsV2.asOfStream(input2.toDS(), ttlMs = 0L)
      .writeStream.format("memory").queryName("asof2")
      .outputMode("append").start()
    input2.addData(inRows.toIndexedSeq: _*)
    q2.processAllAvailable()
    val streamed2 = spark.table("asof2").as[AsOfOut].collect()
      .map(o => (o.id, o.matchId)).sortBy(_._1)
    q2.stop()
    val batch = AsOfJoin.asOf(probe, build, Seq("k"), "t")
      .collect()
      .map(r => (r.getLong(r.fieldIndex("p_id")),
        Option(r.getAs[String]("b_val")).map(_.drop(1).toLong)))
      .sortBy(_._1)
    assert(streamed2.toSeq === batch.toSeq, "streaming == batch on one feed")
  }

  test("a build row with a null payload field is carried atomically") {
    // b20 has y = null. Per-column carry would leak b10's y ("y10") under
    // b20's x — a column-wise chimera of two build rows. The struct carry
    // must take b20 whole: (x20, null).
    val b = Seq(
      (1L, 10L, Option("x10"), Option("y10")),
      (1L, 20L, Option("x20"), Option.empty[String]))
      .toDF("k", "t", "x", "y")
    val p = Seq((1L, 25L, 1L), (1L, 15L, 2L)).toDF("k", "t", "p_id")
    val out = AsOfJoin.asOf(p, b, Seq("k"), "t")
      .orderBy("p_id")
      .collect()
      .map(r => (r.getLong(r.fieldIndex("p_id")),
        Option(r.getAs[String]("x")), Option(r.getAs[String]("y"))))
    assert(out === Array(
      (1L, Some("x20"), None), // b20 whole — y must NOT inherit y10
      (2L, Some("x10"), Some("y10"))))
  }

  test("reserved internal column names are rejected, not corrupted") {
    val p = Seq((1L, 5L, "a")).toDF("k", "t", "_tag")
    intercept[IllegalArgumentException] {
      AsOfJoin.asOf(p, build, Seq("k"), "t")
    }
  }

  test("plan: exactly one keyed shuffle, no join operator at all") {
    val df = AsOfJoin.asOf(probe, build, Seq("k"), "t")
    assert(df.columns.toSeq === Seq("k", "t", "p_id", "b_val"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    assert(!plan.contains("SinglePartition"), s"single-partition exchange:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"one keyed exchange expected:\n$plan")
  }
}
