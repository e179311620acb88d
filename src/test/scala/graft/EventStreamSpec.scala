package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.EventAnalytics
import graft.streaming.{Streams, StreamsV2}
import graft.streaming.Streams.{EventIn, FunnelAdvance, RetentionMark}

/** Batch ↔ streaming parity for the event-analytics twins (round-10
  * verdict, next-round #4): the incremental funnel/retention must agree
  * with the batch oracles on time-ordered feeds, chopped across
  * micro-batches any way the source pleases — and with their shared fold
  * run once over each user's whole feed.
  */
class EventStreamSpec extends SparkSpec {
  import org.scalatest.concurrent.Eventually

  private val dayMs = 86400000L

  /** A deterministic multi-user scenario covering: full conversion,
    * partial conversion, wrong-order steps, same-timestamp step pairs
    * (strictly-after must reject), repeat steps, and an activity row
    * landing before its user's signup on the same day. tMs ascending —
    * the ordered-arrival contract. */
  private def scenario: Seq[EventIn] = Seq(
    // u1: converts fully across three days
    EventIn(1L, "signup", 1000L),
    EventIn(1L, "click", dayMs + 2000L),
    EventIn(1L, "purchase", 2 * dayMs + 3000L),
    // u2: clicks before signing up — click must NOT count as stage 2
    EventIn(2L, "click", 500L),
    EventIn(2L, "signup", 600L),
    EventIn(2L, "click", 700L),
    // u3: signup and click at the SAME ms — strictly-after rejects
    EventIn(3L, "signup", 1000L),
    EventIn(3L, "click", 1000L),
    // u4: activity arrives before the signup row, same day, then next-day
    // click + purchase in one day
    EventIn(4L, "view", 3 * dayMs + 100L),
    EventIn(4L, "signup", 3 * dayMs + 200L),
    EventIn(4L, "click", 4 * dayMs + 100L),
    EventIn(4L, "purchase", 4 * dayMs + 200L),
    // u5: never signs up — contributes to no funnel stage, no cohort
    EventIn(5L, "click", 2 * dayMs),
    // u1 again: repeat purchase later must not re-emit stage 3
    EventIn(1L, "purchase", 5 * dayMs))

  /** Batch events frame with the raw nanos ts column the batch operators
    * read (`ts div 1000000` = tMs). */
  private def batchDf = {
    import spark.implicits._
    scenario.map(e => (e.userId, e.eventType, e.tMs * 1000000L))
      .toDF("user_id", "event_type", "ts")
  }

  private def runChunked[I, O](
      mkQuery: MemoryStream[I] => org.apache.spark.sql.Dataset[O],
      feed: Seq[I], chunks: Int, name: String)(
      implicit enc: org.apache.spark.sql.Encoder[I]): Seq[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[I]
    val q = mkQuery(input).toDF()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    feed.grouped(math.max(feed.size / chunks, 1)).foreach { b =>
      input.addData(b: _*)
      q.processAllAvailable()
    }
    val rows = spark.table(name).collect().toSeq
    q.stop()
    spark.catalog.dropTempView(name)
    rows
  }

  test("streaming funnel advances equal the batch per-step counts (3 chunks)") {
    import spark.implicits._
    val advances = runChunked[EventIn, FunnelAdvance](
      in => StreamsV2.funnelStream(in.toDS()), scenario, 3, "funnel_parity")
      .map(r => (r.getAs[Long]("userId"), r.getAs[Int]("stage"),
        r.getAs[String]("stageName"), r.getAs[Long]("tMs")))
    // at most one advance per (user, stage)
    assert(advances.map(a => (a._1, a._2)).distinct.size === advances.size,
      s"duplicate (user, stage) advance: $advances")
    val streamCounts = advances.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val batch = EventAnalytics.funnel(batchDf).collect()
      .map(r => r.getAs[Long]("step").toInt -> r.getAs[Long]("n_users")).toMap
    assert(streamCounts.getOrElse(1, 0L) === batch(1), "stage 1 count")
    assert(streamCounts.getOrElse(2, 0L) === batch(2), "stage 2 count")
    assert(streamCounts.getOrElse(3, 0L) === batch(3), "stage 3 count")
    // the documented edges, pinned individually
    val byUser = advances.groupBy(_._1)
    assert(byUser(1L).map(_._2).sorted === Seq(1, 2, 3), "u1 converts fully")
    assert(byUser(2L).map(_._2).sorted === Seq(1, 2),
      "u2's pre-signup click must not count; the later one does")
    assert(byUser(3L).map(_._2) === Seq(1),
      "u3's same-ms click is not strictly after signup")
    assert(!byUser.contains(5L), "u5 never signs up")
  }

  test("streaming retention marks equal the batch triangle (4 chunks)") {
    import spark.implicits._
    val marks = runChunked[EventIn, RetentionMark](
      in => StreamsV2.retentionStream(in.toDS()), scenario, 4, "retention_parity")
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("cohortDay"),
        r.getAs[Long]("dayOffset")))
    assert(marks.distinct.size === marks.size, s"duplicate mark: $marks")
    val streamMatrix = marks.groupBy(m => (m._2, m._3))
      .view.mapValues(_.size.toLong).toMap
    val batch = EventAnalytics.retention(batchDf).collect()
      .map(r => (r.getAs[Long]("cohort_day"), r.getAs[Long]("day_offset")) ->
        r.getAs[Long]("n_active")).toMap
    assert(streamMatrix === batch,
      s"stream matrix $streamMatrix != batch $batch")
    // u4's pre-signup same-day view must count toward offset 0
    assert(marks.contains((4L, 3L, 0L)),
      "pre-signup same-day activity buffers until the signup lands")
    // cohort sizes ride the offset-0 row
    val sizes = EventAnalytics.retention(batchDf).collect()
      .map(r => r.getAs[Long]("cohort_day") -> r.getAs[Long]("cohort_size")).toMap
    sizes.foreach { case (day, size) =>
      assert(streamMatrix((day, 0L)) === size, s"cohort $day size")
    }
  }

  /** Polls `done` while feeding one unrelated user's (id 99) event every
    * 250 ms. With live processing-time timers the microbatch loop keeps
    * planning work, so `processAllAvailable` can block; and a due timer
    * fires only when a batch runs. Assertions must read only other users. */
  private def nudgeUntil(input: MemoryStream[EventIn], deadline: Long)(
      done: => Boolean): Unit = {
    var nudge = 1000L
    while (!done && System.currentTimeMillis() < deadline) {
      Thread.sleep(250L)
      nudge += 1
      input.addData(EventIn(99L, "view", nudge))
    }
  }

  test("transformWithState funnel: parity with the flatMapGroupsWithState form") {
    import spark.implicits._
    val steps = Seq("signup", "click", "purchase")
    val streamed = runChunked[EventIn, FunnelAdvance](
      in => StreamsV2.funnelStream(in.toDS(), steps), scenario, 3, "funnel_v2")
      .map(r => (r.getAs[Long]("userId"), r.getAs[Int]("stage"),
        r.getAs[String]("stageName"), r.getAs[Long]("tMs"))).sorted
    // the shared fold run once over each user's whole feed
    val once = scenario.groupBy(_.userId).values.toSeq
      .flatMap(es => Streams.funnelFold(steps, None, es)._2)
      .map(a => (a.userId, a.stage, a.stageName, a.tMs)).sorted
    assert(streamed === once, "carried progress must emit the one-shot advances")
  }

  test("transformWithState DAU + growth: parity with the " +
      "flatMapGroupsWithState forms") {
    import spark.implicits._
    import graft.streaming.Streams.{DayActive, GrowthMark}
    val dau = runChunked[EventIn, DayActive](
      in => StreamsV2.activityStream(in.toDS()), scenario, 4, "dau_v2")
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("day"),
        r.getAs[Boolean]("isNew"))).sorted
    val dauOnce = scenario.groupBy(_.userId).toSeq
      .flatMap { case (u, es) => Streams.activityFold(u, None, es)._2 }
      .map(m => (m.userId, m.day, m.isNew)).sorted
    assert(dau === dauOnce, "carried day sets must emit the one-shot DAU marks")
    val growth = runChunked[EventIn, GrowthMark](
      in => StreamsV2.growthStream(in.toDS()), growthFeed, 3, "growth_v2")
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("week"),
        r.getAs[String]("kind"))).sorted
    val growthOnce = growthFeed.groupBy(_.userId).toSeq
      .flatMap { case (u, es) => Streams.growthFold(u, None, es)._2 }
      .map(m => (m.userId, m.week, m.kind)).sorted
    assert(growth === growthOnce, "carried last week must emit the one-shot marks")
  }

  test("transformWithState transitions + retention + attribution: parity " +
      "with the flatMapGroupsWithState forms") {
    import spark.implicits._
    import graft.streaming.Streams.{AttrIn, AttributionOut, RetentionMark, TransitionOut}
    val transFeed = scenario.zipWithIndex.map { case (e, i) =>
      (e.userId, i.toLong, e.eventType, e.tMs)
    }
    val trans = runChunked[(Long, Long, String, Long), TransitionOut](
      in => StreamsV2.transitionsStream(in.toDS()), transFeed, 3, "trans_v2")
      .map(r => (r.getAs[Long]("userId"), r.getAs[String]("fromType"),
        r.getAs[String]("toType"), r.getAs[Long]("tMs"))).sorted
    val transOnce = transFeed.groupBy(_._1).toSeq
      .flatMap { case (u, es) =>
        Streams.transitionsFold(u, None, es.map(e => (e._2, e._3, e._4)))._2 }
      .map(t => (t.userId, t.fromType, t.toType, t.tMs)).sorted
    assert(trans === transOnce, "carried previous event must emit the one-shot pairs")
    val ret = runChunked[EventIn, RetentionMark](
      in => StreamsV2.retentionStream(in.toDS()), scenario, 4, "ret_v2")
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("cohortDay"),
        r.getAs[Long]("dayOffset"))).sorted
    val retOnce = scenario.groupBy(_.userId).toSeq
      .flatMap { case (u, es) => Streams.retentionFold(u, None, es)._2 }
      .map(m => (m.userId, m.cohortDay, m.dayOffset)).sorted
    assert(ret === retOnce, "carried cohort state must emit the one-shot marks")
    val attrFeed = Seq(
      AttrIn(0L, 1L, "purchase", 100L, 1000L),
      AttrIn(1L, 1L, "click", 200L, 0L),
      AttrIn(2L, 1L, "purchase", 300L, 550L),
      AttrIn(3L, 2L, "view", 100L, 0L),
      AttrIn(4L, 2L, "purchase", 200L, 450L))
    val attr = runChunked[AttrIn, AttributionOut](
      in => StreamsV2.attributionStream(in.toDS()), attrFeed, 2, "attr_v2")
      .map(r => (r.getAs[Long]("userId"), r.getAs[String]("channel"),
        r.getAs[Long]("valueTicks"), r.getAs[Long]("tMs"))).sorted
    val attrOnce = attrFeed.groupBy(_.userId).toSeq
      .flatMap { case (u, es) =>
        Streams.attributionFold(u, Set("click", "view"), None, es)._2 }
      .map(o => (o.userId, o.channel, o.valueTicks, o.tMs)).sorted
    assert(attr === attrOnce, "carried touch must emit the one-shot credits")
  }

  test("transformWithState growth TTL: the timer path emits churned and " +
      "keeps the tombstone (return resurrects, never a second new)") {
    import spark.implicits._
    import graft.streaming.Streams.GrowthMark
    implicit val sqlCtx = spark.sqlContext
    val weekMs = 7L * dayMs
    val input = MemoryStream[EventIn]
    val q = StreamsV2.growthStream(input.toDS(), ttlMs = 200L)
      .writeStream.format("memory").queryName("growth_ttl_v2")
      .outputMode("append").start()
    def u1(): Seq[GrowthMark] = spark.table("growth_ttl_v2").as[GrowthMark]
      .collect().toSeq.filter(_.userId == 1L)
    input.addData(EventIn(1L, "view", 100L))
    val deadline = System.currentTimeMillis() + 90000L
    nudgeUntil(input, deadline)(u1().exists(_.kind == "churned"))
    input.addData(EventIn(1L, "view", 4 * weekMs + 100L))
    while (!u1().exists(_.kind == "resurrected") &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(250L)
    assert(u1().exists(_.kind == "resurrected"),
      s"the tombstone must resurrect the returning user: ${u1()}")
    q.stop()
    val got = u1()
    spark.catalog.dropTempView("growth_ttl_v2")
    assert(got.contains(GrowthMark(1L, 0L, "new")))
    assert(got.contains(GrowthMark(1L, 1L, "churned")),
      s"timer eviction must close with a churned row; got $got")
    assert(got.contains(GrowthMark(1L, 4L, "resurrected")),
      s"post-eviction return must resurrect, got $got")
    assert(got.count(_.kind == "new") === 1, s"one new ever: $got")
  }

  test("transformWithState RFM + LTV: parity with the " +
      "flatMapGroupsWithState forms") {
    import spark.implicits._
    import graft.streaming.Streams.{AttrIn, LtvMark, RfmMark}
    // RFM marks are superseding snapshots: each user's latest streamed
    // mark must equal the one mark of the fold run once over their feed
    val rfm = runChunked[AttrIn, RfmMark](
      in => StreamsV2.rfmStream(in.toDS()), moneyFeed, 3, "rfm_v2")
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("lastDay"),
        r.getAs[Long]("frequency"), r.getAs[Long]("monetaryTicks")))
      .groupBy(_._1).values.map(_.maxBy(_._3)).toSeq.sorted
    val rfmOnce = moneyFeed.groupBy(_.userId).toSeq
      .flatMap { case (u, es) => Streams.rfmFold(u, None, es)._2 }
      .map(m => (m.userId, m.lastDay, m.frequency, m.monetaryTicks)).sorted
    assert(rfm === rfmOnce, "carried totals must reach the one-shot snapshot")
    val ltv = runChunked[AttrIn, LtvMark](
      in => StreamsV2.ltvStream(in.toDS()), moneyFeed, 3, "ltv_v2")
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("cohortDay"),
        r.getAs[Long]("weekOffset"), r.getAs[Long]("valueTicks"),
        r.getAs[Boolean]("entry"))).sorted
    val ltvOnce = moneyFeed.groupBy(_.userId).toSeq
      .flatMap { case (u, es) => Streams.ltvFold(u, None, es)._2 }
      .map(m => (m.userId, m.cohortDay, m.weekOffset, m.valueTicks, m.entry)).sorted
    assert(ltv === ltvOnce, "carried cohort must emit the one-shot LTV marks")
  }
  test("streaming transitions equal the batch matrix (3 chunks)") {
    import spark.implicits._
    // feed: (userId, eventId, eventType, tMs) — ids mint a total order
    val feed = scenario.zipWithIndex.map { case (e, i) =>
      (e.userId, i.toLong, e.eventType, e.tMs)
    }
    val out = runChunked[(Long, Long, String, Long), Streams.TransitionOut](
      in => StreamsV2.transitionsStream(in.toDS()), feed, 3, "trans_parity")
      .map(r => (r.getAs[String]("fromType"), r.getAs[String]("toType")))
    val streamCounts = out.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val batchDfWithIds = feed.toDF("user_id", "event_id", "event_type", "_tms")
      .withColumn("ts", col("_tms") * 1000000L).drop("_tms")
    val batch = EventAnalytics.transitions(batchDfWithIds).collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")) ->
        r.getAs[Long]("n_pairs")).toMap
    assert(streamCounts === batch,
      s"stream $streamCounts != batch $batch")
  }

  test("transitions fold: chopped == one-shot on ordered feeds") {
    val u1 = scenario.zipWithIndex
      .filter(_._1.userId == 1L)
      .map { case (e, i) => (i.toLong, e.eventType, e.tMs) }
    val (s0, o0) = Streams.transitionsFold(1L, None, u1)
    for (cut <- 1 until u1.size) {
      val (s1, o1) = Streams.transitionsFold(1L, None, u1.take(cut))
      val (s2, o2) = Streams.transitionsFold(1L, s1, u1.drop(cut))
      assert(s2 === s0, s"state diverged at cut $cut")
      assert(o1 ++ o2 === o0, s"output diverged at cut $cut")
    }
  }

  test("funnel fold: chopped == one-shot on ordered feeds (shared-fold property)") {
    val steps = Seq("signup", "click", "purchase")
    val u1 = scenario.filter(_.userId == 1L)
    val (oneShotState, oneShotOut) = Streams.funnelFold(steps, None, u1)
    for (cut <- 1 until u1.size) {
      val (s1, o1) = Streams.funnelFold(steps, None, u1.take(cut))
      val (s2, o2) = Streams.funnelFold(steps, Some(s1), u1.drop(cut))
      assert(s2 === oneShotState, s"state diverged at cut $cut")
      assert(o1 ++ o2 === oneShotOut, s"output diverged at cut $cut")
    }
  }

  test("streaming attribution equals the batch channel ledger (3 chunks)") {
    import spark.implicits._
    import graft.streaming.Streams.AttrIn
    val feed = Seq(
      AttrIn(0L, 1L, "purchase", 100L, 1000L),   // before any touch: direct
      AttrIn(1L, 1L, "click", 200L, 0L),
      AttrIn(2L, 1L, "view", 300L, 0L),
      AttrIn(3L, 1L, "purchase", 400L, 550L),    // latest touch: view
      AttrIn(4L, 2L, "click", 100L, 0L),
      AttrIn(5L, 2L, "error", 150L, 0L),         // not a touch type
      AttrIn(6L, 2L, "purchase", 200L, 450L),    // still the click
      AttrIn(7L, 3L, "view", 1000L, 0L),
      AttrIn(8L, 3L, "purchase", 1000L, 200L))   // same ms, lower-id view wins
    val out = runChunked[AttrIn, Streams.AttributionOut](
      in => StreamsV2.attributionStream(in.toDS()), feed, 3, "attr_parity")
      .map(r => (r.getAs[String]("channel"), r.getAs[Long]("valueTicks")))
    val streamLedger = out.groupBy(_._1).view
      .mapValues(v => (v.size.toLong, v.map(_._2).sum)).toMap
    val batchEvents = feed
      .map(e => (e.eventId, e.userId, e.eventType, e.tMs * 1000000L,
        e.valueTicks / 100.0, "p"))
      .toDF("event_id", "user_id", "event_type", "ts", "value", "props")
    val batch = EventAnalytics.attribution(batchEvents).collect()
      .map(r => r.getAs[String]("channel") ->
        (r.getAs[Long]("n_purchases"),
          math.round(r.getAs[Double]("revenue") * 100)))
      .toMap
    assert(streamLedger.toMap === batch,
      s"stream $streamLedger != batch $batch")
    assert(streamLedger("view")._2 === 750L,
      "u1's second purchase and u3's same-ms purchase both credit view")
  }

  /** RFM / cohort-LTV feed: u1 signs up day 0 and buys on days 1 and 8
    * (weeks 0 and 1 of its cohort); u2 signs up and buys the same day;
    * u3 buys without ever signing up (in RFM, absent from LTV); u4
    * signs up day 2 and never buys (cohort entry only, absent from
    * RFM). tMs ascending — the ordered-arrival contract. */
  private def moneyFeed: Seq[Streams.AttrIn] = {
    import graft.streaming.Streams.AttrIn
    Seq(
      AttrIn(0L, 1L, "signup", 100L, 0L),
      AttrIn(1L, 2L, "signup", 200L, 0L),
      AttrIn(2L, 2L, "purchase", 300L, 300L),
      AttrIn(3L, 1L, "purchase", dayMs + 100L, 2000L),
      AttrIn(4L, 3L, "purchase", dayMs + 200L, 750L),
      AttrIn(5L, 4L, "signup", 2 * dayMs + 100L, 0L),
      AttrIn(6L, 1L, "purchase", 8 * dayMs + 100L, 550L)).sortBy(_.tMs)
  }

  private def moneyBatchDf = {
    import spark.implicits._
    moneyFeed.map(e => (e.eventId, e.userId, e.eventType, e.tMs * 1000000L,
      e.valueTicks / 100.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
  }

  test("streaming RFM marks (latest per user + the feed's reference day) " +
      "equal the batch segmentation table (3 chunks)") {
    import spark.implicits._
    import graft.streaming.Streams.{AttrIn, RfmMark}
    val marks = runChunked[AttrIn, RfmMark](
      in => StreamsV2.rfmStream(in.toDS()), moneyFeed, 3, "rfm_parity")
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("lastDay"),
        r.getAs[Long]("frequency"), r.getAs[Long]("monetaryTicks")))
    // marks are running snapshots: the latest (max frequency) per user wins
    val latest = marks.groupBy(_._1).view.mapValues(_.maxBy(_._3)).toMap
    val refDay = moneyFeed.map(e => Math.floorDiv(e.tMs, dayMs)).max
    val streamed = latest.values.map(m =>
      m._1 -> (refDay - m._2, m._3, m._4)).toMap
    val batch = EventAnalytics.rfm(moneyBatchDf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("recency_days"), r.getAs[Long]("frequency"),
          math.round(r.getAs[Double]("monetary") * 100)))
      .toMap
    assert(streamed === batch, s"stream $streamed != batch $batch")
    assert(!streamed.contains(4L), "a never-buyer has no RFM row")
    assert(streamed(1L) === ((0L, 2L, 2550L)), "u1's running totals")
  }

  test("rfm fold: chopped reaches the one-shot state; the last mark is " +
      "the superseding snapshot") {
    import graft.streaming.Streams.AttrIn
    val u1 = moneyFeed.filter(_.userId == 1L)
    val (s0, o0) = Streams.rfmFold(1L, None, u1)
    for (cut <- 1 until u1.size) {
      val (s1, o1) = Streams.rfmFold(1L, None, u1.take(cut))
      val (s2, o2) = Streams.rfmFold(1L, s1, u1.drop(cut))
      assert(s2 === s0, s"state diverged at cut $cut")
      assert((o1 ++ o2).lastOption === o0.lastOption,
        s"final snapshot diverged at cut $cut")
    }
    // a purchase-free batch emits nothing and keeps state untouched
    val (sIdle, oIdle) = Streams.rfmFold(1L, s0,
      Seq(AttrIn(99L, 1L, "view", 9 * dayMs, 0L)))
    assert(sIdle === s0 && oIdle.isEmpty)
  }

  test("streaming LTV marks aggregate to the batch cohort triangle " +
      "(3 chunks)") {
    import spark.implicits._
    import graft.streaming.Streams.{AttrIn, LtvMark}
    val marks = runChunked[AttrIn, LtvMark](
      in => StreamsV2.ltvStream(in.toDS()), moneyFeed, 3, "ltv_parity")
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("cohortDay"),
        r.getAs[Long]("weekOffset"), r.getAs[Long]("valueTicks"),
        r.getAs[Boolean]("entry")))
    val entries = marks.filter(_._5)
    assert(entries.map(_._1).distinct.size === entries.size,
      "one cohort entry per user ever")
    val sizes = entries.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(sizes === Map(0L -> 2L, 2L -> 1L), s"cohort sizes $sizes")
    assert(!marks.exists(_._1 == 3L), "a signup-less buyer joins no cohort")
    // purchase marks -> (cohort, week) cells; cum + /size reproduce LTV
    val cells = marks.filterNot(_._5).groupBy(m => (m._2, m._3)).view
      .mapValues(ms => (ms.size.toLong, ms.map(_._4).sum)).toMap
    val streamed = cells.toSeq.sortBy(_._1).map { case ((c, w), (n, ticks)) =>
      val cum = cells.filter { case ((c2, w2), _) => c2 == c && w2 <= w }
        .values.map(_._2).sum
      (c, w, n, ticks / 100.0, cum / 100.0, sizes(c), cum / 100.0 / sizes(c))
    }
    val batch = EventAnalytics.cohortLtv(moneyBatchDf).collect()
      .map(r => (r.getAs[Long]("cohort_day"), r.getAs[Long]("week_offset"),
        r.getAs[Long]("n_purchases"), r.getAs[Double]("week_revenue"),
        r.getAs[Double]("cum_revenue"), r.getAs[Long]("cohort_size"),
        r.getAs[Double]("ltv_per_user")))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(streamed === batch, s"stream $streamed != batch $batch")
  }

  test("ltv fold: chopped == one-shot on ordered feeds; in-batch the " +
      "cohort settles before purchases") {
    import graft.streaming.Streams.AttrIn
    val u1 = moneyFeed.filter(_.userId == 1L)
    val (s0, o0) = Streams.ltvFold(1L, None, u1)
    assert(o0.map(m => (m.weekOffset, m.valueTicks, m.entry)) ===
      Seq((0L, 0L, true), (0L, 2000L, false), (1L, 550L, false)))
    for (cut <- 1 until u1.size) {
      val (s1, o1) = Streams.ltvFold(1L, None, u1.take(cut))
      val (s2, o2) = Streams.ltvFold(1L, Some(s1), u1.drop(cut))
      assert(s2 === s0, s"state diverged at cut $cut")
      assert(o1 ++ o2 === o0, s"output diverged at cut $cut")
    }
    // same-day signup + purchase landing in ONE batch, purchase first by
    // tMs: the cohort settles from the batch's earliest signup before any
    // purchase is judged, so the purchase counts (batch day-granularity)
    val (_, oSame) = Streams.ltvFold(7L, None, Seq(
      AttrIn(0L, 7L, "purchase", 100L, 900L),
      AttrIn(1L, 7L, "signup", 200L, 0L)))
    assert(oSame.map(m => (m.weekOffset, m.valueTicks, m.entry)) ===
      Seq((0L, 0L, true), (0L, 900L, false)),
      "in-batch order free at day granularity")
    // but a purchase on a day BEFORE the cohort day still drops
    val (_, oEarly) = Streams.ltvFold(8L, None, Seq(
      AttrIn(0L, 8L, "purchase", 100L, 900L),
      AttrIn(1L, 8L, "signup", dayMs + 200L, 0L)))
    assert(oEarly.map(_.entry) === Seq(true),
      "pre-cohort-day purchases drop, like the batch filter")
  }

  test("attribution fold: chopped == one-shot on ordered feeds") {
    import graft.streaming.Streams.AttrIn
    val touches = Set("click", "view")
    val u1 = Seq(
      AttrIn(0L, 1L, "purchase", 100L, 1000L),
      AttrIn(1L, 1L, "click", 200L, 0L),
      AttrIn(2L, 1L, "view", 300L, 0L),
      AttrIn(3L, 1L, "purchase", 400L, 550L),
      AttrIn(4L, 1L, "purchase", 500L, 100L))
    val (s0, o0) = Streams.attributionFold(1L, touches, None, u1)
    for (cut <- 1 until u1.size) {
      val (s1, o1) = Streams.attributionFold(1L, touches, None, u1.take(cut))
      val (s2, o2) = Streams.attributionFold(1L, touches, s1, u1.drop(cut))
      assert(s2 === s0, s"state diverged at cut $cut")
      assert(o1 ++ o2 === o0, s"output diverged at cut $cut")
    }
  }

  test("retention fold: chopped == one-shot, any in-batch order") {
    val u4 = scenario.filter(_.userId == 4L)
    val (oneShotState, oneShotOut) = Streams.retentionFold(4L, None, u4)
    for (cut <- 1 until u4.size) {
      val (s1, o1) = Streams.retentionFold(4L, None, u4.take(cut))
      val (s2, o2) = Streams.retentionFold(4L, Some(s1), u4.drop(cut))
      assert(s2 === oneShotState, s"state diverged at cut $cut")
      assert((o1 ++ o2).sortBy(_.dayOffset) === oneShotOut.sortBy(_.dayOffset),
        s"output diverged at cut $cut")
    }
    // in-batch shuffle: retention is set-based, so intra-batch order is free
    val (sShuf, oShuf) = Streams.retentionFold(4L, None, u4.reverse)
    assert(sShuf === oneShotState)
    assert(oShuf.sortBy(_.dayOffset) === oneShotOut.sortBy(_.dayOffset))
  }

  test("streaming sessionization: closed sessions equal batch sessionize (3 chunks)") {
    import spark.implicits._
    // gap 60 s; time-ordered feed; u99 is a far-future sentinel whose only
    // job is to push the watermark past every real session's close
    val feed = Seq(
      EventIn(1L, "view", 0L), EventIn(2L, "view", 10000L),
      EventIn(1L, "view", 30000L),                     // extends u1's session
      EventIn(1L, "view", 200000L),                    // new u1 session
      EventIn(2L, "view", 250000L),                    // new u2 session
      EventIn(99L, "view", 10000000L))
    val closed = runChunked[EventIn, org.apache.spark.sql.Row](
      in => StreamsV2.sessionStream(in.toDS(), gapMs = 60000L),
      feed, 3, "session_parity")
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start"),
        r.getAs[Long]("session_end"), r.getAs[Long]("n_events")))
      .filter(_._1 != 99L)
    assert(closed.distinct.size === closed.size, s"duplicate session: $closed")
    val batch = graft.operators.Sessions.sessionize(
      feed.filter(_.userId != 99L)
        .map(e => (e.userId, e.tMs * 1000000L)).toDF("user_id", "ts"),
      gapMs = 60000L).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start"),
        r.getAs[Long]("session_end"), r.getAs[Long]("n_events")))
    assert(closed.toSet === batch.toSet,
      s"stream ${closed.sorted} != batch ${batch.sorted}")
    assert(closed.size === 4, "two sessions per real user")
  }

  test("streaming sessions: an exact-gap event joins the session (== batch " +
      "sessionize); a late event bridges two open sessions") {
    import spark.implicits._
    val gap = 60000L
    // u99 is the far-future sentinel that closes every real session
    def sessions(name: String, feed: Seq[EventIn], chunks: Int,
        delayMs: Long = 0L): Seq[(Long, Long, Long, Long)] =
      runChunked[EventIn, org.apache.spark.sql.Row](
        in => StreamsV2.sessionStream(in.toDS(), gapMs = gap, watermarkDelayMs = delayMs),
        feed :+ EventIn(99L, "view", 10000000L), chunks, name)
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start"),
          r.getAs[Long]("session_end"), r.getAs[Long]("n_events")))
        .filter(_._1 != 99L).sorted
    // session_window's boundary: an event exactly gap after the last one
    // still joins the session, in the stream as in the batch twin
    val exact = Seq(EventIn(1L, "view", 0L), EventIn(1L, "view", gap))
    val exactBatch = graft.operators.Sessions.sessionize(
      exact.map(e => (e.userId, e.tMs * 1000000L)).toDF("user_id", "ts"),
      gapMs = gap).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start"),
        r.getAs[Long]("session_end"), r.getAs[Long]("n_events"))).toSeq
    assert(sessions("session_exact", exact, 1) === exactBatch)
    assert(exactBatch === Seq((1L, 0L, 2 * gap, 2L)))
    // one ms inside merges
    assert(sessions("session_inside",
        Seq(EventIn(1L, "view", 0L), EventIn(1L, "view", gap - 1)), 1) ===
      Seq((1L, 0L, gap - 1 + gap, 2L)))
    // two sessions open in state after batch 1; a late-but-within-watermark
    // event in batch 2 bridges them
    assert(sessions("session_bridge",
        Seq(EventIn(1L, "view", 0L), EventIn(1L, "view", 100000L),
          EventIn(1L, "view", 55000L)), 2, delayMs = 100000L) ===
      Seq((1L, 0L, 100000L + gap, 3L)),
      "a bridging event must merge both open sessions")
  }
  test("streaming DAU marks aggregate to the batch newVsReturning ledger (4 chunks)") {
    import spark.implicits._
    import graft.streaming.Streams.DayActive
    val marks = runChunked[EventIn, DayActive](
      in => StreamsV2.activityStream(in.toDS()), scenario, 4, "dau_parity")
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("day"),
        r.getAs[Boolean]("isNew")))
    assert(marks.distinct.size === marks.size, s"duplicate (user, day): $marks")
    assert(marks.count(_._3) === marks.map(_._1).distinct.size,
      "exactly one isNew mark per user ever")
    val streamed = marks.groupBy(_._2).view.mapValues(ms =>
      (ms.size.toLong, ms.count(_._3).toLong)).toMap
    val batch = EventAnalytics.newVsReturning(batchDf).collect()
      .map(r => r.getAs[Long]("day") ->
        (r.getAs[Long]("dau"), r.getAs[Long]("new_users"))).toMap
    assert(streamed === batch, s"stream $streamed != batch $batch")
  }

  test("activity fold: chopped == one-shot, any in-batch order") {
    val u1 = scenario.filter(_.userId == 1L)
    val (s0, o0) = Streams.activityFold(1L, None, u1)
    for (cut <- 1 until u1.size) {
      val (s1, o1) = Streams.activityFold(1L, None, u1.take(cut))
      val (s2, o2) = Streams.activityFold(1L, Some(s1), u1.drop(cut))
      assert(s2 === s0, s"state diverged at cut $cut")
      assert((o1 ++ o2).sortBy(_.day) === o0.sortBy(_.day),
        s"output diverged at cut $cut")
    }
    val (sShuf, oShuf) = Streams.activityFold(1L, None, u1.reverse)
    assert(sShuf === s0 && oShuf.sortBy(_.day) === o0.sortBy(_.day),
      "day sets make intra-batch order free")
  }

  /** Multi-week growth feed: u1 active weeks 0,1,2 (new, retained×2 —
    * then silent, trailing churn @3); u2 active weeks 0,3 (new, churned
    * @1, resurrected @3); u3 active week 1 only (new; trailing churn
    * @2). maxWeek = 3 so all trailing churn rows survive the batch
    * clip. */
  private def growthFeed: Seq[EventIn] = {
    val weekMs = 7L * dayMs
    Seq(
      EventIn(1L, "view", 100L), EventIn(1L, "view", weekMs + 100L),
      EventIn(1L, "view", 2 * weekMs + 100L),
      EventIn(2L, "view", 200L), EventIn(2L, "view", 3 * weekMs + 200L),
      EventIn(3L, "view", weekMs + 300L)).sortBy(_.tMs)
  }

  test("streaming growth marks + trailing silent churn equal the batch " +
      "growthAccounting ledger (3 chunks)") {
    import spark.implicits._
    import graft.streaming.Streams.GrowthMark
    val weekMs = 7L * dayMs
    val marks = runChunked[EventIn, GrowthMark](
      in => StreamsV2.growthStream(in.toDS()), growthFeed, 3, "growth_parity")
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("week"),
        r.getAs[String]("kind")))
    assert(marks.distinct.size === marks.size, s"duplicate mark: $marks")
    // event-driven expectations, pinned individually
    assert(marks.filter(_._1 == 1L).toSet ===
      Set((1L, 0L, "new"), (1L, 1L, "retained"), (1L, 2L, "retained")))
    assert(marks.filter(_._1 == 2L).toSet ===
      Set((2L, 0L, "new"), (2L, 1L, "churned"), (2L, 3L, "resurrected")),
      "a gap emits churned at the week the user went missing")
    assert(marks.filter(_._1 == 3L).toSet === Set((3L, 1L, "new")))
    // trailing silent churn (users who never return) needs a clock — in
    // production the TTL path emits it; here derive it from the feed's
    // final per-user state exactly as a batch re-run at maxWeek would
    val lastWeek = growthFeed.groupBy(_.userId).view
      .mapValues(es => es.map(e => Math.floorDiv(e.tMs, weekMs)).max).toMap
    val maxWeek = lastWeek.values.max
    val trailing = lastWeek.toSeq
      .filter { case (_, lw) => lw + 1 <= maxWeek }
      .map { case (u, lw) => (u, lw + 1, "churned") }
      // a gap-churn row for the same (user, week) already streamed
      .filterNot(t => marks.contains(t))
    val all = marks ++ trailing
    val streamed = all.groupBy(_._2).view.mapValues { ms =>
      (ms.count(_._3 == "new").toLong, ms.count(_._3 == "retained").toLong,
        ms.count(_._3 == "resurrected").toLong,
        ms.count(_._3 == "churned").toLong)
    }.toMap
    val batchEvents = growthFeed
      .map(e => (e.userId, e.eventType, e.tMs * 1000000L))
      .toDF("user_id", "event_type", "ts")
    val batch = EventAnalytics.growthAccounting(batchEvents).collect()
      .map(r => r.getAs[Long]("week") ->
        (r.getAs[Long]("new_users"), r.getAs[Long]("retained_users"),
          r.getAs[Long]("resurrected_users"), r.getAs[Long]("churned_users")))
      .toMap
    assert(streamed === batch, s"stream $streamed != batch $batch")
  }

  test("growth fold: chopped == one-shot on ordered feeds") {
    val u2 = growthFeed.filter(_.userId == 2L)
    val (s0, o0) = Streams.growthFold(2L, None, u2)
    assert(o0.map(m => (m.week, m.kind)) ===
      Seq((0L, "new"), (1L, "churned"), (3L, "resurrected")))
    for (cut <- 1 until u2.size) {
      val (s1, o1) = Streams.growthFold(2L, None, u2.take(cut))
      val (s2, o2) = Streams.growthFold(2L, Some(s1), u2.drop(cut))
      assert(s2 === s0, s"state diverged at cut $cut")
      assert(o1 ++ o2 === o0, s"output diverged at cut $cut")
    }
  }

  test("growth TTL eviction emits the silent-churn row, never drops it") {
    import spark.implicits._
    import graft.streaming.Streams.GrowthMark
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventIn]
    val q = StreamsV2.growthStream(input.toDS(), ttlMs = 200L)
      .writeStream.format("memory").queryName("growth_ttl")
      .outputMode("append").start()
    input.addData(EventIn(1L, "view", 100L))
    def rows(): Seq[GrowthMark] = spark.table("growth_ttl").as[GrowthMark]
      .collect().toSeq.filter(_.userId == 1L)
    // the "new" mark emits from batch 1; the churned row from eviction
    nudgeUntil(input, System.currentTimeMillis() + 90000L)(
      rows().exists(_.kind == "churned"))
    q.stop()
    val got = rows()
    spark.catalog.dropTempView("growth_ttl")
    assert(got.contains(GrowthMark(1L, 0L, "new")))
    assert(got.contains(GrowthMark(1L, 1L, "churned")),
      s"evicted user must close with a churned row; got $got")
  }

  test("activity fold past a TTL tombstone: re-appearing user is never " +
      "a second new") {
    import graft.streaming.Streams.ActivityState
    // the eviction path leaves ActivityState(Seq.empty, everActive=true)
    val tomb = ActivityState(Seq.empty, everActive = true)
    val (s1, o1) = Streams.activityFold(7L, Some(tomb),
      Seq(EventIn(7L, "view", 5 * dayMs + 10L), EventIn(7L, "view", 6 * dayMs)))
    assert(o1.forall(!_.isNew),
      s"post-eviction days must all be returning, got $o1")
    assert(o1.map(_.day) === Seq(5L, 6L))
    assert(s1.everActive, "tombstone flag must persist through the fold")
    // contrast: a genuinely unseen user still gets exactly one new mark
    val (_, o2) = Streams.activityFold(8L, None,
      Seq(EventIn(8L, "view", 5 * dayMs)))
    assert(o2.map(_.isNew) === Seq(true))
  }

  test("growth fold past a TTL tombstone: return classifies resurrected " +
      "(the batch gap pair), never a second new — including the " +
      "premature-TTL week, the documented divergence") {
    import graft.streaming.Streams.GrowthState
    val weekMs = 7L * dayMs
    // eviction left (lastWeek=2, churned=true); user returns at week 5
    val (s1, o1) = Streams.growthFold(9L, Some(GrowthState(2L, churned = true)),
      Seq(EventIn(9L, "view", 5 * weekMs + 1L)))
    assert(o1.map(m => (m.week, m.kind)) === Seq((5L, "resurrected")))
    assert(s1 === GrowthState(5L, churned = false))
    // premature TTL: the return lands at lastWeek+1, where the batch
    // ledger would say retained — the stream's churn mark is already
    // out, so the pinned contract is churn → resurrected, not retained
    val (s2, o2) = Streams.growthFold(9L, Some(GrowthState(2L, churned = true)),
      Seq(EventIn(9L, "view", 3 * weekMs + 1L)))
    assert(o2.map(m => (m.week, m.kind)) === Seq((3L, "resurrected")))
    assert(s2 === GrowthState(3L, churned = false))
  }

  test("growth stream end-to-end: churned on eviction, resurrected on " +
      "return — no second new") {
    import spark.implicits._
    import graft.streaming.Streams.GrowthMark
    implicit val sqlCtx = spark.sqlContext
    val weekMs = 7L * dayMs
    val input = MemoryStream[EventIn]
    val q = StreamsV2.growthStream(input.toDS(), ttlMs = 200L)
      .writeStream.format("memory").queryName("growth_ttl_return")
      .outputMode("append").start()
    def rows(): Seq[GrowthMark] = spark.table("growth_ttl_return").as[GrowthMark]
      .collect().toSeq.filter(_.userId == 1L)
    input.addData(EventIn(1L, "view", 100L))
    val deadline = System.currentTimeMillis() + 90000L
    nudgeUntil(input, deadline)(rows().exists(_.kind == "churned"))
    // after eviction's churn mark, the user comes back three weeks on
    input.addData(EventIn(1L, "view", 4 * weekMs + 100L))
    while (!rows().exists(_.kind == "resurrected") &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(100L)
    q.stop()
    val got = rows()
    spark.catalog.dropTempView("growth_ttl_return")
    assert(got.contains(GrowthMark(1L, 0L, "new")))
    assert(got.contains(GrowthMark(1L, 1L, "churned")))
    assert(got.contains(GrowthMark(1L, 4L, "resurrected")),
      s"post-eviction return must resurrect, got $got")
    assert(got.count(_.kind == "new") === 1,
      s"exactly one new mark per user ever, got $got")
  }
}
