package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product-analytics operators over the event stream — the ordered
  * conversion funnel and the cohort retention matrix, the two queries an
  * events table at 100 TB answers daily. Both are built from per-user
  * conditional aggregates and keyed equality joins: no sequential scan,
  * no per-user window over the raw stream, map-side combine everywhere
  * (events collapse to one row per user per stage before anything
  * shuffles twice).
  */
object EventAnalytics {

  private def tMs: Column = expr("ts div 1000000")

  /** Ordered conversion funnel — users who performed `steps` IN ORDER
    * (each step strictly after the previous one's FIRST completion; the
    * standard first-touch funnel semantics). Returns one row per step:
    * users reaching it, conversion from the previous step and from the
    * top (exact longs, one division each).
    *
    * Shape: stage k is `filter(type == step_k) → per-user min time`
    * joined to stage k−1's per-user completion time — each stage one
    * keyed shuffle of USER-cardinality rows (events collapse map-side on
    * the type filter + min), scaffolded so the step counts read the
    * already-materialized stage instead of replaying the chain. No
    * per-user ordered scan anywhere: first-touch semantics only ever
    * need the per-stage minimum after a threshold, which is an
    * aggregate, not a traversal.
    *
    * `maxGapMs`: when set, each step must also land WITHIN that many ms
    * of the previous step's first completion (the "converts within N
    * days" windowed-funnel contract) — an upper bound added to the same
    * filter; the plan shape does not change. */
  def funnel(events: DataFrame,
      steps: Seq[String] = Seq("signup", "click", "purchase"),
      maxGapMs: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty)
    val stages = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var prev = events.filter(col("event_type") === steps.head)
      .select(col("user_id"), tMs.as("_t0"))
      .groupBy("user_id").agg(min("_t0").as("_c0"))
      .transform(CacheLifecycle.scaffold)
    stages += prev
    for (i <- 1 until steps.length) {
      // windowed form: the step must land within maxGapMs of the previous
      // step's FIRST completion (the "converts within N days" contract) —
      // an upper bound on the same first-touch filter, nothing else moves
      val within = maxGapMs
        .map(g => col(s"_t$i") <= col(s"_c${i - 1}") + g)
        .getOrElse(lit(true))
      val r = events.filter(col("event_type") === steps(i))
        .select(col("user_id"), tMs.as(s"_t$i"))
        .join(prev, "user_id")
        .filter(col(s"_t$i") > col(s"_c${i - 1}") && within)
        .groupBy("user_id").agg(min(s"_t$i").as(s"_c$i"))
        .transform(CacheLifecycle.scaffold)
      stages += r
      prev = r
    }
    val all = stages.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("step"), lit(steps(i)).as("step_name"),
          col("n_users"))
    }.reduce(_ unionAll _)
    val first = all.filter(col("step") === 1).select(col("n_users").as("_n1"))
    all
      .join(all.select((col("step") + 1).as("step"), col("n_users").as("_np")),
        Seq("step"), "left")
      .crossJoin(broadcast(first))
      .select(
        col("step"), col("step_name"), col("n_users"),
        // conversion FROM an empty stage is 0 by definition (an empty
        // denominator would be a divide-by-zero under ANSI eval)
        when(coalesce(col("_np"), col("n_users")) === 0, lit(0.0))
          .otherwise(col("n_users").cast("double") /
            coalesce(col("_np"), col("n_users"))).as("conv_from_prev"),
        when(col("_n1") === 0, lit(0.0))
          .otherwise(col("n_users").cast("double") / col("_n1"))
          .as("conv_from_first"))
  }

  /** Hourly-volume anomaly ledger — robust outlier detection on the
    * event rate: hourly counts scored against the median ± k·MAD band
    * (median absolute deviation — the robust spread a traffic spike
    * cannot drag the way it drags a stddev). One row per hour with the
    * count, the robust center/spread, and the flag — the page-the-oncall
    * query of an events pipeline.
    *
    * Exactness contract: both percentiles are exact interpolating
    * `percentile_cont` (Spark `percentile` ≡ DuckDB `quantile_cont`),
    * rounded to 3 decimals on BOTH sides before the flag comparison —
    * the established lag-percentile parity pattern — so the boundary
    * decision is made on bit-identical doubles.
    *
    * Shape: events collapse to the hourly frame (calendar-bounded) in
    * one keyed count; the two percentile aggregates and the flag all run
    * on that tiny frame with 1-row broadcasts. */
  def hourlyAnomaly(events: DataFrame, madK: Double = 3.0): DataFrame = {
    val hourly = events
      .groupBy(expr("(ts div 1000000) div 3600000").as("hour"))
      .agg(count(lit(1)).as("n_events"))
    val med = hourly.agg(
      round(expr("percentile(n_events, 0.5)"), 3).as("med"))
    val withMed = hourly.crossJoin(broadcast(med))
    val mad = withMed.agg(
      round(expr("percentile(abs(n_events - med), 0.5)"), 3).as("mad"))
    withMed.crossJoin(broadcast(mad))
      .select(col("hour"), col("n_events"), col("med"), col("mad"),
        (abs(col("n_events") - col("med")) > lit(madK) * col("mad"))
          .as("is_anomaly"))
  }

  /** Event-type transition matrix — the first-order Markov summary of
    * the event stream ("after a click, what happens next?"): for every
    * CONSECUTIVE pair of events of one user (ordered by time, event_id
    * breaking ties — a total order), count (from_type → to_type) and
    * report each transition's probability out of its source type.
    *
    * Shape: ONE user-partitioned `lead` window (distributed — every
    * user's timeline is its own partition slice, skew bounded by the
    * busiest user, the profile [[SaltedJoin.skewProfile]] measures), one
    * (from, to)-keyed count whose cardinality is |event types|², and a
    * from-keyed totals broadcast for the probabilities. The raw stream
    * crosses the wire once, keyed by user. */
  def transitions(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("_t"), col("event_id"))
    // the |types|^2-row pair count feeds both the matrix and its row
    // totals: both read its exchange, which the planner reuses, so the
    // lead window over the whole stream runs once
    val pairs = events
      .select(col("user_id"), col("event_id"), tMs.as("_t"), col("event_type"))
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_pairs"))
    val fromTotals = pairs.groupBy("from_type")
      .agg(sum("n_pairs").as("n_from"))
    pairs.join(broadcast(fromTotals), "from_type")
      .select(col("from_type"), col("to_type"), col("n_pairs"), col("n_from"),
        (col("n_pairs").cast("double") / col("n_from")).as("prob"))
  }

  /** Top-k most-travelled 3-step event paths — the sequence-mining
    * summary one level above [[transitions]]: per user timeline, every
    * window of three CONSECUTIVE events (by time, event_id ties) is a
    * path; the k most frequent paths with their counts and rank. The
    * "what do users actually do" query behind journey analysis.
    *
    * Shape: one user-partitioned double-`lead` window (distributed, the
    * same partitioning as [[transitions]]); paths collapse to a
    * ≤ |types|³-cardinality count with map-side combine; top-k is a
    * TakeOrdered heap; the rank is minted on the k-row result
    * ([[BoundedWindow.cumulative]] — no Window operator). */
  def pathTopK(events: DataFrame, k: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("_t"), col("event_id"))
    val paths = events
      .select(col("user_id"), col("event_id"), tMs.as("_t"), col("event_type"))
      .withColumn("s2", lead("event_type", 1).over(w))
      .withColumn("s3", lead("event_type", 2).over(w))
      .filter(col("s2").isNotNull && col("s3").isNotNull)
      .groupBy(col("event_type").as("s1"), col("s2"), col("s3"))
      .agg(count(lit(1)).as("n_paths"))
    val top = paths
      .orderBy(col("n_paths").desc, col("s1"), col("s2"), col("s3"))
      .limit(k)
    BoundedWindow.cumulative(top,
      struct((-col("n_paths")).as("_nn"), col("s1"), col("s2"), col("s3")),
      Seq.empty, Some("rnk"))
      .select("rnk", "s1", "s2", "s3", "n_paths")
  }

  /** User-activity octave ledger — the power-law health check on the
    * USER axis (the twin of the vocabulary Zipf ledger): users grouped
    * by ⌊log₂(events)⌋, computed integer-exact as binary-string length
    * − 1. A heavy right tail here is the skew the salted joins and the
    * [[SaltedJoin.skewProfile]] exist for; a missing tail on a
    * supposedly organic feed is the bot-filter tell.
    *
    * Shape: one user-keyed count (map-side combine), a ≤ 64-row octave
    * rollup, a 1-row totals broadcast. */
  def userActivityOctaves(events: DataFrame): DataFrame = {
    val perUser = events.groupBy("user_id").agg(count(lit(1)).as("_n"))
    // the <=64-row octave frame feeds both the ledger and its totals:
    // both read its exchange, which the planner reuses, so the stream is
    // counted once
    val perOctave = perUser
      .withColumn("octave", (length(bin(col("_n"))) - 1).cast("long"))
      .groupBy("octave")
      .agg(count(lit(1)).as("n_users"), sum("_n").as("n_events"))
    val totals = perOctave.agg(
      sum("n_users").as("_tu"), sum("n_events").as("_te"))
    perOctave.crossJoin(broadcast(totals))
      .select(col("octave"), col("n_users"), col("n_events"),
        (col("n_users").cast("double") / col("_tu")).as("user_share"),
        (col("n_events").cast("double") / col("_te")).as("event_share"))
  }

  /** Daily/rolling active users — DAU, the `windowDays`-day rolling
    * active count (WAU by default), and the DAU/WAU stickiness ratio per
    * day. The classic engagement table, computed without any sliding
    * window over raw events: the stream collapses to the DISTINCT
    * (user, day) set first (user-day cardinality — the only thing that
    * ever shuffles), DAU is a day-keyed count of it, and the rolling
    * count joins the user-day set to the tiny distinct-day list
    * broadcast with a `between` condition — day count is bounded by the
    * calendar, so the fanout is ≤ windowDays rows per user-day. */
  def activeUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val day = expr("(ts div 1000000) div 86400000")
    // DAU and the rolling count read the distinct user-day set through
    // one exchange, which the planner reuses (user-day cardinality — far
    // below the event count); the day list is re-derived from the stream
    val userDays = events.select(col("user_id"), day.as("day")).distinct()
    val days = userDays.select(col("day").as("_d")).distinct()
    val dau = userDays.groupBy("day").agg(count(lit(1)).as("dau"))
    val rolling = userDays
      .join(broadcast(days),
        col("day").between(col("_d") - (windowDays - 1), col("_d")))
      .groupBy(col("_d").as("day"))
      .agg(countDistinct("user_id").as("wau"))
    dau.join(rolling, "day")
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau")).as("stickiness"))
  }

  /** Last-touch revenue attribution — every purchase is credited to the
    * most recent PRIOR touch event (click/view by default) on the same
    * user's timeline; purchases with no prior touch are `direct`. Returns
    * one row per channel with the purchase count, attributed revenue and
    * revenue share — the marketing-spend table of an events warehouse.
    *
    * Exactness contract: revenue sums in DECIMAL(18,2) (exact — `value`
    * is 2-decimal money) and only the final projection casts to DOUBLE;
    * the share is ONE IEEE division of two exactly-summed decimals, so
    * both engines produce identical bits.
    *
    * Shape: one user-partitioned `last(..ignoreNulls) over rows(-∞,-1)`
    * window carries the latest touch forward (distributed — each user's
    * timeline is its own partition slice, the same partitioning as
    * [[transitions]]); purchases then collapse to a |channels|-cardinality
    * aggregate with map-side combine, and the share total broadcasts. */
  def attribution(events: DataFrame,
      touchTypes: Seq[String] = Seq("click", "view")): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("_t"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val touched = events
      .select(col("user_id"), col("event_id"), tMs.as("_t"),
        col("event_type"), col("value"))
      .withColumn("_ch",
        last(when(col("event_type").isin(touchTypes: _*), col("event_type")),
          ignoreNulls = true).over(w))
    // scaffold the |channels|-row ledger: the share total reads it too, and
    // without it the windowed corpus scan re-expands once per consumer
    // (the total prunes n_purchases, so the two share no exchange)
    val perChannel = touched.filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("_ch"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(18,2)")).as("_rev"))
      .transform(CacheLifecycle.scaffold)
    val total = perChannel.agg(sum("_rev").as("_tot"))
    perChannel.crossJoin(broadcast(total))
      .select(col("channel"), col("n_purchases"),
        col("_rev").cast("double").as("revenue"),
        (col("_rev").cast("double") / col("_tot").cast("double"))
          .as("revenue_share"))
  }

  /** Cohort lifetime-value triangle — signup cohorts (first-signup day) ×
    * weeks since signup: purchase count, exact weekly revenue, the
    * running cumulative revenue, and cumulative LTV per cohort user. The
    * money twin of [[retention]].
    *
    * Exactness contract: revenue in DECIMAL(18,2) end-to-end; the
    * cumulative sum is a cohort-PARTITIONED window over the
    * calendar-bounded (cohort, week) frame (≤ days × weeks rows — a
    * partitioned cumsum, never an unpartitioned window); `ltv_per_user`
    * is one IEEE division of exact numbers.
    *
    * Shape: one per-user cohort aggregate (user cardinality), one keyed
    * join of purchases to cohorts (user-keyed, map-side collapse to the
    * (cohort, week) matrix before the second shuffle), cohort sizes
    * broadcast. */
  def cohortLtv(events: DataFrame): DataFrame = {
    val day = expr("(ts div 1000000) div 86400000")
    // cohorts feed both the purchase join and the size rollup — scaffold
    // the user-cardinality frame so the signup scan runs once
    val cohorts = events.filter(col("event_type") === "signup")
      .select(col("user_id"), day.as("_d"))
      .groupBy("user_id").agg(min("_d").as("cohort_day"))
      .transform(CacheLifecycle.scaffold)
    val weekly = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), day.as("_pd"),
        col("value").cast("decimal(18,2)").as("_v"))
      .join(cohorts, "user_id")
      .filter(col("_pd") >= col("cohort_day"))
      .groupBy(col("cohort_day"),
        expr("(_pd - cohort_day) div 7").as("week_offset"))
      .agg(count(lit(1)).as("n_purchases"), sum("_v").as("_wrev"))
    val cum = org.apache.spark.sql.expressions.Window
      .partitionBy("cohort_day").orderBy("week_offset")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val sizes = cohorts.groupBy("cohort_day")
      .agg(count(lit(1)).as("cohort_size"))
    weekly
      .withColumn("_crev", sum("_wrev").over(cum))
      .join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("week_offset"), col("n_purchases"),
        col("_wrev").cast("double").as("week_revenue"),
        col("_crev").cast("double").as("cum_revenue"),
        col("cohort_size"),
        (col("_crev").cast("double") / col("cohort_size"))
          .as("ltv_per_user"))
  }

  /** Inter-arrival gap ledger — per event type, the distribution of gaps
    * (ms) between CONSECUTIVE events of that type on one user's timeline:
    * count, mean, and exact interpolating p50/p90/p99. The cadence table
    * behind rate-limit tuning and session-timeout selection.
    *
    * Exactness contract: gaps are exact longs (ms); the mean is ONE IEEE
    * division of two exact longs; the percentiles are exact interpolating
    * `percentile` (≡ DuckDB `quantile_cont`) rounded to 3 decimals on
    * both sides — the established lag-percentile parity pattern.
    *
    * Shape: one (user, type)-partitioned `lag` window (distributed; the
    * partition key is FINER than [[transitions]]' so skew is strictly
    * smaller), then a |types|-cardinality aggregate. */
  def interarrival(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy(col("_t"), col("event_id"))
    val gaps = events
      .select(col("user_id"), col("event_id"), tMs.as("_t"), col("event_type"))
      .withColumn("_gap", col("_t") - lag("_t", 1).over(w))
      .filter(col("_gap").isNotNull)
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        sum("_gap").as("_sum"),
        round(expr("percentile(_gap, 0.5)"), 3).as("p50_ms"),
        round(expr("percentile(_gap, 0.9)"), 3).as("p90_ms"),
        round(expr("percentile(_gap, 0.99)"), 3).as("p99_ms"))
      .select(col("event_type"), col("n_gaps"),
        (col("_sum").cast("double") / col("n_gaps")).as("mean_ms"),
        col("p50_ms"), col("p90_ms"), col("p99_ms"))
  }

  /** RFM segmentation — the classic customer-value table: per user with
    * ≥ 1 purchase, Recency (days since last purchase, against the
    * feed's max event day as the reference "now"), Frequency (purchase
    * count) and Monetary (exact DECIMAL(18,2) revenue), each scored
    * 1..3 on fixed thresholds and concatenated into the segment label
    * ("333" = best). Fixed thresholds rather than ntile quantiles by
    * design: quantile scoring needs a GLOBAL sort over all users (the
    * unpartitioned-window shape this repo reserves for
    * [[graft.cdc.GlobalOrder]]) and makes every score depend on every
    * other user; fixed cutoffs are integer-exact, embarrassingly
    * parallel, and stable across runs — the segmentation a 100 TB
    * pipeline can actually recompute incrementally.
    *
    * Shape: one user-keyed conditional aggregate (map-side combine), a
    * 1-row reference-day broadcast, scoring in the projection. */
  def rfm(events: DataFrame,
      recencyCuts: (Long, Long) = (7L, 30L),
      frequencyCuts: (Long, Long) = (10L, 3L),
      monetaryCuts: (String, String) = ("100.00", "10.00")): DataFrame = {
    val day = expr("(ts div 1000000) div 86400000")
    val refDay = events.agg(max(day).as("_ref"))
    val perUser = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), day.as("_d"),
        col("value").cast("decimal(18,2)").as("_v"))
      .groupBy("user_id")
      .agg(max("_d").as("_last"), count(lit(1)).as("frequency"),
        sum("_v").as("_m"))
    perUser.crossJoin(broadcast(refDay))
      .select(
        col("user_id"),
        (col("_ref") - col("_last")).as("recency_days"),
        col("frequency"),
        col("_m").cast("double").as("monetary"),
        when(col("_ref") - col("_last") <= recencyCuts._1, 3L)
          .when(col("_ref") - col("_last") <= recencyCuts._2, 2L)
          .otherwise(1L).as("r_score"),
        when(col("frequency") >= frequencyCuts._1, 3L)
          .when(col("frequency") >= frequencyCuts._2, 2L)
          .otherwise(1L).as("f_score"),
        when(col("_m") >= lit(monetaryCuts._1).cast("decimal(18,2)"), 3L)
          .when(col("_m") >= lit(monetaryCuts._2).cast("decimal(18,2)"), 2L)
          .otherwise(1L).as("m_score"))
      .withColumn("segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
  }

  /** Cohorted funnel — the funnel sliced by signup cohort WEEK ("is
    * conversion improving for newer cohorts?" — the growth-accounting
    * read of the same first-touch chain). Per (cohort week, step): users
    * reaching the step and conversion from the cohort's top. Cohort week
    * = the week of the user's stage-1 first completion, so stage 1 rows
    * are the cohort sizes by construction.
    *
    * Shape: the [[funnel]] stage chain unchanged (per-stage
    * user-cardinality aggregates, scaffolded once), each stage's users
    * carrying their stage-1 week; the rollup is a (≤ weeks × steps)-row
    * aggregate and the per-cohort top broadcasts back. */
  def cohortedFunnel(events: DataFrame,
      steps: Seq[String] = Seq("signup", "click", "purchase")): DataFrame = {
    require(steps.nonEmpty)
    val weekMs = 604800000L
    val stages = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var prev = events.filter(col("event_type") === steps.head)
      .select(col("user_id"), tMs.as("_t0"))
      .groupBy("user_id").agg(min("_t0").as("_c0"))
      .withColumn("cohort_week", expr(s"_c0 div $weekMs"))
      .transform(CacheLifecycle.scaffold)
    stages += prev
    for (i <- 1 until steps.length) {
      val r = events.filter(col("event_type") === steps(i))
        .select(col("user_id"), tMs.as(s"_t$i"))
        .join(prev.select(col("user_id"), col(s"_c${i - 1}"),
          col("cohort_week")), "user_id")
        .filter(col(s"_t$i") > col(s"_c${i - 1}"))
        .groupBy("user_id", "cohort_week").agg(min(s"_t$i").as(s"_c$i"))
        .transform(CacheLifecycle.scaffold)
      stages += r
      prev = r
    }
    val perCell = stages.zipWithIndex.map { case (df, i) =>
      df.groupBy("cohort_week")
        .agg(count(lit(1)).as("n_users"))
        .select(col("cohort_week"), lit(i + 1L).as("step"),
          lit(steps(i)).as("step_name"), col("n_users"))
    }.reduce(_ unionAll _)
    val tops = perCell.filter(col("step") === 1)
      .select(col("cohort_week"), col("n_users").as("_top"))
    perCell.join(broadcast(tops), Seq("cohort_week"))
      .select(col("cohort_week"), col("step"), col("step_name"),
        col("n_users"),
        (col("n_users").cast("double") / col("_top")).as("conv_from_first"))
  }

  /** Bot-cadence filter — the traffic-hygiene gate run before events
    * feed any training mix: humans produce messy inter-event gaps, bots
    * produce a handful of fixed intervals. Per user: event count, gap
    * count, DISTINCT gap count, their ratio, and the flag
    * (`minGaps`+ events with ≤ `maxDistinctPct`% distinct gaps). The
    * distinct-gap metric is deliberately variance-free: a Σg² second
    * moment overflows 64-bit at month-scale ms gaps and drags decimals
    * in, while distinct-counting is integer-exact at any scale and
    * catches the constant-interval signature directly.
    *
    * Shape: one user-partitioned `lag` ([[interarrival]]'s partitioning
    * minus the type key), one user-keyed count + exact distinct
    * aggregate (partial aggregation handles the distinct), ratio one
    * IEEE division. */
  def botFilter(events: DataFrame, minGaps: Long = 20L,
      maxDistinctPct: Long = 10L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("_t"), col("event_id"))
    val gaps = events
      .select(col("user_id"), col("event_id"), tMs.as("_t"))
      .withColumn("_gap", col("_t") - lag("_t", 1).over(w))
    gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(col("_gap")).as("n_gaps"),
        countDistinct(col("_gap")).as("n_distinct_gaps"))
      .select(col("user_id"), col("n_events"), col("n_gaps"),
        col("n_distinct_gaps"),
        when(col("n_gaps") === 0, lit(0.0))
          .otherwise(col("n_distinct_gaps").cast("double") / col("n_gaps"))
          .as("distinct_ratio"),
        (col("n_gaps") >= minGaps &&
          col("n_distinct_gaps") * 100L <= col("n_gaps") * maxDistinctPct)
          .as("is_bot"))
  }

  /** Hour-of-week activity profile — the seasonality heatmap behind
    * capacity planning and anomaly baselines: per (hour-of-week 0..167,
    * event type), the count and its share of the type's total.
    * Hour-of-week is epoch-anchored pure arithmetic
    * (`(ms div 3600000) % 168`; epoch hour 0 = Thursday 00:00 UTC) — no
    * calendar library, identical on any engine.
    *
    * Shape: one keyed count collapsing to ≤ 168 × |types| rows map-side,
    * type totals broadcast. */
  def weekdayProfile(events: DataFrame): DataFrame = {
    // the 168x|types|-row cell frame feeds both the heatmap and its
    // per-type totals: both read its exchange, which the planner reuses,
    // so the stream is counted once
    val perCell = events
      .groupBy(expr("((ts div 1000000) div 3600000) % 168").as("hour_of_week"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val totals = perCell.groupBy("event_type")
      .agg(sum("n_events").as("_tot"))
    perCell.join(broadcast(totals), "event_type")
      .select(col("hour_of_week"), col("event_type"), col("n_events"),
        (col("n_events").cast("double") / col("_tot")).as("share"))
  }

  /** New-vs-returning daily split — growth accounting's first table: per
    * day, how many active users are brand NEW (their first-ever event is
    * that day) vs returning, with the new fraction (one IEEE division of
    * exact longs). Read next to [[activeUsers]]' stickiness: growth that
    * is all `new_users` with low stickiness is churn-and-burn.
    *
    * Shape: the distinct (user, day) set (scaffolded — the first-day
    * aggregate and the join both read it), a user-keyed min, one
    * user-co-partitioned join, a day-keyed rollup. Nothing wider than
    * user-day cardinality ever shuffles. */
  def newVsReturning(events: DataFrame): DataFrame = {
    val day = expr("(ts div 1000000) div 86400000")
    val userDays = events.select(col("user_id"), day.as("day")).distinct()
      .transform(CacheLifecycle.scaffold)
    val firstDay = userDays.groupBy("user_id").agg(min("day").as("_first"))
    userDays.join(firstDay, "user_id")
      .groupBy("day")
      .agg(
        count(lit(1)).as("dau"),
        count(when(col("day") === col("_first"), 1)).as("new_users"))
      .select(col("day"), col("dau"), col("new_users"),
        (col("dau") - col("new_users")).as("returning_users"),
        (col("new_users").cast("double") / col("dau")).as("new_frac"))
  }

  /** Cohort retention matrix — users grouped by their first-signup day;
    * for each (cohort day, day offset ≥ 0) the count and fraction of the
    * cohort active (any event) that day. The classic triangle table,
    * computed as: one per-user cohort aggregate, one distinct
    * (user, day) activity set, one keyed join, one matrix aggregate —
    * every intermediate is user- or user-day-cardinality, and the
    * cohort-size rejoin broadcasts (cohort DAYS are few even when users
    * are billions). */
  def retention(events: DataFrame): DataFrame = {
    val day = expr("(ts div 1000000) div 86400000")
    val cohorts = events.filter(col("event_type") === "signup")
      .select(col("user_id"), day.as("_d"))
      .groupBy("user_id").agg(min("_d").as("cohort_day"))
    val active = events.select(col("user_id"), day.as("active_day")).distinct()
    val matrix = active.join(cohorts, "user_id")
      .filter(col("active_day") >= col("cohort_day"))
      .groupBy(col("cohort_day"),
        (col("active_day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = cohorts.groupBy("cohort_day").agg(count(lit(1)).as("cohort_size"))
    matrix.join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size")).as("retention"))
  }

  /** Activity-concentration (Gini) ledger — how unequal the per-user
    * event distribution is, the single number read next to the
    * [[userOctaves]] power-law tail ("are 1% of users producing 90% of
    * the feed?" — the bot/whale tell, and on a training corpus the
    * source-concentration audit). Gini over per-user counts x₁≤…≤xₙ via
    * the rank form G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ): both numerator
    * and denominator are EXACT integers (DECIMAL(38,0) accumulation —
    * Σi·xᵢ ≤ n·total overflows a long at ~1e9 users × 1e10 events, well
    * inside the 100 TB target), the Gini one IEEE division at the end.
    * Rank ties are harmless: tied values contribute the same Σi·xᵢ
    * under any permutation of their rank block.
    *
    * Shape: one user-keyed count (map-side combine), a
    * [[graft.cdc.GlobalOrder.rank]] over the user-cardinality frame
    * (range-partitioned — no single-task global sort), one 1-row
    * aggregate. */
  def gini(events: DataFrame): DataFrame = {
    val perUser = events.groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val ranked = graft.cdc.GlobalOrder.rank(
      perUser, Seq(col("cnt"), col("user_id")), "rnk")
    ranked
      .agg(
        count(lit(1)).as("n_users"),
        sum("cnt").as("n_events"),
        sum(col("rnk").cast("decimal(38,0)") * col("cnt")).as("_w"))
      .select(col("n_users"), col("n_events"),
        ((col("_w") * 2 - (col("n_users") + 1).cast("decimal(38,0)")
            * col("n_events")).cast("double")
          / (col("n_users").cast("decimal(38,0)") * col("n_events"))
            .cast("double")).as("gini"))
  }

  /** Conversion-lag ledger — per funnel transition, how LONG users take
    * to convert (the time-to-value curve a growth team reads next to the
    * [[funnel]] counts): gap = first completion of step k − first
    * completion of step k−1, under the same strict first-touch chain the
    * funnel uses. One row per transition with the converter count, exact
    * mean (long sum / count) and exact interpolating p50/p90/p99 rounded
    * to 3 decimals on both engines (the [[interarrival]] parity rule).
    *
    * Shape: the funnel's stage chain (per-user min-after-threshold
    * aggregates, user-cardinality keyed joins), each transition's gaps
    * aggregated to ONE row — no per-user ordered scan, no window over
    * the raw stream. */
  def conversionLag(events: DataFrame,
      steps: Seq[String] = Seq("signup", "click", "purchase")): DataFrame = {
    require(steps.length >= 2)
    var prev = events.filter(col("event_type") === steps.head)
      .select(col("user_id"), tMs.as("_t0"))
      .groupBy("user_id").agg(min("_t0").as("_c0"))
    val rows = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (i <- 1 until steps.length) {
      val stage = events.filter(col("event_type") === steps(i))
        .select(col("user_id"), tMs.as(s"_t$i"))
        .join(prev, "user_id")
        .filter(col(s"_t$i") > col(s"_c${i - 1}"))
        .groupBy("user_id", s"_c${i - 1}")
        .agg(min(s"_t$i").as(s"_c$i"))
      rows += stage
        .select((col(s"_c$i") - col(s"_c${i - 1}")).as("_gap"))
        .agg(
          count(lit(1)).as("n_users"),
          sum("_gap").as("_sum"),
          round(expr("percentile(_gap, 0.5)"), 3).as("p50_ms"),
          round(expr("percentile(_gap, 0.9)"), 3).as("p90_ms"),
          round(expr("percentile(_gap, 0.99)"), 3).as("p99_ms"))
        .select(lit(i.toLong).as("step"),
          lit(steps(i - 1)).as("from_step"), lit(steps(i)).as("to_step"),
          col("n_users"),
          (col("_sum").cast("double") / col("n_users")).as("mean_ms"),
          col("p50_ms"), col("p90_ms"), col("p99_ms"))
      prev = stage.select(col("user_id"), col(s"_c$i"))
    }
    rows.reduce(_ unionAll _)
  }

  /** Weekly growth accounting — the full four-way user-flow ledger per
    * week: `new` (first-ever active week), `retained` (also active the
    * week before), `resurrected` (active before, but not last week) and
    * `churned` (active last week, absent this week — attributed to the
    * week the user went missing), plus the identity-check column
    * `net_growth = new + resurrected − churned` (which telescopes to the
    * week-over-week WAU delta). [[newVsReturning]] is the daily
    * two-way split; this is the weekly table a growth team actually
    * reads. Churn past the observation window is clipped at the last
    * observed week (those users have not had a week in which to return).
    *
    * Shape: the event stream collapses to the distinct user-week set
    * (map-side combine), then ONE per-user window ordered by week derives
    * lag/lead — a user's active weeks are bounded by the calendar, so
    * every window frame is tiny regardless of corpus size. Each marked
    * row then EXPLODES into its status row plus (when the user goes
    * missing) a churn row — map-side, so the union of the two ledgers
    * never re-runs the window — and the result is a week-keyed
    * conditional-count rollup. The max-week clip joins as a broadcast
    * 1-row aggregate. Exact longs throughout. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("week")
    val userWeeks = events
      .select(col("user_id"), expr("((ts div 1000000) div 86400000) div 7").as("week"))
      .distinct()
      .transform(CacheLifecycle.scaffold)
    val marked = userWeeks
      .withColumn("_prev", lag(col("week"), 1).over(w))
      .withColumn("_next", lead(col("week"), 1).over(w))
    val kinds = marked
      .select(explode(array(
        struct(col("week"),
          when(col("_prev").isNull, lit("new"))
            .when(col("_prev") === col("week") - 1, lit("retained"))
            .otherwise(lit("resurrected")).as("kind")),
        struct((col("week") + 1).as("week"),
          when(col("_next").isNull || col("_next") > col("week") + 1,
            lit("churned")).as("kind")))).as("r"))
      .select(col("r.week").as("week"), col("r.kind").as("kind"))
      .filter(col("kind").isNotNull)
    val maxWeek = userWeeks.agg(max("week").as("_maxw"))
    kinds
      .crossJoin(broadcast(maxWeek))
      .filter(col("week") <= col("_maxw"))
      .groupBy("week")
      .agg(
        count(when(col("kind") === "new", 1)).as("new_users"),
        count(when(col("kind") === "retained", 1)).as("retained_users"),
        count(when(col("kind") === "resurrected", 1)).as("resurrected_users"),
        count(when(col("kind") === "churned", 1)).as("churned_users"))
      .withColumn("net_growth",
        col("new_users") + col("resurrected_users") - col("churned_users"))
  }

  /** PageRank over the event-type transition graph — "which screen/state
    * actually anchors the product", the centrality read on top of
    * [[transitions]]' local probabilities (a type can have high in-count
    * but only from low-traffic states; rank propagation tells them
    * apart).
    *
    * INTEGER-EXACT power iteration: every node starts with 1,000,000
    * units of mass; each of the `iters` rounds sends
    * `((mass·17) div 20 · w_ppm) div 10⁶` along each edge (damping 0.85
    * and the edge's integer-ppm share of its source's outflow) and
    * re-seeds `150000` per node. All arithmetic is long division at
    * fixed points — associative, order-free, bit-identical on any
    * engine and under any partitioning; dangling mass decays into the
    * re-seed term (the simple variant, mirrored exactly in the oracle).
    *
    * Scale shape: the heavy work is ONE user-partitioned `lead` pass
    * building the |types|²-row edge table (the same single shuffle as
    * [[transitions]]); the edge table then collapses to a SINGLE row
    * and all `iters` rounds run as nested higher-order functions on
    * that row — zero per-iteration shuffles or joins (a 10-round
    * DataFrame loop costs ~30 stage launches for ≤25-row frames; the
    * in-row fold costs none), no further pass over the raw stream, no
    * driver-side collect. */
  def pageRank(events: DataFrame, iters: Int = 10): DataFrame = {
    // sequence(1, 0) in Spark generates DESCENDING [1, 0] — an iters=0
    // call would silently run two rounds instead of zero
    require(iters >= 1, s"pageRank needs at least one iteration, got $iters")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("_t"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("event_id"), tMs.as("_t"), col("event_type"))
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("to_type").as("dst"))
      .agg(count(lit(1)).as("n_pairs"))
    val outTot = pairs.groupBy("src").agg(sum("n_pairs").as("n_out"))
    // integer-ppm outflow share; the decimal product keeps the ppm mint
    // overflow-proof at any edge count
    val graph = pairs.join(broadcast(outTot), "src")
      .select(struct(col("src"), col("dst"),
        expr("CAST(CAST(n_pairs AS DECIMAL(38,0)) * 1000000 div n_out AS BIGINT)")
          .as("w_ppm")).as("e"))
      .agg(collect_list(col("e")).as("edges"))
      .withColumn("nodes", expr(
        "array_sort(array_distinct(concat(" +
          "transform(edges, e -> e.src), transform(edges, e -> e.dst))))"))
    // ALL rounds run as ONE in-row fold (`aggregate` over sequence):
    // the accumulator binds each round's mass map to a lambda variable,
    // so it is MATERIALIZED once per round — chaining `withColumn`s
    // instead would inline round k's expression into round k+1 and
    // interpreted HOF evaluation would re-derive it per (node × edge),
    // i.e. (|nodes|·|edges|)^iters work. Every node re-seeds 150000 and
    // collects the damped, ppm-weighted inflow; the inner sum is
    // long-only (exact integer addition commutes, edge order free).
    val ranked = graph.withColumn("mass", expr(
      s"""aggregate(sequence(1, $iters),
        map_from_arrays(nodes, transform(nodes, n -> 1000000L)),
        (mass, i) -> map_from_arrays(nodes, transform(nodes, n ->
          150000L + aggregate(filter(edges, e -> e.dst = n), 0L,
            (acc, e) -> acc + (element_at(mass, e.src) * 17L div 20L)
              * e.w_ppm div 1000000L))))"""))
    ranked
      .withColumn("_total", expr("aggregate(map_values(mass), 0L, (a, x) -> a + x)"))
      .select(col("_total"), explode(col("mass")).as(Seq("event_type", "mass")))
      .select(col("event_type"), col("mass"),
        (col("mass").cast("double") / col("_total")).as("rank_share"))
  }
}
