package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.cdc._
import graft.functions.GraftFunctions
import graft.llm.{Chunking, Clusters, Corpus, Dedup, Multimodal, Packing, Pii, Sampling, TextAnalysis}
import graft.llm.Similarity
import graft.operators.{AsOfJoin, CacheLifecycle, RangeJoin, SaltedJoin, Sessions}
import graft.sources.{DebeziumSource, Tables}

/** TPC-H-shape relational queries over the orders/lineitem star — one link of the ordered `SparkEntry` trait
  * chain (split from the single-file map by the round-12 verdict's
  * directive #7, the Oracles.scala recipe: pure relocation, the
  * `queries` map API and every entry body unchanged). */
private[graft] trait SparkEntryTpch extends SparkEntryCdc {
  private[graft] def tpchQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_lineitem_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
          sum(col("l_discount").cast(DecimalType(18, 4))).cast("double").as("sum_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q_region_revenue" -> ((s, dir) =>
      Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
        .orderBy("r_name")),
    "q_top_orders" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          // parquet TIMESTAMP(isAdjustedToUTC=false) loads as TIMESTAMP_NTZ;
          // session tz is UTC so the cast preserves the instant
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_date_ms"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),
    // TPC-H Q3 shape (shipping priority): segment-filtered customers
    // BROADCAST into the one big orders⨝lineitem keyed join; top-10 rides
    // a TakeOrdered heap, never a global sort. Revenue parity contract:
    // per-row cents = floor(price·(1−discount)·100) — an identical IEEE
    // op chain on both engines — summed as exact longs
    "q_shipping_priority" -> ((s, dir) => {
      val cut = lit("1998-01-01 00:00:00").cast("timestamp_ntz")
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_date_ms"))
      val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > cut)
        .select(col("l_orderkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .as("_cents"))
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_date_ms", "o_orderpriority")
        .agg(sum("_cents").as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("o_orderkey"))
        .limit(10)
    }),
    // TPC-H Q4 shape: EXISTS as a LEFT SEMI join (each order counted once
    // no matter how many late lines it has), priority-keyed rollup
    "q_late_orders" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val l = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
      o.join(l,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),
    // TPC-H Q5 shape (local supplier volume): revenue by nation within one
    // region where the customer and supplier share a nation. The two big
    // fact joins (lineitem⨝orders on orderkey, then custkey/suppkey) stay
    // keyed shuffles; only the 25-row nation⊳region map broadcasts
    // explicitly — customer/supplier are SF-scaled, so AQE promotes them
    // at test scale without baking a 100TB-wrong hint into the plan.
    // Revenue parity: per-row floor-cents, summed as exact longs.
    "q_local_supplier_volume" -> ((s, dir) => {
      val nr = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val c = Tables.customer(s, dir)
        .join(broadcast(nr), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val su = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .as("_cents"))
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .filter(col("s_nationkey") === col("c_nationkey"))
        .groupBy("n_name")
        .agg(sum("_cents").as("revenue_cents"))
        .select(col("n_name"), col("revenue_cents"),
          (col("revenue_cents").cast("double") / 100).as("revenue"))
        .orderBy(col("revenue_cents").desc, col("n_name"))
    }),
    // TPC-H Q14 shape (promo revenue share): per ship-month, the share of
    // revenue from PROMO-type parts. One keyed fact⨝part join (AQE
    // broadcasts the dimension at test scale), month-keyed rollup, one
    // IEEE division of exactly-summed cents.
    "q_promo_revenue" -> ((s, dir) => {
      val p = Tables.part(s, dir)
        .select(col("p_partkey"), (col("p_type") === "PROMO").as("_promo"))
      val l = Tables.lineitem(s, dir).select(
        col("l_partkey"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("ship_month"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .as("_cents"))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("ship_month")
        .agg(
          sum(when(col("_promo"), col("_cents"))).as("promo_cents"),
          sum("_cents").as("total_cents"))
        .select(col("ship_month"), col("promo_cents"), col("total_cents"),
          (col("promo_cents").cast("double") / col("total_cents"))
            .as("promo_share"))
        .orderBy("ship_month")
    }),
    // TPC-H Q19 shape (disjunctive-predicate revenue): three brand/size/
    // quantity disjuncts over the one fact⨝part join. The derivable common
    // bound (l_quantity ≤ 30) is written EXPLICITLY on the fact select so
    // the parquet scan prunes rows the disjunction would otherwise drag
    // through the join — a disjunction alone does not push down, its
    // derived conjunct does. Per-brand rollup, floor-cents exact sums.
    "q_disjunctive_revenue" -> ((s, dir) => {
      val p = Tables.part(s, dir).select("p_partkey", "p_brand", "p_size")
      val l = Tables.lineitem(s, dir)
        .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
        .select(col("l_partkey"), col("l_quantity"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .as("_cents"))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#15" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_lines"), sum("_cents").as("revenue_cents"))
        .orderBy("p_brand")
    }),
    // TPC-H Q22 shape (cold customers): above-average-balance customers
    // DORMANT since the cutoff — no order on or after 2000-01-01. The
    // scalar subquery (avg positive balance) is a broadcast 1-row cross;
    // dormancy is a LEFT ANTI join against the date-filtered orders (the
    // cutoff pushes to the orders scan, the anti side prunes to one key
    // column). Balance kept in exact floor-cents; the average is the one
    // IEEE division, compared in double on both engines.
    "q_cold_customers" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(
        col("c_custkey"), col("c_mktsegment"),
        floor(col("c_acctbal") * 100).cast("long").as("_bal_cents"))
        .transform(CacheLifecycle.scaffold) // the avg branch and the main stream both read it
      val avg = c.filter(col("_bal_cents") > 0)
        .agg((sum("_bal_cents").cast("double") / count(lit(1)))
          .as("_avg_cents"))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >=
          lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
        .select("o_custkey")
      c.join(broadcast(avg))
        .filter(col("_bal_cents").cast("double") > col("_avg_cents"))
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sum("_bal_cents").as("bal_cents"))
        .orderBy("c_mktsegment")
    }),
    // TPC-H Q18 shape (large-volume baskets): HAVING-subquery orders whose
    // total quantity clears a threshold, joined back to orders+customer.
    // The post-HAVING frame is selectivity-tiny, so AQE broadcasts it into
    // the orders join at runtime — the plan never hints a broadcast that
    // would be wrong if the threshold were loosened at 100 TB. Quantities
    // are integral doubles; cast long so the basket sums stay exact.
    "q_big_basket" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
        .filter(col("total_qty") > 300)
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("o_date_ms"))
      val c = Tables.customer(s, dir).select("c_custkey", "c_name")
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_date_ms"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(20)
    }),
    // TPC-H Q15 shape (top supplier): argmax over a keyed aggregate with
    // ties KEPT — the per-supplier revenue rollup joins its own broadcast
    // 1-row max instead of sorting the aggregate or windowing over an
    // unpartitioned frame. Floor-cents exact, so "equal to the max" is an
    // integer equality, never a float-tolerance question.
    "q_top_supplier" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .select(col("l_suppkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .as("_cents"))
        .groupBy("l_suppkey")
        .agg(sum("_cents").as("revenue_cents"))
        // supplier-cardinality; both the max and the join read it
        .transform(CacheLifecycle.scaffold)
      val mx = rev.agg(max("revenue_cents").as("_max_cents"))
      rev.join(broadcast(mx), col("revenue_cents") === col("_max_cents"))
        .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("revenue_cents"))
        .orderBy("s_suppkey")
    }),
    // TPC-H Q13 shape (order-count distribution): LEFT OUTER join keeps
    // zero-order customers in the histogram; two keyed aggregates — the
    // second collapses to ≤ max-orders-per-customer rows map-side. The
    // "histogram of counts" pattern every engagement dashboard runs.
    "q_order_count_distribution" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select("c_custkey")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy("n_orders")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_customers").desc, col("n_orders").desc)
    }),
    // TPC-H Q10 shape (returned-item revenue): per-customer revenue from
    // R-flagged lines, top-20. The return filter pushes to the lineitem
    // scan; revenue sums exact floor-cents; top-20 rides a TakeOrdered
    // heap after the customer rejoin (name carried through the agg would
    // widen the shuffle for nothing).
    "q_returned_revenue" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .as("_cents"))
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      val rev = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(sum("_cents").as("revenue_cents"))
      rev.join(Tables.customer(s, dir).select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("c_custkey"))
        .limit(20)
    }),
    // TPC-H Q1 shape, full form (pricing summary): shipdate-filtered
    // single-pass rollup by (returnflag, linestatus). Every money/qty sum
    // is exact floor-cents longs (per-row IEEE chains identical on both
    // engines); the avg columns are derived doubles of exact sums, so no
    // re-associated float accumulation ever crosses engines.
    "q_pricing_summary" -> ((s, dir) => {
      val cut = lit("2001-09-01 00:00:00").cast("timestamp_ntz")
      Tables.lineitem(s, dir).filter(col("l_shipdate") <= cut)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast("long").as("_q"),
          floor(col("l_extendedprice") * 100).as("_pc"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .as("_dc"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax")) * 100).as("_cc"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("_q").as("sum_qty"),
          sum("_pc").as("sum_price_cents"),
          sum("_dc").as("sum_disc_price_cents"),
          sum("_cc").as("sum_charge_cents"),
          count(lit(1)).as("cnt"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("sum_qty"), col("sum_price_cents"),
          col("sum_disc_price_cents"), col("sum_charge_cents"),
          (col("sum_qty").cast("double") / col("cnt")).as("avg_qty"),
          (col("sum_price_cents").cast("double") / 100 / col("cnt"))
            .as("avg_price"),
          col("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    // TPC-H Q6 shape (forecast revenue): pure filter + global agg — every
    // predicate (date window, discount band, quantity cap) reaches the
    // parquet scan as a pushed filter; zero joins, zero shuffles beyond
    // the final 1-row combine. The 100 TB plan is a scan and nothing else.
    "q_forecast_revenue" -> ((s, dir) => {
      val lo = lit("1996-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1997-01-01 00:00:00").cast("timestamp_ntz")
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(
          sum(floor(col("l_extendedprice") * col("l_discount") * 100))
            .as("forecast_cents"),
          count(lit(1)).as("n_lines"))
    }),
    // TPC-H Q7 shape (volume shipping): revenue between one nation pair
    // per direction per year. Both dimension sides are PRE-FILTERED to the
    // two nations before touching the fact (supplier and customer shrink
    // to ~2/25, so AQE broadcasts them at any scale); the pair disjunction
    // is applied AFTER the joins on the two carried nation names — a
    // disjunction over join results does not prune scans, the nation
    // prefilters do.
    "q_volume_shipping" -> ((s, dir) => {
      val pair = Seq("NATION_1", "NATION_2")
      val ns = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("_snk"), col("n_name").as("supp_nation"))
      val nc = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("_cnk"), col("n_name").as("cust_nation"))
      val sup = Tables.supplier(s, dir)
        .join(broadcast(ns), col("s_nationkey") === col("_snk"))
        .select("s_suppkey", "supp_nation")
      val cus = Tables.customer(s, dir)
        .join(broadcast(nc), col("c_nationkey") === col("_cnk"))
        .select("c_custkey", "cust_nation")
      val lo = lit("1996-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1998-01-01 00:00:00").cast("timestamp_ntz")
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("l_year"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .as("_cents"))
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      l.join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cus, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(sum("_cents").as("revenue_cents"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),
    // TPC-H Q8 shape (national market share): one supplier nation's share
    // of the type-filtered revenue sold into one region, per order year.
    // The part filter prunes the fact first (keyed join, AQE-broadcast at
    // test scale); region-membership is a LEFT SEMI on orders (no row
    // multiplication); the share is one IEEE division of two exact sums.
    "q_market_share" -> ((s, dir) => {
      val p = Tables.part(s, dir).filter(col("p_type") === "PROMO")
        .select("p_partkey")
      val rn = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("_rnk"))
      val cus = Tables.customer(s, dir)
        .join(broadcast(rn), col("c_nationkey") === col("_rnk"))
        .select("c_custkey")
      val oFil = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("o_year"))
        .join(cus, col("o_custkey") === col("c_custkey"), "left_semi")
      val supN = Tables.nation(s, dir)
        .select(col("n_nationkey").as("_snk"), col("n_name").as("supp_nation"))
      val sup = Tables.supplier(s, dir)
        .join(broadcast(supN), col("s_nationkey") === col("_snk"))
        .select("s_suppkey", "supp_nation")
      val l = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .as("_cents"))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .join(oFil, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy("o_year")
        .agg(
          sum(when(col("supp_nation") === "NATION_3", col("_cents"))
            .otherwise(0L)).as("nation_cents"),
          sum("_cents").as("total_cents"))
        .select(col("o_year"), col("nation_cents"), col("total_cents"),
          (col("nation_cents").cast("double") / col("total_cents"))
            .as("mkt_share"))
        .orderBy("o_year")
    }),
    // TPC-H Q9 shape (product-line profit by nation and year), adapted:
    // the testdata carries no partsupp/ps_supplycost, so profit reduces to
    // revenue — the SHAPE is intact (name-pattern part prune into the
    // fact, supplier nation rollup crossed with order year). Cited
    // limitation, not a silent drop.
    "q_product_profit" -> ((s, dir) => {
      val p = Tables.part(s, dir).filter(col("p_name").contains("widget"))
        .select("p_partkey")
      val supN = Tables.nation(s, dir)
        .select(col("n_nationkey").as("_snk"), col("n_name").as("nation"))
      val sup = Tables.supplier(s, dir)
        .join(broadcast(supN), col("s_nationkey") === col("_snk"))
        .select("s_suppkey", "nation")
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      val l = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .as("_cents"))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy("nation", "o_year")
        .agg(sum("_cents").as("revenue_cents"))
        .orderBy("nation", "o_year")
    }),
    // TPC-H Q17 shape (small-quantity-order revenue): brand-filtered
    // parts, lines under 20% of their part's average quantity. The
    // correlated avg subquery becomes one per-part aggregate joined back;
    // the 0.2·avg threshold is evaluated EXACTLY in integers
    // (5·qty·n < Σqty ⇔ qty < 0.2·avg — quantities are integral), so no
    // float-boundary row can flip between engines.
    "q_small_qty_revenue" -> ((s, dir) => {
      val p = Tables.part(s, dir).filter(col("p_brand") === "Brand#13")
        .select("p_partkey")
      val lp = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity").cast("long").as("_q"),
          floor(col("l_extendedprice") * 100).as("_pc"))
        .join(p, col("l_partkey") === col("p_partkey"))
      val avgQ = lp.groupBy(col("l_partkey").as("_pk"))
        .agg(sum("_q").as("_sumq"), count(lit(1)).as("_n"))
      lp.join(avgQ, col("l_partkey") === col("_pk"))
        .filter(col("_q") * 5 * col("_n") < col("_sumq"))
        .agg(
          sum("_pc").as("small_qty_cents"),
          count(lit(1)).as("n_lines"))
        .select(col("small_qty_cents"), col("n_lines"),
          (col("small_qty_cents").cast("double") / 100 / 7)
            .as("avg_yearly"))
    }),
    // TPC-H Q21 shape (suppliers who kept orders waiting), adapted: the
    // testdata has no commit/receipt dates, so "late" = shipped more than
    // 60 days after the order date. Q21's EXISTS/NOT-EXISTS pair says "s
    // shipped late, ANOTHER supplier shares the order, NO other supplier
    // was also late" — which is a per-ORDER property: ≥ 2 distinct
    // suppliers and EXACTLY ONE of them late, credited to that one. So
    // instead of the canonical three self-joins over distinct pairs (the
    // r12 rehearsal measured that form at decade-2 exponent 1.13 — three
    // 60M-row shuffles), ONE orderkey-keyed aggregate computes
    // (n_suppliers, n_late, the_late) and a supplier-keyed rollup counts
    // the blocks. The DuckDB oracle keeps the canonical EXISTS/NOT-EXISTS
    // SQL, so the rewrite's equivalence is verified per value, not argued.
    // The blocking aggregate deliberately avoids countDistinct: Catalyst
    // expands two distinct aggregates into an Expand + double shuffle
    // (the r12 100× rehearsal spilled three 60M-row shuffles, exponent
    // 1.13). Instead, a (l_orderkey, l_suppkey) pre-aggregate with
    // max(_late) makes the per-order rollup plain count/count-when/
    // min-when — and because the order join's sort-merge output is
    // already HashPartitioning(l_orderkey), which satisfies the
    // clustered distribution of BOTH groupBys (orderkey is a prefix of
    // (orderkey, suppkey)), the whole chain reuses the join's single
    // shuffle at scale.
    "q_waiting_suppliers" -> ((s, dir) => {
      val oF = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val lf = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(oF, col("l_orderkey") === col("o_orderkey"))
        .withColumn("_late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      val perSupp = lf.groupBy("l_orderkey", "l_suppkey")
        .agg(max(col("_late")).as("_late"))
      val blocking = perSupp.groupBy("l_orderkey")
        .agg(
          count(lit(1)).as("_ns"),
          count(when(col("_late"), lit(1))).as("_nl"),
          min(when(col("_late"), col("l_suppkey"))).as("_blocker"))
        .filter(col("_ns") > 1 && col("_nl") === 1)
      blocking.groupBy(col("_blocker").as("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        // supplier is SF-scaled — no explicit broadcast hint (house rule:
        // AQE promotes it at test scale without baking a 100TB-wrong hint)
        .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    }),
    // TPC-H Q12 shape (shipmode × order-priority counts), adapted twice
    // for the testdata: no l_shipmode column, so the two-valued ship
    // class is l_returnflag IN ('A','R') (mirrors Q12's shipmode IN
    // ('MAIL','SHIP')); no commit/receipt dates, so "late receipt" =
    // shipped > 60 days after the order date (same proxy q_waiting_
    // suppliers uses, cited not silent). The priority split is computed
    // in ONE fact pass — the returnflag + year predicates push to the
    // parquet scan, the orders side carries only (key, date, priority)
    // and the conditional counts are map-side partial aggregates into a
    // 2-row result.
    "q_ship_priority_mix" -> ((s, dir) => {
      val lo = lit("1996-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1997-01-01 00:00:00").cast("timestamp_ntz")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag").isin("A", "R") &&
          col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select("l_orderkey", "l_returnflag", "l_shipdate")
        .join(Tables.orders(s, dir)
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_returnflag").as("ship_class"))
        .agg(
          sum(when(high, lit(1)).otherwise(lit(0)).cast("long"))
            .as("high_line_count"),
          sum(when(high, lit(0)).otherwise(lit(1)).cast("long"))
            .as("low_line_count"))
        .orderBy("ship_class")
    }),
    // ROLLUP revenue cube: (priority, status), per-priority subtotals and
    // the grand total in ONE pass (Expand + partial agg — no re-scan per
    // level); NULL rollup keys are labeled ALL for a stable cross-engine
    // sort (None does not order against strings)
    "q_orders_rollup" -> ((s, dir) =>
      Tables.orders(s, dir)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
            .as("revenue"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n_orders"), col("revenue"))
        .orderBy("priority", "status")),
    "q_orders_returned" -> ((s, dir) =>
      // LEFT SEMI shape: orders having at least one returned line item —
      // the EXISTS predicate stays a semi join, never a row-multiplying one
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
          .select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("returned_value"))
        .orderBy("o_orderpriority")),
    "q_customer_top_order" -> ((s, dir) => {
      // per-group top-1 via keyed window (rank partitions by customer — no
      // global sort until the bounded 10-row output ordering)
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }),
    "q_supplier_nation" -> ((s, dir) =>
      Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast(DecimalType(18, 2))).cast("double").as("total_acctbal"))
        .orderBy("n_name")),
    "q_lineitem_orders_join" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
        .orderBy("o_orderpriority")),
    // The same fact⋈fact join through the bucketed build-once/join-many
    // path (sources/Bucketing): both sides written bucketed on the join
    // key, the join itself plans with zero Exchange (BucketingSpec pins
    // the plan; this row pins the results). Table names and paths carry a
    // per-run tag (no cross-process races) and the build happens once per
    // JVM (bucketizeOnce) — bench reps past the first time the join, not
    // the table write.
    "q_bucketed_join" -> ((s, dir) => {
      val tag = sources.Bucketing.runTag(s) + "_" +
        java.lang.Integer.toHexString(dir.hashCode)
      val tmp = System.getProperty("java.io.tmpdir")
      val li = sources.Bucketing.bucketizeOnce(s,
        Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice"),
        s"graft_bq_lineitem_$tag", s"$tmp/graft_bucketed_$tag/lineitem", "l_orderkey", 16)
      val o = sources.Bucketing.bucketizeOnce(s,
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
        s"graft_bq_orders_$tag", s"$tmp/graft_bucketed_$tag/orders", "o_orderkey", 16)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    }),
    "q_part_pushdown" -> ((s, dir) =>
      Tables.part(s, dir)
        .filter(col("p_size") > 25 && col("p_type") === "ECONOMY")
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("p_retailprice").cast(DecimalType(18, 2))).cast("double").as("retail"))
        .orderBy("p_brand")),
  )
}
