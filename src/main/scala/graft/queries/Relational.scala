package graft.queries

import graft.{ColUtil, Tables}
import graft.ColUtil._
import graft.operators.Pin.syntax._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator coverage (SURVEY.md §2.2–§2.8).
  *
  * The reference delegates every relational operator beyond scan/filter/
  * min/max to the backing DBMS via its querySql passthrough
  * (/root/reference/database/dbms/reader/parameter.go:94-101); here those
  * capabilities are served natively by Catalyst over parquet. Each query is
  * a declarative DataFrame plan (broadcast hints where the dim side is small,
  * decimal-exact aggregation for oracle parity) with a DuckDB-equivalent SQL
  * oracle in [[oracles]].
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  val defs: Map[String, Q] = Map(
    // ---- A3: group-by aggregation (TPC-H Q1 shape) --------------------
    "q1_pricing_summary" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(money(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(money(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(money(col("l_extendedprice")) * frac(lit(1) - col("l_discount")))
            .cast("double").as("sum_disc_price"),
          // fracs multiplied first, widened to (20,12) (exact — scale kept):
          // keeps the money*fracs product <=38 digits in both engines and
          // forces DuckDB onto int128 (int64 overflows at width<=18)
          sum(money(col("l_extendedprice")) * (frac(lit(1) - col("l_discount"))
            * frac(lit(1) + col("l_tax"))).cast("decimal(20,12)"))
            .cast("double").as("sum_charge"),
          (sum(money(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(money(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
          (sum(frac(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- joins: multiway + broadcast + top-k (TPC-H Q3 shape) ---------
    "q3_top_orders" -> ((s, d) => {
      val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(money(col("l_extendedprice")) * frac(lit(1) - col("l_discount")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // ---- joins: 6-way star join (TPC-H Q5 shape) ----------------------
    "q5_region_revenue" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val nat = Tables.nation(s, d)
      val reg = Tables.region(s, d)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey") &&
          cust("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(money(col("l_extendedprice")) * frac(lit(1) - col("l_discount")))
          .cast("double").as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),

    // ---- TPC-H Q9 shape: 5-way star with a filtered part dim ----------
    // profit-lite by (nation, order year) for parts matching a name
    // pattern — the deep multi-join planner stress: three broadcast dims
    // (part pre-filtered BEFORE the hint, so the broadcast ships only
    // matching rows), one fact-fact equi join (lineitem x orders),
    // decimal-exact revenue
    "q9_product_profit" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val sup = Tables.supplier(s, d)
      val nat = Tables.nation(s, d)
      val prt = Tables.part(s, d).filter(col("p_name").contains("widget"))
      li.join(broadcast(prt), li("l_partkey") === prt("p_partkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(money(col("l_extendedprice")) * frac(lit(1) - col("l_discount")))
          .cast("double").as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("n_name"), col("o_year"))
    }),

    // ---- TPC-H Q7 shape: nation-pair trade volume ---------------------
    // two roles of the SAME dim table (supplier nation vs customer
    // nation) with a symmetric pair filter — the classic alias-resolution
    // + join-reorder stress; both nation sides broadcast
    "q7_nation_volume" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val n1 = Tables.nation(s, d).select(
        col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d).select(
        col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      // join ORDER (r11, guide §3.2): the selective broadcast
      // dimensions apply FIRST — the old chain ran the full
      // lineitem⋈orders⋈customer joins before the 4-of-25-nations
      // filters could drop anything. Inner joins + conjunctive filters
      // commute, so pre-filtering each side through its nation
      // broadcast (~16 % survivors) shrinks both big join inputs ~6x;
      // only the cross-nation inequality stays post-join. Same rows.
      val li4 = li
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n1), sup("s_nationkey") === col("n1_key"))
        .filter(col("supp_nation").isin("NATION_0", "NATION_1",
          "NATION_2", "NATION_3"))
      val cust4 = cust
        .join(broadcast(n2), cust("c_nationkey") === col("n2_key"))
        .filter(col("cust_nation").isin("NATION_0", "NATION_1",
          "NATION_2", "NATION_3"))
      li4.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust4, ord("o_custkey") === cust("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(money(col("l_extendedprice")) * frac(lit(1) - col("l_discount")))
          .cast("double").as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // ---- TPC-H Q13 shape: customer order-count distribution -----------
    // left outer join feeding a second-level aggregation (the groupBy of
    // a groupBy) — zero-order customers must survive as count 0
    "q13_custdist" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val ord = Tables.orders(s, d)
      cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // ---- TPC-H Q18 shape: large-volume orders -------------------------
    // HAVING-filtered aggregate rejoined to the fact tables: only orders
    // whose total quantity clears the threshold survive; the aggregate
    // side is small post-filter, so it broadcasts into the rejoin
    "q18_large_orders" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      val big = li.groupBy(col("l_orderkey").as("big_orderkey"))
        .agg(sum(money(col("l_quantity"))).as("sum_qty_dec"))
        .filter(col("sum_qty_dec") > 250)
      ord.join(broadcast(big), ord("o_orderkey") === col("big_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"),
          col("sum_qty_dec").cast("double").as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // ---- TPC-H Q22 shape: idle above-average customers ----------------
    // scalar-aggregate predicate made DIVISION-FREE (acctbal * n > sum
    // instead of acctbal > sum/n — exact decimal both engines, no
    // cross-engine division rounding) + anti-join NOT EXISTS
    "q22_idle_customers" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val ord = Tables.orders(s, d)
      val pos = cust.filter(col("c_acctbal") > 0)
        .agg(count(lit(1)).as("n_pos"),
          sum(money(col("c_acctbal"))).as("sum_pos"))
      val urgent = ord.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(pos))
        .filter(money(col("c_acctbal")) * col("n_pos") > col("sum_pos"))
        .join(urgent, cust("c_custkey") === urgent("o_custkey"),
          "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          sum(money(col("c_acctbal"))).cast("double").as("tot_acctbal"))
        .orderBy(col("c_nationkey"))
    }),

    // ---- TPC-H Q15 shape: top-revenue supplier(s) with ties ------------
    // aggregate view + global-max selection. The classic trap is ties:
    // the max must keep every supplier at the top revenue. Computed as
    // agg -> broadcast 1-row max -> exact decimal equality (NOT a
    // 1-partition rank window: the post-agg view is |suppliers| rows,
    // which at 100 TB is still millions — a global window would funnel
    // them through one task; the broadcast max is two cheap jobs)
    "q15_top_supplier" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      val sup = Tables.supplier(s, d)
      val rev = li.groupBy(col("l_suppkey"))
        .agg(sum(money(col("l_extendedprice")) * frac(lit(1) - col("l_discount")))
          .as("rev_dec"))
      val mx = rev.agg(max(col("rev_dec")).as("max_rev"))
      rev.crossJoin(broadcast(mx))
        .filter(col("rev_dec") === col("max_rev"))
        .join(broadcast(sup), col("l_suppkey") === sup("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev_dec").cast("double").as("total_rev"))
        .orderBy(col("s_suppkey"))
    }),

    // ---- TPC-H Q19 shape: disjunctive join predicate ------------------
    // OR of three conjunctive (brand, size-range, quantity-range) branches
    // spanning BOTH sides of the join — the pushdown stress: the part-side
    // disjunction (brand IN, size <= 35) must still reach the part scan,
    // the join must stay a broadcast hash join on the equi key with the
    // disjunction as a residual filter, not degrade to nested-loop
    "q19_disjunctive_rev" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      val branch1 = p("p_brand") === "Brand#1" && p("p_size").between(1, 15) &&
        li("l_quantity").between(1, 11)
      val branch2 = p("p_brand") === "Brand#2" && p("p_size").between(1, 25) &&
        li("l_quantity").between(10, 20)
      val branch3 = p("p_brand") === "Brand#3" && p("p_size").between(1, 35) &&
        li("l_quantity").between(20, 30)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey") &&
          (branch1 || branch2 || branch3))
        .agg(sum(money(col("l_extendedprice")) * frac(lit(1) - col("l_discount")))
          .cast("double").as("revenue"), count(lit(1)).as("n_items"))
    }),

    // ---- TPC-H Q8 shape: national market share -------------------------
    // two-level: revenue by (year, supplier nation) for one region's
    // customers, then one nation's share of each year's total. The ratio
    // is conditional-decimal-sum / decimal-sum, both cast to double
    // before the IEEE division — bit-identical cross-engine (the oracle
    // routes decimal->double through VARCHAR; dividing two exact doubles
    // is correctly rounded in both engines)
    "q8_market_share" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val n1 = Tables.nation(s, d).select(
        col("n_nationkey").as("n1_key"), col("n_regionkey"))
      val reg = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val n2 = Tables.nation(s, d).select(
        col("n_nationkey").as("n2_key"), col("n_name").as("supp_nation"))
      val revDec = money(col("l_extendedprice")) * frac(lit(1) - col("l_discount"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(n1), cust("c_nationkey") === col("n1_key"))
        .join(broadcast(reg), col("n_regionkey") === reg("r_regionkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n2), sup("s_nationkey") === col("n2_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          (sum(when(col("supp_nation") === "NATION_1", revDec)
              .otherwise(lit(0).cast("decimal(20,10)"))).cast("double") /
            sum(revDec).cast("double")).as("mkt_share"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_year"))
    }),

    // ---- TPC-H Q21 shape: sole-problem supplier -------------------------
    // the hardest decorrelation shape: a fact self-join with BOTH a
    // correlated EXISTS (another supplier contributed to the order) and a
    // correlated NOT EXISTS (no OTHER supplier had a problem line) — two
    // semi/anti self-joins on the equi key with a non-equi residual
    // (l2.l_suppkey <> l1.l_suppkey). Returnflag 'R' stands in for the
    // reference schema's receipt-after-commit lateness marker (the
    // testdata lineitem has no commit/receipt dates)
    "q21_waiting_supplier" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val l1 = li.filter(col("l_returnflag") === "R")
      val ord = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      val sup = Tables.supplier(s, d)
      val nat = Tables.nation(s, d).filter(col("n_name") === "NATION_3")
        .select(col("n_nationkey"))
      val l2 = li.select(col("l_orderkey").as("l2_orderkey"),
        col("l_suppkey").as("l2_suppkey"))
      val l3 = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("l3_orderkey"),
          col("l_suppkey").as("l3_suppkey"))
      l1.join(ord, l1("l_orderkey") === ord("o_orderkey"), "left_semi")
        .join(broadcast(sup), col("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"), "left_semi")
        .join(l2, col("l_orderkey") === col("l2_orderkey") &&
          col("l_suppkey") =!= col("l2_suppkey"), "left_semi")
        .join(l3, col("l_orderkey") === col("l3_orderkey") &&
          col("l_suppkey") =!= col("l3_suppkey"), "left_anti")
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // ---- TPC-H Q6 shape: single-table forecast-revenue filter-agg ------
    // pure scan+filter+scalar-agg — the pushdown litmus: every predicate
    // (date range, discount band, quantity cap) must reach the parquet
    // scan as PushedFilters; no shuffle beyond the final 1-row agg
    "q6_forecast_revenue" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.02, 0.04) &&
          col("l_quantity") < 24)
        .agg(sum(money(col("l_extendedprice")) * frac(col("l_discount")))
          .cast("double").as("revenue"), count(lit(1)).as("n_items"))
    }),

    // ---- TPC-H Q4 shape: late-order priority count ----------------------
    // EXISTS with a CROSS-TABLE residual (l_shipdate > o_orderdate + 60
    // days): the semi join carries a non-equi condition referencing both
    // sides, so Catalyst must keep it on the equi key with the lateness
    // predicate as residual. (The testdata lineitem has no commit/receipt
    // dates; ship-60-days-after-order stands in for the lateness marker.)
    "q4_priority_count" -> ((s, d) => {
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      val li = Tables.lineitem(s, d)
      ord.join(li, ord("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > ord("o_orderdate") + expr("INTERVAL 60 DAY"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- TPC-H Q10 shape: returned-item revenue per customer -----------
    // quarter of orders x returned lineitems, revenue-ranked top 20 —
    // the orders quarter filter prunes the fact-fact join's probe side,
    // nation broadcast, deterministic double ordering (decimal sum cast)
    "q10_returned_items" -> ((s, d) => {
      val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
      val cust = Tables.customer(s, d)
      val nat = Tables.nation(s, d)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(money(col("l_extendedprice")) * frac(lit(1) - col("l_discount")))
          .cast("double").as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // ---- TPC-H Q11 shape: important-stock threshold -----------------------
    // per-part value for one nation's suppliers vs a GLOBAL scalar
    // threshold, DIVISION-FREE (value * 1000 > total instead of
    // value > total * 0.001 — exact decimal both engines). The global
    // total is a 1-row broadcast, not a second scan of the grouped view:
    // Spark reuses the shuffle exchange for both aggregations.
    // (partsupp doesn't exist in the testdata; supplier-shipped lineitem
    // value per part is the association, per SURVEY §2 adaptation note)
    "q11_important_stock" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val sup = Tables.supplier(s, d)
      val nat = Tables.nation(s, d).filter(col("n_name") === "NATION_11")
        .select(col("n_nationkey"))
      val scoped = li
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"), "left_semi")
      val byPart = scoped.groupBy(col("l_partkey"))
        .agg(sum(money(col("l_extendedprice"))).as("val_dec"))
      val total = byPart.agg(sum(col("val_dec")).as("tot_dec"))
      byPart.crossJoin(broadcast(total))
        .filter(col("val_dec") * 1000 > col("tot_dec"))
        .select(col("l_partkey"), col("val_dec").cast("double").as("part_value"))
        .orderBy(col("part_value").desc, col("l_partkey"))
    }),

    // ---- TPC-H Q12 shape: late-shipment priority split ------------------
    // fact-fact join + conditional CASE counts (high vs low priority)
    // grouped by returnflag (stands in for shipmode, absent from the
    // testdata schema); lateness = shipped >30 days after order date
    "q12_shipmode_priority" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      val ord = Tables.orders(s, d)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- TPC-H Q14 shape: promo-revenue share ----------------------------
    // conditional-decimal-sum ratio over one shipdate month; both sums cast
    // to double before the IEEE division and scaled by 100.0 with the SAME
    // association as the oracle text (100.0 * (a / b)) — bit-identical
    "q14_promo_effect" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      val p = Tables.part(s, d)
      val revDec = money(col("l_extendedprice")) * frac(lit(1) - col("l_discount"))
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .agg(
          (lit(100.0) * (sum(when(col("p_type") === "PROMO", revDec)
              .otherwise(lit(0).cast("decimal(20,10)"))).cast("double") /
            sum(revDec).cast("double"))).as("promo_share"),
          count(lit(1)).as("n_items"))
    }),

    // ---- TPC-H Q2 shape: min-cost supplier per part ----------------------
    // the correlated-scalar-MIN shape: for each part, keep the supplier(s)
    // at the minimum account balance among suppliers who shipped it.
    // Computed as a window MIN over the (part, supplier) association —
    // one shuffle on l_partkey — instead of a groupBy + rejoin (two scans
    // of the association plus a join). Exact decimal equality keeps ties.
    // (partsupp doesn't exist in the testdata; DISTINCT shipped pairs from
    // lineitem are the association, acctbal stands in for supplycost)
    "q2_min_cost_supplier" -> ((s, d) => {
      val pairs = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val p = Tables.part(s, d).filter(col("p_size") <= 5)
      val sup = Tables.supplier(s, d)
      val nat = Tables.nation(s, d)
      val byPart = Window.partitionBy(col("l_partkey"))
      pairs
        .join(sup, col("l_suppkey") === sup("s_suppkey"))
        .withColumn("min_bal", min(money(col("s_acctbal"))).over(byPart))
        .filter(money(col("s_acctbal")) === col("min_bal"))
        .join(broadcast(p), col("l_partkey") === p("p_partkey"))
        .join(broadcast(nat), col("s_nationkey") === nat("n_nationkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"))
        .orderBy(col("s_acctbal").desc, col("p_partkey"), col("s_name"))
        .limit(100)
    }),

    // ---- TPC-H Q16 shape: supplier count per part attribute --------------
    // NOT IN (complaint suppliers) -> anti join BEFORE the distinct count;
    // the excluded set is tiny and broadcast; COUNT(DISTINCT) groups by
    // three part attributes ("complaints" = negative account balance —
    // the testdata supplier has no comment field)
    "q16_part_supplier_cnt" -> ((s, d) => {
      val pairs = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val excl = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      val p = Tables.part(s, d).filter(col("p_brand") =!= "Brand#1")
      pairs
        .join(broadcast(excl), col("l_suppkey") === excl("s_suppkey"), "left_anti")
        .join(broadcast(p), col("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
        .limit(100)
    }),

    // ---- TPC-H Q17 shape: small-quantity-order revenue --------------------
    // the correlated scalar-AVG threshold (qty < 0.2 * per-part avg qty)
    // rewritten division-free: qty * 5 * n < sum(qty) — exact decimal
    // integer comparison, so engine division rounding can't flip boundary
    // rows. One shuffle on l_partkey builds the per-part stats over the
    // brand-pruned slice (broadcast semi first, so the groupBy sees only
    // qualifying parts' lines), then the stats re-join is on the same key
    // (AQE keeps it local). (testdata part has no p_container; brand+size
    // stand in for the brand+container predicate)
    "q17_small_qty_revenue" -> ((s, d) => {
      val p = Tables.part(s, d)
        .filter(col("p_brand") === "Brand#3" && col("p_size") <= 10)
        .select(col("p_partkey"))
      val sel = Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val stats = sel.groupBy(col("l_partkey").as("k"))
        .agg(sum(money(col("l_quantity"))).as("sum_qty"), count(lit(1)).as("n"))
      sel.join(stats, col("l_partkey") === col("k"))
        .filter(money(col("l_quantity")) * lit(5) * col("n") < col("sum_qty"))
        .agg(
          (sum(money(col("l_extendedprice"))).cast("double") / lit(7.0))
            .as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    }),

    // ---- TPC-H Q20 shape: promotion-candidate suppliers -------------------
    // nested IN subqueries: suppliers IN (shipped-enough-of-a-promo-part)
    // where the inner set is itself gated on parts IN (promo parts) with a
    // HAVING threshold — planned as two stacked semi joins over a grouped
    // view; nation filter broadcast-semi on the outer supplier scan
    "q20_promo_suppliers" -> ((s, d) => {
      val promoParts = Tables.part(s, d).filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val shippedEnough = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(money(col("l_quantity"))).as("qty_dec"))
        .filter(col("qty_dec") > 50)
        .select(col("l_suppkey"))
      val nat = Tables.nation(s, d)
        .filter(col("n_name").isin("NATION_11", "NATION_17"))
        .select(col("n_nationkey"))
      Tables.supplier(s, d)
        .join(shippedEnough, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(nat), col("s_nationkey") === nat("n_nationkey"),
          "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .orderBy(col("s_suppkey"))
    }),

    // ---- broadcast equi-join with dim table ---------------------------
    "join_broadcast_parts" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          sum(money(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy(col("p_brand"))
    }),

    // ---- left outer join with null-side aggregation -------------------
    "join_left_outer" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val ord = Tables.orders(s, d)
      cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          sum(money(col("o_totalprice"))).cast("double").as("sum_spend"))
        .orderBy(col("c_custkey"))
    }),

    // ---- semi join (EXISTS) -------------------------------------------
    "join_semi_customers" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val ord = Tables.orders(s, d)
        .filter(col("o_totalprice") > 100000.0).select(col("o_custkey"))
      cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // ---- anti join (NOT EXISTS) ---------------------------------------
    "join_anti_customers" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val ord = Tables.orders(s, d).select(col("o_custkey"))
      cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // ---- theta/range join against a generated bucket dim --------------
    "join_range_buckets" -> ((s, d) => {
      val p = Tables.part(s, d)
      val buckets = s.range(0, 10).select(
        (col("id") * 200).cast("double").as("lo"),
        ((col("id") + 1) * 200).cast("double").as("hi"),
        col("id").as("bucket"))
      p.join(broadcast(buckets),
          p("p_retailprice") >= buckets("lo") && p("p_retailprice") < buckets("hi"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_parts"),
          sum(money(col("p_retailprice"))).cast("double").as("sum_price"))
        .orderBy(col("bucket"))
    }),

    // ---- window: top-n per group --------------------------------------
    "window_topn_per_supplier" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      li.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_suppkey"), col("rn"))
    }),

    // ---- top-n per group WITHOUT the window: bounded heap aggregate ----
    // identical semantics to window_topn_per_supplier via the native
    // TopKByAgg — map-side combine caps every partition at k rows per
    // group BEFORE the exchange (the window form shuffles every row and
    // sort-buffers whole groups; a hot supplier is one task's sort).
    // Line identity rides one long (orderkey*10 + linenumber; linenumber
    // is 1..7), decoded after the explode — the oracle ranks by the same
    // encoded tiebreak, so rows match exactly
    "topn_heap_per_supplier" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.groupBy(col("l_suppkey"))
        .agg(graft.functions.TopKBy.topk_by(
          col("l_extendedprice").cast("double"),
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("long"),
          3).as("top"))
        .select(col("l_suppkey"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("l_suppkey"), (col("pos") + 1).cast("long").as("rn"),
          expr("e.id div 10").as("l_orderkey"),
          (col("e.id") % 10).cast("int").as("l_linenumber"),
          col("e.score").as("l_extendedprice"))
        .orderBy(col("l_suppkey"), col("rn"))
    }),

    // ---- window: running aggregate -------------------------------------
    "window_running_total" -> ((s, d) => {
      val ord = Tables.orders(s, d)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ord.withColumn("running_spend", sum(money(col("o_totalprice"))).over(w)
          .cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    }),

    // year-over-year growth: the period-comparison report shape. The
    // yearly rollup is a map-side-partial aggregate; the unpartitioned
    // lag window then runs over ~|years| rows (already reduced — the
    // single-partition window is fine precisely because aggregation
    // happened first). Exact decimal throughout, double only at the edge
    "window_yoy_growth" -> ((s, d) => {
      val yearly = Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(sum(money(col("o_totalprice"))).as("rev"))
      val w = Window.orderBy(col("yr"))
      yearly
        .withColumn("revenue", col("rev").cast("double"))
        .withColumn("prev_revenue", lag(col("rev"), 1).over(w).cast("double"))
        .withColumn("yoy_diff",
          (col("rev") - lag(col("rev"), 1).over(w)).cast("double"))
        .select(col("yr"), col("revenue"), col("prev_revenue"),
          col("yoy_diff"))
        .orderBy(col("yr"))
    }),

    // ---- window: lag/lead ----------------------------------------------
    "window_lag_gap" -> ((s, d) => {
      val ord = Tables.orders(s, d)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      ord.withColumn("prev_price", money(lag(col("o_totalprice"), 1).over(w))
          .cast("double"))
        .withColumn("rank_in_cust", row_number().over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("prev_price"),
          col("rank_in_cust"))
        .orderBy(col("o_custkey"), col("rank_in_cust"))
    }),

    // ---- declarative data-quality report (one fused scan) --------------
    "quality_report" -> ((s, d) => {
      import graft.operators.Quality._
      report(Tables.lineitem(s, d), Seq(
          NotNull("l_orderkey"),
          InRange("l_quantity", 1, 50),
          InRange("l_discount", 0, 0.05), // intentionally tight: violations
          Matches("l_returnflag", "^[ANR]$"),
          Unique(Seq("l_orderkey", "l_linenumber"))))
        .orderBy(col("rule"))
    }),

    // ---- global dense row number WITHOUT the 1-partition window --------
    // (range-repartition + per-partition offsets; oracle = the window
    // form, proving the distributed shape computes the identical ids)
    "global_row_number" -> ((s, d) => {
      graft.operators.Ids.denseGlobalRowNumber(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          Seq(col("o_orderkey")))
        .orderBy(col("o_orderkey"))
    }),

    // ---- ranking-family windows: ntile / percent_rank / cume_dist ------
    // (deterministic: the order key ends in the unique o_orderkey, and
    // percent_rank/cume_dist are integer-ratio doubles — bit-identical
    // across engines)
    "window_rank_family" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- sort + limit (top-k -> TakeOrderedAndProject) -----------------
    "sort_topk_orders" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          money(col("o_totalprice")).cast("double").as("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
    }),

    // ABC / Pareto classification: parts ranked by revenue, cumulative
    // share classes A (<=80%), B (<=95%), C. The running total is the
    // distributed PREFIX SUM (range-repartitioned two-phase — a global
    // window would collapse to one partition); class thresholds compare
    // by integer cross-multiplication on exact decimals, never division
    "abc_classification" -> ((s, d) => {
      // pinned: consumed by the prefix sum AND the total — unpinned,
      // the lineitem aggregate would execute twice (r10 optimization)
      val rev = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(sum(money(col("l_extendedprice")) *
          frac(lit(1) - col("l_discount"))).as("rev"))
        .pinned()
      val cum = graft.operators.Ids.prefixSum(rev,
        Seq(col("rev").desc, col("l_partkey")), col("rev"), "cum_rev")
      val tot = rev.agg(sum(col("rev")).as("total_rev"))
      cum.crossJoin(broadcast(tot))
        .withColumn("abc_class",
          when(col("cum_rev") * 100 <= col("total_rev") * 80, "A")
            .when(col("cum_rev") * 100 <= col("total_rev") * 95, "B")
            .otherwise("C"))
        .groupBy(col("abc_class"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("rev")).cast("double").as("class_revenue"))
        .orderBy(col("abc_class"))
    }),

    // RFM customer segmentation: recency/frequency/monetary quintiles
    // via the EXACT global bucket (range-repartitioned row number +
    // Bresenham rule — global NTILE would collapse to one partition),
    // reported as segment cells with exact-decimal monetary totals
    "rfm_segments" -> ((s, d) => {
      import graft.operators.Profiling.exactBucket
      val base = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(datediff(col("o_orderdate"), lit("1970-01-01")))
            .cast("long").as("last_day"),
          count(lit(1)).as("frequency"),
          sum(money(col("o_totalprice"))).as("monetary"))
      val tie = Seq(col("o_custkey"))
      val scored = Seq(("last_day", "r_score"), ("frequency", "f_score"),
        ("monetary", "m_score"))
        .foldLeft(base) { case (df, (v, out)) =>
          exactBucket(df, col(v), tie, 5, out)
        }
      scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("monetary")).cast("double").as("total_monetary"))
        .orderBy(col("r_score"), col("f_score"), col("m_score"))
    }),

    // keyed two-table diff audit: orders vs a deterministically mutated
    // copy (deletes, status/price updates, inserts) -> tall
    // added/removed/changed report with null-safe per-column counters
    "diff_orders_audit" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val mutated = o.filter(col("o_orderkey") % 17 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 13 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 11 === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
        .unionByName(o.filter(col("o_orderkey") % 19 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
      graft.operators.Diff.tableDiff(o, mutated, Seq("o_orderkey"),
          Seq("o_orderstatus", "o_totalprice", "o_orderpriority"))
        .orderBy(col("metric"))
    }),

    // Benford first-digit audit on order totals: the fabricated-data /
    // unit-mixing detector. Counts are exact; expected/chi2 are a fixed
    // IEEE dag over JVM-computed log10 literals shared with the oracle
    // text, so even the doubles are bit-identical
    "quality_benford_prices" -> ((s, d) => {
      graft.operators.Quality
        .benfordReport(Tables.orders(s, d), col("o_totalprice"))
        .orderBy(col("digit"))
    }),

    // ---- referential-integrity audit ------------------------------------
    // one report over every FK edge of the schema: child row count +
    // orphan count per relation, each check a distinct-parent anti join
    // (never a row-multiplying inner join). A deterministic drift is
    // seeded into lineitem.l_suppkey so the audit provably DETECTS
    // orphans rather than printing zeros
    "quality_ri_audit" -> ((s, d) => {
      val li = Tables.lineitem(s, d).withColumn("l_suppkey",
        when(col("l_linenumber") % 7 === 0, col("l_suppkey") + 1000000)
          .otherwise(col("l_suppkey")))
      def check(name: String, child: DataFrame, childKey: String,
                parent: DataFrame, parentKey: String) = {
        val orphans = child
          .join(parent.select(col(parentKey).as(childKey)).distinct(),
            Seq(childKey), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        child.agg(count(lit(1)).as("n_rows")).crossJoin(orphans)
          .select(lit(name).as("relation"), col("n_rows"),
            col("n_orphans"))
      }
      Seq(
        check("customer_nationkey", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey"),
        check("lineitem_orderkey", li, "l_orderkey",
          Tables.orders(s, d), "o_orderkey"),
        check("lineitem_partkey", li, "l_partkey",
          Tables.part(s, d), "p_partkey"),
        check("lineitem_suppkey", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"),
        check("orders_custkey", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .reduce(_ unionByName _)
        .orderBy(col("relation"))
    }),

    // ---- re-identification risk audit ---------------------------------
    // k-anonymity + l-diversity over (nation, balance-bucket) quasi-
    // identifiers with the market segment as the sensitive attribute:
    // one groupBy computes class size and sensitive diversity, flagged
    // classes are those a release pipeline must generalize. floor(bal /
    // 100) keeps the bucket rule an exact IEEE division both engines
    // compute identically (round() would hit HALF_EVEN-vs-HALF_UP)
    "privacy_k_anonymity" -> ((s, d) => {
      graft.operators.Privacy.anonymityViolations(
          Tables.customer(s, d),
          Seq("c_nationkey" -> col("c_nationkey"),
            "bal_bucket" -> floor(col("c_acctbal") / 100).cast("long")),
          sensitive = col("c_mktsegment"), k = 3, l = 2)
        .orderBy(col("c_nationkey"), col("bal_bucket"))
    }),

    // ---- functional-dependency audit ----------------------------------
    // does lhs determine rhs, and how badly does it fail? One two-level
    // aggregation per candidate pair (no joins, no windows) — the
    // constraint-discovery sibling of quality_ri_audit. o_orderkey is a
    // key (holds); the other two candidates are expected violations
    "quality_fd_audit" -> ((s, d) => {
      graft.operators.Profiling.fdAudit(Tables.orders(s, d),
          Seq("o_orderkey" -> "o_custkey",
            "o_custkey" -> "o_orderpriority",
            "o_orderstatus" -> "o_orderpriority"))
        .orderBy(col("lhs_col"), col("rhs_col"))
    }),

    // ---- skyline: 2-D pareto frontier ----------------------------------
    // per-brand pareto-minimal parts on (retailprice, size): the bucketed
    // two-phase skyline (Skyline.pareto2d) replaces the O(n²) NOT EXISTS
    // self-join the oracle runs — same rows, no nested loop, no global
    // single-partition sort
    "skyline_parts" -> ((s, d) => {
      graft.operators.Skyline.pareto2d(
          Tables.part(s, d), col("p_retailprice"), col("p_size"),
          groupCols = Seq("p_brand"))
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
          col("p_size"))
        .orderBy(col("p_brand"), col("p_partkey"))
    }),

    // ---- set ops: union / intersect / except ---------------------------
    "set_ops_nations" -> ((s, d) => {
      val custN = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      val supN = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))
      val both = custN.intersect(supN).withColumn("src", lit("both"))
      val custOnly = custN.distinct().except(supN.distinct())
        .withColumn("src", lit("cust_only"))
      both.unionByName(custOnly)
        .select(col("nationkey"), col("src"))
        .orderBy(col("src"), col("nationkey"))
    }),

    // ---- set ops: multiset INTERSECT ALL / EXCEPT ALL -------------------
    // the bag-semantics variants (duplicates preserved by multiplicity) —
    // a different operator from the set forms: Catalyst plans them as a
    // count-compare aggregation, not a distinct + semi/anti join
    "set_ops_all" -> ((s, d) => {
      val custN = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      val supN = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))
      custN.intersectAll(supN).withColumn("op", lit("intersect_all"))
        .unionByName(supN.exceptAll(custN).withColumn("op", lit("except_all")))
        .groupBy(col("op"), col("nationkey"))
        .agg(count(lit(1)).as("multiplicity"))
        .orderBy(col("op"), col("nationkey"))
    }),

    // ---- window: first_value / last_value / nth_value with frames ------
    // last_value over the DEFAULT frame (unbounded preceding..current row)
    // is the running last — the classic trap; the full-partition last
    // needs an explicit unbounded following frame
    "window_first_last" -> ((s, d) => {
      val ord = Tables.orders(s, d)
      val wOrd = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wFull = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      ord.select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(wOrd).as("first_order"),
          last(col("o_orderkey")).over(wFull).as("last_order"),
          nth_value(col("o_orderkey"), 2).over(wFull).as("second_order"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- typed cogroup (Dataset API) ------------------------------------
    // KeyValueGroupedDataset.cogroup: both sides grouped once, the
    // co-partitioned groups meet in one function — the typed form of a
    // full-outer grouped join (SQL reconstructs it relationally)
    "cogroup_nation_counts" -> ((s, d) => {
      import s.implicits._
      val cust = Tables.customer(s, d)
        .select(col("c_nationkey").as("k"), col("c_acctbal").as("v"))
        .as[(Long, Double)].groupByKey(_._1)
      val sup = Tables.supplier(s, d)
        .select(col("s_nationkey").as("k"), col("s_acctbal").as("v"))
        .as[(Long, Double)].groupByKey(_._1)
      cust.cogroup(sup) { (k, cs, ss) =>
        val (nc, ns) = (cs.size, ss.size)
        Iterator((k, nc.toLong, ns.toLong))
      }.toDF("nationkey", "n_cust", "n_supp")
        .orderBy(col("nationkey"))
    }),

    // ---- rollup ---------------------------------------------------------
    "agg_rollup_orders" -> ((s, d) => {
      Tables.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("o_totalprice"))).cast("double").as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // ---- cube -----------------------------------------------------------
    "agg_cube_lineitem" -> ((s, d) => {
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // ---- distinct aggregates -------------------------------------------
    "agg_distinct_counts" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- exact variance/stddev via decimal moments ----------------------
    "agg_stats_exact" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val q = money(col("l_quantity"))
      li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          sum(q).cast("double").as("s1"),
          sum(q * q).cast("double").as("s2"))
        .withColumn("variance_qty",
          (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
        .select(col("l_returnflag"), col("n"), col("min_qty"), col("max_qty"),
          col("variance_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- scalar string functions (F1/F5 surface) ------------------------
    "scalar_string_funcs" -> ((s, d) => {
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        lower(col("p_brand")).as("brand_lower"),
        substring(col("p_type"), 1, 5).as("type_prefix"),
        length(col("p_name")).as("name_len"),
        trim(col("p_name")).as("name_trim"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        when(col("p_size") > 25, lit("large")).otherwise(lit("small")).as("size_class"),
        (col("p_size") * 2 + 1).as("size_calc"))
        .orderBy(col("p_partkey"))
    }),

    // ---- date/time functions (F2 surface) --------------------------------
    "scalar_date_funcs" -> ((s, d) => {
      Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- exact math/bit scalar functions (F6 surface; only operations
    // that are integer/bit-exact cross-engine — no libm, no double round)
    "scalar_math_funcs" -> ((s, d) => {
      Tables.part(s, d).select(
        col("p_partkey"),
        abs(col("p_size") - 25).as("abs_off"),
        signum(col("p_size") - 25).cast("int").as("sign_off"),
        pmod(col("p_partkey"), lit(7)).as("mod7"),
        ceil(col("p_retailprice")).as("price_ceil"),
        floor(col("p_retailprice")).as("price_floor"),
        col("p_partkey").bitwiseAND(lit(255)).as("key_and"),
        col("p_partkey").bitwiseXOR(col("p_size")).as("key_xor"),
        shiftleft(col("p_size"), 2).as("size_shl"),
        bit_count(col("p_partkey")).as("key_bits"),
        greatest(col("p_size"), lit(25)).as("size_hi"),
        least(col("p_size"), lit(25)).as("size_lo"))
        .orderBy(col("p_partkey"))
    }),

    // ---- array/complex-type functions (F6 surface) ----------------------
    "scalar_array_funcs" -> ((s, d) => {
      val arr = array(col("p_size"), col("p_size") * 2, lit(1))
      Tables.part(s, d).select(
        col("p_partkey"),
        size(arr).as("n_elems"),
        array_contains(arr, 50).as("has_50"),
        array_max(arr).as("arr_max"),
        array_min(arr).as("arr_min"),
        element_at(sort_array(arr), 2).as("arr_mid"),
        aggregate(arr, lit(0), (acc, x) => acc + x).as("arr_sum"))
        .orderBy(col("p_partkey"))
    }),

    // ---- projection + filter pushdown (S1/P1/P2) -------------------------
    "scan_filter_projection" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_quantity") > 45.0 && col("l_discount") < 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- querySql passthrough (S2): raw SQL via spark.sql ----------------
    "querysql_passthrough" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(PassthroughSql)
    }),

    // ---- recursive CTE (Spark 4 WITH RECURSIVE): month spine -------------
    // an integer-index recursion generates the calendar spine (UNION ALL
    // + a literal bound — Spark doesn't yet allow UNION-distinct
    // recursion, so the recursion must be inherently acyclic), then the
    // spine LEFT-joins the fact table so empty months survive as 0
    "recursive_month_spine" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""WITH RECURSIVE mi(i) AS (
        |  SELECT 0 UNION ALL SELECT i + 1 FROM mi WHERE i < 79)
        |SELECT CAST(1995 + i div 12 AS INT) AS y,
        |  CAST(i % 12 + 1 AS INT) AS m,
        |  COUNT(o_orderkey) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
        |    AS sum_price
        |FROM mi LEFT JOIN orders
        |  ON year(o_orderdate) = 1995 + i div 12
        | AND month(o_orderdate) = i % 12 + 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    }),

    // ---- LATERAL correlated subquery with LIMIT ---------------------------
    // per-order top line item via a correlated lateral table function —
    // the LateralJoin plan shape (not expressible as a plain join)
    "join_lateral_top_line" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(LateralTopLineSql)
    }),

    // ---- approximate distinct (HLL++) — FULLY oracle-checked via the
    // error-bound contract: sketch estimates are engine-specific, so the
    // gate emits the EXACT distinct counts plus integer flags asserting
    // the estimate landed inside its error budget (3x rsd for the default
    // 5% sketch, 3x for the 1% sketch — wide enough that the
    // deterministic estimate holds at every fixture SF, tight enough
    // that a broken sketch fails). The flags are what the sketch
    // guarantees cross-engine; the oracle checks them as constants.
    "agg_approx_distinct" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey")).as("__ao"),
          approx_count_distinct(col("l_partkey"), 0.01).as("__ap"),
          countDistinct(col("l_orderkey")).as("exact_orders"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
          (abs(col("__ao") - col("exact_orders")) * 100 <=
            col("exact_orders") * 15).cast("int").as("orders_within_15pct"),
          (abs(col("__ap") - col("exact_parts")) * 100 <=
            col("exact_parts") * 3).cast("int").as("parts_within_3pct"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- correlated EXISTS subquery through spark.sql (Catalyst
    // decorrelation; TPC-H Q4 shape on the columns the fixture has) -------
    "subq_exists_priority" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(ExistsSql)
    }),

    // ---- correlated scalar subquery (decorrelated to an outer join) -----
    "subq_scalar_correlated" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(ScalarSubquerySql)
    }),

    // ---- scalar-avg antijoin shape (TPC-H Q17): lineitems below 20% of
    // their part's average quantity. Division-free predicate
    // (qty * 5 * n < sum) keeps decimal arithmetic exact in both engines.
    // The per-part aggregate rides a window over l_partkey — ONE lineitem
    // scan and one shuffle, instead of a groupBy + self-join (two scans
    // plus a shuffle join whose build side is only |part| rows).
    "subq_scalar_avg" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      val byPart = Window.partitionBy(col("l_partkey"))
      li.withColumn("sum_q", sum(money(col("l_quantity"))).over(byPart))
        .withColumn("n_q", count(lit(1)).over(byPart))
        .filter(money(col("l_quantity")) * 5 * col("n_q") < col("sum_q"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_rows"),
          sum(money(col("l_extendedprice"))).cast("double").as("sum_price"))
        .orderBy(col("p_brand"))
    }),

    // ---- salted skew join: row-identical to the plain join (the oracle
    // IS the plain join), with the hot fact key spread over 4 sub-keys ----
    "join_salted_skew" -> ((s, d) => {
      val li = Tables.lineitem(s, d).withColumnRenamed("l_orderkey", "okey")
      val ord = Tables.orders(s, d).withColumnRenamed("o_orderkey", "okey")
      graft.operators.SkewJoin.saltedJoin(li, ord, "okey", salt = 4)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(money(col("l_extendedprice"))).cast("double").as("sum_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- co-located bucketed join (write-once shuffle) ------------------
    // both sides bucket-written on the join key, then join + group-by on
    // that key plan with ZERO Exchange (PlanSpec asserts the plan; this
    // gate asserts the VALUES) — the pay-the-shuffle-once pattern for
    // joins that recur at 100 TB
    "join_bucketed_colocated" -> ((s, d) => {
      graft.operators.Bucketing.writeBucketed(
        Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice")),
        "bq_orders", Seq("o_custkey"), 8)
      graft.operators.Bucketing.writeBucketed(
        Tables.customer(s, d).select(col("c_custkey")),
        "bq_customer", Seq("c_custkey"), 8)
      graft.operators.Bucketing.coLocatedJoin(s, "bq_orders",
          "bq_customer", Seq("o_custkey"), Seq("c_custkey"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(money(col("o_totalprice"))).cast("double").as("sum_total"))
        .orderBy(col("o_custkey"))
    }),

    // ---- full outer join with coalesced keys ----------------------------
    "join_full_outer" -> ((s, d) => {
      val cn = Tables.customer(s, d).groupBy(col("c_nationkey").as("ck"))
        .agg(count(lit(1)).as("n_cust"))
      val sn = Tables.supplier(s, d).groupBy(col("s_nationkey").as("sk"))
        .agg(count(lit(1)).as("n_sup"))
      cn.join(sn, col("ck") === col("sk"), "full_outer")
        .select(coalesce(col("ck"), col("sk")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_sup"), lit(0L)).as("n_sup"))
        .orderBy(col("nationkey"))
    }),

    // ---- exact interpolated percentiles. Quantities are small integers
    // and the probe fractions are exact binary, so a+(b-a)*f is exact in
    // both engines regardless of interpolation formula.
    "agg_percentiles" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(percentile(col("l_quantity"), lit(0.25)).as("p25"),
          median(col("l_quantity")).as("p50"),
          percentile(col("l_quantity"), lit(0.75)).as("p75"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- exact weighted median (cumulative-weight cut) -------------------
    // revenue-weighted median quantity per return flag: the smallest v
    // whose cumulative weight reaches half the total — 2·cum >= tot is
    // an exact integer comparison on 1e-4-scaled weights, so the cut
    // value can't wobble cross-engine; shuffle volume is the per-key
    // distinct value domain (same shape as agg/rank statistics)
    "agg_weighted_median" -> ((s, d) => {
      val base = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          money(col("l_quantity")).as("v"),
          (money(col("l_extendedprice")) * 10000).cast("long").as("w4"))
      val perVal = base.groupBy(col("flag"), col("v"))
        .agg(sum(col("w4")).as("cw"))
      val wc = Window.partitionBy(col("flag")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(col("flag"))
      val rk = Window.partitionBy(col("flag")).orderBy(col("v"))
      perVal
        .withColumn("cum", sum(col("cw")).over(wc))
        .withColumn("tot", sum(col("cw")).over(tot))
        .where(col("cum") * 2 >= col("tot"))
        .withColumn("__rn", row_number().over(rk))
        .where(col("__rn") === 1)
        .select(col("flag"), col("v").cast("double").as("weighted_median"),
          col("cum").as("cum_w4"), col("tot").as("tot_w4"))
        .orderBy(col("flag"))
    }),

    // ---- pivot (Spark .pivot; oracle = conditional aggregation) ---------
    "pivot_flag_status" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("l_returnflag"))
    }),

    // ---- unpivot / melt (Dataset.unpivot; oracle = UNION ALL) ------------
    "unpivot_order_measures" -> ((s, d) => {
      val wide = Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_custs"))
      wide.unpivot(Array(col("o_orderstatus")),
          Array(col("n_orders"), col("n_custs")), "measure", "value")
        .orderBy(col("o_orderstatus"), col("measure"))
    }),

    // ---- grouping sets ----------------------------------------------------
    "agg_grouping_sets" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
          |""".stripMargin)
    })
  )

  /** Raw-SQL passthrough text — runnable verbatim by both Catalyst and DuckDB
    * (the Spark analogue of the reference's querySql,
    * /root/reference/database/dbms/reader/parameter.go:94-101). */
  val PassthroughSql: String =
    """SELECT n_name, COUNT(*) AS n_cust,
      |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,4))) AS STRING) AS DOUBLE) AS sum_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Correlated LATERAL-with-LIMIT text runnable verbatim by both
    * engines (pass-through doubles, no aggregation — parity-safe). */
  val LateralTopLineSql: String =
    """SELECT o_orderkey, o_orderpriority, t.l_linenumber, t.price
      |FROM orders, LATERAL (
      |  SELECT l_linenumber, l_extendedprice AS price FROM lineitem
      |  WHERE l_orderkey = o_orderkey
      |  ORDER BY l_extendedprice DESC, l_linenumber LIMIT 1) t
      |WHERE o_orderkey < 1000
      |ORDER BY o_orderkey""".stripMargin

  /** Correlated-EXISTS text runnable verbatim by both engines. */
  val ExistsSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Correlated scalar subquery, same text both engines. */
  val ScalarSubquerySql: String =
    """SELECT c_custkey,
      |  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
      |FROM customer ORDER BY c_custkey""".stripMargin

  private def decSum(c: String): String =
    s"CAST(CAST(SUM(CAST($c AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)"
  private val revenue =
    "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(8,6))) AS VARCHAR) AS DOUBLE)"

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${decSum("l_quantity")} AS sum_qty,
         |  ${decSum("l_extendedprice")} AS sum_base_price,
         |  $revenue AS sum_disc_price,
         |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(CAST(1 - l_discount AS DECIMAL(8,6)) * CAST(1 + l_tax AS DECIMAL(8,6)) AS DECIMAL(20,12))) AS VARCHAR) AS DOUBLE) AS sum_charge,
         |  ${decSum("l_quantity")} / COUNT(*) AS avg_qty,
         |  ${decSum("l_extendedprice")} / COUNT(*) AS avg_price,
         |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(8,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_orders" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority, $revenue AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      s"""SELECT n_name, $revenue AS revenue, COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q9_product_profit" ->
      s"""SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
         |  $revenue AS revenue, COUNT(*) AS n_items
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE '%widget%'
         |GROUP BY n_name, CAST(year(o_orderdate) AS INT)
         |ORDER BY n_name, o_year""".stripMargin,

    "q7_nation_volume" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS INT) AS l_year,
         |  $revenue AS revenue, COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE n1.n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3')
         |  AND n2.n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3')
         |  AND n1.n_name != n2.n_name
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q13_custdist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q18_large_orders" ->
      s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
         |  CAST(CAST(sum_qty_dec AS VARCHAR) AS DOUBLE) AS sum_qty
         |FROM orders
         |JOIN (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,4))) AS sum_qty_dec
         |      FROM lineitem GROUP BY l_orderkey
         |      HAVING SUM(CAST(l_quantity AS DECIMAL(12,4))) > 250) big
         |  ON o_orderkey = big.l_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q22_idle_customers" ->
      s"""WITH pos AS (
         |  SELECT COUNT(*) AS n_pos,
         |    SUM(CAST(c_acctbal AS DECIMAL(12,4))) AS sum_pos
         |  FROM customer WHERE c_acctbal > 0)
         |SELECT c_nationkey, COUNT(*) AS n_cust,
         |  ${decSum("c_acctbal")} AS tot_acctbal
         |FROM customer, pos
         |WHERE CAST(c_acctbal AS DECIMAL(12,4)) * n_pos > sum_pos
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "set_ops_all" ->
      """WITH ia AS (SELECT c_nationkey AS nationkey FROM customer
        |            INTERSECT ALL
        |            SELECT s_nationkey AS nationkey FROM supplier),
        |     ea AS (SELECT s_nationkey AS nationkey FROM supplier
        |            EXCEPT ALL
        |            SELECT c_nationkey AS nationkey FROM customer)
        |SELECT 'intersect_all' AS op, nationkey, COUNT(*) AS multiplicity
        |FROM ia GROUP BY nationkey
        |UNION ALL
        |SELECT 'except_all' AS op, nationkey, COUNT(*) AS multiplicity
        |FROM ea GROUP BY nationkey
        |ORDER BY op, nationkey""".stripMargin,

    "window_first_last" ->
      """SELECT o_custkey, o_orderkey,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_order,
        |  LAST_VALUE(o_orderkey) OVER wf AS last_order,
        |  NTH_VALUE(o_orderkey, 2) OVER wf AS second_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "cogroup_nation_counts" ->
      """SELECT n.nationkey, COALESCE(c.n_cust, 0) AS n_cust,
        |  COALESCE(s.n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nationkey FROM customer
        |      UNION SELECT s_nationkey FROM supplier) n
        |LEFT JOIN (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer
        |           GROUP BY 1) c ON c.c_nationkey = n.nationkey
        |LEFT JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier
        |           GROUP BY 1) s ON s.s_nationkey = n.nationkey
        |ORDER BY n.nationkey""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(8,6))) AS rev_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q19_disjunctive_rev" ->
      s"""SELECT $revenue AS revenue, COUNT(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(CAST(SUM(CASE WHEN n2.n_name = 'NATION_1'
        |      THEN CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(8,6))
        |      ELSE CAST(0 AS DECIMAL(20,10)) END) AS VARCHAR) AS DOUBLE)
        |  / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(8,6))) AS VARCHAR) AS DOUBLE)
        |    AS mkt_share,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q21_waiting_supplier" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM lineitem l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE l1.l_returnflag = 'R'
        |  AND n_name = 'NATION_3'
        |  AND EXISTS (SELECT 1 FROM orders
        |    WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(l_discount AS DECIMAL(8,6))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.04
        |  AND l_quantity < 24""".stripMargin,

    "q4_priority_count" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q10_returned_items" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  $revenue AS revenue, COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q11_important_stock" ->
      """WITH by_part AS (
        |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS val_dec
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_11'
        |  GROUP BY l_partkey)
        |SELECT l_partkey, CAST(CAST(val_dec AS VARCHAR) AS DOUBLE) AS part_value
        |FROM by_part
        |WHERE val_dec * 1000 > (SELECT SUM(val_dec) FROM by_part)
        |ORDER BY part_value DESC, l_partkey""".stripMargin,

    "q12_shipmode_priority" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q14_promo_effect" ->
      """SELECT 100.0 * (
        |    CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(8,6))
        |      ELSE CAST(0 AS DECIMAL(20,10)) END) AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(8,6))) AS VARCHAR) AS DOUBLE)
        |  ) AS promo_share,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name
        |FROM pairs
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_size <= 5
        |  AND CAST(s_acctbal AS DECIMAL(12,4)) = (
        |    SELECT MIN(CAST(s2.s_acctbal AS DECIMAL(12,4)))
        |    FROM pairs p2 JOIN supplier s2 ON p2.l_suppkey = s2.s_suppkey
        |    WHERE p2.l_partkey = pairs.l_partkey)
        |ORDER BY s_acctbal DESC, p_partkey, s_name LIMIT 100""".stripMargin,

    "q16_part_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 100""".stripMargin,

    "q17_small_qty_revenue" ->
      """WITH sel AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#3' AND p_size <= 10),
        |stats AS (
        |  SELECT l_partkey AS k,
        |    SUM(CAST(l_quantity AS DECIMAL(12,4))) AS sum_qty,
        |    COUNT(*) AS n
        |  FROM sel GROUP BY 1)
        |SELECT
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n_lines
        |FROM sel JOIN stats ON l_partkey = k
        |WHERE CAST(l_quantity AS DECIMAL(12,4)) * 5 * n < sum_qty""".stripMargin,

    "q20_promo_suppliers" ->
      """SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier
        |WHERE s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        |      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |    GROUP BY l_partkey, l_suppkey
        |    HAVING SUM(CAST(l_quantity AS DECIMAL(12,4))) > 50)
        |  AND s_nationkey IN (
        |    SELECT n_nationkey FROM nation
        |    WHERE n_name IN ('NATION_11','NATION_17'))
        |ORDER BY s_suppkey""".stripMargin,

    "join_broadcast_parts" ->
      s"""SELECT p_brand, COUNT(*) AS n_items, ${decSum("l_quantity")} AS sum_qty
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "topn_heap_per_supplier" ->
      """WITH r AS (SELECT l_suppkey, l_orderkey, l_linenumber,
        |    l_extendedprice,
        |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC,
        |        l_orderkey * 10 + l_linenumber) AS rn
        |  FROM lineitem)
        |SELECT l_suppkey, rn, l_orderkey, l_linenumber, l_extendedprice
        |FROM r WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin,

    "join_left_outer" ->
      s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
         |  ${decSum("o_totalprice")} AS sum_spend
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "join_semi_customers" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
        |ORDER BY c_custkey""".stripMargin,

    "join_anti_customers" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "join_range_buckets" ->
      s"""WITH buckets AS (
         |  SELECT i AS bucket, CAST(i * 200 AS DOUBLE) AS lo,
         |    CAST((i + 1) * 200 AS DOUBLE) AS hi
         |  FROM (SELECT UNNEST(RANGE(0, 10)) AS i))
         |SELECT bucket, COUNT(*) AS n_parts, ${decSum("p_retailprice")} AS sum_price
         |FROM part JOIN buckets ON p_retailprice >= lo AND p_retailprice < hi
         |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "window_topn_per_supplier" ->
      """SELECT l_suppkey, rn, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) t
        |WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin,

    "window_running_total" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
        |    AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "window_yoy_growth" ->
      """WITH y AS (
        |  SELECT year(o_orderdate) AS yr,
        |    SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT yr, CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS revenue,
        |  CAST(CAST(LAG(rev, 1) OVER (ORDER BY yr) AS VARCHAR) AS DOUBLE)
        |    AS prev_revenue,
        |  CAST(CAST(rev - LAG(rev, 1) OVER (ORDER BY yr) AS VARCHAR)
        |    AS DOUBLE) AS yoy_diff
        |FROM y ORDER BY yr""".stripMargin,

    "window_lag_gap" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(CAST(LAG(o_totalprice, 1) OVER w AS DECIMAL(12,4)) AS DOUBLE)
        |    AS prev_price,
        |  ROW_NUMBER() OVER w AS rank_in_cust
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rank_in_cust""".stripMargin,

    "quality_report" ->
      """SELECT rule, n_violations FROM (
        |  SELECT 'not_null(l_orderkey)' AS rule,
        |    COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS n_violations
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'in_range(l_quantity,1.0,50.0)',
        |    COUNT(*) FILTER (WHERE l_quantity IS NOT NULL
        |      AND (l_quantity < 1 OR l_quantity > 50))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'in_range(l_discount,0.0,0.05)',
        |    COUNT(*) FILTER (WHERE l_discount IS NOT NULL
        |      AND (l_discount < 0 OR l_discount > 0.05))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'matches(l_returnflag)',
        |    COUNT(*) FILTER (WHERE l_returnflag IS NOT NULL
        |      AND NOT regexp_matches(l_returnflag, '^[ANR]$'))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'unique(l_orderkey,l_linenumber)',
        |    CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
        |  FROM (SELECT COUNT(*) AS n FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber))
        |ORDER BY rule""".stripMargin,

    "global_row_number" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS BIGINT)
        |    AS row_id
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "window_rank_family" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(NTILE(4) OVER w AS INT) AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "sort_topk_orders" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,4)) AS DOUBLE) AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,

    "abc_classification" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,4))
        |      * CAST(1 - l_discount AS DECIMAL(8,6))) AS rev
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT SUM(rev) AS total_rev FROM rev),
        |c AS (
        |  SELECT l_partkey, rev,
        |    SUM(rev) OVER (ORDER BY rev DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rev)
        |SELECT CASE WHEN cum * 100 <= total_rev * 80 THEN 'A'
        |            WHEN cum * 100 <= total_rev * 95 THEN 'B'
        |            ELSE 'C' END AS abc_class,
        |  COUNT(*) AS n_parts,
        |  CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS class_revenue
        |FROM c, tot GROUP BY 1 ORDER BY 1""".stripMargin,

    "rfm_segments" ->
      """WITH base AS (
        |  SELECT o_custkey,
        |    CAST(MAX(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE))) AS BIGINT) AS last_day,
        |    COUNT(*) AS frequency,
        |    SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS monetary
        |  FROM orders GROUP BY o_custkey),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
        |r AS (
        |  SELECT o_custkey, monetary,
        |    (ROW_NUMBER() OVER (ORDER BY last_day, o_custkey) - 1) AS rr,
        |    (ROW_NUMBER() OVER (ORDER BY frequency, o_custkey) - 1) AS rf,
        |    (ROW_NUMBER() OVER (ORDER BY monetary, o_custkey) - 1) AS rm
        |  FROM base),
        |s AS (
        |  SELECT o_custkey, monetary,
        |    rr * 5 // n.n + 1 AS r_score,
        |    rf * 5 // n.n + 1 AS f_score,
        |    rm * 5 // n.n + 1 AS m_score
        |  FROM r, n)
        |SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
        |  CAST(CAST(SUM(monetary) AS VARCHAR) AS DOUBLE) AS total_monetary
        |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "diff_orders_audit" ->
      """WITH nw AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 13 = 0 THEN 'X'
        |         ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 17 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice,
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 19 = 0),
        |j AS (
        |  SELECT o.o_orderkey AS ko, n.o_orderkey AS kn,
        |    o.o_orderstatus AS s_o, n.o_orderstatus AS s_n,
        |    o.o_totalprice AS p_o, n.o_totalprice AS p_n,
        |    o.o_orderpriority AS r_o, n.o_orderpriority AS r_n
        |  FROM orders o FULL OUTER JOIN nw n ON o.o_orderkey = n.o_orderkey),
        |f AS (
        |  SELECT ko IS NULL AS a, kn IS NULL AS r,
        |    ko IS NOT NULL AND kn IS NOT NULL
        |      AND s_o IS DISTINCT FROM s_n AS cs,
        |    ko IS NOT NULL AND kn IS NOT NULL
        |      AND p_o IS DISTINCT FROM p_n AS cp,
        |    ko IS NOT NULL AND kn IS NOT NULL
        |      AND r_o IS DISTINCT FROM r_n AS cr
        |  FROM j)
        |SELECT 'n_added' AS metric,
        |  CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n FROM f
        |UNION ALL SELECT 'n_removed',
        |  CAST(SUM(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) FROM f
        |UNION ALL SELECT 'n_changed',
        |  CAST(SUM(CASE WHEN cs OR cp OR cr THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM f
        |UNION ALL SELECT 'n_unchanged',
        |  CAST(SUM(CASE WHEN NOT a AND NOT r AND NOT (cs OR cp OR cr)
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM f
        |UNION ALL SELECT 'changed_o_orderstatus',
        |  CAST(SUM(CASE WHEN cs THEN 1 ELSE 0 END) AS BIGINT) FROM f
        |UNION ALL SELECT 'changed_o_totalprice',
        |  CAST(SUM(CASE WHEN cp THEN 1 ELSE 0 END) AS BIGINT) FROM f
        |UNION ALL SELECT 'changed_o_orderpriority',
        |  CAST(SUM(CASE WHEN cr THEN 1 ELSE 0 END) AS BIGINT) FROM f
        |ORDER BY metric""".stripMargin,

    "quality_benford_prices" -> {
      // CAST from VARCHAR: a bare 17-digit literal would bind as DECIMAL
      // and the decimal->double hop double-rounds (the standing gotcha);
      // string->double parses correctly rounded, bit-equal to the JVM
      val vals = graft.operators.Quality.BenfordExpected.zipWithIndex
        .map { case (l, i) => s"(${i + 1}, CAST('$l' AS DOUBLE))" }
        .mkString(", ")
      s"""WITH dg AS (
         |  SELECT CAST(substring(
         |      CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), 1, 1)
         |    AS INTEGER) AS digit
         |  FROM orders WHERE o_totalprice > 0),
         |cnt AS (SELECT digit, COUNT(*) AS n_obs FROM dg GROUP BY digit),
         |tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS t FROM cnt),
         |ex(digit, l) AS (VALUES $vals),
         |j AS (
         |  SELECT c.digit, c.n_obs, CAST(t.t AS DOUBLE) * ex.l AS expected
         |  FROM cnt c JOIN ex ON ex.digit = c.digit CROSS JOIN tot t)
         |SELECT digit, n_obs, expected,
         |  (CAST(n_obs AS DOUBLE) - expected) *
         |  (CAST(n_obs AS DOUBLE) - expected) / expected AS chi2_contrib
         |FROM j ORDER BY digit""".stripMargin
    },

    "privacy_k_anonymity" ->
      """SELECT c_nationkey,
        |  CAST(FLOOR(c_acctbal / 100) AS BIGINT) AS bal_bucket,
        |  COUNT(*) AS class_size,
        |  COUNT(DISTINCT c_mktsegment) AS n_sensitive
        |FROM customer
        |GROUP BY 1, 2
        |HAVING COUNT(*) < 3 OR COUNT(DISTINCT c_mktsegment) < 2
        |ORDER BY c_nationkey, bal_bucket""".stripMargin,

    "quality_ri_audit" ->
      """WITH li2 AS (
        |  SELECT l_orderkey, l_partkey,
        |    CASE WHEN l_linenumber % 7 = 0 THEN l_suppkey + 1000000
        |         ELSE l_suppkey END AS l_suppkey
        |  FROM lineitem)
        |SELECT 'customer_nationkey' AS relation,
        |  (SELECT COUNT(*) FROM customer) AS n_rows,
        |  (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS (
        |     SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
        |    AS n_orphans
        |UNION ALL
        |SELECT 'lineitem_orderkey', (SELECT COUNT(*) FROM li2),
        |  (SELECT COUNT(*) FROM li2 WHERE NOT EXISTS (
        |     SELECT 1 FROM orders o WHERE o.o_orderkey = li2.l_orderkey))
        |UNION ALL
        |SELECT 'lineitem_partkey', (SELECT COUNT(*) FROM li2),
        |  (SELECT COUNT(*) FROM li2 WHERE NOT EXISTS (
        |     SELECT 1 FROM part p WHERE p.p_partkey = li2.l_partkey))
        |UNION ALL
        |SELECT 'lineitem_suppkey', (SELECT COUNT(*) FROM li2),
        |  (SELECT COUNT(*) FROM li2 WHERE NOT EXISTS (
        |     SELECT 1 FROM supplier s WHERE s.s_suppkey = li2.l_suppkey))
        |UNION ALL
        |SELECT 'orders_custkey', (SELECT COUNT(*) FROM orders),
        |  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS (
        |     SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |ORDER BY relation""".stripMargin,

    "quality_fd_audit" -> {
      def pair(l: String, r: String) =
        s"""SELECT '$l' AS lhs_col, '$r' AS rhs_col,
           |  COUNT(*) AS n_groups,
           |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating,
           |  MAX(nd) AS max_rhs_variants
           |FROM (SELECT $l, COUNT(DISTINCT $r) AS nd
           |      FROM orders GROUP BY 1) g""".stripMargin
      s"""${pair("o_orderkey", "o_custkey")}
         |UNION ALL
         |${pair("o_custkey", "o_orderpriority")}
         |UNION ALL
         |${pair("o_orderstatus", "o_orderpriority")}
         |ORDER BY lhs_col, rhs_col""".stripMargin
    },

    "skyline_parts" ->
      """SELECT p.p_brand, p.p_partkey, p.p_retailprice, p.p_size
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_brand = p.p_brand
        |    AND q.p_retailprice <= p.p_retailprice
        |    AND q.p_size <= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size))
        |ORDER BY p.p_brand, p.p_partkey""".stripMargin,

    "set_ops_nations" ->
      """SELECT nationkey, 'both' AS src FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'cust_only' AS src FROM (
        |  SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |  EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
        |ORDER BY src, nationkey""".stripMargin,

    "agg_rollup_orders" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  ${decSum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "agg_cube_lineitem" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "agg_distinct_counts" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the sketch estimate itself is engine-specific; the CONTRACT — the
    // estimate lands inside its error budget — is the cross-engine fact,
    // and the oracle checks it alongside the exact counts
    "agg_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS exact_orders,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  CAST(1 AS INT) AS orders_within_15pct,
        |  CAST(1 AS INT) AS parts_within_3pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_stats_exact" ->
      """SELECT l_returnflag, n, min_qty, max_qty,
        |  (s2 - s1 * s1 / n) / (n - 1) AS variance_qty
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS s1,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4)) * CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS s2
        |  FROM lineitem GROUP BY l_returnflag) t
        |ORDER BY l_returnflag""".stripMargin,

    "scalar_string_funcs" ->
      """SELECT p_partkey, UPPER(p_name) AS name_upper, LOWER(p_brand) AS brand_lower,
        |  SUBSTRING(p_type, 1, 5) AS type_prefix, LENGTH(p_name) AS name_len,
        |  TRIM(p_name) AS name_trim,
        |  CONCAT_WS('|', p_brand, p_type) AS brand_type,
        |  CASE WHEN p_size > 25 THEN 'large' ELSE 'small' END AS size_class,
        |  p_size * 2 + 1 AS size_calc
        |FROM part ORDER BY p_partkey""".stripMargin,

    "scalar_date_funcs" ->
      """SELECT o_orderkey, YEAR(o_orderdate) AS yr, MONTH(o_orderdate) AS mo,
        |  DAYOFMONTH(o_orderdate) AS dom,
        |  CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  CAST(EPOCH(o_orderdate) AS BIGINT) AS epoch_s
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "scalar_math_funcs" ->
      """SELECT p_partkey,
        |  ABS(p_size - 25) AS abs_off,
        |  CAST(SIGN(p_size - 25) AS INTEGER) AS sign_off,
        |  p_partkey % 7 AS mod7,
        |  CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
        |  CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
        |  p_partkey & 255 AS key_and,
        |  XOR(p_partkey, p_size) AS key_xor,
        |  CAST(p_size << 2 AS INTEGER) AS size_shl,
        |  CAST(bit_count(p_partkey) AS INTEGER) AS key_bits,
        |  GREATEST(p_size, 25) AS size_hi,
        |  LEAST(p_size, 25) AS size_lo
        |FROM part ORDER BY p_partkey""".stripMargin,

    "scalar_array_funcs" ->
      """SELECT p_partkey,
        |  CAST(len([p_size, p_size * 2, 1]) AS INTEGER) AS n_elems,
        |  list_contains([p_size, p_size * 2, 1], 50) AS has_50,
        |  list_max([p_size, p_size * 2, 1]) AS arr_max,
        |  list_min([p_size, p_size * 2, 1]) AS arr_min,
        |  list_sort([p_size, p_size * 2, 1])[2] AS arr_mid,
        |  CAST(list_sum([p_size, p_size * 2, 1]) AS INTEGER) AS arr_sum
        |FROM part ORDER BY p_partkey""".stripMargin,

    "scan_filter_projection" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 45.0 AND l_discount < 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "querysql_passthrough" -> PassthroughSql,

    "join_lateral_top_line" -> LateralTopLineSql,

    // recursion differs only in engine idiom: DuckDB `//` for Spark's
    // `div`, VARCHAR-routed decimal->double cast
    "recursive_month_spine" ->
      """WITH RECURSIVE mi(i) AS (
        |  SELECT 0 UNION ALL SELECT i + 1 FROM mi WHERE i < 79)
        |SELECT CAST(1995 + i // 12 AS INT) AS y,
        |  CAST(i % 12 + 1 AS INT) AS m,
        |  COUNT(o_orderkey) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS STRING)
        |    AS DOUBLE) AS sum_price
        |FROM mi LEFT JOIN orders
        |  ON year(o_orderdate) = 1995 + i // 12
        | AND month(o_orderdate) = i % 12 + 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "subq_exists_priority" -> ExistsSql,

    "subq_scalar_correlated" -> ScalarSubquerySql,

    "subq_scalar_avg" ->
      s"""WITH aq AS (
         |  SELECT l_partkey AS ap_partkey,
         |    SUM(CAST(l_quantity AS DECIMAL(12,4))) AS sum_q,
         |    COUNT(*) AS n_q
         |  FROM lineitem GROUP BY l_partkey)
         |SELECT p_brand, COUNT(*) AS n_rows,
         |  ${decSum("l_extendedprice")} AS sum_price
         |FROM lineitem
         |JOIN aq ON l_partkey = ap_partkey
         |JOIN part ON l_partkey = p_partkey
         |WHERE CAST(l_quantity AS DECIMAL(12,4)) * 5 * n_q < sum_q
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "join_salted_skew" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_items,
         |  ${decSum("l_extendedprice")} AS sum_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the bucketed plan must be value-identical to the plain join
    "join_bucketed_colocated" ->
      s"""SELECT o_custkey, COUNT(*) AS n_orders,
         |  ${decSum("o_totalprice")} AS sum_total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "join_full_outer" ->
      """SELECT COALESCE(ck, sk) AS nationkey,
        |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_sup, 0) AS n_sup
        |FROM (SELECT c_nationkey AS ck, COUNT(*) AS n_cust
        |      FROM customer GROUP BY c_nationkey) c
        |FULL OUTER JOIN (SELECT s_nationkey AS sk, COUNT(*) AS n_sup
        |      FROM supplier GROUP BY s_nationkey) s
        |  ON ck = sk
        |ORDER BY nationkey""".stripMargin,

    "agg_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_weighted_median" ->
      """WITH base AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(l_quantity AS DECIMAL(12,4)) AS v,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 10000 AS BIGINT)
        |      AS w4
        |  FROM lineitem),
        |perval AS (SELECT flag, v, CAST(SUM(w4) AS BIGINT) AS cw
        |  FROM base GROUP BY 1, 2),
        |cum AS (SELECT *,
        |    CAST(SUM(cw) OVER (PARTITION BY flag ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(SUM(cw) OVER (PARTITION BY flag) AS BIGINT) AS tot
        |  FROM perval),
        |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY flag
        |    ORDER BY v) AS rn
        |  FROM cum WHERE cum * 2 >= tot)
        |SELECT flag, CAST(CAST(v AS VARCHAR) AS DOUBLE) AS weighted_median,
        |  cum AS cum_w4, tot AS tot_w4
        |FROM best WHERE rn = 1 ORDER BY flag""".stripMargin,

    "pivot_flag_status" ->
      """SELECT l_returnflag,
        |  COUNT(*) FILTER (WHERE l_linestatus = 'F') AS F,
        |  COUNT(*) FILTER (WHERE l_linestatus = 'O') AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "unpivot_order_measures" ->
      """WITH wide AS (
        |  SELECT o_orderstatus, COUNT(*) AS n_orders,
        |    COUNT(DISTINCT o_custkey) AS n_custs
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, 'n_orders' AS measure, n_orders AS value
        |FROM wide
        |UNION ALL
        |SELECT o_orderstatus, 'n_custs', n_custs FROM wide
        |ORDER BY o_orderstatus, measure""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin
  )
}
