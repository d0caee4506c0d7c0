package graft
package queries

import graft.operators._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Shared._

/** Query specs of the Relational tier: relational SQL paths: TPC-H queries,
  * window suites, set operations, pivots, rollups and the pure-SQL pipeline
  * through the registered functions. */
private[graft] object RelationalQueries {
  def specs: Seq[QuerySpec] = Seq(
    // ── analytics: aggregation (TPC-H Q1 shape) ──────────────────────
    QuerySpec("q16_tpch_q1", (s, dir) => {
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle = Some(
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    // ── analytics: multi-join + agg + deterministic top-k ────────────
    QuerySpec("q17_join_agg_revenue", (s, dir) => {
      val c = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = T(s, dir, "orders")
      val l = T(s, dir, "lineitem")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }, oracle = Some(
      """SELECT o_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND o_orderkey = l_orderkey
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)),
    // ── analytics: window top-k per group ────────────────────────────
    QuerySpec("q18_window_topk", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
      T(s, dir, "lineitem").filter(col("l_orderkey") < 1000)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "rn")
        .orderBy("l_orderkey", "rn")
    }, oracle = Some(
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_extendedprice DESC, l_linenumber) AS rn
        |FROM lineitem WHERE l_orderkey < 1000
        |QUALIFY rn <= 2 ORDER BY l_orderkey, rn""".stripMargin)),
    // ── scale: TPC-H Q4 shape (order-priority checking) — EXISTS becomes
    //    a left-semi join whose condition spans both tables (late ship:
    //    l_shipdate > o_orderdate + 30 days; this schema has no
    //    commitdate/receiptdate); integer counts (oracle: DuckDB runs the
    //    same SQL with a real EXISTS) ─────────────────────────────────────
    QuerySpec("q231_tpch_q4", (s, dir) => {
      val o = T(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      val li = T(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      o.join(li, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }, oracle = Some(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),
    // ── scale: TPC-H Q13 shape (customer order-count distribution) — the
    //    LEFT JOIN with the filter in the ON clause (zero-order customers
    //    must survive), then a distribution over the per-customer counts;
    //    integer-exact (oracle: DuckDB same SQL) ──────────────────────────
    QuerySpec("q232_tpch_q13", (s, dir) => {
      val o = T(s, dir, "orders").select("o_custkey", "o_orderkey",
        "o_orderstatus")
      T(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey") &&
          col("o_orderstatus") =!= "F", "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }, oracle = Some(
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderstatus <> 'F'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    // ── scale: TPC-H Q21 shape (suppliers who kept orders waiting) — the
    //    EXISTS(other supplier) / NOT EXISTS(other LATE supplier) pair
    //    becomes a semi-join + an anti-join on (orderkey, suppkey≠), both
    //    key-width; late = shipped >30 days after order (this schema's
    //    receiptdate stand-in); integer counts, top-20 via
    //    TakeOrderedAndProject (oracle: DuckDB real EXISTS forms) ──────────
    QuerySpec("q234_tpch_q21", (s, dir) => {
      val oF = T(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val li = T(s, dir, "lineitem").select("l_orderkey", "l_suppkey",
        "l_shipdate")
      val late = li.join(oF, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") +
          expr("INTERVAL 30 DAYS"))
        .select("l_orderkey", "l_suppkey")
      late
        .join(li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2")),
          col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("s2"),
          "left_semi")
        .join(late.select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3")),
          col("l_orderkey") === col("k3") && col("l_suppkey") =!= col("s3"),
          "left_anti")
        .join(broadcast(T(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }, oracle = Some(
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin)),
    // ── scale: TPC-H Q22 shape (global-sales opportunity) — the scalar
    //    AVG-of-positive-balances subquery becomes a broadcast 1-row cross
    //    join compared EXACTLY as cents·cnt > sum_cents (no double-avg
    //    boundary risk); lapsed customers (no order since 2000) via
    //    left-anti — every synthetic customer HAS orders, so the classic
    //    never-ordered form is degenerate here; mktsegment stands in for
    //    the phone country code (oracle: DuckDB same integer form) ─────────
    QuerySpec("q235_tpch_q22", (s, dir) => {
      val cust = T(s, dir, "customer")
        .withColumn("cents", round(col("c_acctbal") * lit(100.0)).cast("long"))
      val posAvg = cust.filter(col("c_acctbal") > 0.0)
        .agg(sum("cents").as("pos_sum"), count(lit(1)).as("pos_cnt"))
      cust.crossJoin(broadcast(posAvg))
        .filter(col("cents") * col("pos_cnt") > col("pos_sum"))
        .join(T(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("2000-01-01"))
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("numcust"), sum("cents").as("totacctbal_cents"))
        .orderBy("c_mktsegment")
    }, oracle = Some(
      """WITH cust AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |    CAST(round(c_acctbal * 100.0) AS BIGINT) AS cents
        |  FROM customer),
        |pos AS (
        |  SELECT CAST(sum(cents) AS BIGINT) AS pos_sum,
        |    CAST(count(*) AS BIGINT) AS pos_cnt
        |  FROM cust WHERE c_acctbal > 0.0)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(sum(cents) AS BIGINT) AS totacctbal_cents
        |FROM cust CROSS JOIN pos
        |WHERE cents * pos_cnt > pos_sum
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)),
    // ── scale: pivot cross-tab — event-type × day-of-week counts through
    //    Spark's RelationalGroupedDataset.pivot with EXPLICIT values (no
    //    extra domain-discovery pass — at 100 TB the silent two-pass
    //    default is the trap); integer-exact, q182's timezone-free dow
    //    (oracle: DuckDB CASE sums) ────────────────────────────────────────
    QuerySpec("q237_pivot_crosstab", (s, dir) => {
      val m = unix_micros(col("ts").cast("timestamp"))
      val d = lit(86400000000L)
      val day = ((m - pmod(m, d)) / d).cast("long")
      val dow = (pmod(day + lit(3L), lit(7L)) + lit(1L)).cast("int")
      val types = Seq("click", "error", "purchase", "signup", "view")
      T(s, dir, "events")
        .select(dow.as("dow"), col("event_type"))
        .groupBy("dow")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
        .withColumn("total",
          types.map(col).reduceLeft(_ + _))
        .orderBy("dow")
    }, oracle = Some(
      """SELECT CAST(((epoch_us(ts) // 86400000000 + 3) % 7 + 1) AS INT)
        |    AS dow,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS view,
        |  CAST(sum(CASE WHEN event_type IN ('click', 'error', 'purchase',
        |    'signup', 'view') THEN 1 ELSE 0 END) AS BIGINT) AS total
        |FROM events GROUP BY 1 ORDER BY dow""".stripMargin)),
    // ── scale: unpivot/melt report — wide→long through Dataset.unpivot
    //    (one streamed Expand, never a per-column UNION of corpus scans);
    //    exact integer cents per melted measure (oracle: DuckDB UNION ALL
    //    replay) ──────────────────────────────────────────────────────────
    QuerySpec("q239_unpivot_melt", (s, dir) => {
      val measures = Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax")
      T(s, dir, "lineitem")
        .select(col("l_orderkey") +: measures.map(c =>
          round(col(c) * lit(100.0)).cast("long").as(c)): _*)
        .unpivot(Array(col("l_orderkey")), measures.map(col).toArray,
          "variable", "cents")
        .groupBy("variable")
        .agg(count(lit(1)).as("n"), min("cents").as("min_cents"),
          max("cents").as("max_cents"), sum("cents").as("sum_cents"))
        .orderBy("variable")
    }, oracle = Some(
      """WITH m AS (
        |  SELECT 'l_quantity' AS variable,
        |    CAST(round(l_quantity * 100.0) AS BIGINT) AS cents FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice',
        |    CAST(round(l_extendedprice * 100.0) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'l_discount',
        |    CAST(round(l_discount * 100.0) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'l_tax',
        |    CAST(round(l_tax * 100.0) AS BIGINT) FROM lineitem)
        |SELECT variable, CAST(count(*) AS BIGINT) AS n,
        |  min(cents) AS min_cents, max(cents) AS max_cents,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM m GROUP BY variable ORDER BY variable""".stripMargin)),
    // ── scale: CUBE report — all four grouping sets over
    //    (returnflag, linestatus) in ONE Expand pass (q107 ROLLUP's
    //    completion; the naive alternative is 4 scans + UNION), with
    //    GROUPING() markers so subtotal-null is distinguishable from
    //    data-null; exact cents (oracle: DuckDB GROUP BY CUBE) ────────────
    QuerySpec("q241_cube_report", (s, dir) => {
      T(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("l_extendedprice") * lit(100.0)).cast("long").as("cents"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"), sum("cents").as("revenue_cents"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }, oracle = Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_status
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),
    // ── scale: TPC-H Q7 shape (volume shipping) — two nation-dim joins
    //    on DIFFERENT sides of the fact with a symmetric OR pair filter;
    //    year from the shipdate; exact cents (oracle: DuckDB same SQL) ────
    QuerySpec("q257_tpch_q7", (s, dir) => {
      val n1 = broadcast(T(s, dir, "nation")
        .select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation")))
      val n2 = broadcast(T(s, dir, "nation")
        .select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation")))
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .join(T(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("nk1"))
        .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(n2, col("c_nationkey") === col("nk2"))
        .filter((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(round((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          * lit(100.0)).cast("long")).as("revenue_cents"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }, oracle = Some(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 100.0)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),
    // ── scale: TPC-H Q8 shape (national market share) — region-filtered
    //    market, the share as a conditional-sum / total-sum division over
    //    exact cents (oracle: DuckDB same SQL) ─────────────────────────────
    QuerySpec("q258_tpch_q8", (s, dir) => {
      val rk = broadcast(T(s, dir, "nation")
        .join(T(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select(col("n_nationkey").as("crk")))
      val sn = broadcast(T(s, dir, "nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation")))
      val cents = round((col("l_extendedprice") * (lit(1.0) -
        col("l_discount"))) * lit(100.0)).cast("long")
      T(s, dir, "lineitem")
        .join(broadcast(T(s, dir, "part").filter(col("p_type") === "PROMO")
          .select("p_partkey")), col("l_partkey") === col("p_partkey"))
        .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(rk, col("c_nationkey") === col("crk"))
        .join(T(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(sn, col("s_nationkey") === col("snk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(sum(when(col("supp_nation") === "NATION_5", cents)
            .otherwise(0L)).as("nation_cents"),
          sum(cents).as("total_cents"))
        .withColumn("mkt_share",
          round(col("nation_cents").cast("double") /
            col("total_cents").cast("double"), 6))
        .orderBy("o_year")
    }, oracle = Some(
      """WITH base AS (
        |  SELECT year(o_orderdate) AS o_year, n1.n_name AS supp_nation,
        |    CAST(round((l_extendedprice * (1.0 - l_discount)) * 100.0)
        |      AS BIGINT) AS cents
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region ON n2.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  WHERE p_type = 'PROMO' AND r_name = 'ASIA'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN cents ELSE 0 END)
        |    AS BIGINT) AS nation_cents,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN cents
        |      ELSE 0 END) AS DOUBLE) / CAST(sum(cents) AS DOUBLE), 6)
        |    AS mkt_share
        |FROM base GROUP BY o_year ORDER BY o_year""".stripMargin)),
    // ── scale: TPC-H Q15 shape (top supplier) — the revenue view + scalar
    //    max becomes one aggregate re-joined through a broadcast 1-row
    //    frame; exact cents make the max tie-exact (oracle: DuckDB same
    //    SQL) ───────────────────────────────────────────────────────────────
    QuerySpec("q259_tpch_q15", (s, dir) => {
      val rev = T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1997-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(round((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          * lit(100.0)).cast("long")).as("total_revenue_cents"))
      val mx = rev.agg(max("total_revenue_cents").as("__mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue_cents") === col("__mx"))
        .join(broadcast(T(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue_cents"))
        .orderBy("s_suppkey")
    }, oracle = Some(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount))
        |      * 100.0) AS BIGINT)) AS BIGINT) AS total_revenue_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey),
        |mx AS (SELECT max(total_revenue_cents) AS m FROM rev)
        |SELECT s_suppkey, s_name, total_revenue_cents
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey CROSS JOIN mx
        |WHERE total_revenue_cents = mx.m
        |ORDER BY s_suppkey""".stripMargin)),
    // ── scale: TPC-H Q19 shape (disjunctive predicate revenue) — three
    //    OR'd brand/size/quantity branches in ONE scan-side filter (the
    //    optimizer must not expand to three scans); exact cents (oracle:
    //    DuckDB same SQL) ──────────────────────────────────────────────────
    QuerySpec("q260_tpch_q19", (s, dir) => {
      val li = T(s, dir, "lineitem")
        .join(broadcast(T(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
      val branch = (col("p_brand") === "Brand#1" &&
          col("p_size").between(1, 5) && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" &&
          col("p_size").between(1, 10) && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" &&
          col("p_size").between(1, 15) && col("l_quantity").between(20, 30))
      li.filter(branch)
        .agg(sum(round((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          * lit(100.0)).cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_rows"))
    }, oracle = Some(
      """SELECT
        |  CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 100.0)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),
    // ── scale: explicit GROUPING SETS through the spark.sql entry point
    //    — the four report granularities (type×dow, type, dow, grand) in
    //    ONE Expand pass where the naive form is four scans; q237/q241's
    //    completion on the SQL surface; integer-exact, q182's dow
    //    (oracle: DuckDB same GROUPING SETS) ───────────────────────────────
    QuerySpec("q262_grouping_sets", (s, dir) => {
      T(s, dir, "events").createOrReplaceTempView("events_gs")
      s.sql("""
        WITH b AS (SELECT event_type,
            CAST((unix_micros(ts) div 86400000000 + 3) % 7 + 1 AS INT)
              AS dow
          FROM events_gs)
        SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n,
          CAST(grouping(event_type) AS INT) AS g_type,
          CAST(grouping(dow) AS INT) AS g_dow
        FROM b GROUP BY GROUPING SETS ((event_type, dow), (event_type),
          (dow), ())
        ORDER BY g_type, g_dow, event_type NULLS FIRST, dow NULLS FIRST""")
    }, oracle = Some(
      """WITH b AS (SELECT event_type,
        |    CAST((epoch_us(ts) // 86400000000 + 3) % 7 + 1 AS INT) AS dow
        |  FROM events)
        |SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n,
        |  CAST(GROUPING(event_type) AS INT) AS g_type,
        |  CAST(GROUPING(dow) AS INT) AS g_dow
        |FROM b GROUP BY GROUPING SETS ((event_type, dow), (event_type),
        |  (dow), ())
        |ORDER BY g_type, g_dow, event_type NULLS FIRST,
        |  dow NULLS FIRST""".stripMargin)),
    // ── scale: contribution (percent-of-parent) report — each nation-year
    //    revenue with its share of the nation's total: the rollup-ratio
    //    view q107's subtotals feed; exact cents both levels, one division
    //    (oracle: DuckDB window replay) ────────────────────────────────────
    QuerySpec("q263_contribution", (s, dir) => {
      val rev = T(s, dir, "lineitem")
        .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(round((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          * lit(100.0)).cast("long")).as("cents"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("n_name")
      rev.withColumn("nation_cents", sum("cents").over(w))
        .withColumn("share", round(col("cents").cast("double") /
          col("nation_cents").cast("double"), 6))
        .orderBy("n_name", "o_year")
    }, oracle = Some(
      """WITH rev AS (
        |  SELECT n_name, year(o_orderdate) AS o_year,
        |    CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount))
        |      * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT n_name, o_year, cents,
        |  CAST(sum(cents) OVER (PARTITION BY n_name) AS BIGINT)
        |    AS nation_cents,
        |  round(CAST(cents AS DOUBLE) /
        |    CAST(sum(cents) OVER (PARTITION BY n_name) AS DOUBLE), 6)
        |    AS share
        |FROM rev ORDER BY n_name, o_year""".stripMargin)),
    // ── SQL surface: ranking/navigation window suite through the
    //    spark.sql entry point — ntile, percent_rank, cume_dist (exact
    //    rank-derived rationals), lag/lead, first_value and nth_value
    //    over one fully-tiebroken frame; the same ANSI text runs on both
    //    engines (oracle: verbatim) ────────────────────────────────────────
    QuerySpec("q291_window_suite", (s, dir) => {
      T(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(windowSuiteSql)
    }, oracle = Some(windowSuiteSql)),
    // ── SQL surface: set operations — INTERSECT / EXCEPT with DISTINCT
    //    and ALL multiplicities over deliberately-overlapping multisets
    //    (duplicated even keys vs %3 keys); the same ANSI text runs on
    //    both engines (oracle: verbatim) ───────────────────────────────────
    QuerySpec("q292_set_ops", (s, dir) => {
      T(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(setOpsSql)
    }, oracle = Some(setOpsSql)),
    // ── scale: pure-SQL pipeline through the registered native functions
    //    (GraftExtensions) — the spark.sql entrypoint IS the product
    //    surface too (oracle: DuckDB replays counts, shingles, and the
    //    canonicalization) ────────────────────────────────────────────────
    QuerySpec("q118_sql_pipeline", (s, dir) => {
      GraftExtensions.register(s)
      T(s, dir, "documents").createOrReplaceTempView("docs_v")
      s.sql("""
        SELECT doc_id,
          text_counts(text).tokens AS n_tokens,
          size(word_shingles(split(trim(lower(text)), '\\s+'), 3, true))
            AS n_shingles,
          md5(canonical_text(text)) AS fingerprint
        FROM docs_v ORDER BY doc_id""")
    }, oracle = Some(
      s"""SELECT doc_id,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         |  (SELECT len($shingle3Sql) FROM
         |    (SELECT string_split_regex(trim(lower(text)), '\\s+') AS toks))
         |    AS n_shingles,
         |  md5(regexp_replace(trim(
         |    regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')),
         |    '\\s+', ' ', 'g')) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin)),
    // ── scale: TPC-H Q3 shape (shipping priority) — selective dim filter
    //    pushed to the scan, star join, top-10 by exact cents revenue
    //    (oracle: DuckDB runs the same SQL) ────────────────────────────────
    QuerySpec("q116_tpch_q3", (s, dir) => {
      val cutoff = "1998-06-01"
      T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit(cutoff))
        .join(T(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > lit(cutoff))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(round((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          * lit(100.0)).cast("long")).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("revenue_cents"),
          col("o_orderdate"), col("o_orderpriority"))
    }, oracle = Some(
      """SELECT l_orderkey,
        |  CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 100.0)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue_cents DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin)),
    // ── scale: TPC-H Q10 shape (returned-item revenue) — who cost us the
    //    most in returns last quarter: 4-way join, broadcast nation dim,
    //    exact cents, top-20 via TakeOrderedAndProject (oracle: DuckDB
    //    runs the same SQL) ─────────────────────────────────────────────────
    QuerySpec("q199_tpch_q10", (s, dir) => {
      T(s, dir, "customer")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= lit("1998-01-01") &&
          col("o_orderdate") < lit("1998-04-01"))
        .join(T(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_returnflag") === "R")
        .join(broadcast(T(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(sum(round((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          * lit(100.0)).cast("long")).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue_cents", "c_acctbal", "n_name")
    }, oracle = Some(
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 100.0)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  c_acctbal, n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= '1998-01-01' AND o_orderdate < '1998-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin)),
    // ── scale: TPC-H Q6 (forecast-revenue filter) — the pure scan-side
    //    query: every predicate pushes to the parquet reader, one
    //    map-side-combined cents sum (oracle: DuckDB same SQL) ─────────────
    QuerySpec("q216_tpch_q6", (s, dir) => {
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01") &&
          col("l_shipdate") < lit("1999-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24.0)
        .agg(sum(round((col("l_extendedprice") * col("l_discount"))
          * lit(100.0)).cast("long")).as("revenue_cents"))
    }, oracle = Some(
      """SELECT CAST(sum(CAST(round((l_extendedprice * l_discount) * 100.0)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |WHERE l_shipdate >= '1998-01-01' AND l_shipdate < '1999-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),
    // ── scale: TPC-H Q14 (promo revenue share) — join to the part dim,
    //    conditional cents sums, exact-cents numerator/denominator
    //    (oracle: DuckDB same SQL) ──────────────────────────────────────────
    QuerySpec("q217_tpch_q14", (s, dir) => {
      val rev = round((col("l_extendedprice") *
        (lit(1.0) - col("l_discount"))) * lit(100.0)).cast("long")
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-03-01") &&
          col("l_shipdate") < lit("1998-04-01"))
        .join(T(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg(sum(when(col("p_type") === "PROMO", rev).otherwise(0L))
          .as("promo_cents"), sum(rev).as("total_cents"))
        .select(col("promo_cents"), col("total_cents"),
          round(col("promo_cents").cast("double") /
            col("total_cents").cast("double"), 6).as("promo_share"))
    }, oracle = Some(
      """WITH j AS (SELECT p_type,
        |    CAST(round((l_extendedprice * (1.0 - l_discount)) * 100.0)
        |      AS BIGINT) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= '1998-03-01' AND l_shipdate < '1998-04-01'),
        |a AS (SELECT
        |    CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
        |      AS BIGINT) AS promo_cents,
        |    CAST(sum(rev) AS BIGINT) AS total_cents
        |  FROM j)
        |SELECT promo_cents, total_cents,
        |  round(CAST(promo_cents AS DOUBLE) / CAST(total_cents AS DOUBLE), 6)
        |    AS promo_share
        |FROM a""".stripMargin)),
    // ── scale: TPC-H Q5 shape (local supplier volume) — six-way star join
    //    where customer and supplier share a nation, revenue per nation in
    //    exact cents (oracle: DuckDB runs the same SQL) ───────────────────
    QuerySpec("q117_tpch_q5", (s, dir) => {
      T(s, dir, "customer")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= lit("1998-01-01") &&
          col("o_orderdate") < lit("2000-01-01"))
        .join(T(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(T(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(T(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(round((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          * lit(100.0)).cast("long")).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("n_name"))
    }, oracle = Some(
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 100.0)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |  AND o_orderdate < TIMESTAMP '2000-01-01'
        |GROUP BY r_name, n_name
        |ORDER BY revenue_cents DESC, n_name""".stripMargin)),
    // ── scale: ROLLUP revenue report — hierarchical grouping sets over a
    //    broadcast-dim star join; revenue in exact integer cents so the
    //    subtotal doubles are engine-independent (oracle: DuckDB GROUP BY
    //    ROLLUP over the same fixed-order cents arithmetic) ───────────────
    QuerySpec("q107_rollup", (s, dir) => {
      val rev = T(s, dir, "lineitem")
        .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), year(col("o_orderdate")).as("o_year"),
          round((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            * lit(100.0)).cast("long").as("cents"))
      rev.rollup(col("n_name"), col("o_year"))
        .agg(sum("cents").as("revenue_cents"), count(lit(1)).as("n_items"))
        .orderBy(col("n_name").asc_nulls_first, col("o_year").asc_nulls_first)
    }, oracle = Some(
      """WITH rev AS (
        |  SELECT n_name, year(o_orderdate) AS o_year,
        |    CAST(round((l_extendedprice * (1.0 - l_discount)) * 100.0) AS BIGINT)
        |      AS cents
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey)
        |SELECT n_name, o_year, CAST(sum(cents) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_items
        |FROM rev GROUP BY ROLLUP (n_name, o_year)
        |ORDER BY n_name NULLS FIRST, o_year NULLS FIRST""".stripMargin)))

  /** q291/q292: ANSI texts shared verbatim between the Spark query (via
    * spark.sql) and the DuckDB oracle — the window-function and
    * set-operation surface demonstrated as raw SQL, not DataFrame code.
    * Every window is fully tiebroken; percent_rank/cume_dist are exact
    * rank-derived rationals rounded at 6. */
  private val windowSuiteSql: String =
    """SELECT o_orderkey,
      |  ntile(7) OVER w AS tile,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cume,
      |  lag(o_orderkey, 1) OVER w AS prev_key,
      |  lead(o_orderkey, 2) OVER w AS next2_key,
      |  first_value(o_orderkey) OVER w AS first_key,
      |  nth_value(o_orderkey, 3) OVER w AS third_key
      |FROM orders
      |WHERE o_orderkey <= 2000
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  private val setOpsSql: String =
    """WITH a AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL SELECT o_orderkey FROM orders
      |  WHERE o_orderkey % 4 = 0),
      |b AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 3 = 0)
      |SELECT 'intersect' AS op, k FROM (SELECT k FROM a INTERSECT
      |  SELECT k FROM b)
      |UNION ALL
      |SELECT 'intersect_all', k FROM (SELECT k FROM a INTERSECT ALL
      |  SELECT k FROM b)
      |UNION ALL
      |SELECT 'except', k FROM (SELECT k FROM b EXCEPT SELECT k FROM a)
      |UNION ALL
      |SELECT 'except_all', k FROM (SELECT k FROM a EXCEPT ALL
      |  SELECT k FROM b)
      |ORDER BY op, k""".stripMargin
}
