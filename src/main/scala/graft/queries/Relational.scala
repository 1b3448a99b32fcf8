package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/**
 * Relational query layer over the TPC-H-ish star schema (TESTDATA.md).
 * The reference has no joins or multi-column relations (SURVEY.md
 * §2.3 — "Joins: absent"); this layer exists because a complete engine
 * at 100 TB must also cover the relational taxonomy Catalyst provides:
 * hash aggregation with partial (map-side) combine, shuffle joins,
 * broadcast joins for small dimensions, and ranking windows.
 *
 * Scale posture:
 *  - dimension tables that stay small at any SF (region: 5, nation: 25)
 *    are explicitly broadcast — no shuffle of the fact table on their
 *    account;
 *  - fact-fact joins (orders ⋈ lineitem) shuffle on the join key and
 *    are left to AQE to re-plan (skew, local readers);
 *  - aggregates are declarative groupBy/agg → Catalyst emits partial
 *    aggregation before the exchange, so the shuffle carries one row
 *    per (partition × group), not per input row;
 *  - sums/avgs of doubles are rounded at the surface (summation order
 *    differs between engines; ulp noise must not break result compare).
 */
object Relational {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(spark, dir, name)

  /** TPC-H Q1-shaped pricing summary: scan-heavy, one wide aggregation.
    * The filter and the 7-column projection reach the parquet scan
    * (PushedFilters + ReadSchema) — the scan reads no other columns. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))), 4).as("sum_charge"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_extendedprice")), 6).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q6-shaped forecasting revenue: the canonical
    * pushdown-showcase query — a conjunctive range filter and a
    * two-column projection that must BOTH reach the parquet scan
    * (PushedFilters on shipdate/discount/quantity, ReadSchema of just
    * extendedprice+discount), then one partial-aggregated scalar. No
    * join, no window; at 100 TB this is scan-bandwidth-bound and
    * nothing else. */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        round(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q14-shaped promotion revenue share: one month of lineitem
    * joined to part on partkey, promo share of discounted revenue.
    * part scales with SF (not a broadcast-always dimension like
    * region/nation) — the join is declared plain and AQE decides
    * broadcast-vs-shuffle from runtime sizes; the month filter
    * prunes the fact side at the scan before any exchange. */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      .select(col("l_partkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("disc_price"))
    li.join(t(spark, dir, "part").select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      // spec-faithful prefix match (TPC-H p_type values are
      // multi-word, e.g. 'PROMO BURNISHED COPPER'; this testdata's
      // bare single-word categories match either way)
      .agg(round(
        lit(100.0) * sum(when(col("p_type").startsWith("PROMO"), col("disc_price"))
          .otherwise(lit(0.0))) / sum(col("disc_price")), 6).as("promo_revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q4-shaped order priority check: a correlated EXISTS
    * becomes a LEFT SEMI join carrying a NON-EQUI term alongside the
    * orderkey equality (this testdata has no commitdate/receiptdate,
    * so "late" is shipdate > orderdate + 60 days — same plan shape as
    * the spec's receipt>commit predicate). The date-range filter
    * prunes the orders scan; the semi join never duplicates orders
    * rows however many lineitems match — the count is over orders,
    * not the join product. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .join(t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))

  /** TPC-H Q12-shaped line status × priority matrix: one fact-fact
    * join (AQE decides broadcast-vs-shuffle from runtime sizes), then
    * conditional partial-combined counts — the CASE terms ride inside
    * the aggregate so the exchange carries one row per
    * (partition × l_linestatus), never the join product. (This
    * testdata has no l_shipmode; l_linestatus plays the group role.) */
  def q12PriorityLines(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linestatus"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(t(spark, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
  }

  /** TPC-H Q19-shaped discounted revenue: the disjunctive-pushdown
    * showcase — three (brand, size-range, quantity-range) conjuncts
    * OR-ed together across the lineitem ⋈ part join. Catalyst
    * extracts the common quantity envelope (1 ≤ l_quantity ≤ 30) and
    * the join-key null filters below the join, so each side prunes at
    * its scan before any exchange; the full disjunction evaluates
    * post-join. (No p_container/l_shipmode in this testdata — brand ×
    * size × quantity carries the disjunction.) */
  def q19DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#15" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .join(t(spark, dir, "part").select(col("p_partkey"), col("p_brand"), col("p_size")),
        col("p_partkey") === col("l_partkey"))
      .where(cond)
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q22-shaped global sales opportunity: customers with
    * above-average positive balance who never placed an order —
    * a SCALAR subquery (one broadcast row) gating the scan filter,
    * then an ANTI join against the fact table, then a small
    * aggregation. (No c_phone in this testdata; c_mktsegment plays
    * the cntrycode group role.) The anti join's build side is the
    * DISTINCT o_custkey projection — the fact table never crosses
    * the join as raw rows. */
  def q22NoOrderCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val avgBal = cust.where(col("c_acctbal") > 0)
      .agg(avg(col("c_acctbal")).as("avg_bal"))
    cust.crossJoin(broadcast(avgBal))
      .where(col("c_acctbal") > col("avg_bal"))
      .join(t(spark, dir, "orders").select(col("o_custkey")).distinct(),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        round(sum(col("c_acctbal")), 4).as("totacctbal"))
  }

  /** TPC-H Q3-shaped shipping priority: selective dimension filter,
    * two shuffle joins, revenue aggregation. customer is filtered
    * before the join so the orders join sees only the matching
    * segment. */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-03-15").cast("timestamp")
    val cust = t(spark, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = t(spark, dir, "orders")
      .where(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = t(spark, dir, "lineitem")
      .where(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
  }

  /** TPC-H Q5-shaped local-supplier revenue: the full snowflake join.
    * region and nation are broadcast (5 and 25 rows at ANY scale
    * factor); the fact-side joins shuffle and AQE re-plans at runtime. */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val nation = broadcast(t(spark, dir, "nation"))
    val region = broadcast(t(spark, dir, "region").where(col("r_name") === "ASIA"))
    val supp = t(spark, dir, "supplier")
    val cust = t(spark, dir, "customer")
    val ord = t(spark, dir, "orders")
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = t(spark, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
  }

  /** TPC-H Q7-shaped volume shipping: revenue between a nation PAIR
    * in both directions, by year. The nation dimension joins twice
    * (supplier side and customer side) — both broadcast — and the
    * pair filter is the OR of the two orientations, applied AFTER the
    * joins so Catalyst can still push each equality into its
    * broadcast hash join build. */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val n1 = broadcast(t(spark, dir, "nation")
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation")))
    val n2 = broadcast(t(spark, dir, "nation")
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation")))
    val li = t(spark, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
    li.join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(n1, col("s_nationkey") === col("s_nkey"))
      .join(n2, col("c_nationkey") === col("c_nkey"))
      .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
  }

  /** TPC-H Q10-shaped returned-item report: top 20 customers by
    * revenue lost to returns in one quarter. The heavy work is the
    * fact-side join + group; the top-k is TakeOrderedAndProject (no
    * global sort materializes). Deterministic tie-break on custkey. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val nation = broadcast(t(spark, dir, "nation"))
    val ord = t(spark, dir, "orders")
      .where(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
    val li = t(spark, dir, "lineitem").where(col("l_returnflag") === "R")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Ranking window: top-3 orders per customer by total price.
    * Deterministic tie-break on o_orderkey so the result set is unique
    * regardless of partitioning. */
  def w1TopOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 4).as("o_totalprice"), col("rn"))
  }

  /** Grouping-sets rollup: revenue by (priority, status) with
    * subtotals — exercises Catalyst's Expand-based grouping sets,
    * which the reference has no counterpart for (SURVEY.md §2.3). */
  def g1RollupRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(round(sum(col("o_totalprice")), 4).as("revenue"),
        count(lit(1)).as("n_orders"))

  /** Left-semi join (EXISTS): orders with at least one line shipped
    * after the order date + 90 days. */
  def j1SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem")
    ord.join(li,
        ord("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > ord("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 4).as("o_totalprice"))
  }

  /** Left-anti join (NOT EXISTS): customers with no orders. */
  def j2AntiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))

  /** Distinct aggregation: per order priority, distinct customers and
    * order count — Catalyst's Expand-based distinct-agg rewrite. */
  def a1DistinctAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        round(avg(col("o_totalprice")), 6).as("avg_price"))

  /** Cube grouping sets: all four (status × priority) subtotal
    * combinations in ONE pass — Catalyst's Expand replicates each input
    * row per grouping set before a single hash aggregation, so the scan
    * and shuffle happen once, not 2^k times. */
  def g2CubeRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(round(sum(col("o_totalprice")), 4).as("revenue"),
        count(lit(1)).as("n_orders"))

  /** Exact interpolated percentiles per group (sort-based aggregate —
    * the one aggregation family that cannot partial-combine; at scale
    * prefer approx_percentile, kept exact here for the oracle gate). */
  def a2Percentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"))

  /** Set operators (INTERSECT/EXCEPT DISTINCT): customers ordering in
    * both 1996 and 1997 vs only 1996. Both rewrite to joins over the
    * deduplicated key sets — no full-row shuffle. */
  def st1SetOps(spark: SparkSession, dir: String): DataFrame = {
    def custsIn(year: Int): DataFrame =
      t(spark, dir, "orders")
        .where(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey"))
    val y96 = custsIn(1996)
    val y97 = custsIn(1997)
    y96.intersect(y97).withColumn("tag", lit("both"))
      .unionByName(y96.except(y97).withColumn("tag", lit("only_1996")))
  }

  /** MULTISET set operations — the ALL variants st1's distinct forms
    * silently collapse: a customer with three 1996 orders and one
    * 1997 order appears TWICE in the except-all result (3 − 1) and
    * once in the intersect-all (min(3, 1)). Spark implements both as
    * a count-per-key aggregate + generate, not a distinct — the
    * shuffle carries one (key, count) row per customer, and the
    * multiplicity arithmetic happens post-exchange. The cardinality
    * bookkeeping matters for pipeline accounting (how many ORDER
    * slots, not which customers). */
  def st2MultisetOps(spark: SparkSession, dir: String): DataFrame = {
    def custsIn(year: Int): DataFrame =
      t(spark, dir, "orders")
        .where(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey"))
    val y96 = custsIn(1996)
    val y97 = custsIn(1997)
    y96.intersectAll(y97).withColumn("tag", lit("both_all"))
      .unionByName(y96.exceptAll(y97).withColumn("tag", lit("excess_1996")))
  }

  /** Percent-of-total window (ratio_to_report): each (status,
    * priority) cell's share of its STATUS total — the whole-partition
    * unordered window over an already-aggregated frame (one row per
    * cell, so the window input is tens of rows; the heavy lifting is
    * the partial-combined aggregate underneath). Cell revenues round
    * to 4dp BEFORE the partition sum and the share rounds to 6dp
    * AFTER the division — the q14 ratio discipline at both levels. */
  def w4RevenueShare(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
    t(spark, dir, "orders")
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(round(sum(col("o_totalprice")), 4).as("revenue"))
      .withColumn("status_share",
        round(col("revenue") / sum(col("revenue")).over(w), 6))
  }

  /** Column PROFILING (the data-quality pass every ingest pipeline
    * runs first): per numeric lineitem measure — row/present/distinct
    * counts and min/max — in ONE scan. The four countDistincts expand
    * to a multi-way aggregate under a single exchange; min/max are
    * emitted RAW (they are actual data values, identical on both
    * engines — rounding would only re-introduce the lesson-11
    * boundary exposure for nothing). The wide single-row aggregate
    * unpivots via `stack` into one row per column. */
  def pf1Profile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    // One two-level aggregation PER COLUMN instead of the single
    // multi-countDistinct aggregate: the old shape planned an Expand
    // (x5 rows — one replica per distinct column + one for the plain
    // aggregates) feeding one giant (gid, value) hash table, i.e.
    // every input row was copied five times and hashed wide
    // (measured 25.8 task-seconds at sf0.1). Per column, groupBy(c)
    // collapses map-side to the column's distinct values — the
    // parquet scan reads ONE column per branch (columnar pruning) —
    // and the one-row tails carry count(groups) = n_distinct,
    // sum(cnt) = n_rows, conditional sums for the null split, and
    // raw min/max. The four one-row frames cross-join (broadcast
    // nested loop over single rows) and unpivot via the same stack.
    // Exact integer counts and raw data-value min/max — results are
    // bit-identical to the old plan (guide §2.3: aggregate before
    // you shuffle; §4 analog: no row expansion in the hot path).
    val branches = cols.map { c =>
      t(spark, dir, "lineitem")
        .groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .agg(
          // coalesce: sum over ZERO groups is null where the old
          // count(...) forms returned 0 — empty-input exactness
          coalesce(sum(col("cnt")), lit(0L)).as(s"rows_$c"),
          coalesce(sum(when(col(c).isNotNull, col("cnt")).otherwise(lit(0L))),
            lit(0L)).as(s"n_$c"),
          count(when(col(c).isNotNull, lit(1))).as(s"d_$c"),
          min(col(c)).as(s"mn_$c"),
          max(col(c)).as(s"mx_$c"))
    }
    val stackArgs = cols
      .map(c => s"'$c', n_$c, d_$c, mn_$c, mx_$c").mkString(", ")
    branches.reduce(_ crossJoin _)
      .withColumn("n_rows", col(s"rows_${cols.head}"))
      .selectExpr("n_rows",
        s"stack(${cols.length}, $stackArgs) " +
          "AS (col_name, n_present, n_distinct, min_val, max_val)")
  }

  /** Wide→long UNPIVOT (melt) — the inverse of pv1's pivot, via the
    * native `Dataset.unpivot` operator (an Expand, one output row per
    * (input row × value column), no join, no union of scans).
    * Spark's unpivot KEEPS null cells and DuckDB's UNPIVOT drops
    * them, so the null filter is explicit on both engines. */
  def pv2Unpivot(spark: SparkSession, dir: String): DataFrame =
    pv1PivotRevenue(spark, dir)
      .withColumnsRenamed(Map("F" -> "f_rev", "O" -> "o_rev", "P" -> "p_rev"))
      .unpivot(
        Array(col("o_orderpriority")),
        Array(col("f_rev"), col("o_rev"), col("p_rev")),
        "status_col", "revenue")
      .where(col("revenue").isNotNull)

  /** Customer spend DECILES: ntile(10) over per-customer totals —
    * the decile/cohort segmentation every CRM query starts from.
    * ntile is pure integer bucket arithmetic over an ordering made
    * deterministic by the (total desc, custkey) tiebreak, so both
    * engines agree exactly; totals round to 4dp BEFORE ranking so the
    * order itself cannot ride on summation ulps. The window runs
    * over the per-customer aggregate (one row per customer), not raw
    * orders — and because the customer key is UNBOUNDED, the plain
    * window is promoted by [[graft.plans.RangeRankRewrite]] above the
    * `spark.graft.rangerank.minBytes` gate: the single-partition
    * window at gate scale, [[graft.plans.GlobalRankExec]] (no
    * single-partition stage) above it. Both plans emit identical
    * deciles on this total order. */
  def w5SpendDeciles(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val totals = t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 4).as("total_spend"))
    // long decile: Spark ntile is int32, DuckDB's is BIGINT — the
    // dtype-strict gate compares exactly (SURVEY §8 discipline)
    totals.withColumn("decile", ntile(10).over(
        Window.orderBy(col("total_spend").desc, col("o_custkey"))).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("total_spend")), 4).as("decile_spend"),
        round(min(col("total_spend")), 4).as("min_spend"),
        round(max(col("total_spend")), 4).as("max_spend"))
  }

  /** The gr1 rank-family SQL, shared VERBATIM by the Spark side and
    * the DuckDB oracle (only the table name differs): the whole
    * unpartitioned rank family over one total order. Spark rank
    * functions are int32 and DuckDB's are BIGINT, so every count-like
    * rank is CAST BIGINT in the SQL itself (dtype-strict gate);
    * percent_rank is the identical integer division on both engines,
    * rounded 6dp by discipline. */
  private def gr1Sql(table: String): String =
    s"""WITH t AS (SELECT o_custkey,
       |    ROUND(SUM(o_totalprice), 4) AS total_spend
       |  FROM $table GROUP BY o_custkey)
       |SELECT o_custkey, total_spend,
       |  CAST(row_number() OVER (ORDER BY total_spend DESC, o_custkey) AS BIGINT) AS rn,
       |  CAST(rank()       OVER (ORDER BY total_spend DESC, o_custkey) AS BIGINT) AS rk,
       |  CAST(dense_rank() OVER (ORDER BY total_spend DESC, o_custkey) AS BIGINT) AS dr,
       |  ROUND(percent_rank() OVER (ORDER BY total_spend DESC, o_custkey), 6) AS pr6,
       |  CAST(ntile(7)     OVER (ORDER BY total_spend DESC, o_custkey) AS BIGINT) AS tile
       |FROM t""".stripMargin

  /** The AUTOMATIC ranking rewrite ([[graft.plans.RangeRankRewrite]])
    * under the driver's hash gate: plain user SQL over the whole
    * unpartitioned rank family, with the size gate forced OPEN in an
    * ISOLATED session (`newSession` — the conf cannot leak into
    * sibling keys' gates), so the frame the oracle hashes is
    * [[graft.plans.GlobalRankExec]]'s output, not the single-partition
    * window's. Construction asserts the rewrite actually fired —
    * a silently-unrewritten plan would pass the hash (the paths are
    * value-identical on a total order) while gating nothing. */
  /** Shared harness for the gr-family rewrite-fired oracle keys: an
    * ISOLATED session (`newSession` — the forced-open gate must not
    * leak into sibling keys' gates), the orders table as a view, and
    * a construction-time assertion that the automatic rewrite
    * actually fired — a silently-unrewritten plan would pass the hash
    * (the paths are value-identical on these orders) while gating
    * nothing. */
  private def rewrittenOracle(spark0: SparkSession, dir: String,
      view: String, sql: String => String, tag: String): DataFrame = {
    val spark = spark0.newSession()
    graft.functions.GraftFunctions.register(spark)
    spark.conf.set(graft.operators.RangeRank.MinBytesKey, "0")
    t(spark, dir, "orders").createOrReplaceTempView(view)
    val df = spark.sql(sql(view))
    val plan = df.queryExecution.executedPlan.toString
    require(plan.contains("GlobalRank") && !plan.contains("SinglePartition"),
      s"$tag: the automatic rewrite did not fire:\n" + plan.take(2000))
    df
  }

  def gr1GlobalRankSql(spark0: SparkSession, dir: String): DataFrame =
    rewrittenOracle(spark0, dir, "gr1_orders", gr1Sql, "gr1")

  /** The gr2 running-aggregate SQL, shared VERBATIM by the Spark side
    * and the DuckDB oracle (only the table name differs): the
    * cumulative-revenue shape every analyst writes — daily totals then
    * SUM/COUNT/AVG/MIN/MAX OVER (ORDER BY day) with no PARTITION BY.
    * Group first so `d` is unique: the resolved default RANGE frame
    * then has no peer sets and every running value is deterministic.
    * Rounding discipline: running double sums round 4dp (this engine
    * adds partition prefix totals to local sums and DuckDB's window
    * sums use a segment tree — different association orders, same
    * ulp class as any partial aggregation), averages 6dp; the
    * day-count sum is CAST BIGINT against DuckDB's HUGEINT SUM. */
  private def gr2Sql(table: String): String =
    s"""WITH t AS (SELECT o_orderdate AS d,
       |    ROUND(SUM(o_totalprice), 4) AS rev,
       |    COUNT(*) AS n
       |  FROM $table GROUP BY o_orderdate)
       |SELECT d, rev,
       |  ROUND(SUM(rev) OVER (ORDER BY d), 4) AS cum_rev,
       |  COUNT(*) OVER (ORDER BY d) AS cum_days,
       |  ROUND(AVG(rev) OVER (ORDER BY d), 6) AS cum_avg_rev,
       |  ROUND(MIN(rev) OVER (ORDER BY d), 4) AS min_day_rev,
       |  ROUND(MAX(rev) OVER (ORDER BY d), 4) AS max_day_rev,
       |  CAST(SUM(n) OVER (ORDER BY d) AS BIGINT) AS cum_orders
       |FROM t""".stripMargin

  /** The AUTOMATIC running-aggregate rewrite ([[graft.plans
    * .RangeRankRewrite]] extended to SUM/COUNT/AVG/MIN/MAX OVER
    * (ORDER BY ...), VERDICT r15 item 1) under the driver's hash
    * gate: plain user SQL over one global cumulative frame, gate
    * forced OPEN in an ISOLATED session, so the frame the oracle
    * hashes is [[graft.plans.GlobalRankExec]]'s prefix-offset output —
    * one range exchange, no SinglePartition stage. Construction
    * asserts the rewrite actually fired — a silently-unrewritten plan
    * would pass the hash (the paths agree on a total order) while
    * gating nothing. */
  def gr2RunningTotalsSql(spark0: SparkSession, dir: String): DataFrame =
    rewrittenOracle(spark0, dir, "gr2_orders", gr2Sql, "gr2")

  /** The gr3 offset-function SQL, shared VERBATIM with the DuckDB
    * oracle: day-over-day diff / percent change / week-ago lookback /
    * next-day lookahead / global first — the `shift/diff/pct_change`
    * family (r5's shape) through plain window SQL. `d` is unique
    * after the GROUP BY, so every offset value is deterministic; the
    * division rounds 6dp, everything else rides the already-4dp daily
    * totals. */
  private def gr3Sql(table: String): String =
    s"""WITH t AS (SELECT o_orderdate AS d,
       |    ROUND(SUM(o_totalprice), 4) AS rev
       |  FROM $table GROUP BY o_orderdate)
       |SELECT d, rev,
       |  ROUND(rev - lag(rev, 1) OVER (ORDER BY d), 4) AS dod_diff,
       |  ROUND(rev / lag(rev, 1) OVER (ORDER BY d) - 1.0e0, 6) AS dod_pct,
       |  lag(rev, 7, -1.0e0) OVER (ORDER BY d) AS rev_w_ago,
       |  lead(rev, 1) OVER (ORDER BY d) AS rev_next,
       |  first_value(rev) OVER (ORDER BY d) AS first_day_rev
       |FROM t""".stripMargin

  /** The gr4 SQL: the REST of the supported family under the hash
    * gate — cume_dist (run-buffered numerator), first_value /
    * last_value (First/Last running accumulators), ntile — over the
    * same unique daily order key, shared VERBATIM with DuckDB. */
  private def gr4Sql(table: String): String =
    s"""WITH t AS (SELECT o_orderdate AS d,
       |    ROUND(SUM(o_totalprice), 4) AS rev
       |  FROM $table GROUP BY o_orderdate)
       |SELECT d, rev,
       |  ROUND(cume_dist() OVER (ORDER BY d), 6) AS cd6,
       |  first_value(rev) OVER (ORDER BY d) AS first_rev,
       |  last_value(rev)  OVER (ORDER BY d) AS last_rev,
       |  CAST(ntile(12)   OVER (ORDER BY d) AS BIGINT) AS twelfth
       |FROM t""".stripMargin

  /** cume_dist/first_value/last_value through the automatic rewrite
    * under the driver's hash gate — same isolated-session +
    * fired-plan discipline as gr1–gr3. */
  def gr4DistFirstLastSql(spark0: SparkSession, dir: String): DataFrame =
    rewrittenOracle(spark0, dir, "gr4_orders", gr4Sql, "gr4")

  /** The AUTOMATIC lag/lead/first_value rewrite (round-16 extension
    * of [[graft.plans.RangeRankRewrite]]) under the driver's hash
    * gate — same isolated-session + fired-plan discipline as gr1/gr2.
    * Offset functions carry only |shift|-bounded boundary-row slices
    * between range partitions, so the plan stays one range exchange
    * with no SinglePartition stage. */
  def gr3ShiftDiffSql(spark0: SparkSession, dir: String): DataFrame =
    rewrittenOracle(spark0, dir, "gr3_orders", gr3Sql, "gr3")

  /** The gr5 bounded-ROWS-frame SQL (VERDICT r16 item 2), shared
    * VERBATIM with the DuckDB oracle: the 7-day moving sum/average,
    * 4-day moving min/max and 30-day moving count over daily revenue —
    * the moving-average shape, arguably more common than the
    * cumulative one. `d` is unique after the GROUP BY so every frame
    * is deterministic; rounding rides the gr2 discipline (sums 4dp,
    * averages 6dp; the engine replays each frame oldest-first exactly
    * as the plain window's SlidingWindowFunctionFrame does). */
  private def gr5Sql(table: String): String =
    s"""WITH t AS (SELECT o_orderdate AS d,
       |    ROUND(SUM(o_totalprice), 4) AS rev
       |  FROM $table GROUP BY o_orderdate)
       |SELECT d, rev,
       |  ROUND(SUM(rev) OVER (ORDER BY d
       |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7_sum,
       |  ROUND(AVG(rev) OVER (ORDER BY d
       |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7_avg,
       |  ROUND(MIN(rev) OVER (ORDER BY d
       |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS min4,
       |  ROUND(MAX(rev) OVER (ORDER BY d
       |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS max4,
       |  COUNT(*) OVER (ORDER BY d
       |    ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS n30
       |FROM t""".stripMargin

  /** Bounded ROWS frames through the automatic rewrite under the
    * driver's hash gate — same isolated-session + fired-plan
    * discipline as gr1–gr4. The k-PRECEDING frames ride the SAME
    * boundary tail slices lag uses, so the plan stays one range
    * exchange with no SinglePartition stage. */
  def gr5MovingFramesSql(spark0: SparkSession, dir: String): DataFrame =
    rewrittenOracle(spark0, dir, "gr5_orders", gr5Sql, "gr5")

  /** The gr6 variance-class SQL (VERDICT r16 item 3), shared VERBATIM
    * with the DuckDB oracle: running stddev/variance (samp + pop) over
    * daily revenue. Quantization discipline: revenue is normalized to
    * millions FIRST (both engines divide the identical 4dp double by
    * the same constant), so values sit near 1 and the 6dp rounding is
    * ~7 orders of magnitude above the Welford-vs-Chan-merge ulp
    * spread; the n==1 first row is null for the samp forms on BOTH
    * engines (Spark's modern nullOnDivideByZero, DuckDB's NULL). The
    * pass-through column stays the RAW 4dp rev (gr2's shape): a
    * re-round of rev/1e6 at 6dp hits decimal half-way cases where the
    * engines' double-ROUND tie-breaking differs. */
  private def gr6Sql(table: String): String =
    s"""WITH t AS (SELECT o_orderdate AS d,
       |    ROUND(SUM(o_totalprice), 4) AS rev
       |  FROM $table GROUP BY o_orderdate)
       |SELECT d, rev,
       |  ROUND(STDDEV_SAMP(rev / 1000000.0) OVER (ORDER BY d), 6) AS sd_samp,
       |  ROUND(STDDEV_POP(rev / 1000000.0)  OVER (ORDER BY d), 6) AS sd_pop,
       |  ROUND(VAR_SAMP(rev / 1000000.0)    OVER (ORDER BY d), 6) AS v_samp,
       |  ROUND(VAR_POP(rev / 1000000.0)     OVER (ORDER BY d), 6) AS v_pop
       |FROM t""".stripMargin

  /** Welford-class running aggregates through the automatic rewrite
    * under the driver's hash gate — same isolated-session +
    * fired-plan discipline as gr1–gr5. The (n, mean, M2) state
    * prefix-combines with Chan's merge, Spark's own CentralMomentAgg
    * contract. */
  def gr6RunningStddevSql(spark0: SparkSession, dir: String): DataFrame =
    rewrittenOracle(spark0, dir, "gr6_orders", gr6Sql, "gr6")

  /** The gr7 decimal running-sum SQL (VERDICT r16 item 5 — money
    * columns are the most common SUM input in the wild), shared
    * VERBATIM with the DuckDB oracle: the cumulative and 7-day moving
    * sums over DECIMAL(18,4) daily revenue. The engine accumulates in
    * unbounded BigDecimal space (exact — no association-order caveat
    * at all), so the only portability step is the final CAST to
    * DOUBLE: the cumulative sum stays below 2^53 in scaled units,
    * making the double exact and the 4dp round an identity on both
    * engines (Spark's sum is DECIMAL(28,4), DuckDB's DECIMAL(38,4) —
    * the CAST also collapses that dtype gap for the strict gate). */
  private def gr7Sql(table: String): String =
    s"""WITH t AS (SELECT o_orderdate AS d,
       |    CAST(ROUND(SUM(o_totalprice), 4) AS DECIMAL(18,4)) AS revd
       |  FROM $table GROUP BY o_orderdate)
       |SELECT d, CAST(revd AS DOUBLE) AS rev,
       |  ROUND(CAST(SUM(revd) OVER (ORDER BY d) AS DOUBLE), 4) AS cum_rev_dec,
       |  ROUND(CAST(SUM(revd) OVER (ORDER BY d
       |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS ma7_dec
       |FROM t""".stripMargin

  /** Decimal running sums through the automatic rewrite under the
    * driver's hash gate — same isolated-session + fired-plan
    * discipline as gr1–gr6. */
  def gr7DecimalSumsSql(spark0: SparkSession, dir: String): DataFrame =
    rewrittenOracle(spark0, dir, "gr7_orders", gr7Sql, "gr7")

  /** The gr8 nth_value SQL (round-17 exclusion-list shrink), shared
    * VERBATIM with the DuckDB oracle: the running 3rd/10th daily
    * revenue value. `d` is unique after the GROUP BY so the frame
    * dialect gap is moot (Spark pins nth_value to the ROWS running
    * frame, DuckDB defaults to the standard's RANGE form — identical
    * on a total order); rows before the n-th are NULL on both
    * engines. Values ride the already-4dp daily totals, so no extra
    * rounding is needed. */
  private def gr8Sql(table: String): String =
    s"""WITH t AS (SELECT o_orderdate AS d,
       |    ROUND(SUM(o_totalprice), 4) AS rev
       |  FROM $table GROUP BY o_orderdate)
       |SELECT d, rev,
       |  nth_value(rev, 3)  OVER (ORDER BY d) AS third_rev,
       |  nth_value(rev, 10) OVER (ORDER BY d) AS tenth_rev
       |FROM t""".stripMargin

  /** nth_value through the automatic rewrite under the driver's hash
    * gate — same isolated-session + fired-plan discipline as gr1–gr7.
    * The running n-th value carries only an n-bounded value buffer per
    * partition (first n qualifying prefix values), capped by the same
    * maxOffset gate as lag/lead. */
  def gr8NthValueSql(spark0: SparkSession, dir: String): DataFrame =
    rewrittenOracle(spark0, dir, "gr8_orders", gr8Sql, "gr8")

  /** The gr9 decimal running-average SQL (round-17 composition: the
    * exec carries Average's own exact sum + count buffers, the output
    * is Spark's own evaluateExpression), shared VERBATIM with the
    * DuckDB oracle. Portability: Spark divides the EXACT decimal sum
    * at scale 8 (result DECIMAL(22,8)) then casts to double, while
    * DuckDB's AVG(DECIMAL) divides in double space — the two can land
    * ~5e-9 apart on non-terminating quotients, so the gate rounds at
    * 2dp (boundary-hit probability ~1e-6 per row, vs ~1e-4 at 4dp);
    * the exact-halfway terminating quotients (even day counts) give
    * both engines the SAME nearest double and agree at any scale. */
  private def gr9Sql(table: String): String =
    s"""WITH t AS (SELECT o_orderdate AS d,
       |    CAST(ROUND(SUM(o_totalprice), 4) AS DECIMAL(18,4)) AS revd
       |  FROM $table GROUP BY o_orderdate)
       |SELECT d, CAST(revd AS DOUBLE) AS rev,
       |  ROUND(CAST(AVG(revd) OVER (ORDER BY d) AS DOUBLE), 2) AS cum_avg_dec
       |FROM t""".stripMargin

  /** Decimal running AVG through the automatic rewrite under the
    * driver's hash gate — same isolated-session + fired-plan
    * discipline as gr1–gr8. */
  def gr9DecimalAvgSql(spark0: SparkSession, dir: String): DataFrame =
    rewrittenOracle(spark0, dir, "gr9_orders", gr9Sql, "gr9")

  /** The gr10 IGNORE NULLS offset SQL (round-18 exclusion-list
    * shrink): the forward-fill idiom — `lag(x, k) IGNORE NULLS` over a
    * sparse column (non-null on ~1/7 of rows, so null runs straddle
    * every range boundary), plus the lead direction and literal
    * defaults. The ONLY engine difference is the parse position of
    * the modifier (Spark: `lag(v, 1) IGNORE NULLS OVER`; DuckDB:
    * `lag(v, 1 IGNORE NULLS) OVER`), so the body is shared and the
    * modifier is injected per dialect. `k` is unique — every offset
    * value is deterministic. No arithmetic happens on the values
    * (offsets copy input doubles bit-for-bit), so no rounding. */
  private def gr10Sql(table: String, duck: Boolean): String = {
    def f(fn: String, args: String): String =
      if (duck) s"$fn($args IGNORE NULLS)" else s"$fn($args) IGNORE NULLS"
    s"""WITH t AS (SELECT o_orderkey AS k,
       |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice END AS v,
       |    CASE WHEN o_orderkey % 13 = 0 THEN o_orderpriority END AS c
       |  FROM $table)
       |SELECT k,
       |  ${f("lag", "v, 1")}        OVER (ORDER BY k) AS ff,
       |  ${f("lag", "v, 3, -1.0")}  OVER (ORDER BY k) AS l3,
       |  ${f("lag", "c, 2")}        OVER (ORDER BY k) AS lc,
       |  ${f("lead", "v, 1")}       OVER (ORDER BY k) AS n1,
       |  ${f("lead", "v, 2, -1.0")} OVER (ORDER BY k) AS n2
       |FROM t""".stripMargin
  }

  /** IGNORE NULLS lag/lead through the automatic rewrite under the
    * driver's hash gate — same isolated-session + fired-plan
    * discipline as gr1–gr9. Lag-nn state is the last-k-non-null
    * per-column boundary slice; lead-nn rows pend until their k-th
    * following non-null arrives (suffix slices at drain). */
  def gr10IgnoreNullsSql(spark0: SparkSession, dir: String): DataFrame =
    rewrittenOracle(spark0, dir, "gr10_orders", gr10Sql(_, duck = false), "gr10")

  /** The gr11 value-bounded RANGE frame SQL (round-18 exclusion-list
    * shrink), shared VERBATIM with the DuckDB oracle: the time-windowed
    * trailing aggregate — `RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND
    * CURRENT ROW` over the daily revenue series (the moving-average
    * idiom the ROWS form cannot express when days are missing). `d` is
    * unique after the GROUP BY so the peer-absorption rule is moot
    * here (tie runs are spec'd separately); window double sums merge
    * per-run subtotals vs the plain engines' sequential re-adds — the
    * documented partial-aggregation ulp class, absorbed by ROUND
    * (gr2's discipline); the count is CAST BIGINT against DuckDB's
    * HUGEINT. */
  private def gr11Sql(table: String): String =
    s"""WITH t AS (SELECT o_orderdate AS d,
       |    ROUND(SUM(o_totalprice), 4) AS rev
       |  FROM $table GROUP BY o_orderdate)
       |SELECT d, rev,
       |  ROUND(SUM(rev) OVER (ORDER BY d
       |    RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW), 4) AS ma7,
       |  CAST(COUNT(*) OVER (ORDER BY d
       |    RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS n7,
       |  ROUND(AVG(rev) OVER (ORDER BY d
       |    RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW), 6) AS avg7,
       |  ROUND(MIN(rev) OVER (ORDER BY d
       |    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW), 4) AS min30,
       |  ROUND(MAX(rev) OVER (ORDER BY d
       |    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW), 4) AS max30
       |FROM t""".stripMargin

  /** Value-bounded RANGE frames through the automatic rewrite under
    * the driver's hash gate — same isolated-session + fired-plan
    * discipline as gr1–gr10. Cross-partition state is the per-run
    * compacted (key, accumulator) deque of runs still within the value
    * window of each partition's last key. */
  def gr11RangeFrameSql(spark0: SparkSession, dir: String): DataFrame =
    rewrittenOracle(spark0, dir, "gr11_orders", gr11Sql, "gr11")

  /** The gr12 TRY-sum SQL (round-18 exclusion-list shrink): running
    * try_sum is STICKY-NULL from the first prefix overflow on
    * (probe-verified; the buffer's checked add fails once and
    * null + x stays null), bounded frames re-accumulate and recover
    * per frame. DuckDB has no try_sum, so the oracle computes the
    * sums in HUGEINT and nulls the out-of-range ones — equivalent to
    * the PATH-based semantics exactly because the values are all
    * NON-NEGATIVE (a monotone accumulation path's maximum IS its
    * total, so total-out-of-range ⇔ path-ever-out-of-range, and the
    * monotone running sum never comes back in range — stickiness for
    * free). The oscillating/cancelling cases where path and total
    * diverge are the dedicated spec's job (vs the plain window,
    * bit-for-bit). Four adjacent 2.6e18 spikes every 97 keys push
    * 10-row frames past Long.Max (frames covering all four null,
    * others recover) and make the running sum cross at ~k=100. */
  private def gr12Sql(table: String, duck: Boolean): String = {
    val t =
      s"""WITH t AS (SELECT o_orderkey AS k,
         |    CASE WHEN o_orderkey % 97 < 4 THEN 2600000000000000000
         |         ELSE o_orderkey END AS v
         |  FROM $table)""".stripMargin
    if (!duck)
      s"""$t
         |SELECT k,
         |  try_sum(v) OVER (ORDER BY k) AS ts_run,
         |  try_sum(v) OVER (ORDER BY k
         |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS ts_mv10
         |FROM t""".stripMargin
    else
      s"""$t,
         |r AS (SELECT k,
         |    SUM(CAST(v AS HUGEINT)) OVER (ORDER BY k) AS run,
         |    SUM(CAST(v AS HUGEINT)) OVER (ORDER BY k
         |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS mv
         |  FROM t)
         |SELECT k,
         |  CASE WHEN run > 9223372036854775807 THEN NULL
         |       ELSE CAST(run AS BIGINT) END AS ts_run,
         |  CASE WHEN mv > 9223372036854775807 THEN NULL
         |       ELSE CAST(mv AS BIGINT) END AS ts_mv10
         |FROM r""".stripMargin
  }

  /** TRY-mode long sums through the automatic rewrite under the
    * driver's hash gate — same isolated-session + fired-plan
    * discipline as gr1–gr11. The accumulator carries 128-bit path
    * extremes under the sequential-combine contract, so stickiness
    * crosses partition boundaries even when the overflow cancels
    * back inside one partition (spec'd). */
  def gr12TrySumSql(spark0: SparkSession, dir: String): DataFrame =
    rewrittenOracle(spark0, dir, "gr12_orders", gr12Sql(_, duck = false), "gr12")

  /** The gr13 year-month RANGE frame SQL (round-19 exclusion-list
    * shrink — the LAST user-plausible global-window exclusion),
    * shared VERBATIM with the DuckDB oracle: monthly/quarterly
    * trailing aggregates over the daily revenue series. The frame
    * bound is CALENDAR arithmetic (`d - INTERVAL 1 MONTH` with
    * end-of-month clamping — both engines clamp Mar 31 − 1 month to
    * Feb 28/29), which [[graft.plans.MonthsRangeDelta]] evaluates per
    * row via the plain window's own `DateTimeUtils.dateAddMonths`.
    * Same rounding discipline as gr11 (double window sums 4dp, counts
    * CAST BIGINT against DuckDB's HUGEINT) — EXCEPT the average,
    * which runs over integer CENTS: a ~31-day window frequently holds
    * exactly 32 = 2^5 days, and a 2-dp revenue sum divided by 32
    * terminates at 7 decimal digits, parking the true value EXACTLY
    * on the 6-dp rounding tie where each engine's summation-order
    * epsilon decides the direction (found by this key's first gate
    * run: 153/2399 rows off by 1e-6). Integer sums are exact in
    * double under ANY association; the quotient is then bit-identical
    * on both engines, and 5 dp is the precision where NO tie is
    * reachable: /2^k expansions (k <= 5 for a <= 32-day window) have
    * <= 5 digits (on-grid, round = identity), and any odd-divisor
    * quotient sits >= 1/(2·count)·1e-5 ~ 1.6e-7 from a boundary —
    * two orders above the ~3e-8 ulp at the 1.3e8 cents magnitude
    * where Spark's shortest-repr HALF_UP and DuckDB's multiply-round
    * can disagree (6 dp put the boundary INSIDE that ulp: 4 rows). */
  private def gr13Sql(table: String): String =
    s"""WITH t AS (SELECT o_orderdate AS d,
       |    ROUND(SUM(o_totalprice), 4) AS rev,
       |    CAST(ROUND(SUM(o_totalprice) * 100) AS BIGINT) AS cents
       |  FROM $table GROUP BY o_orderdate)
       |SELECT d, rev,
       |  ROUND(SUM(rev) OVER (ORDER BY d
       |    RANGE BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW), 4) AS ma1m,
       |  CAST(COUNT(*) OVER (ORDER BY d
       |    RANGE BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW) AS BIGINT) AS n1m,
       |  ROUND(AVG(cents) OVER (ORDER BY d
       |    RANGE BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW), 5) AS avg1m_cents,
       |  ROUND(MIN(rev) OVER (ORDER BY d
       |    RANGE BETWEEN INTERVAL 3 MONTH PRECEDING AND CURRENT ROW), 4) AS min3m,
       |  ROUND(MAX(rev) OVER (ORDER BY d
       |    RANGE BETWEEN INTERVAL 3 MONTH PRECEDING AND CURRENT ROW), 4) AS max3m
       |FROM t""".stripMargin

  /** Year-month RANGE frames through the automatic rewrite under the
    * driver's hash gate — same isolated-session + fired-plan
    * discipline as gr1–gr12. Cross-partition state is gr11's per-run
    * compacted deque; eviction is sequential-sticky on both engines,
    * which is what keeps calendar bounds (non-monotone across DST
    * gaps) exact — see [[graft.plans.MonthsRangeDelta]]. */
  def gr13MonthRangeSql(spark0: SparkSession, dir: String): DataFrame =
    rewrittenOracle(spark0, dir, "gr13_orders", gr13Sql, "gr13")

  /** Calendar seasonality: revenue by day-of-week. The trap this key
    * pins: weekday NUMBERING is engine-specific (Spark `weekday` is
    * Monday=0; Spark `dayofweek` is Sunday=1; DuckDB `dow` is
    * Sunday=0, `isodow` Monday=1) — the portable form is Spark
    * weekday == DuckDB isodow − 1, asserted by the gate. */
  def cal1DowRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(weekday(col("o_orderdate")).as("dow"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("revenue"))

  /** Correlated scalar subquery (orders above their customer's average
    * order value): Catalyst decorrelates the inner aggregate into a
    * grouped join — demonstrating the rewrite the reference engine
    * has no counterpart for. Expressed in SQL because the DataFrame
    * API has no correlated-subquery surface. */
  def sq1AboveCustomerAvg(spark: SparkSession, dir: String): DataFrame =
    // ROUND(avg,6) on BOTH engines: double summation order differs
    // between Spark's partial aggregation and DuckDB's sequential scan,
    // and an unrounded average could flip a boundary row at some scale
    // factor (this module's rounding invariant, lines 25-27).
    spark.sql(
      s"""SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 4) AS o_totalprice
         |FROM parquet.`$dir/orders.parquet` o
         |WHERE o_totalprice > (
         |  SELECT ROUND(avg(o2.o_totalprice), 6)
         |  FROM parquet.`$dir/orders.parquet` o2
         |  WHERE o2.o_custkey = o.o_custkey)""".stripMargin)

  /** Left-outer join with aggregate-before-join: order count and spend
    * per customer INCLUDING zero-order customers. Orders are reduced to
    * one row per customer before the join, so the outer join moves
    * |customers| + |distinct custkeys| rows — never the raw fact
    * table — and the null-side is filled deterministically. */
  def j3OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val ordAgg = t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("spend"))
    t(spark, dir, "customer")
      .join(ordAgg, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_mktsegment"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        round(coalesce(col("spend"), lit(0.0)), 4).as("total_spent"))
  }

  /** Ranking-window suite beyond row_number: lag/lead (inter-row
    * offsets), ntile (equi-depth bucketing), cume_dist — all over ONE
    * window sort, so the physical plan pays a single exchange + sort
    * regardless of how many ranking functions ride it. Ordering is
    * made total (price desc, key) so every function is deterministic
    * under ties. */
  def w2RankSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct", round(cume_dist().over(w), 6))
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 4).as("o_totalprice"),
        round(col("prev_price"), 4).as("prev_price"),
        round(col("next_price"), 4).as("next_price"),
        col("quartile"), col("pct"))
  }

  /** TPC-H Q18-shaped large-volume orders: IN over an aggregated
    * subquery with HAVING. Catalyst plans the IN as a left-semi join
    * against the (already partial-combined) aggregate — the fact
    * table is filtered by a reduced key set, never joined raw. */
  def q18VolumeOrders(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .where(col("sum_qty") > 150)
      .select(col("l_orderkey"))
    t(spark, dir, "orders")
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        round(col("o_totalprice"), 4).as("o_totalprice"))
  }

  /** TPC-H Q13-shaped customer order-count distribution: how many
    * customers placed exactly N orders, INCLUDING the zero-order
    * customers a plain inner join would drop — the left-outer +
    * count(non-null key) idiom (count(o_orderkey) is 0 for the
    * null-extended rows). Two exchanges: the custkey join (AQE
    * broadcast-or-shuffle from runtime sizes) and the second-level
    * aggregation, whose key domain is the distinct order COUNTS —
    * tens of values at any SF, so the final exchange carries one row
    * per (partition × count), never per customer. (This testdata has
    * no o_comment, so the spec's NOT LIKE '%special%requests%' filter
    * has no column to act on; the distribution shape is the pattern
    * under test.) */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(col("c_custkey"))
      .join(t(spark, dir, "orders").select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** WEIGHTED median unit price (weight = quantity shipped): the
    * exact cumulative-weight pick — smallest price whose running
    * weight reaches half the total — not an interpolating quantile.
    * Shape: pre-aggregate to one row per (group, price) so the
    * cumulative order is unambiguous, one window sort per group, then
    * an ordinary min-aggregate over the qualifying suffix. The
    * pre-aggregation is the scale lever: the window runs over
    * DISTINCT prices per group, not raw lineitems, and the exchange
    * key (returnflag) carries partial-combined weight sums.
    *
    * Float discipline: l_quantity is integer-valued in this data
    * (asserted in the spec), so weight sums are exact in double in
    * ANY order; the running sum and the `cum >= total/2` comparison
    * are therefore bit-identical across engines, no rounding needed
    * before the final display round. `total` is read off as the LAST
    * running-sum value (max over the partition) rather than a second
    * unordered sum, so both engines compare against the same double
    * even if weights were ever fractional. */
  def wm1WeightedMedian(spark: SparkSession, dir: String): DataFrame =
    weightedMedian(t(spark, dir, "lineitem"),
      group = "l_returnflag", value = "l_extendedprice", weight = "l_quantity")

  /** Generic form of [[wm1WeightedMedian]]: smallest `value` whose
    * cumulative `weight` (ordered by value) reaches half the group
    * total. */
  def weightedMedian(
      df: DataFrame, group: String, value: String, weight: String): DataFrame = {
    // the cumulative window rides RangeRank.withGroupedRunningSum:
    // below the size gate it IS the historical two-window plan
    // (partitioned by the low-cardinality group — bit-identical at
    // bench SF); above it the range-partitioned prefix-sum form keeps
    // the window off the 3-straggler-task shape (guide §2.5; r20
    // "Not yet optimized" item)
    graft.operators.RangeRank.withGroupedRunningSum(
        df.groupBy(col(group), col(value)).agg(sum(col(weight)).as("w")),
        "cum_w", "tot_w", group, Seq(col(value)), col("w"), sizeOf = df)
      .where(col("cum_w") >= col("tot_w") / 2.0)
      .groupBy(col(group))
      .agg(round(min(col(value)), 4).as("weighted_median"),
        round(min(col("tot_w")), 4).as("total_weight"))
  }

  /** TPC-H Q15-shaped top supplier: quarterly revenue per supplier,
    * then the supplier(s) achieving the maximum — the create-view +
    * scalar-subquery pattern as one plan. The revenue aggregate is
    * rounded to 4dp BEFORE the max/equality so the cross-engine
    * compare never rides on summation-order ulps (the repo's standard
    * rounded-aggregate discipline). Shape: one partial-combined
    * aggregation over the date-pruned lineitem scan, a single-row max
    * broadcast back over the per-supplier frame (broadcast nested
    * loop over ~N_supp rows), and a broadcast join to the supplier
    * dimension for the name. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    // barrier: the per-supplier revenue frame feeds BOTH the max
    // subquery and the equality filter — without it Catalyst inlines
    // the aggregation twice and the date-pruned fact scans twice
    val rev = graft.Materialize.barrier(t(spark, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("total_revenue")))
    val mx = rev.agg(max(col("total_revenue")).as("mx"))
    rev.join(broadcast(mx), col("total_revenue") === col("mx"))
      .join(broadcast(t(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** TPC-H Q17-shaped small-quantity revenue: lineitems whose
    * quantity is under 20% of their part's average quantity — the
    * correlated-average pattern as a group-aggregate joined back to
    * the fact (the decorrelation Catalyst/DuckDB both apply to the
    * spec's subquery, written explicitly). The per-part average is
    * computed as sum/count — l_quantity is integer-valued (asserted
    * in the spec), so the sum is EXACT in double in any order and the
    * single division is the identical IEEE op on both engines; no
    * rounding touches the 0.2× filter boundary at all (round(avg, 6)
    * would re-open the lesson-11 half-boundary exposure for 2^k-sized
    * parts). The part-keyed aggregate
    * and the part-keyed join share a shuffle key, and the final
    * aggregate is a single global row. */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val avgQ = li.groupBy(col("l_partkey"))
      .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    li.join(avgQ, Seq("l_partkey"))
      .where(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(round(sum(col("l_extendedprice")) / lit(7.0), 4).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q8-shaped national market share: of the revenue on
    * STANDARD-type parts sold to ASIA-region customers in 1996–1997,
    * what fraction came from NATION_2 suppliers, per order year. The
    * widest join pattern in the suite — the nation dimension plays
    * TWO roles (customer side restricts the market, supplier side
    * tags the share) — and the reason it matters at 100 TB: every
    * dimension hop (part filter, customer→nation→region, supplier→
    * nation) is a BROADCAST, so the only fact-fact exchange is
    * lineitem ⋈ orders on orderkey; the share CASE rides inside the
    * aggregate (one row per (partition × year) through the final
    * exchange). Share follows the q14 ratio discipline: round AFTER
    * the division, where relative ulp noise is ~1e-16. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val nation = t(spark, dir, "nation")
    val asiaNations = nation
      .join(broadcast(t(spark, dir, "region")
        .where(col("r_name") === "ASIA").select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"), "left_semi")
      .select(col("n_nationkey"))
    val asiaCustomers = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"),
        "left_semi")
      .select(col("c_custkey"))
    val ordersF = t(spark, dir, "orders")
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .join(asiaCustomers, col("o_custkey") === col("c_custkey"), "left_semi")
      // cast: Spark year() is int32, DuckDB's is BIGINT — emit long so
      // the dtype-strict gate compares exactly (SURVEY §8 discipline)
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
    val suppNation = t(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .join(broadcast(t(spark, dir, "part")
        .where(col("p_type") === "STANDARD").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .join(ordersF, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === "NATION_2", col("rev"))
          .otherwise(lit(0.0))) / sum(col("rev")), 6).as("mkt_share"),
        round(sum(col("rev")), 4).as("total_revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q21-shaped suppliers-who-kept-orders-waiting: for each
    * supplier, count multi-supplier orders where THIS supplier shipped
    * late and NO other supplier did — the spec's EXISTS + NOT EXISTS
    * double correlation, expressed as one per-order aggregate instead
    * of two correlated re-scans of lineitem: per (orderkey) compute
    * n_supp (distinct suppliers) and n_late_supp (distinct LATE
    * suppliers), then the qualifying rows are late lines in orders
    * with n_supp > 1 AND n_late_supp = 1 — the single late supplier
    * is necessarily this one. ("Late" = shipdate > orderdate + 60
    * days, the q4 substitution; this testdata has no
    * receipt/commitdate.) Two shuffles total (orderkey aggregate +
    * the orderkey join); the EXISTS pair never rescans the fact. */
  def q21WaitingSupplier(spark: SparkSession, dir: String): DataFrame = {
    // reduce to SUPPLIER grain first: one (orderkey, suppkey)
    // aggregate replaces the two conditional countDistincts (which
    // Catalyst implements as an Expand doubling every line before the
    // exchange) AND makes the final count a plain count — everything
    // downstream runs on at-most-suppliers-per-order rows. The
    // qualification (n_supp > 1, exactly one late supplier) is a
    // whole-partition window over that grain — per-ROW survival needs
    // the per-order totals on each row, which is precisely what a
    // window provides without the materialize + self-join a separate
    // qualification frame would cost.
    val perSupp = t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("supp_late"))
    val w = Window.partitionBy(col("l_orderkey"))
    perSupp
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late_supp", sum(col("supp_late").cast("long")).over(w))
      .where(col("supp_late") && col("n_supp") > 1 && col("n_late_supp") === 1)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
  }

  /** Cohort retention (event-log time intelligence): users grouped by
    * the DAY of their first event (the cohort — daily because this
    * testdata spans one month; the grain is a one-line change),
    * tracked by how many are still active N days later. The canonical
    * product-analytics matrix. Execution: distinct (user, day)
    * activity first — the scale lever, everything after runs on
    * user×days not raw events — then the per-user min day and a
    * self-join back on user_id (shared shuffle key), offset via
    * integer epoch-day arithmetic (no date-subtraction floats
    * anywhere). Output is one partial-combined row per
    * (cohort, offset). */
  def ch1CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val activity = Tables.read(spark, dir, "events")
      .select(col("user_id"),
        floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long").as("day_idx"))
      .distinct()
    val cohort = activity.groupBy(col("user_id"))
      .agg(min(col("day_idx")).as("cohort_day"))
    activity.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"),
        (col("day_idx") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
  }

  /** GROUPING SETS beyond g1/g2's rollup/cube: the two one-column
    * marginals (status totals, priority totals) WITHOUT the cross
    * product a cube would also emit — the shape reporting stacks ask
    * for. `grouping_id()` disambiguates which set a row came from
    * (null group values are ambiguous when a real value could be
    * null). One scan feeds both aggregates; Spark expands to a
    * per-set union under a single exchange keyed by the padded group
    * columns. */
  def g3GroupingSets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("revenue"))

  /** Year-over-year growth (time intelligence): monthly order revenue
    * joined to the same CALENDAR month last year — the prior `lag(12)`
    * ROW offset silently paired wrong months whenever a calendar month
    * had zero orders (and the mirrored oracle couldn't catch it). Here
    * the comparison key is the integer month index `year*12 + month`,
    * so a missing month yields a null prev_year, never a misaligned
    * one. The monthly aggregate is tens of rows, so the self-join is a
    * broadcast over an already-tiny frame, not a scale hazard. Growth
    * is computed from the 4dp-rounded monthly totals, so the division
    * sees identical doubles on both engines. */
  def w3YoyGrowth(spark: SparkSession, dir: String): DataFrame = {
    // barrier (PlanAudit finding): the month-grain aggregate feeds
    // both self-join sides with different shifts/prunings — without
    // it orders is scanned and aggregated twice; the frame is
    // calendar-bounded, so the checkpoint is tens of rows
    val monthly = graft.Materialize.barrier(t(spark, dir, "orders")
      .groupBy(date_trunc("MONTH", col("o_orderdate")).as("month"))
      .agg(round(sum(col("o_totalprice")), 4).as("revenue"))
      .withColumn("mkey", year(col("month")) * 12 + month(col("month"))))
    val prev = monthly.select(
      (col("mkey") + 12).as("mkey"), col("revenue").as("prev_year"))
    monthly.join(broadcast(prev), Seq("mkey"), "left")
      .select(col("month"), col("revenue"), col("prev_year"),
        round(lit(100.0) * (col("revenue") - col("prev_year")) / col("prev_year"), 6)
          .as("yoy_pct"))
  }

  /** RANGE-frame time window (vs the ROWS frames elsewhere): trailing
    * 7-DAY aggregate per series keyed by event TIME, not row count —
    * irregular sampling changes the frame width per row. Value-based
    * frames are tie-insensitive, so no tiebreaker column is needed. */
  def rs2RangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("series_id")).orderBy(col("ts_s"))
      .rangeBetween(-7L * 86400L, 0L)
    graft.SparkEntry.canonicalEvents(spark, dir)
      .withColumn("ts_s", unix_timestamp(col("ts")))
      .select(col("series_id"), col("ts"),
        round(col("value"), 6).as("value"),
        count(col("value")).over(w).as("n_7d"),
        round(sum(col("value")).over(w), 6).as("sum_7d"))
  }

  /** Semi-structured props: extract a JSON field from the events
    * payload and aggregate — JSON path evaluation stays codegen'd
    * (GetJsonObject) and the aggregation is ordinary partial+final
    * hash agg; no UDF, no schema inference pass at plan time. */
  def js1JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        graft.operators.Kernels.nanToNull(col("value")).as("value"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("k")).as("n_k"),
        sum(col("k")).as("sum_k"), round(avg(col("value")), 6).as("avg_val"))

  /** Pivot (long → wide): revenue per priority with one column per
    * order status. The value domain is supplied explicitly so the plan
    * needs no discovery pass; execution is a plain conditional
    * aggregation (one scan, one shuffle). */
  def pv1PivotRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum(col("o_totalprice")), 4))

  val oracle: Map[String, String] = Map(
    "pv2_unpivot" ->
      """WITH p AS (SELECT o_orderpriority,
        | ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END),4) AS f_rev,
        | ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END),4) AS o_rev,
        | ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END),4) AS p_rev
        |FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, status_col, revenue
        |FROM p UNPIVOT (revenue FOR status_col IN (f_rev, o_rev, p_rev))
        |WHERE revenue IS NOT NULL""".stripMargin,
    "gr1_global_rank_sql" -> gr1Sql("orders"),
    "gr2_running_totals_sql" -> gr2Sql("orders"),
    "gr3_shift_diff_sql" -> gr3Sql("orders"),
    "gr4_dist_first_last_sql" -> gr4Sql("orders"),
    "gr5_moving_frames_sql" -> gr5Sql("orders"),
    "gr6_running_stddev_sql" -> gr6Sql("orders"),
    "gr7_decimal_sums_sql" -> gr7Sql("orders"),
    "gr8_nth_value_sql" -> gr8Sql("orders"),
    "gr9_decimal_avg_sql" -> gr9Sql("orders"),
    "gr10_ignore_nulls_sql" -> gr10Sql("orders", duck = true),
    "gr11_range_frame_sql" -> gr11Sql("orders"),
    "gr12_try_sum_sql" -> gr12Sql("orders", duck = true),
    "gr13_month_range_sql" -> gr13Sql("orders"),
    "w5_spend_deciles" ->
      """WITH t AS (SELECT o_custkey, ROUND(SUM(o_totalprice), 4) AS total_spend
        |  FROM orders GROUP BY o_custkey),
        |d AS (SELECT *, ntile(10) OVER (ORDER BY total_spend DESC, o_custkey)
        |    AS decile FROM t)
        |SELECT decile, COUNT(*) AS n_customers,
        |  ROUND(SUM(total_spend), 4) AS decile_spend,
        |  ROUND(MIN(total_spend), 4) AS min_spend,
        |  ROUND(MAX(total_spend), 4) AS max_spend
        |FROM d GROUP BY decile""".stripMargin,
    "cal1_dow_revenue" ->
      """SELECT CAST(date_part('isodow', o_orderdate) - 1 AS INTEGER) AS dow,
        |  COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 4) AS revenue
        |FROM orders GROUP BY 1""".stripMargin,
    "pf1_profile" ->
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT (SELECT COUNT(*) FROM lineitem) AS n_rows,
           |  '$c' AS col_name, COUNT($c) AS n_present,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  MIN($c) AS min_val, MAX($c) AS max_val FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n"),
    "st2_multiset_ops" ->
      """WITH y96 AS (SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'),
        | y97 AS (SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_custkey, 'both_all' AS tag
        |FROM (SELECT * FROM y96 INTERSECT ALL SELECT * FROM y97)
        |UNION ALL
        |SELECT o_custkey, 'excess_1996' AS tag
        |FROM (SELECT * FROM y96 EXCEPT ALL SELECT * FROM y97)""".stripMargin,
    "w4_revenue_share" ->
      """WITH g AS (SELECT o_orderstatus, o_orderpriority,
        |    ROUND(SUM(o_totalprice), 4) AS revenue
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
        |SELECT o_orderstatus, o_orderpriority, revenue,
        |  ROUND(revenue / SUM(revenue) OVER (PARTITION BY o_orderstatus), 6)
        |    AS status_share
        |FROM g""".stripMargin,
    "q21_waiting_supplier" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |po AS (SELECT l_orderkey AS qual_orderkey FROM (
        |    SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp,
        |      COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
        |    FROM li GROUP BY l_orderkey)
        |  WHERE n_supp > 1 AND n_late_supp = 1)
        |SELECT l_suppkey, COUNT(DISTINCT l_orderkey) AS numwait
        |FROM li JOIN po ON l_orderkey = qual_orderkey
        |WHERE late GROUP BY l_suppkey""".stripMargin,
    "ch1_cohort_retention" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_idx FROM events),
        |c AS (SELECT user_id, MIN(day_idx) AS cohort_day FROM a GROUP BY user_id)
        |SELECT cohort_day, day_idx - cohort_day AS day_offset,
        |  COUNT(DISTINCT user_id) AS active_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY cohort_day, day_idx - cohort_day""".stripMargin,
    "q8_market_share" ->
      """SELECT year(o_orderdate) AS o_year,
        |  ROUND(SUM(CASE WHEN n1.n_name = 'NATION_2'
        |      THEN l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)
        |      ELSE CAST(0.0 AS DOUBLE) END)
        |    / SUM(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)), 6)
        |    AS mkt_share,
        |  ROUND(SUM(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)), 4)
        |    AS total_revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY year(o_orderdate)""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |    ROUND(SUM(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)), 4)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH aq AS (SELECT l_partkey, SUM(l_quantity) / COUNT(*) AS avg_qty
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT ROUND(SUM(l_extendedprice) / CAST(7.0 AS DOUBLE), 4) AS avg_yearly,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN aq USING (l_partkey)
        |WHERE l_quantity < CAST(0.2 AS DOUBLE) * avg_qty""".stripMargin,
    "g3_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
        |    AS gid,
        |  COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 4) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin,
    "w3_yoy_growth" ->
      """WITH m AS (SELECT date_trunc('month', o_orderdate) AS month,
        |    ROUND(SUM(o_totalprice), 4) AS revenue,
        |    EXTRACT(year FROM date_trunc('month', o_orderdate)) * 12
        |      + EXTRACT(month FROM date_trunc('month', o_orderdate)) AS mkey
        |  FROM orders GROUP BY 1)
        |SELECT m.month, m.revenue, p.revenue AS prev_year,
        |  ROUND(CAST(100.0 AS DOUBLE) * (m.revenue - p.revenue)
        |    / p.revenue, 6) AS yoy_pct
        |FROM m LEFT JOIN m p ON m.mkey = p.mkey + 12""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,
    // wm1: the identical running-sum/last-value/compare op sequence —
    // integer-valued weights make every intermediate exact in double
    "wm1_weighted_median" ->
      """WITH g AS (SELECT l_returnflag, l_extendedprice,
        |    SUM(l_quantity) AS w
        |  FROM lineitem GROUP BY l_returnflag, l_extendedprice),
        |c AS (SELECT *, SUM(w) OVER (PARTITION BY l_returnflag
        |    ORDER BY l_extendedprice
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w FROM g),
        |tt AS (SELECT *, MAX(cum_w) OVER (PARTITION BY l_returnflag) AS tot_w FROM c)
        |SELECT l_returnflag,
        |  ROUND(MIN(l_extendedprice), 4) AS weighted_median,
        |  ROUND(MIN(tot_w), 4) AS total_weight
        |FROM tt WHERE cum_w >= tot_w / 2.0 GROUP BY l_returnflag""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        | AND o_orderdate < TIMESTAMP '1997-04-01'
        | AND EXISTS (SELECT 1 FROM lineitem l
        |   WHERE l.l_orderkey = o.o_orderkey
        |   AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q12_priority_lines" ->
      """SELECT l_linestatus,
        | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        | AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus""".stripMargin,
    "q19_disjunctive_revenue" ->
      """SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |    AND l_quantity BETWEEN 1 AND 11)
        | OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 10 AND 20)
        | OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q22_no_order_customers" ->
      """SELECT c_mktsegment, COUNT(*) AS numcust,
        | ROUND(SUM(c_acctbal), 4) AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
        | AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
        | ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        | ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "g2_cube_revenue" ->
      """SELECT o_orderstatus, o_orderpriority,
        | ROUND(SUM(o_totalprice),4) AS revenue, COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "a2_percentiles" ->
      """SELECT o_orderpriority,
        | ROUND(quantile_cont(o_totalprice, 0.5),4) AS p50,
        | ROUND(quantile_cont(o_totalprice, 0.9),4) AS p90,
        | ROUND(quantile_cont(o_totalprice, 0.99),4) AS p99
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "st1_set_ops" ->
      """WITH y96 AS (SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'),
        | y97 AS (SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97)
        |UNION ALL
        |SELECT o_custkey, 'only_1996' AS tag FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97)""".stripMargin,
    "sq1_above_customer_avg" ->
      """SELECT o_orderkey, o_custkey, ROUND(o_totalprice,4) AS o_totalprice
        |FROM orders o
        |WHERE o_totalprice > (
        |  SELECT ROUND(avg(o2.o_totalprice), 6) FROM orders o2
        |  WHERE o2.o_custkey = o.o_custkey)""".stripMargin,
    "pv1_pivot_revenue" ->
      """SELECT o_orderpriority,
        | ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END),4) AS "F",
        | ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END),4) AS "O",
        | ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END),4) AS "P"
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "j1_semi_join" ->
      """SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice,4) AS o_totalprice
        |FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
        |  AND l_shipdate > o_orderdate + INTERVAL 90 DAY)""".stripMargin,
    "j2_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "a1_distinct_agg" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers,
        | count(*) AS n_orders, ROUND(avg(o_totalprice),6) AS avg_price
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT ROUND(SUM(l_extendedprice*l_discount),4) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        | AND l_shipdate < TIMESTAMP '1998-01-01'
        | AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
        | AND l_quantity < 24""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT ROUND(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
        |   THEN l_extendedprice*(1-l_discount) ELSE 0.0 END)
        |  / SUM(l_extendedprice*(1-l_discount)), 6) AS promo_revenue,
        | COUNT(*) AS n_items
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        | AND l_shipdate >= TIMESTAMP '1997-09-01'
        | AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | ROUND(SUM(l_quantity),4) AS sum_qty,
        | ROUND(SUM(l_extendedprice),4) AS sum_base_price,
        | ROUND(SUM(l_extendedprice*(1-l_discount)),4) AS sum_disc_price,
        | ROUND(SUM(l_extendedprice*(1-l_discount)*(1+l_tax)),4) AS sum_charge,
        | ROUND(AVG(l_quantity),6) AS avg_qty,
        | ROUND(AVG(l_extendedprice),6) AS avg_price,
        | ROUND(AVG(l_discount),6) AS avg_disc,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        | ROUND(SUM(l_extendedprice*(1-l_discount)),4) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        | AND l_orderkey = o_orderkey
        | AND o_orderdate < TIMESTAMP '1998-03-15'
        | AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        | ROUND(SUM(l_extendedprice*(1-l_discount)),4) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        | AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        | AND r_name = 'ASIA'
        | AND o_orderdate >= TIMESTAMP '1996-01-01'
        | AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,
    "w1_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, ROUND(o_totalprice,4) AS o_totalprice, rn
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders)
        |WHERE rn <= 3""".stripMargin,
    "g1_rollup_revenue" ->
      """SELECT o_orderpriority, o_orderstatus,
        | ROUND(SUM(o_totalprice),4) AS revenue, COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin,
    "j3_outer_join" ->
      """SELECT c_custkey, c_mktsegment,
        | CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
        | ROUND(COALESCE(spend, 0), 4) AS total_spent
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, COUNT(*) AS n_orders, SUM(o_totalprice) AS spend
        |  FROM orders GROUP BY o_custkey) o ON c_custkey = o_custkey""".stripMargin,
    "w2_rank_suite" ->
      """SELECT o_custkey, o_orderkey,
        | ROUND(o_totalprice, 4) AS o_totalprice,
        | ROUND(lag(o_totalprice, 1) OVER w, 4) AS prev_price,
        | ROUND(lead(o_totalprice, 1) OVER w, 4) AS next_price,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | ROUND(cume_dist() OVER w, 6) AS pct
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,
    "q18_volume_orders" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
        | ROUND(o_totalprice, 4) AS o_totalprice
        |FROM orders WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)""".stripMargin,
    // pf2: exact counts, one scalar stat row, deterministic
    // (cnt DESC, key) top-k order on both engines
    "pf2_key_skew" ->
      """WITH c AS (SELECT l_partkey AS key, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |s AS (SELECT COUNT(*) AS n_keys, SUM(cnt) AS n_rows FROM c),
        |t AS (SELECT c.*, s.n_keys, s.n_rows,
        |   row_number() OVER (ORDER BY cnt DESC, key) AS rank
        |  FROM c CROSS JOIN s)
        |SELECT rank, key, cnt, n_keys, CAST(n_rows AS BIGINT) AS n_rows,
        |  ROUND(CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS share6,
        |  ROUND(CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
        |    / CAST(n_rows AS DOUBLE), 6) AS skew6
        |FROM t WHERE rank <= 10""".stripMargin,
    // qb1: ntile over the identical (v, orderkey, linenumber) total
    // order; min/max are raw parquet doubles, sums exact integer
    // cents (gn1 discipline) — hash-exact on every column
    "qb1_quantile_bins" ->
      """WITH r AS (SELECT l_extendedprice AS v,
        |   ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey,
        |     l_linenumber) AS bin
        |  FROM lineitem)
        |SELECT CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_rows,
        |  MIN(v) AS lo, MAX(v) AS hi,
        |  CAST(SUM(CAST(floor(v * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM r GROUP BY 1""".stripMargin,
    // zo1: the Morton interleave re-derived bit-by-bit in SQL (lower
    // 31 bits, positions <= 62 — never the sign bit); buckets and all
    // min/max stats are exact integers
    "zo1_zorder_layout" ->
      """WITH z AS (SELECT l_partkey, l_suppkey,
        |  CAST(list_sum(list_transform(generate_series(0, 30),
        |    i -> (((l_partkey >> i) & 1) << (2 * i))
        |       + (((l_suppkey >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zc
        | FROM lineitem)
        |SELECT zc >> 10 AS bucket, COUNT(*) AS n,
        |  MIN(l_partkey) AS pk_min, MAX(l_partkey) AS pk_max,
        |  MIN(l_suppkey) AS sk_min, MAX(l_suppkey) AS sk_max
        |FROM z GROUP BY 1""".stripMargin,
    // ed1: identical blocking key (1-based [2] == Spark getItem(1)),
    // identical levenshtein integers, min(dist, id) argmin via
    // row_number — every output column an exact integer or null
    "ed1_name_matching" ->
      """WITH r AS (SELECT p_partkey AS id, p_name AS name,
        |  string_split(p_name, ' ')[2] || '|' || substr(p_name, 1, 1) AS block
        | FROM part),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |   levenshtein(a.name, b.name) AS dist
        |  FROM r a JOIN r b ON a.block = b.block AND a.id < b.id
        |  WHERE levenshtein(a.name, b.name) <= 2),
        |s AS (SELECT id_a AS id, id_b AS match_id, dist FROM p
        |  UNION ALL SELECT id_b AS id, id_a AS match_id, dist FROM p),
        |g AS (SELECT id, COUNT(*) AS n_near FROM s GROUP BY 1),
        |bst AS (SELECT id, dist AS best_dist, match_id AS best_match FROM (
        |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist, match_id) AS rn
        |  FROM s) WHERE rn = 1)
        |SELECT r.id, CAST(COALESCE(g.n_near, 0) AS BIGINT) AS n_near,
        |  CAST(bst.best_dist AS BIGINT) AS best_dist, bst.best_match
        |FROM r LEFT JOIN g USING (id) LEFT JOIN bst USING (id)""".stripMargin,
    // gn1: integer-cent exact sums, identical ranked-sum formula,
    // windowed/grouped SUMs cast BIGINT (§8 rule)
    "gn1_gini_spend" ->
      """WITH per AS (SELECT o_custkey,
        |   ROUND(SUM(o_totalprice), 4) AS spend FROM orders GROUP BY 1),
        |c AS (SELECT o_custkey,
        |   CAST(floor(spend * 10000.0 + 0.5) AS BIGINT) AS cents FROM per),
        |r AS (SELECT cents,
        |   row_number() OVER (ORDER BY cents, o_custkey) AS i FROM c),
        |g AS (SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sx,
        |   SUM(CAST(i AS HUGEINT) * cents) AS six FROM r)
        |SELECT n AS n_customers,
        |  CAST(sx AS DOUBLE) / 10000.0 AS total_spend4,
        |  floor(((2.0 * CAST(six AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
        |    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS gini6
        |FROM g""".stripMargin,
    // mb1: exact integer basket counts, identical ratio op order,
    // rank by ROUNDED lift with (part_a, part_b) ties (pmi1 pattern)
    "mb1_market_basket" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
        |  FROM lineitem),
        |nn AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM items),
        |cnt AS (SELECT part, COUNT(*) AS n_one FROM items GROUP BY 1),
        |p AS (SELECT a.part AS part_a, b.part AS part_b, COUNT(*) AS n_ab
        |  FROM items a JOIN items b
        |    ON a.okey = b.okey AND a.part < b.part
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |s AS (SELECT part_a, part_b, n_ab,
        |  floor(CAST(n_ab AS DOUBLE) / n_orders * 1000000.0 + 0.5)
        |    / 1000000.0 AS support6,
        |  floor(CAST(n_ab AS DOUBLE) / ca.n_one * 1000000.0 + 0.5)
        |    / 1000000.0 AS confidence6,
        |  floor(CAST(n_ab AS DOUBLE) * n_orders
        |      / (CAST(ca.n_one AS DOUBLE) * cb.n_one) * 1000000.0 + 0.5)
        |    / 1000000.0 AS lift6
        | FROM p JOIN cnt ca ON p.part_a = ca.part
        |   JOIN cnt cb ON p.part_b = cb.part CROSS JOIN nn)
        |SELECT row_number() OVER (ORDER BY lift6 DESC, part_a, part_b) AS rank,
        |  part_a, part_b, n_ab, support6, confidence6, lift6
        |FROM s ORDER BY lift6 DESC, part_a, part_b LIMIT 20""".stripMargin,
    // hr1: shares divide exact integer cents; the window SUMs CAST to
    // DOUBLE (HUGEINT — the §8 rule's windowed form), r6 floor-formula
    "hr1_hierarchical_share" ->
      """WITH rev AS (SELECT r_name, n_name, COUNT(*) AS n_orders,
        |   ROUND(SUM(o_totalprice), 4) AS revenue
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |c AS (SELECT *, CAST(floor(revenue * 10000.0 + 0.5) AS BIGINT) AS rev_c
        |  FROM rev)
        |SELECT r_name, n_name, n_orders, revenue,
        |  floor(CAST(rev_c AS DOUBLE)
        |    / CAST(SUM(rev_c) OVER (PARTITION BY r_name) AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS region_share6,
        |  floor(CAST(rev_c AS DOUBLE)
        |    / CAST(SUM(rev_c) OVER () AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS total_share6
        |FROM c""".stripMargin,
    // rfm1: deterministic quintiles (ties by custkey), datediff on
    // day-aligned timestamps, every score CAST BIGINT
    "rfm1_rfm_segments" ->
      """WITH per AS (SELECT o_custkey, MAX(o_orderdate) AS last_order,
        |   COUNT(*) AS frequency, ROUND(SUM(o_totalprice), 4) AS monetary
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT MAX(last_order) AS t_ref FROM per),
        |sc AS (SELECT per.*,
        |   CAST(date_diff('day', last_order, t_ref) AS BIGINT) AS recency_days
        |  FROM per CROSS JOIN mx),
        |n AS (SELECT *,
        |  CAST(6 - ntile(5) OVER (ORDER BY recency_days, o_custkey) AS BIGINT)
        |    AS r_score,
        |  CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS BIGINT)
        |    AS f_score,
        |  CAST(ntile(5) OVER (ORDER BY monetary, o_custkey) AS BIGINT)
        |    AS m_score
        | FROM sc)
        |SELECT o_custkey, recency_days, frequency, monetary,
        |  r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS segment
        |FROM n""".stripMargin,
    // jw1: DuckDB's INDEPENDENT jaro_winkler_similarity vs the native
    // expression (bit-for-bit pinned semantics — see JaroWinklerSim);
    // raw-double threshold, floor-formula 6dp on the emitted score only
    "jw1_name_similarity" ->
      """WITH r AS (SELECT DISTINCT p_name AS name,
        |  string_split(p_name, ' ')[2] || '|' || substr(p_name, 1, 1) AS block
        | FROM part),
        |r2 AS (SELECT * FROM r WHERE block IS NOT NULL),
        |p AS (SELECT a.block, a.name, b.name AS name_b,
        |   jaro_winkler_similarity(a.name, b.name) AS jw
        |  FROM r2 a JOIN r2 b ON a.block = b.block AND a.name <> b.name
        |  WHERE jaro_winkler_similarity(a.name, b.name) >= 0.94),
        |s AS (SELECT block, name, COUNT(*) AS n_sim FROM p GROUP BY 1, 2),
        |bst AS (SELECT block, name, jw, name_b FROM (
        |  SELECT *, row_number() OVER (PARTITION BY block, name
        |    ORDER BY jw DESC, name_b) AS rn FROM p) WHERE rn = 1)
        |SELECT r2.block, r2.name,
        |  CAST(COALESCE(s.n_sim, 0) AS BIGINT) AS n_sim,
        |  floor(bst.jw * 1000000.0 + 0.5) / 1000000.0 AS best_jw6,
        |  bst.name_b AS best_name
        |FROM r2 LEFT JOIN s USING (block, name)
        |LEFT JOIN bst USING (block, name)""".stripMargin,
    "rs2_range_window" ->
      """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS series_id, ts,
        |  CASE WHEN isnan(value) THEN NULL ELSE value END AS value,
        |  epoch(ts) AS ts_s FROM events)
        |SELECT series_id, ts, ROUND(value, 6) AS value,
        |  count(value) OVER w AS n_7d,
        |  ROUND(sum(value) OVER w, 6) AS sum_7d
        |FROM t
        |WINDOW w AS (PARTITION BY series_id ORDER BY ts_s
        |  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)""".stripMargin,
    "js1_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        | COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | ROUND(AVG(CASE WHEN isnan(value) THEN NULL ELSE value END), 6) AS avg_val
        |FROM events GROUP BY event_type""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "q14_promo_revenue" -> (q14PromoRevenue _),
    "q4_order_priority" -> (q4OrderPriority _),
    "q12_priority_lines" -> (q12PriorityLines _),
    "q19_disjunctive_revenue" -> (q19DisjunctiveRevenue _),
    "q22_no_order_customers" -> (q22NoOrderCustomers _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q5_local_supplier" -> (q5LocalSupplier _),
    "w1_top_orders_per_customer" -> (w1TopOrdersPerCustomer _),
    "g1_rollup_revenue" -> (g1RollupRevenue _),
    "j1_semi_join" -> (j1SemiJoin _),
    "j2_anti_join" -> (j2AntiJoin _),
    "a1_distinct_agg" -> (a1DistinctAgg _),
    "g2_cube_revenue" -> (g2CubeRevenue _),
    "a2_percentiles" -> (a2Percentiles _),
    "st1_set_ops" -> (st1SetOps _),
    "sq1_above_customer_avg" -> (sq1AboveCustomerAvg _),
    "pv1_pivot_revenue" -> (pv1PivotRevenue _),
    "j3_outer_join" -> (j3OuterJoin _),
    "w2_rank_suite" -> (w2RankSuite _),
    "js1_json_extract" -> (js1JsonExtract _),
    "q18_volume_orders" -> (q18VolumeOrders _),
    "q13_custdist" -> (q13CustomerDistribution _),
    "wm1_weighted_median" -> (wm1WeightedMedian _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q8_market_share" -> (q8MarketShare _),
    "q21_waiting_supplier" -> (q21WaitingSupplier _),
    "ch1_cohort_retention" -> (ch1CohortRetention _),
    "st2_multiset_ops" -> (st2MultisetOps _),
    "w4_revenue_share" -> (w4RevenueShare _),
    "pf1_profile" -> (pf1Profile _),
    "pv2_unpivot" -> (pv2Unpivot _),
    "w5_spend_deciles" -> (w5SpendDeciles _),
    "gr1_global_rank_sql" -> (gr1GlobalRankSql _),
    "gr2_running_totals_sql" -> (gr2RunningTotalsSql _),
    "gr3_shift_diff_sql" -> (gr3ShiftDiffSql _),
    "gr4_dist_first_last_sql" -> (gr4DistFirstLastSql _),
    "gr5_moving_frames_sql" -> (gr5MovingFramesSql _),
    "gr6_running_stddev_sql" -> (gr6RunningStddevSql _),
    "gr7_decimal_sums_sql" -> (gr7DecimalSumsSql _),
    "gr8_nth_value_sql" -> (gr8NthValueSql _),
    "gr9_decimal_avg_sql" -> (gr9DecimalAvgSql _),
    "gr10_ignore_nulls_sql" -> (gr10IgnoreNullsSql _),
    "gr11_range_frame_sql" -> (gr11RangeFrameSql _),
    "gr12_try_sum_sql" -> (gr12TrySumSql _),
    "gr13_month_range_sql" -> (gr13MonthRangeSql _),
    "cal1_dow_revenue" -> (cal1DowRevenue _),
    "q17_small_qty_revenue" -> (q17SmallQtyRevenue _),
    "g3_grouping_sets" -> (g3GroupingSets _),
    "w3_yoy_growth" -> (w3YoyGrowth _),
    "q7_volume_shipping" -> (q7VolumeShipping _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "rs2_range_window" -> (rs2RangeWindow _),
    "ed1_name_matching" -> (ed1NameMatching _),
    "jw1_name_similarity" -> (jw1NameSimilarity _),
    "rfm1_rfm_segments" -> (rfm1RfmSegments _),
    "hr1_hierarchical_share" -> (hr1HierarchicalShare _),
    "mb1_market_basket" -> ((s: SparkSession, dir: String) =>
      mb1MarketBasket(s, dir)),
    "gn1_gini_spend" -> (gn1GiniSpend _),
    "zo1_zorder_layout" -> (zo1ZorderLayout _),
    "pf2_key_skew" -> (pf2KeySkew _),
    "qb1_quantile_bins" -> ((s: SparkSession, dir: String) =>
      qb1QuantileBins(s, dir))
  )

  /** Join-key SKEW profiler — the "should I salt this join"
    * diagnostic run BEFORE committing a shuffle plan at 100 TB: per
    * top key its row count, corpus share, and skew factor
    * cnt/mean-per-key. A skew factor far above the shuffle partition
    * count means one task owns the key after hashing — the straggler
    * — and the remedies are the repo's standing ones (salting, AQE
    * skew-join, the x5 chunked-pair decomposition). One
    * partial-combined count aggregate + a broadcast scalar + top-k
    * via TakeOrderedAndProject; all ratios divide exact integers once
    * and round 6dp. */
  def pf2KeySkew(spark: SparkSession, dir: String): DataFrame =
    keySkew(t(spark, dir, "lineitem").select(col("l_partkey").as("key")), topK = 10)

  /** Generic form of [[pf2KeySkew]] over any single-column `key`
    * frame. */
  def keySkew(keys: DataFrame, topK: Int): DataFrame = {
    require(topK >= 1, s"keySkew: topK must be >= 1: $topK")
    // size-gated barrier (PlanAudit finding): counts feeds the stats
    // scalar AND the top-k — reuse-defeated without it
    val counts = graft.Materialize.barrierAbove(
      keys.groupBy(col("key")).agg(count(lit(1)).as("cnt")),
      sizeOf = keys)
    val stats = counts.agg(
      count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"))
    val top = counts.crossJoin(broadcast(stats))
      .orderBy(col("cnt").desc, col("key")).limit(topK)
    top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("key"))).cast("long"))
      .select(col("rank"), col("key"), col("cnt"), col("n_keys"), col("n_rows"),
        round(col("cnt").cast("double") / col("n_rows").cast("double"), 6)
          .as("share6"),
        round(col("cnt").cast("double") * col("n_keys").cast("double")
          / col("n_rows").cast("double"), 6).as("skew6"))
  }

  /** EQUAL-FREQUENCY BINNING — discretize a numeric fact column into
    * k same-population bins (the feature-engineering move behind
    * quantile bucketing / monotone binning): per bin its row count,
    * raw min/max bounds, and the exact integer-cent sum. The tiling
    * runs over ROW grain (every lineitem row), the exact case
    * [[graft.plans.RangeRankRewrite]] exists for — single-partition
    * window below the stats gate, [[graft.plans.GlobalRankExec]]
    * above, both bit-identical on the (price, orderkey, linenumber)
    * total order. Sums quantize to cents BEFORE aggregation (gn1
    * discipline) so bin sums are order-free exact integers. */
  def qb1QuantileBins(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val rows = t(spark, dir, "lineitem")
      .select(col("l_extendedprice").as("v"),
        col("l_orderkey"), col("l_linenumber"))
    rows.withColumn("bin", ntile(k).over(Window.orderBy(
        col("v"), col("l_orderkey"), col("l_linenumber"))).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("v")).as("lo"), max(col("v")).as("hi"),
        sum(floor(col("v") * lit(100) + lit(0.5)).cast("long")).as("sum_cents"))
  }

  /** Z-ORDER layout audit: Morton-interleave (l_partkey, l_suppkey)
    * via the native `graft_morton` expression, range-bucket the code
    * (bucket = z >> 10 — 1024 codes per bucket ≈ one "file" of a
    * z-ordered write), and emit each bucket's row count and min/max
    * range in BOTH dimensions. The point the numbers make: every
    * bucket is narrow in partkey AND suppkey simultaneously, which is
    * why per-file min/max stats prune a scan filtered on EITHER
    * column — the multi-dimensional data-skipping layout a 100 TB
    * lake writes with `repartitionByRange(graft_morton(a, b))`.
    * All-integer output. */
  def zo1ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        call_function("graft_morton", col("l_partkey"), col("l_suppkey")).as("z"))
      .groupBy(shiftright(col("z"), 10).as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("l_partkey")).as("pk_min"), max(col("l_partkey")).as("pk_max"),
        min(col("l_suppkey")).as("sk_min"), max(col("l_suppkey")).as("sk_max"))
  }

  /** Record-linkage demo over part names: block on (noun, first
    * letter of the adjective) — the noun a typo in the adjective
    * preserves, refined by the adjective's initial because a
    * noun-only block is the measured scale trap this operator's
    * scaladoc warns about (8 distinct nouns at sf0.1 → 2,500-row
    * blocks → 50M levenshtein pairs, 24 s; the refined key cuts the
    * Σ|block|² pair volume ~25× at identical match quality for
    * initial-preserving edits). Verify with levenshtein ≤ 2. Both
    * engines ship the identical Wagner–Fischer levenshtein on ASCII,
    * so every distance is the same exact integer. */
  def ed1NameMatching(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.blockedEditDistance(
      t(spark, dir, "part").select(
        col("p_partkey").as("id"), col("p_name").as("name"),
        // concat, not concat_ws: a single-token name has no noun and
        // must get a NULL block (unblocked, n_near = 0) exactly like
        // the oracle's null-propagating || — concat_ws would silently
        // coin a "w" block out of the initial alone
        concat(split(col("p_name"), " ").getItem(1), lit("|"),
          substring(col("p_name"), 1, 1)).as("block")),
      maxDist = 2)

  /** RFM SEGMENTATION — the classic customer-value triage: per
    * customer, Recency (days since last order, vs the corpus's last
    * order date — self-contained, no wall clock), Frequency (order
    * count) and Monetary (total spend, 4dp), each scored into
    * quintiles (5 = best: most recent / most frequent / biggest
    * spender), and the composite RFM segment code r·100+f·10+m.
    * Quintile ties break by customer key, so the scores are
    * deterministic on both engines. ntile is cast long (the q8/w5
    * dtype discipline).
    *
    * Scale shape (the w5 precedent): each quintile window is promoted
    * by [[graft.plans.RangeRankRewrite]] above the size gate — the
    * plain single-partition window at gate scale,
    * [[graft.plans.GlobalRankExec]] above it. Three orderings cost
    * three sorts on either plan; neither collapses the frame to one
    * task at scale. */
  def rfm1RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val orders = t(spark, dir, "orders")
    val per = orders
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        round(sum(col("o_totalprice")), 4).as("monetary"))
    val ref = per.agg(max(col("last_order")).as("t_ref"))
    // size-gated barrier (PlanAudit finding): `per` feeds the t_ref
    // scalar AND the quintile windows with different prunings, so
    // ReuseExchange cannot share its aggregate above the gate
    val scored = graft.Materialize.barrierAbove(
      per.crossJoin(broadcast(ref))
        .withColumn("recency_days",
          datediff(col("t_ref"), col("last_order")).cast("long")),
      sizeOf = orders)
    def quintile(order: String) =
      ntile(5).over(Window.orderBy(col(order), col("o_custkey"))).cast("long")
    scored
      .withColumn("__rt", quintile("recency_days"))
      .withColumn("f_score", quintile("frequency"))
      .withColumn("m_score", quintile("monetary"))
      .withColumn("r_score", lit(6L) - col("__rt"))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .as("segment"))
  }

  /** HIERARCHICAL REVENUE SHARE — region → nation percent-of-parent
    * and percent-of-total from one aggregate: the drill-down sidebar
    * every BI stack renders. Portability: shares divide exact integer
    * CENTS (the 4dp-rounded nation revenue re-quantized to a long),
    * so the window sums are exact in any order and each share is one
    * IEEE division pushed through the r6 floor-formula; the window
    * SUM is CAST to DOUBLE in the oracle (DuckDB HUGEINT — the §8
    * rule's windowed form). Shape: broadcast dimension hops, one
    * partial-combined (region, nation) aggregate, then windows over
    * the ~|nations| frame (harmless tail). */
  def hr1HierarchicalShare(spark: SparkSession, dir: String): DataFrame = {
    val nation = broadcast(t(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
    val region = broadcast(t(spark, dir, "region")
      .select(col("r_regionkey"), col("r_name")))
    val rev = t(spark, dir, "orders")
      .join(t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("revenue"))
      .withColumn("rev_c", floor(col("revenue") * lit(1e4) + lit(0.5)).cast("long"))
    def share(total: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(col("rev_c").cast("double") / total * lit(1e6) + lit(0.5)) / lit(1e6)
    rev
      .withColumn("region_share6",
        share(sum(col("rev_c")).over(Window.partitionBy(col("r_name"))).cast("double")))
      .withColumn("total_share6",
        share(sum(col("rev_c")).over(Window.partitionBy()).cast("double")))
      .select(col("r_name"), col("n_name"), col("n_orders"), col("revenue"),
        col("region_share6"), col("total_share6"))
  }

  /** GINI CONCENTRATION of customer spend — the inequality number
    * behind every "top X% of customers drive Y% of revenue" slide:
    * G = (2·Σᵢ i·xᵢ) / (n·Σx) − (n+1)/n over per-customer totals
    * sorted ascending (ties by custkey). Spend quantizes to integer
    * CENTS; Σx fits a long, but the rank-weighted Σ i·xᵢ grows
    * ~n²·spend and would silently wrap a long at warehouse customer
    * counts — it accumulates in DECIMAL(38,0) (exact, order-free;
    * DuckDB's HUGEINT twin is exact the same way), cast to double
    * once at the end. The divisions + subtraction are one fixed IEEE
    * sequence through r6. Output is ONE row (G, n, total).
    *
    * Scale shape (the w5/rfm1 precedent): the rank over the
    * per-customer frame is promoted by [[graft.plans.RangeRankRewrite]]
    * above the size gate — plain window at gate scale,
    * [[graft.plans.GlobalRankExec]] (no single-partition stage)
    * above. */
  def gn1GiniSpend(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val per = t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 4).as("spend"))
      .withColumn("cents", floor(col("spend") * lit(1e4) + lit(0.5)).cast("long"))
    val ranked = per.withColumn("i",
      row_number().over(Window.orderBy(col("cents"), col("o_custkey"))).cast("long"))
    ranked.agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sx"),
        // decimal BEFORE the multiply: long i·cents wraps at scale
        sum(col("i").cast("decimal(38,0)")
          * col("cents").cast("decimal(38,0)")).as("six"))
      .select(col("n").as("n_customers"),
        (col("sx").cast("double") / lit(1e4)).as("total_spend4"),
        (floor(((lit(2.0) * col("six").cast("double"))
            / (col("n").cast("double") * col("sx").cast("double"))
          - (col("n") + 1).cast("double") / col("n").cast("double"))
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("gini6"))
  }

  /** MARKET-BASKET ASSOCIATION — top part pairs by LIFT over orders
    * (support/confidence/lift, the Agrawal-Srikant association-rule
    * measures): "bought together" mining, with a minimum pair support
    * so one-off coincidences never rank. All three measures are
    * ratios of exact integer counts (distinct orders containing the
    * part/pair), the ranking orders by the ROUNDED lift with a
    * (part_a, part_b) tie-break (the pmi1 discipline), and every
    * division mirrors the oracle's op order.
    *
    * Scale shape: the pair generator is the within-order self-join —
    * pair volume is Σ C(k_order, 2), bounded by BASKET size (TPC-H
    * ≤ 7 lines/order), never |parts|²; counts partial-combine on
    * (part_a, part_b); the support floor prunes before the measure
    * join; top-k via sort+limit (TakeOrderedAndProject). */
  /** The scored-pair core of [[mb1MarketBasket]] over an arbitrary
    * `(okey, part)` basket frame — the piece the scale smoke runs
    * unchanged (review rule: a smoke must exercise the PRODUCTION
    * path, not a drift-prone copy). Deduplicates internally. */
  def basketScores(basket: DataFrame, minSupport: Long): DataFrame = {
    // size-gated barrier (PlanAudit finding): the distinct item frame
    // has THREE consumers (order count, part counts, the per-basket
    // pair aggregate) whose inferred null guards and prunings defeat
    // ReuseExchange — without the barrier the distinct runs up to 3x
    val items = graft.Materialize.barrierAbove(
      basket.select(col("okey"), col("part")).distinct(),
      sizeOf = basket)
    val nn = items.agg(countDistinct(col("okey")).as("n_orders"))
    val cnt = items.groupBy(col("part")).agg(count(lit(1)).as("n_one"))
    // per-basket pair expansion instead of the okey self-join: group
    // the (distinct) items per order once and stream each basket's
    // ordered pairs from the sorted set — ONE exchange keyed on okey
    // where the self-join shuffled the item table twice and joined
    // (guide §2.4: two operations keyed the same way share one
    // exchange; here they fuse into one aggregate). Pair semantics
    // identical: items is distinct per (okey, part), so the sorted
    // set explodes to exactly the a < b pairs the join emitted, and
    // no row ever holds more than one basket's id list (the
    // bucketPairs memory posture; baskets are order-bounded).
    // Settled r21 (VERDICT r20 task 2): cold-JVM ×3 at sf0.1 this
    // expansion 1.67 s median vs the pre-r20 okey self-join 2.00 s —
    // the r20 driver regression was box noise; with the 23% shuffle-
    // byte reduction it wins at both ends and ships ungated.
    val pairs = items
      .groupBy(col("okey"))
      .agg(sort_array(collect_set(col("part"))).as("parts"))
      .where(size(col("parts")) > 1)
      .select(explode(col("parts")).as("part_a"), col("parts"))
      .select(col("part_a"),
        explode(filter(col("parts"), b => b > col("part_a"))).as("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minSupport)
    def r6p(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(c * lit(1e6) + lit(0.5)) / lit(1e6) // ratios are all >= 0
    pairs
      .join(cnt.select(col("part").as("part_a"), col("n_one").as("n_a")),
        Seq("part_a"))
      .join(cnt.select(col("part").as("part_b"), col("n_one").as("n_b")),
        Seq("part_b"))
      .crossJoin(broadcast(nn))
      .select(col("part_a"), col("part_b"), col("n_ab"),
        r6p(col("n_ab").cast("double") / col("n_orders")).as("support6"),
        r6p(col("n_ab").cast("double") / col("n_a")).as("confidence6"),
        r6p(col("n_ab").cast("double") * col("n_orders")
          / (col("n_a").cast("double") * col("n_b"))).as("lift6"))
  }

  // minSupport 3 (was 5): at gate SF the >=5 floor left a 1-row
  // result that under-constrained the measure arithmetic; >=3 keeps
  // the floor's pruning role (63 candidate pairs at sf0.01) while the
  // top-20 hash covers a full, varied page of rules
  def mb1MarketBasket(
      spark: SparkSession, dir: String,
      minSupport: Long = 3L, topK: Int = 20): DataFrame = {
    val scored = basketScores(
      t(spark, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part")),
      minSupport)
    scored.orderBy(col("lift6").desc, col("part_a"), col("part_b")).limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("lift6").desc, col("part_a"), col("part_b"))).cast("long"))
      .select(col("rank"), col("part_a"), col("part_b"), col("n_ab"),
        col("support6"), col("confidence6"), col("lift6"))
  }

  /** GRADED name similarity over part names — ed1's companion where
    * the linkage needs a SCORE, not an op count: per distinct blocked
    * name, how many other names in its block clear a Jaro–Winkler
    * threshold, and the best-scoring match (ties to the
    * lexicographically smallest name). Runs the native codegen'd
    * [[graft.functions.JaroWinklerSim]], whose semantics are pinned
    * bit-for-bit to DuckDB's independent `jaro_winkler_similarity` —
    * so the oracle cross-checks two implementations of the measure,
    * not one implementation mirrored. The threshold compare runs on
    * the RAW double (bit-equal on both engines); only the emitted
    * score is rounded, via the boundary-deterministic
    * floor(x·1e6+0.5)/1e6 (house r6 discipline).
    *
    * Scale shape: the ed1 distinct-value-linkage lesson applied from
    * the start — the pair scan runs at distinct-(block, name) grain
    * (Σ|block-names|² pairs, NOT record pairs), one exchange keyed on
    * block, one partial-combined min(struct) argbest per name. The
    * distinct-name frame feeds three consumers (pair left, pair
    * right, output base), so it sits behind the standard barrier —
    * without it the plan re-runs the scan+distinct per consumer
    * (column pruning defeats ReuseExchange, the au1 finding). */
  def jw1NameSimilarity(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.blockedNameSimilarity(
      t(spark, dir, "part").select(col("p_name").as("name"),
        concat(split(col("p_name"), " ").getItem(1), lit("|"),
          substring(col("p_name"), 1, 1)).as("block")),
      minSim = 0.94)
}
