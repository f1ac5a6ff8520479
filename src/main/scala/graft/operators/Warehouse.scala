package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse operator suite over the TPC-H-ish star schema (TESTDATA.md):
  * multi-way joins, aggregation suite, rollup/cube, window functions, set
  * ops, sorts/top-k. All declarative DataFrame plans so Catalyst gets
  * predicate pushdown, column pruning, join reordering and AQE for free.
  *
  * Cross-engine determinism convention (the DuckDB oracle hash-compares):
  * money aggregates go through exact DECIMAL(18,2) arithmetic and are cast
  * to double only at the end; averages are computed as sum/count on the
  * decimal; dates are emitted as 'yyyy-MM-dd' strings; every query ends in
  * an ORDER BY on a unique key.
  */
object Warehouse {

  /** Exact-decimal sum of a double money column; deterministic across
    * engines and across partition orderings (decimal addition commutes).
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,2)"))

  /** Deterministic average: exact decimal sum cast to double, divided by
    * the group count (double/long division is IEEE-defined).
    */
  def davg(c: Column): Column = dsum(c).cast("double") / count(lit(1))

  /** Exact-decimal revenue term price*(1-discount): each factor is cast to
    * decimal BEFORE multiplying so the arithmetic never touches doubles
    * (double→decimal rounding of a product differs between engines).
    */
  def revenueTerm(price: Column, discount: Column): Column =
    price.cast("decimal(18,2)") * (lit(1) - discount.cast("decimal(18,2)"))

  /** TPC-H Q1-style pricing summary on lineitem.
    * Map-side partial aggregation + 2-phase hash agg; scales linearly, the
    * shuffle carries only |returnflag × linestatus| groups.
    */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).cast("double").as("sum_qty"),
        dsum(col("l_extendedprice")).cast("double").as("sum_base_price"),
        sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3-style shipping priority: 3-way join, revenue per order, top-k.
    * customer is small → Catalyst broadcasts it; lineitem⋈orders is the one
    * real shuffle (both sides hashed on orderkey).
    */
  def shippingPriority(customer: DataFrame, orders: DataFrame,
                       lineitem: DataFrame, segment: String): DataFrame =
    customer.filter(col("c_mktsegment") === segment)
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"),
               date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      .agg(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  /** TPC-H Q10-style returned-item revenue: which customers sent back the
    * most revenue. The returnflag filter reaches the lineitem parquet scan
    * (predicate pushdown shrinks the big side before the join); filtered
    * lineitem ⋈ orders is the one real shuffle, customer then joins on the
    * already-aggregable custkey side; decimal-exact revenue, top-20 with a
    * unique tiebreak.
    */
  def returnedRevenue(customer: DataFrame, orders: DataFrame,
                      lineitem: DataFrame): DataFrame =
    lineitem.filter(col("l_returnflag") === "R")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
             .cast("double").as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q5-style local-supplier revenue: 6-way join down the
    * region→nation→customer→orders→lineitem→supplier chain. All dims are
    * broadcast-sized; the plan's only big shuffle is lineitem⋈orders.
    */
  def localSupplierRevenue(region: DataFrame, nation: DataFrame,
                           customer: DataFrame, orders: DataFrame,
                           lineitem: DataFrame, supplier: DataFrame,
                           regionName: String): DataFrame =
    region.filter(col("r_name") === regionName)
      .join(nation, col("n_regionkey") === col("r_regionkey"))
      .join(customer, col("c_nationkey") === col("n_nationkey"))
      .join(orders, col("o_custkey") === col("c_custkey"))
      .join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey") &&
                      col("s_nationkey") === col("c_nationkey"))
      .groupBy("n_name")
      .agg(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("n_name"))

  /** TPC-H Q14-style promo revenue: lineitem⋈part with a month rollup and
    * a conditional-revenue ratio. part is dimension-sized → broadcast; the
    * fact side streams with no shuffle before the tiny month aggregation.
    * The ratio divides two exact decimal sums (one double division at the
    * end), so it is deterministic cross-engine.
    */
  def promoRevenue(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(
        sum(when(col("p_type") === "PROMO",
            revenueTerm(col("l_extendedprice"), col("l_discount")))
          .otherwise(lit(0).cast("decimal(18,2)"))).as("promo_rev"),
        sum(revenueTerm(col("l_extendedprice"), col("l_discount"))).as("total_rev"),
        count(lit(1)).as("n_lines"))
      .select(col("ship_month"),
        round(lit(100.0) * col("promo_rev").cast("double")
          / col("total_rev").cast("double"), 6).as("promo_pct"),
        col("total_rev").cast("double").as("total_rev"),
        col("n_lines"))
      .orderBy("ship_month")

  /** Left-outer join histogram: how many orders have k lineitems (k=0
    * included). lineitem is pre-aggregated to one row per orderkey BEFORE
    * the join, so the join shuffles |orders| rows instead of |lineitem| —
    * at 100 TB that is the difference between a 4×-smaller and a full-fact
    * shuffle. coalesce(n,0) keeps the k=0 orders from the outer side.
    */
  def orderLineHistogram(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val linesPerOrder = lineitem.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines_raw"))
    orders.join(linesPerOrder, col("o_orderkey") === col("l_orderkey"), "left_outer")
      .withColumn("n_lines", coalesce(col("n_lines_raw"), lit(0L)))
      .groupBy("n_lines")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("n_lines")
  }

  /** FULL OUTER join (the one join type without its own oracled query
    * until round 5): daily order counts vs daily ship counts — ship
    * dates trail order dates, so both left-only days (early orders not
    * yet shipped-on) and right-only days (late shipments) genuinely
    * occur, exercising null-surfacing on BOTH sides. The join key
    * coalesces (Seq-key full outer), nulls stay nulls in the counts.
    */
  def dailyOrderShipCounts(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val od = orders.groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("n_orders"))
    val sd = lineitem.groupBy(col("l_shipdate").as("day"))
      .agg(count(lit(1)).as("n_ships"))
    od.join(sd, Seq("day"), "full_outer")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
              col("n_orders"), col("n_ships"))
      .orderBy("day")
  }

  /** Left-semi: customers that placed at least one order, counted per
    * nation. Semi-join shuffles only the keys; no row duplication.
    */
  def customersWithOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_nationkey")

  /** Left-anti: customers with no orders, counted per market segment. */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")

  /** EQUI-WIDTH HISTOGRAM census (q_histogram) — the value-distribution
    * statistic a cost-based optimizer feeds on next to
    * [[graft.operators.Pipeline.profileTable]]'s min/max/mean (ANALYZE
    * ... FOR COLUMNS in warehouse terms): per numeric column, the
    * [min, max] range split into `buckets` equal-width cells, each row
    * bucketed by one subtract-divide-floor, top cell closed (the max
    * value lands in bucket B−1, not B). Selectivity estimation,
    * skew-aware planning, and range-predicate cardinality all read
    * exactly this table; only observed (non-empty) buckets emit.
    *
    * Scale shape: per column one scalar min/max agg (broadcast back)
    * and one hash agg on the bucket id — two scans total per column,
    * partial-agg friendly, no window, no join beyond the 1-row
    * broadcast. Determinism: width and edges are IEEE arithmetic on
    * exact inputs, identical cross-engine; counts exact; edges
    * display-rounded. Degenerate range (a constant column, hi == lo)
    * is guarded: w would be 0 and (v-lo)/w = 0/0 = NaN — engines
    * diverge on floor/least over NaN and rows silently vanish — so a
    * constant column emits the single bucket 0 with lo_edge = hi_edge
    * = the constant and n_rows = count.
    */
  def valueHistogram(lineitem: DataFrame, buckets: Int = 16,
                     cols: Seq[String] = Seq("l_extendedprice", "l_quantity"))
      : DataFrame =
    cols.map { c =>
      val stats = lineitem.agg(min(col(c)).cast("double").as("lo"),
        max(col(c)).cast("double").as("hi"))
      lineitem.select(col(c).cast("double").as("v"))
        .crossJoin(broadcast(stats))
        .withColumn("w", (col("hi") - col("lo")) / lit(buckets.toDouble))
        .withColumn("bucket",
          when(col("hi") === col("lo"), lit(0L)).otherwise(
            least(floor((col("v") - col("lo")) / col("w")),
              lit((buckets - 1).toLong))))
        .groupBy("bucket", "lo", "w")
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(c).as("col_name"), col("bucket"),
          round(col("lo") + col("bucket") * col("w"), 6).as("lo_edge"),
          round(col("lo") + (col("bucket") + 1) * col("w"), 6).as("hi_edge"),
          col("n_rows"))
    }.reduce(_ unionByName _).orderBy("col_name", "bucket")

  /** Full scalar-aggregate suite incl. exact count(distinct). The
    * repartition spread stays at this site — the r11 audit tried
    * dropping it and measured 2.4× wall (1.0 → 2.5 s at sf0.1): the
    * count-distinct EXPAND doubles every row BEFORE any exchange, so
    * its partial phase runs at input-split parallelism, and the
    * warehouse ships lineitem as one parquet file (= 2 splits at
    * sf0.1). At 100 TB the scan arrives in thousands of splits and an
    * engine would elide this; with a single-file input the spread is
    * what buys the partial phase its cores.
    */
  def aggSuite(lineitem: DataFrame): DataFrame =
    lineitem.repartition(col("l_orderkey")).groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        dsum(col("l_quantity")).cast("double").as("sum_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        min(date_format(col("l_shipdate"), "yyyy-MM-dd")).as("first_ship"),
        max(date_format(col("l_shipdate"), "yyyy-MM-dd")).as("last_ship"))
      .orderBy("l_returnflag")

  /** ROLLUP over the region→nation customer hierarchy; grouping_id
    * disambiguates subtotal rows from genuine NULL keys.
    *
    * The GROUP BY ROLLUP goes through the SQL parser: the Dataset rollup
    * API trips DetectAmbiguousSelfJoin's false positive when the grouping
    * keys flow out of a join (the Expand node re-exposes join-tagged
    * exprIds). Identical logical plan either way.
    */
  def rollupAcctBal(region: DataFrame, nation: DataFrame,
                    customer: DataFrame): DataFrame = {
    val joined = customer
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .select("r_name", "n_name", "c_acctbal")
    val view = "graft_rollup_in"
    joined.createOrReplaceTempView(view)
    joined.sparkSession.sql(
      s"""SELECT r_name, n_name,
         |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
         |  count(*) AS n_customers, grouping_id() AS lvl
         |FROM $view GROUP BY ROLLUP(r_name, n_name)
         |ORDER BY lvl, r_name, n_name""".stripMargin)
  }

  /** Arbitrary GROUPING SETS (the general form rollup/cube specialize):
    * per-(status,priority), per-status, and per-priority totals in one
    * pass — Catalyst expands to one Expand node feeding a single hash
    * aggregation, not three scans.
    */
  def orderGroupingSets(orders: DataFrame): DataFrame = {
    val view = "graft_gsets_in"
    orders.select("o_orderstatus", "o_orderpriority", "o_totalprice")
      .createOrReplaceTempView(view)
    orders.sparkSession.sql(
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         |  grouping_id() AS lvl
         |FROM $view
         |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
         |                        (o_orderstatus), (o_orderpriority))
         |ORDER BY lvl, o_orderstatus, o_orderpriority""".stripMargin)
  }

  /** CUBE over order status × priority. */
  def cubeOrders(orders: DataFrame): DataFrame =
    orders.cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).cast("double").as("sum_price"),
           grouping_id(col("o_orderstatus"), col("o_orderpriority")).as("lvl"))
      .orderBy(col("lvl"), col("o_orderstatus"), col("o_orderpriority"))

  /** TPC-H Q17-style correlated scalar subquery: revenue of lineitems
    * below half their part's average quantity. Catalyst decorrelates the
    * per-part subquery into an aggregate + join — the rewrite that keeps
    * this from being a per-row lookup at scale (the SQL surface is the
    * point here; a hand-built join would skip the decorrelation path).
    */
  def smallQtyRevenue(lineitem: DataFrame): DataFrame = {
    lineitem.createOrReplaceTempView("graft_q17_l")
    lineitem.sparkSession.sql(
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |         AS avg_yearly,
        |       count(*) AS n_lines
        |FROM graft_q17_l l1
        |WHERE l_quantity < (SELECT 0.5 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
        |                                       AS DOUBLE) / count(*))
        |                    FROM graft_q17_l l2
        |                    WHERE l2.l_partkey = l1.l_partkey)""".stripMargin)
  }

  /** Correlated EXISTS: customers with at least one returned lineitem,
    * per nation. Decorrelates to a semi-join chain.
    */
  def customersWithReturns(customer: DataFrame, orders: DataFrame,
                           lineitem: DataFrame): DataFrame = {
    customer.createOrReplaceTempView("graft_qex_c")
    orders.createOrReplaceTempView("graft_qex_o")
    lineitem.createOrReplaceTempView("graft_qex_l")
    customer.sparkSession.sql(
      """SELECT c_nationkey, count(*) AS n_customers
        |FROM graft_qex_c c
        |WHERE EXISTS (SELECT 1 FROM graft_qex_o o JOIN graft_qex_l l
        |                ON o.o_orderkey = l.l_orderkey
        |              WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
  }

  /** TPC-H Q18-style large orders: IN over a grouped HAVING subquery. */
  def largeOrders(orders: DataFrame, lineitem: DataFrame,
                  minQty: Int): DataFrame = {
    orders.createOrReplaceTempView("graft_q18_o")
    lineitem.createOrReplaceTempView("graft_q18_l")
    orders.sparkSession.sql(
      s"""SELECT o.o_orderkey, o.o_custkey,
         |       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
         |FROM graft_q18_o o JOIN graft_q18_l l ON o.o_orderkey = l.l_orderkey
         |WHERE o.o_orderkey IN (SELECT l_orderkey FROM graft_q18_l
         |                       GROUP BY l_orderkey
         |                       HAVING sum(l_quantity) > $minQty)
         |GROUP BY o.o_orderkey, o.o_custkey
         |ORDER BY o.o_orderkey""".stripMargin)
  }

  /** TPC-H Q12-style conditional aggregation: lineitems joined to their
    * orders, split into urgent/non-urgent counts per return flag — the
    * CASE-inside-SUM shape. One fact-fact shuffle join, tiny output.
    */
  def urgentLineCounts(orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_line_count"),
        count(lit(1)).as("n_lines"))
      .orderBy("l_returnflag")

  /** TPC-H Q19-style disjunctive join predicates: part⋈lineitem where the
    * match condition is an OR of brand/size/quantity conjunctions.
    * Catalyst extracts the common equi-key (partkey) for the hash join
    * and applies the disjunction as a post-join filter with the
    * brand/size legs pushed into the part scan.
    */
  def brandPromoRevenue(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem.join(part,
        col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
           col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
           col("l_quantity").between(10, 35))))
      .agg(
        sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** Windowed top-k per group: 3 priciest orders per priority class.
    * The rank is tie-broken by the unique orderkey so it is total, and
    * it is computed by TextAnalysis.withGroupedPrefix rather than a
    * `Window.partitionBy(o_orderpriority)`: there are five priority
    * classes, so a grouped window would pull a fifth of the orders
    * table through ONE task — the same low-cardinality-domain
    * serialization the mixture/packing rewrite cleared (round 8). The
    * grouped device spreads each class over range partitions and
    * shifts local ranks by counts-only census offsets.
    */
  def topOrdersPerPriority(orders: DataFrame, k: Int): DataFrame =
    orders
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .transform(TextAnalysis.withGroupedPrefix(Seq("o_orderpriority"),
        "rk", "_cum", lit(0L), col("o_totalprice").desc, col("o_orderkey")))
      .drop("_cum")
      .filter(col("rk") <= k)
      .orderBy("o_orderpriority", "rk")

  /** The remaining rank-function family (§2.5 completeness next to
    * row_number/lag/frames): dense_rank, percent_rank, cume_dist, and
    * ntile quartiles of order value within each priority class. The
    * ordering key (price desc, orderkey) is a TOTAL order, so every
    * rank is deterministic; output restricted to the per-priority top-5
    * so the result stays small while every function still exercises
    * real partition boundaries.
    *
    * Scale shape: NO priority-partitioned window — five priority
    * classes would funnel a fifth of the orders table through one task
    * (the shape [[topOrdersPerPriority]] cleared in round 8). Under the
    * total order every rank function is arithmetic over (rk, n): the
    * row number rk comes from TextAnalysis.withGroupedPrefix (range
    * exchange + (_pid, group)-local window + census offsets), the group
    * size n from a 5-row broadcast count join, and then dense_rank = rk
    * (no order ties exist), percent_rank = (rk−1)/(n−1), cume_dist =
    * rk/n (rows ≤ current = rk under a total order), and ntile(b) is
    * the standard first-(n%b)-buckets-get-one-extra floor arithmetic —
    * exactly the values the native window functions define, computed
    * without their partition funnel.
    */
  def orderValueRanks(orders: DataFrame, k: Int): DataFrame = {
    val base = orders
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    val counts = base.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("_n"))
    // ntile(4): q = n DIV 4, r = n % 4; the first r buckets hold q+1
    // rows. greatest(q, 1) guards the (never-taken when q = 0) else
    // branch against ANSI division-by-zero.
    base
      .transform(TextAnalysis.withGroupedPrefix(Seq("o_orderpriority"),
        "rk", "_cum", lit(0L), col("o_totalprice").desc, col("o_orderkey")))
      .drop("_cum")
      .filter(col("rk") <= k)
      .join(broadcast(counts), "o_orderpriority")
      .withColumn("dense_rk", col("rk"))
      .withColumn("pct_rank",
        when(col("_n") === 1, lit(0.0)).otherwise(
          round((col("rk").cast("double") - lit(1.0)) /
                (col("_n").cast("double") - lit(1.0)), 6)))
      .withColumn("cume",
        round(col("rk").cast("double") / col("_n").cast("double"), 6))
      .withColumn("quartile", expr(
        """CASE WHEN rk <= (_n % 4) * (_n DIV 4 + 1)
          |  THEN (rk - 1) DIV (_n DIV 4 + 1) + 1
          |  ELSE (_n % 4) + (rk - 1 - (_n % 4) * (_n DIV 4 + 1))
          |         DIV greatest(_n DIV 4, 1) + 1
          |END""".stripMargin).cast("long"))
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        col("rk"), col("dense_rk"), col("pct_rank"), col("cume"),
        col("quartile"))
      .orderBy("o_orderpriority", "rk")
  }

  /** Analytic lag/lead: per-user inter-event gap statistics on the events
    * table. Window ordered by (ts, event_id) — a total order, so lag is
    * deterministic even under timestamp ties.
    */
  def userEventGaps(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("gap_us", unix_micros(col("ts")) - col("prev_us"))
      .groupBy("user_id")
      .agg(count(col("gap_us")).as("n_gaps"),
           sum(col("gap_us")).as("sum_gap_us"),
           max(col("gap_us")).as("max_gap_us"))
      .orderBy("user_id")
  }

  /** Frame-based running total per user (rowsBetween unboundedPreceding).
    * value goes through DECIMAL so the running sums are exact.
    */
  def runningValue(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.select(
        col("event_id"), col("user_id"),
        sum(col("value").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_value"))
      .orderBy("event_id")
  }

  /** Range-frame windowed aggregate (the rangeBetween half of §2.5, next
    * to [[runningValue]]'s rowsBetween): per event, the count and exact-
    * decimal value sum of the same user's events in the trailing hour.
    * RANGE frames bound by the ORDER BY *value* — every time-peer row is
    * in the frame regardless of position, so no tiebreak key is needed
    * for determinism (unlike positional ROWS frames).
    */
  def trailingHourValue(events: DataFrame): DataFrame = {
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-hourUs, Window.currentRow)
    events
      .withColumn("us", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_hour"),
        sum(col("value").cast("decimal(18,2)")).over(w)
          .cast("double").as("sum_value_hour"))
      .orderBy("event_id")
  }

  /** Global sort + limit (top 100 orders by price, unique tiebreak). */
  def topOrders(orders: DataFrame, k: Int): DataFrame =
    orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)

  /** Set-operation suite: union / intersect / except over customer-key
    * sets, reduced to tagged counts so output is one row per operation.
    */
  def setOpsSummary(customer: DataFrame, orders: DataFrame): DataFrame = {
    val buyers   = orders.select(col("o_custkey").as("k")).distinct()
    val building = customer.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    def tag(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("op"), col("n"))
    tag("union", building.union(buyers).distinct())
      .unionByName(tag("intersect", building.intersect(buyers)))
      .unionByName(tag("except", building.except(buyers)))
      .orderBy("op")
  }

  /** Pivot: order counts per status with one column per priority class.
    * Catalyst compiles the explicit value list into a single-pass
    * conditional aggregation (one Expand-free hash agg) — with the values
    * enumerated there is no extra distinct-scan job. Absent combinations
    * surface as 0, not null, to match the SQL conditional-sum form.
    */
  val priorityPivotCols: Seq[(String, String)] = Seq(
    "1-URGENT" -> "p_urgent", "2-HIGH" -> "p_high", "3-MEDIUM" -> "p_medium",
    "4-NOT SPECIFIED" -> "p_notspec", "5-LOW" -> "p_low")

  def statusPriorityPivot(orders: DataFrame): DataFrame =
    orders.groupBy("o_orderstatus")
      .pivot("o_orderpriority", priorityPivotCols.map(_._1))
      .agg(count(lit(1)))
      .select(col("o_orderstatus") +: priorityPivotCols.map { case (v, a) =>
        coalesce(col(s"`$v`"), lit(0L)).as(a) }: _*)
      .orderBy("o_orderstatus")

  /** Unpivot (melt): the wide per-returnflag metric row back to skinny
    * (metric, value) rows — the inverse operator to pivot, a pure
    * map-side Expand (each input row emits one row per value column, no
    * shuffle beyond the feeding aggregation).
    */
  def unpivotMetrics(lineitem: DataFrame): DataFrame =
    lineitem.groupBy("l_returnflag")
      .agg(
        dsum(col("l_quantity")).cast("double").as("sum_qty"),
        dsum(col("l_extendedprice")).cast("double").as("sum_price"),
        dsum(col("l_discount")).cast("double").as("sum_disc"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")

  /** Exact distinct-count per group (the oracle-checkable half of A6). */
  def distinctBuyers(orders: DataFrame): DataFrame =
    orders.groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_buyers"),
           count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  /** Exact interpolated percentiles per group (median/p90/p99). Spark's
    * percentile() and DuckDB's quantile_cont both linearly interpolate
    * over the sorted values, and the interpolation arithmetic is plain
    * IEEE — so even this is hash-exact cross-engine. Exact percentile
    * sorts per group; at 100 TB the swap is [[approxPricePercentiles]].
    */
  def pricePercentiles(orders: DataFrame): DataFrame =
    orders.groupBy("o_orderstatus")
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"),
        expr("percentile(o_totalprice, 0.99)").as("p99"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  /** approx_count_distinct (HLL++) — sketch output differs from DuckDB's
    * approx algorithm, so the raw estimate can never hash-match an
    * oracle; DedupSpec ("approx_count_distinct lands within 5x rsd…")
    * bounds it against the exact count. This estimate-only form is the
    * production operator; [[approxDistinctAudit]] is the oracle-gated
    * audit of the same sketch.
    */
  def approxDistinctBuyers(orders: DataFrame): DataFrame =
    orders.groupBy("o_orderstatus")
      .agg(approx_count_distinct(col("o_custkey"), 0.02).as("approx_buyers"))
      .orderBy("o_orderstatus")

  /** BOUNDED-PASS oracle form of [[approxDistinctBuyers]]
    * (q_approx_distinct): the HLL++ estimate is engine-specific, so the
    * oracled output carries the EXACT distinct count (cross-engine) plus
    * `in_bound` — whether the estimate landed within the documented
    * 5·rsd band of it. The DuckDB oracle asserts in_bound = 1, so the
    * error bound is enforced by the hash gate itself: a drifting sketch
    * flips the flag and fails the round, instead of hiding behind a
    * rows-only check. One pass: the sketch and the exact distinct share
    * a single grouped aggregate (the exact count is the audit's cost,
    * paid only here — production reads the estimate-only form).
    */
  def approxDistinctAudit(orders: DataFrame, rsd: Double = 0.02): DataFrame =
    orders.groupBy("o_orderstatus")
      .agg(approx_count_distinct(col("o_custkey"), rsd).as("est"),
           countDistinct(col("o_custkey")).as("n_buyers"),
           count(lit(1)).as("n_orders"))
      .select(col("o_orderstatus"), col("n_buyers"), col("n_orders"),
        (abs(col("est") - col("n_buyers")).cast("double") <=
          lit(5 * rsd) * col("n_buyers").cast("double"))
          .cast("long").as("in_bound"))
      .orderBy("o_orderstatus")

  /** approx_percentile — the 100-TB swap for [[pricePercentiles]]: a
    * mergeable bounded-memory sketch per group instead of a per-group
    * sort. Sketch ranks are engine-specific, so this estimate-only form
    * is never hashed directly; it is the PRODUCTION operator Bench
    * times (SparkEntry.benchForms), while q_approx_percentiles declares
    * [[approxPercentilesAudit]] — the bounded-pass form whose in_bound
    * flag the DuckDB oracle asserts. PlanSpec ("approx_percentile
    * brackets the exact…") additionally bounds each estimate against
    * the exact percentile's rank tolerance.
    */
  def approxPricePercentiles(orders: DataFrame, accuracy: Int = 10000): DataFrame =
    orders.groupBy("o_orderstatus")
      .agg(
        expr(s"approx_percentile(o_totalprice, 0.5, $accuracy)").as("ap50"),
        expr(s"approx_percentile(o_totalprice, 0.9, $accuracy)").as("ap90"),
        expr(s"approx_percentile(o_totalprice, 0.99, $accuracy)").as("ap99"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  /** BOUNDED-PASS oracle form of [[approxPricePercentiles]]
    * (q_approx_percentiles): sketch ranks are engine-specific, so the
    * oracled output carries the EXACT interpolated percentiles (the
    * [[pricePercentiles]] cross-engine law) plus `in_bound` — whether
    * each estimate's empirical rank interval [#(<v)/n, #(≤v)/n] contains
    * its target quantile within `tol` (the PlanSpec rank-tolerance test,
    * now enforced by the DuckDB hash gate: the oracle asserts
    * in_bound = 1, so an out-of-tolerance sketch fails the round).
    * Shape: one grouped sketch pass, the 3-row estimate frame broadcast
    * back onto one exact-percentile + rank-count pass.
    */
  def approxPercentilesAudit(orders: DataFrame, accuracy: Int = 10000,
                             tol: Double = 0.02): DataFrame = {
    val est = orders.groupBy("o_orderstatus")
      .agg(
        expr(s"approx_percentile(o_totalprice, 0.5, $accuracy)").as("ap50"),
        expr(s"approx_percentile(o_totalprice, 0.9, $accuracy)").as("ap90"),
        expr(s"approx_percentile(o_totalprice, 0.99, $accuracy)").as("ap99"))
    val n = count(lit(1)).cast("double")
    def rankOk(q: Double, apc: String) = {
      val lo = sum((col("o_totalprice") < col(apc)).cast("long"))
        .cast("double") / n
      val hi = sum((col("o_totalprice") <= col(apc)).cast("long"))
        .cast("double") / n
      (lo - lit(tol) <= lit(q)) && (lit(q) <= hi + lit(tol))
    }
    orders.join(broadcast(est), "o_orderstatus")
      .groupBy("o_orderstatus")
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"),
        expr("percentile(o_totalprice, 0.99)").as("p99"),
        count(lit(1)).as("n_orders"),
        (rankOk(0.5, "ap50") && rankOk(0.9, "ap90") && rankOk(0.99, "ap99"))
          .cast("long").as("in_bound"))
      .orderBy("o_orderstatus")
  }

  /** TPC-H Q4-shape order priority check, adapted to this schema: the
    * canonical query counts orders with a late lineitem
    * (l_commitdate < l_receiptdate); those columns don't exist here, so
    * "late" is a lineitem shipped more than 60 days after the order date.
    * Same plan shape either way: a correlated EXISTS that Catalyst plans
    * as a LEFT SEMI hash join on orderkey (one shuffle, never multiplies
    * rows), then a priority rollup of a handful of groups.
    */
  def priorityExistsCheck(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.join(
        lineitem.select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")

  /** TPC-H Q6 forecasting-revenue scan: a single filtered pass over
    * lineitem with zero joins — the query whose whole cost is scan
    * bandwidth, and whose whole optimization is pushdown (PushedFilters
    * carries the date/discount/quantity bands to the parquet reader;
    * WholeStageCodegen fuses filter and partial agg). The classic
    * sanity-check that the engine's fast path IS fast.
    */
  def forecastRevenue(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
              col("l_shipdate") < lit("1997-01-01") &&
              col("l_discount").between(0.02, 0.06) &&
              col("l_quantity") < 24)
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)")
          * col("l_discount").cast("decimal(18,2)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q13 customer order-count distribution: LEFT OUTER join so
    * customers with zero (qualifying) orders appear in the c_count=0
    * bucket, then a distribution over the counts — the two-level
    * aggregation shape (group by key, then group by the count itself).
    * The qualifying-order predicate stands in for the canonical
    * o_comment NOT LIKE filter (no comment column in this schema).
    */
  def orderCountDistribution(customer: DataFrame,
                             orders: DataFrame): DataFrame =
    customer.join(
        orders.filter(col("o_orderpriority") =!= "1-URGENT")
          .select("o_custkey", "o_orderkey"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count")) // count(col) skips nulls
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))

  /** Customer-side geography: each custkey tagged with its region name.
    * The nation and region dims are tiny — the join graph's Q7/Q8 trick
    * is that the SAME dims join twice in different roles (customer side
    * here, supplier side in [[suppGeo]]), and Catalyst broadcasts both.
    */
  private def custGeo(customer: DataFrame, nation: DataFrame,
                      region: DataFrame): DataFrame =
    customer.join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name").as("cust_region"))

  /** Supplier-side geography (the second role of the same dims). */
  private def suppGeo(supplier: DataFrame, nation: DataFrame,
                      region: DataFrame): DataFrame =
    supplier.join(nation, col("s_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("r_name").as("supp_region"))

  /** TPC-H Q7-shape volume shipping, adapted one level up the geography:
    * the canonical query fixes a nation PAIR, but 25 nations over this
    * synthetic volume make any single pair empty — cross-REGION trade
    * (customer's region ≠ supplier's region) keeps the exact join graph
    * (lineitem⋈orders⋈customer⋈nation⋈region and the same two dims
    * re-joined on the supplier side) with a non-trivial 5×4-pair result.
    * Both geography sides are broadcast; the fact tables meet in one
    * hash join on orderkey — the plan Q7 is designed to exercise.
    */
  def volumeShipping(lineitem: DataFrame, orders: DataFrame,
                     customer: DataFrame, supplier: DataFrame,
                     nation: DataFrame, region: DataFrame): DataFrame =
    lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custGeo(customer, nation, region)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppGeo(supplier, nation, region)),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("cust_region") =!= col("supp_region"))
      .groupBy(col("cust_region"), col("supp_region"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(dsum(col("l_extendedprice")).cast("double").as("volume"),
           count(lit(1)).as("n_lines"))
      .orderBy("cust_region", "supp_region", "o_year")

  /** TPC-H Q8-shape market share: the fraction of one region's purchases
    * of one part type supplied from WITHIN that region, by year — the
    * local-vs-foreign sourcing share (the canonical single supplier
    * nation is empty-sparse at this volume, same adaptation rationale as
    * [[volumeShipping]]). Exercises the full 7-table Q8 join graph:
    * part prunes the fact scan, customer geography filters the market,
    * supplier geography labels each line, and the share is the q14
    * decimal-sum-then-double-divide device.
    */
  def marketShare(lineitem: DataFrame, orders: DataFrame,
                  customer: DataFrame, supplier: DataFrame,
                  nation: DataFrame, region: DataFrame, part: DataFrame,
                  market: String = "EUROPE",
                  ptype: String = "ECONOMY"): DataFrame =
    lineitem
      .join(broadcast(part.filter(col("p_type") === ptype)
        .select("p_partkey")), col("l_partkey") === col("p_partkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custGeo(customer, nation, region)
        .filter(col("cust_region") === market)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppGeo(supplier, nation, region)),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_region") === market,
            revenueTerm(col("l_extendedprice"), col("l_discount")))
          .otherwise(lit(0).cast("decimal(18,2)"))).as("local_rev"),
        sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
          .as("total_rev"),
        count(lit(1)).as("n_lines"))
      .select(col("o_year"),
        round(col("local_rev").cast("double")
          / col("total_rev").cast("double"), 6).as("mkt_share"),
        col("total_rev").cast("double").as("total_rev"),
        col("n_lines"))
      .orderBy("o_year")

  /** TPC-H Q15 top supplier: quarterly revenue per supplier, then the
    * suppliers whose revenue EQUALS the maximum (the canonical
    * view + scalar-subquery shape — ties all surface, unlike a LIMIT 1).
    * The max is decimal-exact, so the equality is engine-safe; the
    * revenue view aggregates before joining supplier names, and the
    * 1-row max broadcasts. At 100 TB: one hash agg on suppkey, one
    * broadcast, no sort.
    */
  def topSupplier(lineitem: DataFrame, supplier: DataFrame,
                  from: String = "1996-01-01",
                  until: String = "1996-04-01"): DataFrame = {
    val revenue = lineitem
      .filter(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(until))
      .groupBy("l_suppkey")
      .agg(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
        .as("total_rev"))
    val best = revenue.agg(max(col("total_rev")).as("best_rev"))
    revenue.crossJoin(broadcast(best))
      .filter(col("total_rev") === col("best_rev"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_rev"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q22-shape dormant high-value customers: balance above the
    * average POSITIVE balance (a correlated scalar the plan evaluates
    * once — here kept in-plan as a 1-row broadcast crossJoin, never a
    * driver collect) and no orders SINCE the cutoff (LEFT ANTI join —
    * the canonical "hasn't ordered in years"; every synthetic customer
    * has SOME order, so unconditional orderlessness would be empty),
    * rolled up by market segment (the schema has no phone column, so
    * the canonical country-code grouping becomes c_mktsegment).
    * Decimal-exact sums, double division — the cross-engine money
    * convention.
    */
  def dormantValue(customer: DataFrame, orders: DataFrame,
                   since: String = "2000-01-01"): DataFrame = {
    val threshold = customer.filter(col("c_acctbal") > 0)
      .agg(davg(col("c_acctbal")).as("avg_bal"))
    customer.crossJoin(broadcast(threshold))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(orders.filter(col("o_orderdate") >= lit(since))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("numcust"),
           dsum(col("c_acctbal")).cast("double").as("totacctbal"))
      .orderBy("c_mktsegment")
  }

  /** One per-JVM scratch dir for the bucketed-layout tables: written
    * once, reused by every later query in the JVM. */
  private lazy val bucketedRoot: String = graft.Scratch.dir("bucketed")

  /** Write orders and lineitem ONCE as co-bucketed tables: both hashed
    * into the same number of buckets on the join key, one file per
    * bucket (the repartition), sortBy so the merge join reads presorted
    * runs. This is the 100-TB layout decision the plain parquet scan
    * can't express: every subsequent join on orderkey reads bucket i
    * against bucket i with NO shuffle on either side — the shuffle is
    * paid once at write time and amortized across every downstream join
    * on the key, and a point lookup prunes to a single bucket
    * (SelectedBucketsCount). PlanSpec locks the zero-Exchange join.
    */
  def writeBucketedLayout(spark: SparkSession, orders: DataFrame,
                          lineitem: DataFrame, buckets: Int = 8): Unit = {
    orders.select("o_orderkey", "o_orderpriority")
      .repartition(buckets, col("o_orderkey"))
      .write.bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$bucketedRoot/orders").mode("overwrite")
      .saveAsTable("graft_bkt_orders")
    lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
      .repartition(buckets, col("l_orderkey"))
      .write.bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$bucketedRoot/lineitem").mode("overwrite")
      .saveAsTable("graft_bkt_lineitem")
  }

  /** The co-located join over [[writeBucketedLayout]]'s tables, exposed
    * separately so PlanSpec can assert the join subtree shuffle-free.
    * The merge hint keeps the demonstration honest at test scale: at
    * warehouse scale both sides exceed the broadcast threshold and SMJ
    * is exactly the join the bucketing must co-locate.
    */
  def bucketedJoinFrame(spark: SparkSession): DataFrame =
    spark.table("graft_bkt_orders").hint("merge")
      .join(spark.table("graft_bkt_lineitem"),
        col("o_orderkey") === col("l_orderkey"))

  /** q_bucketed_join: layout write + co-located join + per-priority
    * revenue. Bucketing changes the PLAN, not the values, so the oracle
    * is the ordinary join SQL over the raw tables — the strongest check
    * that the layout path loses nothing.
    */
  def bucketedOrderRevenue(spark: SparkSession, orders: DataFrame,
                           lineitem: DataFrame, buckets: Int = 8): DataFrame = {
    writeBucketedLayout(spark, orders, lineitem, buckets)
    bucketedJoinFrame(spark)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
           sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
             .cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** BLOOM-FILTER RUNTIME-PRUNED SEMI-JOIN census (q_bloom_prune) — the
    * big-engine join optimization made an explicit, measurable operator:
    * build a constant-size Bloom bitmap over the build side's keys
    * (customers in one market segment), broadcast it, pre-filter the
    * probe side (orders) AT THE SCAN with two arithmetic hashes and a
    * bit test, then run the exact semi-join only over the survivors.
    * Emits, per order priority, the candidate count the Bloom pass let
    * through, the true-match count the exact join confirms, the
    * false-positive residue, and the matched revenue — plus the bitmap
    * fill and its implied false-positive rate, so the pruning quality is
    * part of the verified result, not a log line.
    *
    * Scale shape — THE reason this operator exists at 100 TB: the
    * bitmap is O(m) = 8 KiB regardless of fact size (vs a broadcast
    * hash set that grows with the build side), so the fact scan drops
    * non-candidates BEFORE any exchange and the downstream join sees
    * |matches| + |fp| rows, not |orders|. This is exactly the runtime
    * bloom-filter / DPP machinery Spark and Trino inject implicitly
    * (spark.sql.optimizer.runtime.bloomFilter.enabled) — expressed as a
    * first-class operator whose pruning numbers are oracled. At a
    * 1000-executor deployment the same plan holds: tiny dim agg →
    * 8 KiB broadcast → map-side prune → broadcast semi-join verify.
    *
    * Cross-engine determinism: hashes are plain 64-bit integer
    * arithmetic, overflow-safe for ANY bigint key (the key is reduced
    * mod a prime FIRST, so products stay below p·A < 2^33 — no wrap on
    * either engine); words pack 62 bits so no shift ever reaches the
    * sign bit; the bitmap is bit_or-aggregated (idempotent, order-free);
    * revenue is the exact-decimal [[dsum]]. Every census column is
    * integer or decimal-exact, so the DuckDB twin (same hashes, words
    * as a CTE joined instead of broadcast — representation differs,
    * math doesn't) hash-matches bit for bit.
    *
    * Hash independence: each hash is a random QUADRATIC over a LARGE
    * prime (≈2^31), reduced to the bitmap by a distinct small prime:
    * h_i(k) = ((r²_i mod P_i)·A_i + r_i·B_i + C_i) mod P_i mod p_i with
    * r_i = k mod P_i, P_1 = 2147483647, P_2 = 2147483629, p_i the two
    * largest primes ≤ mBits. Three structural failure modes die here,
    * and the DedupSpec decorrelation test pins them at key > 65536:
    *  - a single small modulus ((k·A) mod 2^16 twice) factors both
    *    hashes through k mod 65536 — every key congruent to a build key
    *    is a GUARANTEED double collision;
    *  - an AFFINE h (even over distinct small primes) has
    *    h(k+c) − h(k) constant, so a shifted copy of a dense build-key
    *    range wraps back into the dense build-RESIDUE interval and
    *    re-hits build bits via neighboring keys (measured: 495/512);
    *    the quadratic difference A·(2rc+c²)+B·c varies with r across
    *    [0, P) and lands at the independence-model rate after the final
    *    reduction;
    *  - the two large primes differ, so by CRT the PAIR factors through
    *    nothing below P1·P2 ≈ 4.6e18 — no bigint key range aliases.
    * `fpp_est` = (bits_set/p1)·(bits_set/p2) is the independence-MODEL
    * estimate: each probe hash is confined to [0, p_i) — bits in
    * [p_i, m) are never set AND never probed — so the per-hash hit
    * probability is bits_set/p_i, not bits_set/m (dividing by m would
    * understate the model fpp by ~0.05% at the default width).
    */
  private def isPrime(x: Int) =
    x > 1 && !(2 to math.sqrt(x.toDouble).toInt).exists(x % _ == 0)

  private def largestPrimeAtMost(n: Int): Int =
    Iterator.from(n, -1).find(isPrime).get

  /** The (p1, p2) bitmap-reduction prime pair [[bloomPruneJoin]] derives
    * from its `mBits` — shared with the oracle-SQL generator so the twin
    * can never drift from the Scala side's computed constants.
    */
  private[graft] def bloomPrimes(mBits: Int): (Int, Int) = {
    val p1 = largestPrimeAtMost(mBits)      // 65521 at the default width
    val p2 = largestPrimeAtMost(p1 - 1)     // 65519 at the default width
    (p1, p2)
  }

  def bloomPruneJoin(orders: DataFrame, customer: DataFrame,
                     segment: String = "BUILDING",
                     mBits: Int = 1 << 16): DataFrame = {
    val W = 62 // usable bits per packed word: stay clear of the sign bit
    val (p1, p2) = bloomPrimes(mBits)
    // overflow-safe for ANY positive bigint key: r < 2^31 so r² < 2^62;
    // (r² mod P) < 2^31 and A < 2^16, so the mixed sum stays < 2^47
    // (keys are positive surrogate ids, so % == pmod on both engines)
    def quadHash(k: Column, bigP: Long, a: Long, b: Long, c: Long,
                 p: Int): Column = {
      val r = k % bigP
      ((r * r % bigP) * lit(a) + r * lit(b) + lit(c)) % bigP % p
    }
    def h1(k: Column): Column = quadHash(k, 2147483647L, 48271L, 11L, 3L, p1)
    def h2(k: Column): Column = quadHash(k, 2147483629L, 16807L, 23L, 7L, p2)

    val keys = customer.filter(col("c_mktsegment") === segment)
      .select(col("c_custkey"))
    val words = keys
      .select(explode(array(h1(col("c_custkey")), h2(col("c_custkey"))))
        .as("h"))
      .groupBy(expr(s"h div $W").as("w"))
      .agg(bit_or(call_function("shiftleft", lit(1L),
        (col("h") % W).cast("int"))).as("bits"))
    val bitmap = words.agg(
      map_from_entries(collect_list(struct(col("w"), col("bits"))))
        .as("bm"),
      sum(call_function("bit_count", col("bits"))).cast("long")
        .as("bits_set"))

    def bitTest(bm: Column, h: Column): Column =
      call_function("shiftrightunsigned",
        coalesce(element_at(bm, floor(h / W).cast("long")), lit(0L)),
        (h % W).cast("int")) % 2 === 1

    val candidates = orders
      .crossJoin(broadcast(bitmap))
      .filter(bitTest(col("bm"), h1(col("o_custkey"))) &&
              bitTest(col("bm"), h2(col("o_custkey"))))
    candidates
      .join(broadcast(keys.withColumn("is_match", lit(1))),
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_candidates"),
        count(col("is_match")).as("n_matched"),
        (count(lit(1)) - count(col("is_match"))).as("n_false_pos"),
        coalesce(sum(when(col("is_match").isNotNull,
            col("o_totalprice").cast("decimal(18,2)"))).cast("double"),
          lit(0.0)).as("matched_revenue"),
        min(col("bits_set")).as("bits_set"),
        // per-hash hit probability is bits_set/p_i (probe range), not /m
        round((min(col("bits_set")).cast("double") / p1) *
              (min(col("bits_set")).cast("double") / p2), 6)
          .as("fpp_est"))
      .orderBy("o_orderpriority")
  }
}
