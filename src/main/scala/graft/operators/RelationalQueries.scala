package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QuerySpec, Tables}

/** Batch relational query surface over the driver test tables.
  *
  * Design rules for oracle (DuckDB) hash-parity:
  *  - never aggregate raw doubles (parallel FP summation is
  *    order-nondeterministic): cast to DECIMAL first (exact,
  *    associative), cast the final result back to double;
  *  - every query ends in a total ORDER BY with a unique tie-break;
  *  - counts as BIGINT, ratios as double computed from exact inputs.
  */
object RelationalQueries {

  private val dec = DecimalType(18, 2)

  /** Pricing-summary aggregate (running-aggregate family of the
    * reference: sum/count/avg accumulators, SURVEY §2.8). */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))))
          .cast("double").as("sum_disc_price"),
        (sum(col("l_quantity").cast(dec)).cast("double") /
          count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1PricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Top-revenue orders: 3-way join (customer ⋈ orders ⋈ lineitem).
    * customer is small ⇒ broadcast; lineitem⋈orders shuffles on the
    * orderkey only after the lineitem agg is partially pushed. */
  def q3TopRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec)))
        .cast("double").as("revenue"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c.filter(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  val q3TopRevenueSql: String =
    """SELECT o_orderkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  /** Revenue by nation: 5-way star join; all dims broadcast. */
  def q5NationRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec)))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  val q5NationRevenueSql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Forecast-revenue-change: tight filter + single aggregate. The
    * filters are pushed to the parquet scan. */
  def q6Forecast(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice").cast(dec) * col("l_discount").cast(dec))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  val q6ForecastSql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1995-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  /** Left-semi join: customers that have at least one order. */
  def joinSemi(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val joinSemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join: customers who never placed a 1-URGENT order.
    * The anti side is filtered (not the whole orders table) because the
    * synthetic fixture gives every customer at least one order — an
    * unfiltered anti-join returns 0 rows at every SF, which makes the
    * oracle hash-match vacuous (an empty set matches an empty set no
    * matter how broken the predicate is). The urgent-order subset
    * leaves a real surviving population (~13% of customers) at every
    * SF while still exercising genuine anti-join planning. */
  def joinAnti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val joinAntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Full-outer join orders↔lineitem orderkeys, classifying matches —
    * exercises outer-join semantics. */
  def joinOuterAudit(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_ord"))
    val li = Tables.lineitem(s, dir).groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_li"))
    o.join(li, col("o_orderkey") === col("l_orderkey"), "full_outer")
      .select(
        when(col("o_orderkey").isNull, "lineitem_only")
          .when(col("l_orderkey").isNull, "order_only")
          .otherwise("both").as("side"))
      .groupBy(col("side")).agg(count(lit(1)).as("n"))
      .orderBy(col("side"))
  }

  val joinOuterAuditSql: String =
    """SELECT side, COUNT(*) AS n FROM (
      |  SELECT CASE WHEN o.o_orderkey IS NULL THEN 'lineitem_only'
      |              WHEN li.l_orderkey IS NULL THEN 'order_only'
      |              ELSE 'both' END AS side
      |  FROM (SELECT o_orderkey, COUNT(*) AS n_ord FROM orders GROUP BY o_orderkey) o
      |  FULL OUTER JOIN (SELECT l_orderkey, COUNT(*) AS n_li FROM lineitem GROUP BY l_orderkey) li
      |    ON o.o_orderkey = li.l_orderkey)
      |GROUP BY side ORDER BY side""".stripMargin

  /** Ranking window function: top-3 orders per customer by price. */
  def windowTopOrders(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn").cast("long").as("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val windowTopOrdersSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Running (cumulative) per-key aggregate — the batch twin of the
    * reference's ReducingState running count
    * (StatefulWordCount.java:102-133). */
  def windowRunningSum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.withColumn("running_spend",
        sum(col("o_totalprice").cast(dec)).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val windowRunningSumSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** LAG over an ordered daily series — day-over-day revenue delta
    * (the offset-window family: lag/lead). Daily totals accumulate in
    * exact DECIMAL and the delta is a DECIMAL subtraction before the
    * double edge, so the offset arithmetic is engine-exact; the first
    * day's delta is NULL in both engines. The unpartitioned window
    * runs on the ALREADY-AGGREGATED daily frame (one row per day —
    * bounded by the calendar, not the data), so its single-partition
    * execution is a few thousand rows at any corpus scale. */
  def windowDodDelta(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(col("o_totalprice").cast(dec)).as("rev_dec"))
    val w = Window.orderBy(col("day"))
    daily
      .withColumn("delta_dec", col("rev_dec") - lag(col("rev_dec"), 1).over(w))
      .select(col("day"), col("rev_dec").cast("double").as("revenue"),
        col("delta_dec").cast("double").as("dod_delta"))
      .orderBy(col("day"))
  }

  val windowDodDeltaSql: String =
    """WITH daily AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
      |  FROM orders GROUP BY day)
      |SELECT day, CAST(rev_dec AS DOUBLE) AS revenue,
      |  CAST(rev_dec - LAG(rev_dec, 1) OVER (ORDER BY day) AS DOUBLE) AS dod_delta
      |FROM daily ORDER BY day""".stripMargin

  /** ROLLUP aggregate — multi-level grouping in one pass. */
  def rollupReturns(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(dec)).cast("double").as("qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("qty"))
      .orderBy(col("rf"), col("ls"))
  }

  val rollupReturnsSql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
      |  COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin

  /** Arbitrary GROUPING SETS through the engine's SQL front door:
    * entered as ANSI SQL over registered views, compiling to the same
    * Catalyst Expand-based single-pass plan the DataFrame
    * rollup/cube forms produce. The two single-column sets and the
    * pair are disjoint under the COALESCE('ALL') labeling, so the
    * output keys stay unique and NULL-ordering differences between
    * engines never arise. */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql("""
      SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        COALESCE(o_orderpriority, 'ALL') AS prio,
        COUNT(*) AS n,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY GROUPING SETS ((l_returnflag, o_orderpriority),
        (l_returnflag), (o_orderpriority))
      ORDER BY rf, prio""")
  }

  val groupingSetsSql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
      |  COALESCE(o_orderpriority, 'ALL') AS prio,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |GROUP BY GROUPING SETS ((l_returnflag, o_orderpriority),
      |  (l_returnflag), (o_orderpriority))
      |ORDER BY rf, prio""".stripMargin

  /** Distinct aggregation: exact distinct parts/suppliers per flag. */
  def distinctCounts(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  val distinctCountsSql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** min/max/avg over DECIMAL — the reference's BigDecimal accumulator
    * family (megaphone/.../accumulators/BigDecimal{Minimum,Maximum,Counter}).
    */
  def decimalAccumulators(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.groupBy(col("o_orderpriority"))
      .agg(min(col("o_totalprice").cast(dec)).cast("double").as("min_price"),
        max(col("o_totalprice").cast(dec)).cast("double").as("max_price"),
        (sum(col("o_totalprice").cast(dec)).cast("double") /
          count(lit(1))).as("avg_price"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  val decimalAccumulatorsSql: String =
    """SELECT o_orderpriority,
      |  CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
      |  CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Order-priority checking: orders with at least one late line item,
    * counted per priority (correlated EXISTS → left-semi join). */
  def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val late = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey")).distinct()
    o.join(late, o("o_orderkey") === late("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q4OrderPrioritySql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Volume shipping between nation pairs (customer nation × supplier
    * nation revenue) — two broadcast dim joins on one fact pass. */
  def q7NationPairs(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val su = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    val custNation = c.join(broadcast(n),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val suppNation = su.join(broadcast(n),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custNation), col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("cust_nation"), col("supp_nation"))
      .agg(sum(col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec)))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("cust_nation"), col("supp_nation"))
  }

  val q7NationPairsSql: String =
    """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |GROUP BY 1, 2 ORDER BY cust_nation, supp_nation""".stripMargin

  /** Returned-item reporting: revenue lost to returns per customer,
    * top 20. */
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(sum(col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec)))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10ReturnedItemsSql: String =
    """SELECT c_custkey, c_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE l_returnflag = 'R'
      |GROUP BY 1, 2 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** Promotion revenue share: conditional aggregation over a join
    * (promo part types vs total revenue), expressed with exact decimal
    * sums so the ratio is deterministic. */
  def q14PromoShare(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    val rev = col("l_extendedprice").cast(dec) *
      (lit(1).cast(dec) - col("l_discount").cast(dec))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type").startsWith("PROMO"), rev)
          .otherwise(lit(0).cast(dec))).cast("double").as("promo_revenue"),
        sum(rev).cast("double").as("total_revenue"))
      .withColumn("promo_share",
        col("promo_revenue") / col("total_revenue"))
  }

  val q14PromoShareSql: String =
    """SELECT promo_revenue, total_revenue,
      |  promo_revenue / total_revenue AS promo_share
      |FROM (
      |  SELECT
      |    CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
      |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
      |  FROM lineitem JOIN part ON l_partkey = p_partkey)""".stripMargin

  /** CUBE over (returnflag, linestatus): all four grouping
    * combinations in one pass (Spark expands the grouping sets and
    * aggregates them in a single shuffle — at scale this is 4
    * aggregations for the price of one fact scan). Grouping-null
    * markers are folded to 'ALL' (the columns are non-null in the
    * data, so the encoding is unambiguous for the oracle). */
  def cubeReturns(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy(col("returnflag"), col("linestatus"))

  val cubeReturnsSql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** RANGE-frame window: each order's trailing-7-day spend for its
    * customer — a true event-time range frame (peers included by
    * VALUE distance, not row count). Accumulation in DECIMAL keeps
    * the frame sums exact, so both engines agree bit-for-bit
    * regardless of their internal frame algorithms. One window
    * shuffle on custkey. */
  def windowRange7d(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NTZ → timestamp → epoch seconds (session TZ is UTC, so the
    // hop is lossless and matches DuckDB's epoch() on the naive ts)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
      .rangeBetween(-604800L, 0L)
    Tables.orders(s, dir)
      .withColumn("spend_7d_dec",
        sum(col("o_totalprice").cast(dec)).over(w))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("spend_7d_dec").cast("double").as("spend_7d"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val windowRange7dSql: String =
    """SELECT o_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
      |    RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_7d
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("cube_returns", cubeReturns, Some(cubeReturnsSql)),
    QuerySpec("window_range_7d", windowRange7d, Some(windowRange7dSql)),
    QuerySpec("q4_order_priority", q4OrderPriority, Some(q4OrderPrioritySql)),
    QuerySpec("q7_nation_pairs", q7NationPairs, Some(q7NationPairsSql)),
    QuerySpec("q10_returned_items", q10ReturnedItems, Some(q10ReturnedItemsSql)),
    QuerySpec("q14_promo_share", q14PromoShare, Some(q14PromoShareSql)),
    QuerySpec("q1_pricing_summary", q1PricingSummary, Some(q1PricingSummarySql)),
    QuerySpec("q3_top_revenue", q3TopRevenue, Some(q3TopRevenueSql)),
    QuerySpec("q5_nation_revenue", q5NationRevenue, Some(q5NationRevenueSql)),
    QuerySpec("q6_forecast", q6Forecast, Some(q6ForecastSql)),
    QuerySpec("join_semi", joinSemi, Some(joinSemiSql)),
    QuerySpec("join_anti", joinAnti, Some(joinAntiSql)),
    QuerySpec("join_outer_audit", joinOuterAudit, Some(joinOuterAuditSql)),
    QuerySpec("window_top_orders", windowTopOrders, Some(windowTopOrdersSql)),
    QuerySpec("window_running_sum", windowRunningSum, Some(windowRunningSumSql)),
    QuerySpec("rollup_returns", rollupReturns, Some(rollupReturnsSql)),
    QuerySpec("grouping_sets_revenue", groupingSets, Some(groupingSetsSql)),
    QuerySpec("window_dod_delta", windowDodDelta, Some(windowDodDeltaSql)),
    QuerySpec("distinct_counts", distinctCounts, Some(distinctCountsSql)),
    QuerySpec("decimal_accumulators", decimalAccumulators, Some(decimalAccumulatorsSql)))
}
