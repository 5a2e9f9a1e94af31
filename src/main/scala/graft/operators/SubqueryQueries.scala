package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QuerySpec, Tables}

/** Subquery-shaped relational operators: correlated aggregates, scalar
  * subqueries, IN/NOT-EXISTS decorrelation, aggregate-over-aggregate.
  * These are the query shapes the reference's SQL surface reaches via
  * its planner (SURVEY §2.7/§2.8 composition); in Spark each is
  * expressed as the DECORRELATED plan directly — the aggregate+join
  * form Catalyst's RewriteCorrelatedScalarSubquery would produce —
  * so the physical plan is one extra shuffle at most, never a
  * per-row subquery execution.
  *
  * Oracle-parity rules are the same as [[RelationalQueries]]: exact
  * DECIMAL accumulation (cast back to double only at the output
  * edge), total ORDER BY with unique tie-break, and scalar-subquery
  * comparisons done in exact decimal arithmetic on BOTH sides (never
  * compare against a float average — multiply through by the count
  * instead).
  */
object SubqueryQueries {

  private val dec = DecimalType(18, 2)

  /** Correlated-min shape (TPC-H Q2 family): for each small part, the
    * supplier(s) charging the minimum extended price for it —
    * `price = (SELECT MIN(price) FROM lineitem l2 WHERE
    * l2.l_partkey = l.l_partkey)` decorrelated into a per-part min
    * aggregate joined back to the fact.
    *
    * Scale: the min-agg and the join-back share the `l_partkey`
    * hash partitioning, so the decorrelation costs ONE shuffle of the
    * fact (the agg's), not two — the join reuses the exchange. part
    * and supplier are dimension-sized ⇒ broadcast. */
  def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val pr = Tables.lineitem(s, dir).select(col("l_partkey"),
      col("l_suppkey"), col("l_extendedprice").cast(dec).as("price"))
    val mn = pr.groupBy(col("l_partkey"))
      .agg(min(col("price")).as("min_price"))
    val p = Tables.part(s, dir).filter(col("p_size") <= 5)
      .select(col("p_partkey"), col("p_name"))
    val su = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))
    pr.join(mn, Seq("l_partkey"))
      .filter(col("price") === col("min_price"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("price").cast("double").as("price"))
      .distinct()
      .orderBy(col("p_partkey"), col("s_suppkey"))
  }

  val q2MinCostSupplierSql: String =
    """WITH pr AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price FROM lineitem),
      |mn AS (SELECT l_partkey, MIN(price) AS min_price FROM pr GROUP BY l_partkey)
      |SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name,
      |  CAST(pr.price AS DOUBLE) AS price
      |FROM pr
      |JOIN mn ON mn.l_partkey = pr.l_partkey
      |JOIN part ON p_partkey = pr.l_partkey
      |JOIN supplier ON s_suppkey = pr.l_suppkey
      |WHERE pr.price = mn.min_price AND p_size <= 5
      |ORDER BY p_partkey, s_suppkey""".stripMargin

  /** Outer-join count distribution (TPC-H Q13): orders per customer
    * (zero-preserving via LEFT OUTER), then the histogram of those
    * counts. Two aggregations; the second is over at most
    * max-orders-per-customer distinct keys — negligible. */
  def q13CustDistribution(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_custkey"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13CustDistributionSql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Scalar-subquery-over-view shape (TPC-H Q15): quarterly revenue
    * per supplier, keep the supplier(s) hitting the maximum —
    * `rev = (SELECT MAX(rev) FROM revenue)`. The max is a one-row
    * aggregate broadcast into the filter; revenues are compared as
    * exact decimals so ties are engine-independent. */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec))).as("rev_dec"))
    val mx = rev.agg(max(col("rev_dec")).as("mx"))
    val su = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))
    rev.crossJoin(broadcast(mx))
      .filter(col("rev_dec") === col("mx"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_dec").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q15TopSupplierSql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
      |FROM revenue JOIN supplier ON s_suppkey = l_suppkey
      |WHERE rev_dec = (SELECT MAX(rev_dec) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** IN-subquery-with-HAVING shape (TPC-H Q18, large-volume orders):
    * orders whose total quantity exceeds 250, joined back to customer.
    * The HAVING-filtered aggregate IS the semijoin side — Spark plans
    * it as agg → filter → join, one shuffle on orderkey shared by the
    * agg and the join. */
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast(dec)).as("sum_qty_dec"))
      .filter(col("sum_qty_dec") > lit(250).cast(dec))
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_totalprice"),
        col("sum_qty_dec").cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
  }

  val q18LargeOrdersSql: String =
    """SELECT c_name, c_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_totalprice,
      |  CAST(sum_qty_dec AS DOUBLE) AS sum_qty
      |FROM (
      |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_dec
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin

  /** Scalar-average + NOT-EXISTS shape (TPC-H Q22 family): customers
    * with above-average positive balance and no URGENT order, grouped
    * by market segment.
    *
    * The average comparison is done in EXACT arithmetic by
    * multiplying through by the count (`bal · n > Σbal`) — comparing
    * against a floating average would make the boundary row
    * engine-dependent. NOT EXISTS is a left-anti join on the
    * distinct urgent-customer set. */
  def q22IdleBalance(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val stats = c.filter(col("c_acctbal") > 0)
      .agg(count(lit(1)).as("n"),
        sum(col("c_acctbal").cast(dec)).as("s"))
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    c.crossJoin(broadcast(stats))
      .filter(col("c_acctbal").cast(dec) * col("n") > col("s"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal").cast(dec)).cast("double").as("totacctbal"))
      .orderBy(col("c_mktsegment"))
  }

  val q22IdleBalanceSql: String =
    """WITH stats AS (
      |  SELECT COUNT(*) AS n, SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s
      |  FROM customer WHERE c_acctbal > 0),
      |urgent AS (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |SELECT c_mktsegment, COUNT(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer, stats
      |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
      |  AND NOT EXISTS (SELECT 1 FROM urgent WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q2_min_cost_supplier", q2MinCostSupplier, Some(q2MinCostSupplierSql)),
    QuerySpec("q13_cust_distribution", q13CustDistribution, Some(q13CustDistributionSql)),
    QuerySpec("q15_top_supplier", q15TopSupplier, Some(q15TopSupplierSql)),
    QuerySpec("q18_large_orders", q18LargeOrders, Some(q18LargeOrdersSql)),
    QuerySpec("q22_idle_balance", q22IdleBalance, Some(q22IdleBalanceSql)))
}
