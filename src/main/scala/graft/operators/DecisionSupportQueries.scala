package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QuerySpec, Tables}

/** The remaining decision-support query shapes of the TPC-H family
  * (Q8, Q9, Q11, Q12, Q16, Q17, Q19, Q20, Q21), adapted to the
  * reduced star schema of the test tables (no partsupp, no
  * commit/receipt dates, no containers/shipmodes — each adaptation
  * keeps the canonical OPERATOR shape and swaps only the missing
  * column for an available stand-in). Together with
  * [[RelationalQueries]] and [[SubqueryQueries]] this completes the
  * 22-query decision-support surface: a user of the reference's SQL
  * layer (SURVEY §2.7/§2.8 composition) can express every canonical
  * shape — wide multi-join aggregates, share-of-total, disjunctive
  * scan predicates, group-wise NOT-IN, correlated per-group
  * averages, nested semijoins, and multi-correlated EXISTS chains.
  *
  * Oracle-parity rules as in [[RelationalQueries]]: exact DECIMAL
  * accumulation with precisions sized so neither engine hits its
  * precision cap (products stay under DECIMAL(38,·) through the whole
  * expression tree), doubles only at the output edge, ratio outputs
  * computed as double-division of two exact decimals, integer day
  * arithmetic on DATE casts, and a total ORDER BY with unique
  * tie-break everywhere.
  *
  * Scale notes: every dimension (part 2k, supplier 100, customer
  * 1.5k, nation, region) is broadcast; the fact tables join on their
  * natural keys (l_orderkey = o_orderkey) so the shuffle count is the
  * minimum for each shape; correlated per-group aggregates (Q17,
  * Q21) are WINDOWS over the already-established partitioning — one
  * pass over the fact, no self-join — asserted single-scan in
  * DecisionSupportPlanSpec.
  */
object DecisionSupportQueries {

  private val d12 = DecimalType(12, 2)
  private val d4 = DecimalType(4, 2)
  private val d3 = DecimalType(3, 2)
  private val d18 = DecimalType(18, 2)

  /** Discounted line volume in exact DECIMAL: price·(1−disc) as
    * DECIMAL(18,4) — identical arithmetic on the oracle side. */
  private def vol = col("l_extendedprice").cast(d12) *
    (lit(1).cast(d3) - col("l_discount").cast(d4))

  // ---------------------------------------------------------------
  // Q8: national market share — share of a region's revenue for one
  // part type supplied by one nation, per year. Wide 8-table join;
  // the only big-big join is lineitem⋈orders on the order key.
  // ---------------------------------------------------------------

  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        vol.as("v"))
    val p = Tables.part(s, dir).filter(col("p_type") === "ECONOMY")
      .select(col("p_partkey"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy").as("o_year"))
    val custNation = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppNation = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custNation), col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_5", col("v"))
          .otherwise(lit(0).cast(d12))).as("num"),
        sum(col("v")).as("den"))
      .select(col("o_year"),
        (col("num").cast("double") / col("den").cast("double"))
          .as("mkt_share"))
      .orderBy(col("o_year"))
  }

  val q8MarketShareSql: String =
    """WITH vol AS (
      |  SELECT strftime(o_orderdate, '%Y') AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) AS v,
      |    sn.n_name AS supp_nation
      |  FROM lineitem
      |  JOIN part ON p_partkey = l_partkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation cn ON cn.n_nationkey = c_nationkey
      |  JOIN region ON r_regionkey = cn.n_regionkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation sn ON sn.n_nationkey = s_nationkey
      |  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1998-01-01')
      |SELECT o_year,
      |  CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN v ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
      |    / CAST(SUM(v) AS DOUBLE) AS mkt_share
      |FROM vol GROUP BY o_year ORDER BY o_year""".stripMargin

  // ---------------------------------------------------------------
  // Q9: product-type profit — revenue minus a deterministic cost
  // proxy (0.6 · p_retailprice · qty stands in for the missing
  // ps_supplycost), by supplier nation × order year.
  // ---------------------------------------------------------------

  def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).filter(col("p_name").like("%bolt%"))
      .select(col("p_partkey"), col("p_retailprice"))
    val suppNation = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    val o = Tables.orders(s, dir).select(col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy").as("o_year"))
    Tables.lineitem(s, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("nation"), col("o_year"),
        (vol - col("p_retailprice").cast(d12) * lit(0.6).cast(d3) *
          col("l_quantity").cast(d12)).as("amount"))
      .groupBy(col("nation"), col("o_year"))
      .agg(sum(col("amount")).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9ProductProfitSql: String =
    """WITH profit AS (
      |  SELECT sn.n_name AS nation, strftime(o_orderdate, '%Y') AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
      |      - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.6 AS DECIMAL(3,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS amount
      |  FROM lineitem
      |  JOIN part ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation sn ON sn.n_nationkey = s_nationkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  WHERE p_name LIKE '%bolt%')
      |SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
      |FROM profit GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin

  // ---------------------------------------------------------------
  // Q11: important stock — per-part shipped value for one nation's
  // suppliers, kept when above a fixed fraction of the nation total.
  // Share-of-total via the exact multiply-through (v·1000 > Σv), the
  // one-row total broadcast into the filter.
  // ---------------------------------------------------------------

  def q11ImportantStock(s: SparkSession, dir: String): DataFrame = {
    val natSupp = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_9")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val value = Tables.lineitem(s, dir)
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast(d18)).as("value_dec"))
    val tot = value.agg(sum(col("value_dec")).as("t"))
    value.crossJoin(broadcast(tot))
      .filter(col("value_dec") * lit(1000).cast(DecimalType(4, 0)) > col("t"))
      .select(col("l_partkey").as("partkey"),
        col("value_dec").cast("double").as("value"))
      .orderBy(col("value").desc, col("partkey"))
  }

  val q11ImportantStockSql: String =
    """WITH val AS (
      |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_dec
      |  FROM lineitem
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ON n_nationkey = s_nationkey
      |  WHERE n_name = 'NATION_9'
      |  GROUP BY l_partkey),
      |tot AS (SELECT SUM(value_dec) AS t FROM val)
      |SELECT l_partkey AS partkey, CAST(value_dec AS DOUBLE) AS value
      |FROM val, tot WHERE value_dec * 1000 > t
      |ORDER BY value DESC, partkey""".stripMargin

  // ---------------------------------------------------------------
  // Q12: late-shipment priority audit — lines shipped >90 days after
  // order placement in one ship-year, split by priority class per
  // return flag (l_returnflag stands in for the missing l_shipmode;
  // ship-minus-order lateness for the missing receipt/commit pair).
  // ---------------------------------------------------------------

  def q12LatePriority(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_orderdate"), col("o_orderpriority"))
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(to_date(col("l_shipdate")),
        to_date(col("o_orderdate"))) > 90)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  val q12LatePrioritySql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 90
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------
  // Q16: supplier diversity per part profile — distinct suppliers
  // who shipped each surviving (brand, type, size) combination,
  // excluding one brand, one type, off-list sizes, and suppliers in
  // deficit (s_acctbal < 0 stands in for the complaints predicate).
  // NOT IN ≡ left-anti on the (tiny, broadcast) exclusion set.
  // ---------------------------------------------------------------

  def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val complaints = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(complaints), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  val q16SupplierCntSql: String =
    """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // ---------------------------------------------------------------
  // Q17: small-quantity revenue — lines under 20% of their part's
  // average quantity, for one brand + size band (size stands in for
  // the missing container). The correlated AVG is a WINDOW over
  // l_partkey, not a self-join: because the filter is on part
  // attributes only, every line of a surviving part is present after
  // the broadcast join, so the per-part (Σqty, count) window equals
  // the whole-table aggregate — ONE scan of lineitem and one
  // exchange, where the classic decorrelation scans it twice. The
  // comparison multiplies through by 5·count so it stays in exact
  // decimals (qty < Σ/(5·n) ⟺ 5·qty·n < Σ).
  // ---------------------------------------------------------------

  def q17SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.part(s, dir)
      .filter(col("p_brand") === "Brand#3" && col("p_size") <= 10)
      .select(col("p_partkey"))
    val w = Window.partitionBy(col("l_partkey"))
    Tables.lineitem(s, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .withColumn("sq", sum(col("l_quantity").cast(d12)).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("l_quantity").cast(d12) * lit(5).cast(DecimalType(2, 0)) *
        col("cnt").cast(DecimalType(19, 0)) < col("sq"))
      .agg((sum(col("l_extendedprice").cast(d12)).cast("double") / lit(7.0))
        .as("avg_yearly"))
  }

  val q17SmallQtyRevenueSql: String =
    """WITH pq AS (
      |  SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq, COUNT(*) AS cnt
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem
      |JOIN part ON p_partkey = lineitem.l_partkey
      |JOIN pq ON pq.l_partkey = lineitem.l_partkey
      |WHERE p_brand = 'Brand#3' AND p_size <= 10
      |  AND CAST(l_quantity AS DECIMAL(12,2)) * 5 * cnt < sq""".stripMargin

  // ---------------------------------------------------------------
  // Q19: disjunctive-predicate revenue — OR of three
  // brand/size/quantity conjunctions over the part join. The whole
  // disjunction stays one scan + one broadcast join; Catalyst pushes
  // the common l_quantity bounds and part filters into the scans.
  // ---------------------------------------------------------------

  def q19DisjunctiveRevenue(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    Tables.lineitem(s, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(sum(vol).cast("double").as("revenue"))
  }

  val q19DisjunctiveRevenueSql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // ---------------------------------------------------------------
  // Q20: heavy shippers of a part family — suppliers in one nation
  // whose shipped quantity of 'red%' parts in one year clears a
  // volume threshold (threshold stands in for the missing
  // ps_availqty comparison). Nested-IN chain ≡ two semijoins:
  // parts→lineitem (broadcast semi), qualifying suppliers→supplier
  // (semi on the aggregated HAVING set).
  // ---------------------------------------------------------------

  def q20PromoSuppliers(s: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.part(s, dir)
      .filter(col("p_name").like("red%")).select(col("p_partkey"))
    val qualifying = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"),
        "left_semi")
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_quantity").cast(d12)).as("sq"))
      .filter(col("sq") > lit(250).cast(d12))
      .select(col("l_suppkey"))
    Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_9")),
        col("s_nationkey") === col("n_nationkey"))
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  val q20PromoSuppliersSql: String =
    """SELECT s_suppkey, s_name FROM supplier
      |JOIN nation ON n_nationkey = s_nationkey
      |WHERE n_name = 'NATION_9' AND s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |    AND l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
      |  GROUP BY l_suppkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250)
      |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------
  // Q21: suppliers who kept orders waiting — late lines (shipped >60
  // days after placement; stands in for receipt>commit) on finished
  // multi-supplier orders where this supplier was the ONLY late one.
  // The double-correlated EXISTS / NOT-EXISTS becomes two WINDOWS
  // over the order key (distinct suppliers, distinct late suppliers
  // via null-skipping collect_set) — the window runs on the
  // partitioning the lineitem⋈orders join already produced, so the
  // whole analysis is ONE pass over the joined fact with no
  // join-back and no second scan (the classic decorrelation
  // recomputes the join for the per-order aggregate).
  // ---------------------------------------------------------------

  def q21WaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val lf = Tables.lineitem(s, dir)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))) > 60)
          .as("late"))
    val byOrder = Window.partitionBy(col("l_orderkey"))
    val w = lf
      .withColumn("n_supp", size(collect_set(col("l_suppkey")).over(byOrder)))
      .withColumn("n_late",
        size(collect_set(when(col("late"), col("l_suppkey"))).over(byOrder)))
      .filter(col("late") && col("n_supp") > 1 && col("n_late") === 1)
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    val suppNation = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_9")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"))
    w.join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  val q21WaitingSuppliersSql: String =
    """WITH lf AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 60
      |      THEN 1 ELSE 0 END AS late
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  WHERE o_orderstatus = 'F'),
      |os AS (
      |  SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp,
      |    COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late
      |  FROM lf GROUP BY l_orderkey),
      |w AS (
      |  SELECT DISTINCT lf.l_orderkey, lf.l_suppkey
      |  FROM lf JOIN os ON os.l_orderkey = lf.l_orderkey
      |  WHERE late = 1 AND n_supp > 1 AND n_late = 1)
      |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      |FROM w JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |WHERE n_name = 'NATION_9'
      |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q8_market_share", q8MarketShare, Some(q8MarketShareSql)),
    QuerySpec("q9_product_profit", q9ProductProfit, Some(q9ProductProfitSql)),
    QuerySpec("q11_important_stock", q11ImportantStock, Some(q11ImportantStockSql)),
    QuerySpec("q12_late_priority", q12LatePriority, Some(q12LatePrioritySql)),
    QuerySpec("q16_supplier_cnt", q16SupplierCnt, Some(q16SupplierCntSql)),
    QuerySpec("q17_small_qty_revenue", q17SmallQtyRevenue, Some(q17SmallQtyRevenueSql)),
    QuerySpec("q19_disjunctive_revenue", q19DisjunctiveRevenue,
      Some(q19DisjunctiveRevenueSql)),
    QuerySpec("q20_promo_suppliers", q20PromoSuppliers, Some(q20PromoSuppliersSql)),
    QuerySpec("q21_waiting_suppliers", q21WaitingSuppliers, Some(q21WaitingSuppliersSql)))
}
