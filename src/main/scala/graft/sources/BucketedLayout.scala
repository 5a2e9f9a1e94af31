package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}

/** Oracle-gated query wiring over [[BucketedTables]] (the write-side
  * co-location lever; rationale and plan-property specs live there /
  * in BucketedJoinSpec): bucketed copies of orders+lineitem are
  * materialized once per (session, dir, mtime) and every later
  * equi-join or groupBy on the key plans with ZERO exchange.
  *
  * The result of a query over the bucketed copies is row-identical to
  * the same query over the raw parquet (bucketing is pure layout), so
  * the oracle runs the plain-join SQL; `BucketedLayoutSpec` pins the
  * memoized copies' rollup equality and the one-file-per-bucket
  * write contract.
  */
object BucketedLayout {

  /** Bucket count: defaults to the cluster parallelism (floor 8) —
    * the write runs one task per bucket, so a fixed small count
    * serializes the layout cost on a wide cluster (measured: 8
    * buckets on 32 cores spent 3/4 of the sf10 write idle).
    * Production tuning is buckets ≈ table size / target task input
    * (for 100 TB of lineitem at 256 MB/task, thousands — set once at
    * layout time via `spark.graft.buckets`). */
  def bucketCount(s: SparkSession): Int =
    s.conf.getOption("spark.graft.buckets").map(_.toInt)
      .getOrElse(math.max(8, s.sparkContext.defaultParallelism))

  /** Ensure bucketed copies of orders and lineitem exist for `dir`;
    * returns (ordersTable, lineitemTable) catalog names. Memoized per
    * (session, dir, BOTH tables' mtimes, bucket count): one write,
    * reused by every subsequent query in the session — the cost model
    * that makes write-side bucketing pay for itself. The memo's table
    * stamp covers only lineitem, so the orders stamp and the bucket
    * count fold into the tag (and into every path/name below):
    * regenerating orders in place, or changing `spark.graft.buckets`
    * mid-session, builds FRESH copies at fresh paths instead of
    * serving stale tables or overwriting files an older memo entry's
    * plans still read. */
  def ensureBucketed(s: SparkSession, dir: String): (String, String) = {
    val n = bucketCount(s)
    val oStamp = Tables.tableStamp(s, dir, "orders")
    val variant = s"bucketed-n$n-o$oStamp"
    Tables.memoizedAtConstruction(s, dir, "lineitem", variant) {
      // table names carry the exact-dir digest (two corpora in one
      // session must not collide), the variant, and the session
      // identity (catalog names are session-scoped but the scratch
      // files are not)
      val ver = java.lang.Long.toHexString(
        oStamp * 31 + Tables.tableStamp(s, dir, "lineitem"))
      val sid = Integer.toHexString(System.identityHashCode(s))
      val suffix = s"${n}_${Tables.dirDigest(dir)}_${ver}_$sid"
      val ot = s"graft_orders_b$suffix"
      val lt = s"graft_lineitem_b$suffix"
      val op = Tables.scratchDir(s, dir, "orders", variant)
      val lp = Tables.scratchDir(s, dir, "lineitem", variant)
      BucketedTables.materialize(Tables.orders(s, dir), ot, op,
        "o_orderkey", n)
      BucketedTables.materialize(Tables.lineitem(s, dir), lt, lp,
        "l_orderkey", n)
      // full-table copies are the heaviest scratch this engine writes
      // (≈ the two largest base tables per run) — clean them up at JVM
      // exit; unlike the derived-table memos, leaking these across
      // rounds would fill the disk
      Seq(op, lp).foreach(graft.ScratchJanitor.register)
      (ot, lt)
    }
  }

  /** Oracle-gated query over the bucketed copies: order-priority
    * revenue rollup through the `orders ⋈ lineitem` join. Over raw
    * parquet this plan exchanges ~all of lineitem; over the bucketed
    * copies the join itself is exchange-free (only the 5-row priority
    * rollup shuffles). Results are layout-independent, so the oracle
    * is the plain join. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (ot, lt) = ensureBucketed(s, dir)
    val dec = "decimal(18,2)"
    s.table(ot).join(s.table(lt),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(dec) *
            (lit(1).cast(dec) - col("l_discount").cast(dec)))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val bucketedJoinSql: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |    AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // construction MATERIALIZES the bucketed copies: the write-side
    // cost the co-location lever trades for is paid in the first timed
    // repeat
    QuerySpec("layout_bucketed_join", bucketedJoin, Some(bucketedJoinSql),
      eagerBuild = true))
}
