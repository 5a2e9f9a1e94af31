package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables}

class BucketedLayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** Pin the bucket count: the production default tracks the host's
    * parallelism, and on a many-core box the sf0.001 fixture's small
    * key space can leave a bucket EMPTY — an empty bucket writes no
    * file and the one-file-per-bucket assertion would flake. A fixed
    * small count keeps every bucket populated on any host (and the
    * memo key includes the count, so all three tests share one
    * materialization). */
  private def pinned[T](body: => T): T =
    graft.SparkTestUtil.withConf(spark, "spark.graft.buckets", "8")(body)

  // plan properties (exchange-free join/agg, partition pruning) are
  // pinned by BucketedJoinSpec over BucketedTables directly; this
  // suite covers what the query wiring adds on top: the memoized
  // per-(session, dir) copies, result equality, and the
  // one-file-per-bucket write contract.

  test("forced-SMJ join over the memoized copies stays exchange-free") { pinned {
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (ot, lt) = BucketedLayout.ensureBucketed(spark, dir)
      val j = spark.table(ot).join(spark.table(lt),
        col("o_orderkey") === col("l_orderkey"))
      val n = j.collect().length
      val plain = Tables.orders(spark, dir).join(
        Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey")).count()
      assert(n.toLong === plain)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange"),
        "bucketed join still exchanges:\n" + plan.take(3000))
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  } }

  /** A copy of the fixture whose orders and lineitem share one mtime,
    * as after a fresh checkout: the two bucketed copies must still land
    * in distinct scratch dirs. */
  private lazy val equalMtimeDir: String = {
    val copy = java.nio.file.Files.createTempDirectory("graft-equal-mtime")
    copy.toFile.deleteOnExit()
    Seq("orders", "lineitem").foreach { t =>
      val f = copy.resolve(s"$t.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(dir, s"$t.parquet"), f)
      f.toFile.setLastModified(1700000000000L)
      f.toFile.deleteOnExit()
    }
    copy.toString
  }

  test("bucketed rollup equals the raw-parquet rollup") { pinned {
    Seq(dir, equalMtimeDir).foreach { d =>
      val viaBuckets = BucketedLayout.bucketedJoin(spark, d).collect()
      val dec = "decimal(18,2)"
      val raw = Tables.orders(spark, d).join(Tables.lineitem(spark, d),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast(dec) *
              (lit(1).cast(dec) - col("l_discount").cast(dec)))
            .cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
        .collect()
      assert(raw.nonEmpty && viaBuckets.toSeq === raw.toSeq, d)
    }
  } }

  test("each bucket is a single file per side") { pinned {
    // the repartition-before-write contract: N tasks x B buckets must
    // not explode into N*B files (the small-file trap bucketing is
    // notorious for at scale)
    val (ot, lt) = BucketedLayout.ensureBucketed(spark, dir)
    val n = BucketedLayout.bucketCount(spark)
    Seq(ot, lt).foreach { t =>
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
        .filter(col("col_name") === "Location").head().getString(1)
      val files = new java.io.File(new java.net.URI(loc))
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === n,
        s"$t: ${files.length} data files for $n buckets")
    }
  } }
}
