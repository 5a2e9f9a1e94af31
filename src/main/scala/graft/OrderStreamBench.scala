package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.Order
import graft.streaming.{Metrics, TransformWithStateOps}

/** Order-stream throughput bench: a rate-source order generator (mixed
  * buys/sells across a moving price band, continuous-session
  * timestamps, so the book continuously matches) driving either
  * matching implementation:
  *  - `fmgws` — [[graft.operators.OrderBook.streaming]], whole book
  *    serialized per key per batch;
  *  - `tws`   — [[TransformWithStateOps.orderBook]], per-price
  *    MapState (the reference's dual-pool state shape).
  *
  * Usage: runMain graft.OrderStreamBench [mode fmgws|tws|both] [rate] [nSecs] [seconds] [outFile]
  */
object OrderStreamBench {

  private def orderOf(v: Long, nSecs: Int): Order = {
    // price cycles on v / nSecs (the per-security sequence number),
    // NOT on raw v: with a raw modulus that divides nSecs, every order
    // of a given security got ONE constant price — the per-price
    // MapState under test held a single entry per key and the
    // dual-pool state shape was never exercised
    val price = 10000 + ((v / nSecs) % 50).toInt - 25
    Order(orderNo = v.toString, tranMaintCode = "A",
      lastUpdTime = "09:30:00", orderPriceCents = price,
      orderExecVol = 0, orderVol = 100,
      secCode = s"S${v % nSecs}",
      tradeDir = if ((v / nSecs) % 2 == 0) "B" else "S")
  }

  private def run(spark: SparkSession, tws: Boolean, rate: Int,
      nSecs: Int, seconds: Int): String = {
    import spark.implicits._
    val raw = spark.readStream
      .format("rate").option("rowsPerSecond", rate).load()
    // end-to-end latency percentiles need the source-timestamp
    // observation (batch completion − max source ts, the
    // DummyLatencyCountingSink metric every other stream row carries)
    val orders = Metrics.observeSourceTs(raw, "timestamp")
      .select(col("value")).as[Long]
      .map(v => orderOf(v, nSecs))
    val trades =
      if (tws) TransformWithStateOps.orderBook(orders)
      else graft.operators.OrderBook.streaming(orders)
    // the shared measurement harness (StreamBench.measure) carries the
    // runId filter, the died-mid-run check, and the percentile summary
    // — an earlier inline copy here had none of them
    val mode = if (tws) "tws" else "fmgws"
    val (r, g) = HostGuard.guarded(spark, s"order_$mode") {
      StreamBench.measure(spark, rate, seconds) {
        trades.writeStream.format("noop").outputMode("append").start()
      }
    }(_.meanRps)
    s"""{"mode":"$mode","config":{"rate":$rate,"securities":$nSecs},"result":${r.json},"guard":${g.json}}"""
  }

  /** Warm-start leg — the StateLoader path end-to-end (reference
    * stock/StateLoader.java:25-128): replay a prefix of the order day
    * into a persisted book snapshot, then start the TWS matcher FROM
    * that snapshot (initial-state channel) and measure the live
    * stream's throughput against orders that CONTINUE the sequence.
    * The snapshot build is reported separately (it is the offline
    * job), the streamed rate is the warm matcher's. */
  private def runWarm(spark: SparkSession, rate: Int, nSecs: Int,
      seconds: Int, warmOrders: Int): String = {
    import spark.implicits._
    val prefix = spark.range(0L, warmOrders.toLong).as[Long]
      .map(v => orderOf(v, nSecs))
    val snapDir = java.nio.file.Files
      .createTempDirectory("orderbook-snap").toString + "/books"
    val t0 = System.nanoTime()
    graft.streaming.StateLoader.save(
      graft.streaming.StateLoader.snapshotFromReplay(prefix), snapDir)
    val snapSec = (System.nanoTime() - t0) / 1e9
    val snapshot = graft.streaming.StateLoader.load(spark, snapDir)
    val resting = snapshot
      .map(b => (b.buys.size + b.sells.size).toLong).reduce(_ + _)
    val orders = Metrics.observeSourceTs(
        spark.readStream
          .format("rate").option("rowsPerSecond", rate).load(),
        "timestamp")
      .select(col("value")).as[Long]
      .map(v => orderOf(v + warmOrders, nSecs))
    val trades = TransformWithStateOps.orderBookWarm(orders, snapshot)
    // the guard brackets only the LIVE stream window — the snapshot
    // build is the offline job, reported beside it, never inside it
    val (r, g) = HostGuard.guarded(spark, "order_tws_warm") {
      StreamBench.measure(spark, rate, seconds) {
        trades.writeStream.format("noop").outputMode("append").start()
      }
    }(_.meanRps)
    f"""{"mode":"tws_warm","config":{"rate":$rate,"securities":$nSecs,"warm_orders":$warmOrders,"snapshot_build_sec":$snapSec%.1f,"resting_orders":$resting},"result":${r.json},"guard":${g.json}}"""
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("both")
    val rate = args.lift(1).map(_.toInt).getOrElse(60000)
    val nSecs = args.lift(2).map(_.toInt).getOrElse(1000)
    val seconds = args.lift(3).map(_.toInt).getOrElse(30)
    val outFile = args.lift(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(TransformWithStateOps.RocksDbProvider._1,
        TransformWithStateOps.RocksDbProvider._2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val lines = mode match {
      case "tws" => Seq(run(spark, tws = true, rate, nSecs, seconds))
      case "fmgws" => Seq(run(spark, tws = false, rate, nSecs, seconds))
      case "warm" => Seq(
        runWarm(spark, rate, nSecs, seconds, warmOrders = 10 * rate))
      case "both" => Seq(
        run(spark, tws = true, rate, nSecs, seconds),
        run(spark, tws = false, rate, nSecs, seconds))
      case "all" => Seq(
        run(spark, tws = true, rate, nSecs, seconds),
        runWarm(spark, rate, nSecs, seconds, warmOrders = 10 * rate),
        run(spark, tws = false, rate, nSecs, seconds))
      // a typo must not silently double the runtime and emit an
      // artifact shape the caller's script doesn't expect
      case other => sys.error(
        s"unknown mode '$other' (expected fmgws | tws | warm | both | all)")
    }
    lines.foreach(println)
    outFile.foreach(f => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f), lines.mkString("\n") + "\n"))
    spark.stop()
  }
}
