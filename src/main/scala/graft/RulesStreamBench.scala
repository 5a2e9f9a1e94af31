package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Rule
import graft.streaming.{Metrics, RulesTws, TransformWithStateOps}

/** Rules-engine throughput bench: drives BOTH rules evaluators — the
  * checkpointed transformWithState engine ([[RulesTws]], the
  * reference's managed-keyed-state semantics) and the foreachBatch
  * accumulator twin ([[graft.operators.DynamicRules.streaming]], the
  * plan-regeneration demonstration) — from the same rate source with
  * the same N ACTIVE rules, so the semantic upgrade (restart-durable
  * window state) carries a measured cost beside its twin.
  *
  * Rates follow the reference's micro-bench shape (micro-bench.sh:
  * 74-117 — 60 000 ev/s default): each event fans out to one
  * observation per ACTIVE rule, so the TWS engine's internal row rate
  * is rate × rules. Latency is the repo's batch-completion − max
  * source-ts measure (the DummyLatencyCountingSink analog).
  *
  * Usage: runMain graft.RulesStreamBench [rate] [nKeys] [nRules] [seconds] [outFile]
  */
object RulesStreamBench {

  /** N ACTIVE rules over 1-minute windows: a spread of agg types and
    * key columns, limits placed so a realistic fraction actually
    * fires (alerts flowing — the evaluator's full output path works,
    * not just its aggregation). */
  private[graft] def mkRules(n: Int): Seq[Rule] =
    (1 to n).map { i =>
      val agg = Seq("SUM", "AVG", "MIN", "MAX")(i % 4)
      val keys = if (i % 3 == 0) Seq("event_type") else Seq("user_id")
      val (op, lim) = agg match {
        case "SUM" => (">", BigDecimal(200))  // fires on hot keys
        case "AVG" => ("<=", BigDecimal(50))  // ~half the value range
        case "MIN" => ("<", BigDecimal(5))
        case "MAX" => (">=", BigDecimal(95))
      }
      Rule(i, "ACTIVE", keys, "value", agg, op, lim, 1)
    }

  private def events(spark: SparkSession, rate: Int, nKeys: Int)
      : DataFrame = {
    val raw = spark.readStream
      .format("rate")
      .option("rowsPerSecond", rate)
      .load()
    Metrics.observeSourceTs(raw, "timestamp")
      .select(col("timestamp").as("ts"),
        (col("value") % nKeys).as("user_id"),
        concat(lit("t"), col("value") % 7).as("event_type"),
        ((col("value") % 1000).cast("double") / 10.0).as("value"))
  }

  def main(args: Array[String]): Unit = {
    val rate = args.headOption.map(_.toInt).getOrElse(60000)
    val nKeys = args.lift(1).map(_.toInt).getOrElse(10000)
    val nRules = args.lift(2).map(_.toInt).getOrElse(10)
    val seconds = args.lift(3).map(_.toInt).getOrElse(30)
    val outFile = args.lift(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rules = mkRules(nRules)
    val alertCount = new java.util.concurrent.atomic.AtomicLong

    // --- checkpointed transformWithState engine ---
    val (pk, pv) = TransformWithStateOps.RocksDbProvider
    spark.conf.set(pk, pv)
    val ckpt = Files.createTempDirectory("rules-bench-ckpt").toString
    val (tws, twsG) = HostGuard.guarded(spark, "rules_tws") {
      StreamBench.measure(spark, rate, seconds) {
        RulesTws.alerts(events(spark, rate, nKeys), () => rules)
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[graft.streaming.RuleAlert],
                _: Long) => alertCount.addAndGet(b.count()): Unit
          }
          .start()
      }
    }(_.meanRps)
    val twsAlerts = alertCount.getAndSet(0L)
    System.err.println(s"[rules-bench] tws: ${tws.json} alerts=$twsAlerts")

    // --- foreachBatch accumulator twin ---
    val (fb, fbG) = HostGuard.guarded(spark, "rules_foreach_batch") {
      StreamBench.measure(spark, rate, seconds) {
        graft.operators.DynamicRules.streaming(
          events(spark, rate, nKeys), () => rules,
          (alerts, _) => alertCount.addAndGet(alerts.count()): Unit)
      }
    }(_.meanRps)
    val fbAlerts = alertCount.get()
    System.err.println(s"[rules-bench] foreach_batch: ${fb.json} alerts=$fbAlerts")

    val line =
      s"""{"metric":"rules_stream_rows_per_sec","tws":${tws.json},""" +
        s""""tws_alerts":$twsAlerts,"tws_guard":${twsG.json},""" +
        s""""foreach_batch":${fb.json},""" +
        s""""foreach_batch_alerts":$fbAlerts,""" +
        s""""foreach_batch_guard":${fbG.json},""" +
        s""""config":{"rate":$rate,"keys":$nKeys,"rules":$nRules,""" +
        s""""seconds":$seconds}}"""
    println(line)
    outFile.foreach(f => Files.writeString(
      java.nio.file.Paths.get(f), line + "\n"))
    spark.stop()
  }
}
