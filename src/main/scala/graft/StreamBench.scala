package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.KeyedTuple
import graft.streaming.{Metrics, StatefulOps}

/** Streaming micro-bench mirroring the reference's configuration
  * (reference scripts/trisk_reconfig/micro-bench.sh:74-117: aggregate
  * rate 60 000 ev/s over 10 000 keys with 1 KiB state per key,
  * 100 s runtime).
  *
  * Drives the payload-state operator from a rate source at the target
  * rate and reports per-batch throughput, batch-duration percentiles,
  * and END-TO-END latency percentiles (batch completion − max source
  * timestamp, the reference's sink-side latency-marker metric —
  * Nexmark DummyLatencyCountingSink.java:30-47, analyzed by
  * scripts/analysis/performance_analyzer.py:5-42 as a latency curve).
  *
  * Usage:
  *   runMain graft.StreamBench [rate] [nKeys] [perKeyBytes] [seconds] [outFile]
  *   runMain graft.StreamBench sweep [startRate] [nKeys] [perKeyBytes] [secondsPerStep] [outFile]
  *
  * `sweep` doubles the rate until the pipeline saturates (busy
  * fraction ≥ 0.9 or throughput stops scaling) — the measured ceiling
  * of the operator on this box.
  */
object StreamBench {

  case class StepResult(rate: Int, meanRps: Double, batches: Int,
      totalRows: Long, busyFraction: Double,
      durP50: Long, durP95: Long, durP99: Long,
      latP50: Long, latP95: Long, latP99: Long,
      stateRowsEnd: Long = 0L, stateBytesMax: Long = 0L) {
    def json: String =
      f"""{"rate":$rate,"rows_per_sec":$meanRps%.0f,"batches":$batches,"total_rows":$totalRows,"busy_fraction":$busyFraction%.2f,"duration_ms":{"p50":$durP50,"p95":$durP95,"p99":$durP99},"latency_ms":{"p50":$latP50,"p95":$latP95,"p99":$latP99},"state_rows_end":$stateRowsEnd,"state_bytes_max":$stateBytesMax}"""
  }

  private def pct(xs: Seq[Long], q: Double): Long =
    if (xs.isEmpty) -1
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.ceil(q * s.length).toInt - 1).max(0))
    }

  /** Measure ANY streaming query for `seconds`: attach a fresh
    * progress listener, start the query via `startQuery`, run, stop,
    * summarize rates + duration/latency percentiles. Shared by the
    * micro-bench below and [[NexmarkStreamBench]]. */
  private[graft] def measure(spark: SparkSession, rate: Int, seconds: Int)(
      startQuery: => org.apache.spark.sql.streaming.StreamingQuery)
      : StepResult = {
    val collector = new Metrics.ProgressCollector
    spark.streams.addListener(collector)
    val q = startQuery
    val t0 = System.nanoTime()
    Thread.sleep(seconds * 1000L)
    q.stop()
    // a query that DIED mid-run must fail the bench loudly: stop() on
    // a terminated query is a no-op and the pre-crash batches would
    // otherwise summarize into a plausible-looking (low) result — in
    // sweep mode the plateau check would read the crash as saturation
    // and print a false ceiling artifact with exit code 0
    q.exception.foreach(e => throw new IllegalStateException(
      s"streaming query failed mid-measure: ${e.message}", e))
    val wallSec = (System.nanoTime() - t0) / 1e9
    spark.streams.removeListener(collector)
    // filter to THIS query's runId: the listener bus is asynchronous,
    // so back-to-back queries on one session can otherwise leak a
    // still-in-flight final batch into the NEXT measurement's collector
    val runId = q.runId.toString
    val ps = collector.progresses
      .filter(p => p.runId == runId && p.numInputRows > 0)
    // when an emitted-rows observation is attached (sine-modulated
    // sources drop rows AFTER the source, so numInputRows counts the
    // peak-rate reads), rate and totals come from the emitted counts —
    // the rows the query was actually offered
    def rows(p: Metrics.BatchProgress): Long =
      p.emittedRows.getOrElse(p.numInputRows)
    // both modes share ONE denominator — Spark's processing-time rate
    // — with the emitted mode scaling it by the post-drop row share.
    // The previous emitted path divided by total batch duration
    // (trigger time incl. planning/commit), which made sine-modulated
    // and plain benches report slightly incomparable throughput and
    // silently fell back to the peak-rate figure on a durationMs==0
    // batch.
    // (ps is already filtered to numInputRows > 0, so the ratio's
    // denominator is never zero here)
    val rps = ps.map(p =>
      if (p.emittedRows.isDefined)
        p.processedRowsPerSecond * (rows(p).toDouble / p.numInputRows)
      else p.processedRowsPerSecond)
    val durs = ps.map(_.durationMs)
    val lats = ps.flatMap(_.latencyMs)
    StepResult(rate,
      if (rps.nonEmpty) rps.sum / rps.size else 0.0,
      ps.size, ps.map(rows).sum,
      // busy = executed-batch time over the measured window only; t0
      // is taken AFTER startQuery returns so seconds of query planning
      // / state-store init don't deflate the fraction (the saturation
      // gate reads busy >= 0.9 — a denominator padded with startup
      // kept the sweep doubling past true saturation)
      durs.sum / 1000.0 / wallSec,
      pct(durs, 0.50), pct(durs, 0.95), pct(durs, 0.99),
      pct(lats, 0.50), pct(lats, 0.95), pct(lats, 0.99),
      ps.lastOption.map(_.stateRows).getOrElse(0L),
      if (ps.isEmpty) 0L else ps.map(_.stateBytes).max)
  }

  /** One measured run at a fixed rate (fresh source, fresh listener). */
  def runOnce(spark: SparkSession, rate: Int, nKeys: Int,
      perKeyBytes: Int, seconds: Int): StepResult = {
    import spark.implicits._
    val raw = spark.readStream
      .format("rate")
      .option("rowsPerSecond", rate)
      .load()
    // latency observation costs one max() aggregation per batch (A/B'd
    // as negligible)
    val tuples = Metrics.observeSourceTs(raw, "timestamp")
      .select(col("value"))
      .as[Long]
      .map(v => KeyedTuple(s"A${v % nKeys}", 1L))
    measure(spark, rate, seconds) {
      StatefulOps.statefulPayload(tuples, perKeyBytes)
        .writeStream.format("noop").outputMode("update").start()
    }
  }

  def main(args: Array[String]): Unit = {
    val sweep = args.headOption.contains("sweep")
    val rest = if (sweep) args.drop(1) else args
    val rate = rest.headOption.map(_.toInt).getOrElse(60000)
    val nKeys = rest.lift(1).map(_.toInt).getOrElse(10000)
    val perKeyBytes = rest.lift(2).map(_.toInt).getOrElse(1024)
    val seconds = rest.lift(3).map(_.toInt).getOrElse(30)
    val outFile = rest.lift(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val line =
      if (!sweep) {
        // guard name keys the per-leg history tripwire
        // (tools/stream_history.json): micro_1k / micro_10k / micro_100k
        val legName = s"micro_${perKeyBytes / 1024}k"
        val (r, g) = HostGuard.guarded(spark, legName) {
          runOnce(spark, rate, nKeys, perKeyBytes, seconds)
        }(_.meanRps)
        f"""{"metric":"stream_rows_per_sec","value":${r.meanRps}%.0f,"unit":"rows/sec","batches":${r.batches},"total_rows":${r.totalRows},"busy_fraction":${r.busyFraction}%.2f,"duration_ms":{"p50":${r.durP50},"p95":${r.durP95},"p99":${r.durP99}},"latency_ms":{"p50":${r.latP50},"p95":${r.latP95},"p99":${r.latP99}},"config":{"rate":$rate,"keys":$nKeys,"state_bytes":$perKeyBytes},"guard":${g.json}}"""
      } else {
        // double the offered rate until saturation: busy ≥ 0.9, or
        // throughput gained < 20% of the previous step (plateau)
        val steps = scala.collection.mutable.ArrayBuffer.empty[StepResult]
        var r = rate
        var done = false
        while (!done && steps.length < 8) {
          val s = runOnce(spark, r, nKeys, perKeyBytes, seconds)
          System.err.println(s"[stream-sweep] ${s.json}")
          done = s.busyFraction >= 0.9 ||
            steps.lastOption.exists(p => s.meanRps < p.meanRps * 1.2)
          steps += s
          r *= 2
        }
        val ceiling = steps.map(_.meanRps).max
        f"""{"metric":"stream_ceiling_rows_per_sec","value":$ceiling%.0f,"unit":"rows/sec","config":{"start_rate":$rate,"keys":$nKeys,"state_bytes":$perKeyBytes,"seconds_per_step":$seconds},"steps":[${steps.map(_.json).mkString(",")}]}"""
      }
    println(line)
    // persist as a repo artifact so the micro-bench gate is auditable
    outFile.foreach(f => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f), line + "\n"))
    spark.stop()
  }
}

/** The whole streaming suite in ONE JVM — [[BenchSweep]]'s rationale
  * applied to the rate harnesses: the r15 protocol launched seven
  * JVMs, each re-paying a 16 GiB pre-touch on a host whose first-touch
  * fault path intermittently degrades ~100×, and the suite had no way
  * to say which legs a host event hit. One JVM touches the heap once;
  * every leg then runs under [[HostGuard]]'s probe/steal/history
  * brackets (each main attaches its own), so a contaminated leg
  * self-reports `flagged` in its artifact. Each main stops its
  * SparkSession; the next `getOrCreate` rebuilds a local context in
  * the same warmed JVM (~2 s, untimed — outside every leg's guard
  * window... the pre-leg probe runs after the rebuild).
  *
  * Usage: runMain graft.StreamBenchAll <outDir> [secondsPerLeg]
  */
object StreamBenchAll {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StreamBenchAll <outDir> [seconds]")
    val outDir = args(0)
    val seconds = args.lift(1).getOrElse("45")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def p(n: String) = s"$outDir/$n.json"
    // reference micro-bench.sh:74,100-106,137-140 protocol: 60k ev/s x
    // 10k keys, per-key state 1/10/100 KiB; then the operator suites
    StreamBench.main(Array("60000", "10000", "1024", seconds, p("micro1k")))
    StreamBench.main(Array("60000", "10000", "10240", seconds, p("micro10k")))
    StreamBench.main(Array("60000", "10000", "102400", seconds,
      p("micro100k")))
    ErStreamBench.main(Array("60000", seconds, p("er")))
    RulesStreamBench.main(Array("60000", "10000", "10", seconds, p("rules")))
    OrderStreamBench.main(Array("all", "60000", "1000", seconds, p("order")))
    NexmarkStreamBench.main(Array("100000", "60", seconds, p("nexmark")))
    System.err.println(s"[stream-bench-all] done: $outDir")
  }
}
