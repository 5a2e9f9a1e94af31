package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Bid
import graft.sources.NexmarkSources
import graft.streaming.Metrics

/** Nexmark queries at the reference's published source configuration:
  * 100 000 ev/s sine-modulated bids over a 60 s cycle for Q1/Q2/Q5/Q11
  * (reference examples/src/main/java/Nexmark/queries/Query1.java:52-55,
  * Query5.java:66-69; curve Util.java:14-20). Each query runs from a
  * fresh sine-modulated source for `seconds` and reports sustained
  * rate + batch-duration percentiles and a `latency_ms` figure.
  *
  * What `latency_ms` measures, precisely: batch completion wallclock
  * minus the newest SOURCE timestamp the batch ingested — i.e. input
  * processing recency. For the stateless per-row queries (Q1/Q2) every
  * ingested row is emitted in its batch, so this coincides with the
  * reference's sink-side per-record latency
  * (DummyLatencyCountingSink.java:41-47). For the stateful queries it
  * does NOT: Q5's windows emit only after the watermark passes the
  * window end and Q11's sessions only after a gap timeout, so their
  * output-record latency is the recency figure PLUS the window/gap
  * wait — and a run whose sessions never close reports healthy
  * recency with near-zero sink output. Read `latency_ms` for Q5/Q11
  * as "how far processing lags the source", not "how stale an emitted
  * result is".
  *
  * Usage: runMain graft.NexmarkStreamBench [amplitude] [cycleSec] [seconds] [outFile]
  *   amplitude: the reference's srcRate — offered rate follows
  *   (sin(2π·epoch/cycle)+1)·amplitude, i.e. 0..2·amplitude with mean
  *   amplitude (default 100 000).
  */
object NexmarkStreamBench {

  /** Sine-modulated WALLCLOCK bid stream: the rate source runs at the
    * curve's peak (2·amplitude rows/s) with real ingest timestamps,
    * and each one-second epoch keeps the sine-sized prefix of its
    * sequence range — the same deterministic curve as
    * [[NexmarkSources.bidStreamSine]], but event times are wallclock
    * so the watermarked windows and the end-to-end latency metric
    * measure real elapsed time, not generator time. */
  private def sineBids(spark: SparkSession, base: Int, amplitude: Int,
      cycleSec: Int): Dataset[Bid] = {
    import spark.implicits._
    val peak = base + 2 * amplitude
    val raw = spark.readStream.format("rate")
      .option("rowsPerSecond", peak).load()
    // observeEmitted AFTER the sine drop: numInputRows counts the
    // peak-rate source reads (2·amplitude rows/s), so without it the
    // reported "sustained rate" would be ~2× the offered mean and
    // insensitive to the very curve this bench exists to exercise
    Metrics.observeEmitted(
      Metrics.observeSourceTs(raw, "timestamp")
        .select(col("timestamp"), col("value"))
        .as[(Timestamp, Long)]
        .flatMap { case (ts, i) =>
          // peak rows arrive per epoch second -> epoch = i / peak
          if (NexmarkSources.sineKeep(base, amplitude, cycleSec,
              i / peak, i % peak))
            Iterator.single(NexmarkSources.bidAt(i).copy(dateTime = ts))
          else Iterator.empty
        })
  }

  /** Q1 — currency conversion map (Query1.java:83-85): stateless
    * per-record arithmetic, the pure pipeline-overhead measurement.
    * Same truncating `(long)(0.82 * price)` constant as the
    * oracle-gated twin ([[graft.operators.EventQueries]] e1). */
  private def q1(b: Dataset[Bid]) =
    b.select(col("auction"), col("bidder"),
      floor(col("price") * 0.82).cast("long").as("price_eur"),
      col("dateTime"))

  /** Q2 — selection (Query2.java): bids on a sparse auction subset. */
  private def q2(b: Dataset[Bid]) =
    b.filter(col("auction") % 123 === 0)
      .select(col("auction"), col("price"))

  /** Q3 — the reference's two-stream config (Query3.java:60-62:
    * auctions at srcRate, persons at srcRate/2) through the unbounded
    * incremental symmetric join. Latency is observed on the auction
    * side (the volume-dominant stream; one observation per query —
    * the metric name is shared). Join-state growth (person cache +
    * pending-auction buffers for sellers whose person never passes
    * the state filter — same accumulation as the reference's MapState
    * buffer) is reported via the state-rows/bytes columns. */
  private def q3(spark: SparkSession, aRate: Int, pRate: Int) = {
    import spark.implicits._
    val araw = spark.readStream.format("rate")
      .option("rowsPerSecond", aRate).load()
    val auctions = Metrics.observeSourceTs(araw, "timestamp")
      .select(col("value")).as[Long]
      .map(i => NexmarkSources.auctionAt(i))
    val persons = spark.readStream.format("rate")
      .option("rowsPerSecond", pRate).load()
      .select(col("value")).as[Long]
      .map(i => NexmarkSources.personAt(i))
    graft.streaming.SymmetricJoin.join(persons, auctions)
  }

  /** Q5 — hot items (Query5.java): sliding-window bid counts per
    * auction; scaled to seconds like the reference's micro configs. */
  private def q5(b: Dataset[Bid]) =
    b.withWatermark("dateTime", "2 seconds")
      .groupBy(window(col("dateTime"), "10 seconds", "2 seconds"),
        col("auction"))
      .agg(count(lit(1)).as("bids"))

  /** Q11 — user sessions (Query11.java): per-bidder session windows
    * (5 s gap), append on watermark close. */
  private def q11(b: Dataset[Bid]) =
    b.withWatermark("dateTime", "2 seconds")
      .groupBy(session_window(col("dateTime"), "5 seconds"), col("bidder"))
      .agg(count(lit(1)).as("bids"))

  def main(args: Array[String]): Unit = {
    val amplitude = args.headOption.map(_.toInt).getOrElse(100000)
    val cycleSec = args.lift(1).map(_.toInt).getOrElse(60)
    val seconds = args.lift(2).map(_.toInt).getOrElse(70)
    val outFile = args.lift(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val queries: Seq[(String, Dataset[Bid] => Dataset[_], String)] = Seq(
      ("q1_currency", q1 _, "append"),
      ("q2_filter", q2 _, "append"),
      ("q5_sliding_hot", q5 _, "update"),
      ("q11_sessions", q11 _, "append"))

    val results = queries.map { case (name, build, mode) =>
      val (r, g) = HostGuard.guarded(spark, s"nexmark_$name") {
        StreamBench.measure(spark, amplitude, seconds) {
          build(sineBids(spark, base = 0, amplitude, cycleSec))
            .writeStream.format("noop").outputMode(mode).start()
        }
      }(_.meanRps)
      System.err.println(s"[nexmark-stream] $name ${r.json}")
      s""""$name":${r.json},"${name}_guard":${g.json}"""
    } :+ {
      // Q3 runs the reference's own two-stream rates (Query3.java:
      // 60-62), constant not sine: 20k auctions/s + 10k persons/s
      val (aRate, pRate) = (20000, 10000)
      val (r, g) = HostGuard.guarded(spark, "nexmark_q3_join") {
        StreamBench.measure(spark, aRate + pRate, seconds) {
          q3(spark, aRate, pRate)
            .writeStream.format("noop").outputMode("append").start()
        }
      }(_.meanRps)
      System.err.println(s"[nexmark-stream] q3_join ${r.json}")
      s""""q3_join":${r.json},"q3_join_guard":${g.json}"""
    }
    val line =
      s"""{"metric":"nexmark_stream_rates","config":{"src_rate":$amplitude,"cycle_sec":$cycleSec,"seconds_per_query":$seconds,"offered":"(sin(2pi*epoch/cycle)+1)*src_rate, mean = src_rate","q3_offered":"CONSTANT 20000 auctions/s + 10000 persons/s (Query3.java:60-62), not sine"},"queries":{${results.mkString(",")}}}"""
    println(line)
    outFile.foreach(f => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f), line + "\n"))
    spark.stop()
  }
}
