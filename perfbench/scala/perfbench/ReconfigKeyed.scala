package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.controlplane.ReconfigurableCountQuery
import graft.model.KeyedTuple

/** reconfig_keyed: the keyed running count behind the control plane,
  * 10k keys with 10 KiB of state each (~100 MB), fed by the rate source
  * at a fixed offered rate, with a fixed schedule that alternates
  * rescales between nproc and nproc/2 tasks in the
  * legacy layout (state read with the `statestore` reader and re-fed as
  * `initialState`) with routing-only keygroup remaps (same parallelism,
  * checkpoint reused, no state moved). Remap and rescale go through the same `execute()`
  * in two ways, so a change that helps one and costs the other shows.
  */
object ReconfigKeyed {
  val Keys = 10000
  val PayloadBytes = 10240
  val MaxParallelism = 128
  /** Offered rows/s per core. Each one-second trigger rewrites the 10 KiB
    * state of every key it reads, on top of a per-trigger floor of
    * ~0.6-1 s on 4 cores (two shuffles, the keygroup observation and the
    * parquet sink), so the pipeline runs near one trigger a second at
    * any rate: at 12k rows/s (every key each second) triggers took
    * 1.1-2.9 s, at 1000 rows/s per core 0.7-1.1 s, and 500 did not lower
    * the floor. */
  val RatePerCore = 1000
  val SetupReps = 3
  /** Fixed schedule, repeated once per `CycleMs` of the window (at
    * least once): `LeadMs` of steady load, a rescale from nproc to
    * nproc/2 tasks, `RescaleGapMs` for it to recover, a remap,
    * `RemapGapMs`, a rescale back to nproc tasks, then steady load to
    * the end of the cycle, so every cycle times both rescale directions.
    * Gaps count from the end of the action before them. */
  val CycleMs = 20000L
  val LeadMs = 2000L
  val RescaleGapMs = 6000L
  val RemapGapMs = 3000L
  val TailMs = 2000L

  /** Seeded bijection on key ids: the seed picks which key each rate
    * row increments. A multiplier that is odd and not a multiple of 5
    * is coprime to 10000, so every key is still hit equally often. */
  final case class KeyPerm(mul: Long, add: Long) extends (Long => KeyedTuple) {
    def apply(v: Long): KeyedTuple =
      KeyedTuple(s"k${(mul * (v % Keys) + add) % Keys}", 1L)
  }

  object KeyPerm {
    def fromSeed(seed: Long): KeyPerm = {
      val rnd = new scala.util.Random(seed)
      var mul = 0L
      while (mul % 2 == 0 || mul % 5 == 0) mul = 1 + rnd.nextInt(Keys - 1)
      KeyPerm(mul, rnd.nextInt(Keys).toLong)
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val perm = KeyPerm.fromSeed(ctx.seed)
    val rate = RatePerCore * ctx.cores
    val (pHi, pLo) = (math.max(2, ctx.cores), math.max(1, ctx.cores / 2))
    ctx.rec.emit("config", "rate" -> rate, "keys" -> Keys,
      "payload_bytes" -> PayloadBytes, "p_hi" -> pHi, "p_lo" -> pLo,
      "perm" -> Seq(perm.mul, perm.add))
    val source = () => spark.readStream.format("rate")
      .option("rowsPerSecond", rate).load()
      .observe(s"${Main.ObservePrefix}src", max(col("timestamp")).as("due_max"),
        min(col("timestamp")).as("due_min"), count(lit(1)).as("n"))
      .select(col("value")).as[Long]
      .map(perm)
    def pipeline(name: String) = {
      val d = ctx.dir(name)
      val q = new ReconfigurableCountQuery(spark, source, s"$d/ckpt",
        s"perfbench_$name", maxParallelism = MaxParallelism,
        initialParallelism = pHi, reuseCheckpointOnRemap = true,
        fileSinkDir = Some(s"$d/sink"), statePayloadBytes = PayloadBytes,
        drainOnSync = false)
      (q, d)
    }
    def activeId() = spark.streams.active.head.id

    // set-up: start the pipeline up to its first committed input rows;
    // the last one kept then runs on until every key has state
    var live: (ReconfigurableCountQuery, String) = null
    for (rep <- 0 until SetupReps) {
      if (live != null) live._1.stop()
      live = ctx.setupRep(rep) {
        val (q, d) = pipeline(s"reconfig$rep")
        q.start()
        ctx.awaitTrigger(activeId(), 120000)(_.numInputRows > 0)
        (q, d)
      }
    }
    val (rq, dir) = live
    val op = rq.OperatorName
    ctx.awaitTrigger(activeId(), 120000)(
      _.stateOperators.map(_.numRowsTotal).sum >= Keys)
    ctx.awaitTrigger(activeId(), 30000)(_ => true) // one warm trigger

    var rotation = 0
    def reconfigure(kind: String): Unit = {
      val from = rq.getPlan.operators(op).parallelism
      if (kind == "rescale") rq.assignResources(op, if (from == pHi) pLo else pHi)
      else {
        rotation += 1
        rq.assignWorkload(op,
          (0 until MaxParallelism).map(kg => (kg + rotation) % from).toVector)
      }
      val start = System.currentTimeMillis()
      spark.sparkContext.setLocalProperty(Main.OpProperty, s"reconfig:$start")
      val report = rq.execute(kind)
      spark.sparkContext.setLocalProperty(Main.OpProperty, null)
      ctx.rec.emit("reconfig", "kind" -> kind, "start" -> start,
        "end" -> System.currentTimeMillis(), "phases" -> report.phasesMs,
        "from_p" -> from, "to_p" -> rq.getPlan.operators(op).parallelism)
    }
    ctx.phase("window") {
      val t0 = System.currentTimeMillis()
      val cycles = math.max(1L, ctx.seconds * 1000L / CycleMs)
      val cycleMs = ctx.seconds * 1000L / cycles
      for (c <- 0L until cycles) {
        Thread.sleep(math.max(0L, t0 + c * cycleMs + LeadMs - System.currentTimeMillis()))
        reconfigure("rescale")
        Thread.sleep(RescaleGapMs)
        reconfigure("remap")
        Thread.sleep(RemapGapMs)
        reconfigure("rescale")
        Thread.sleep(math.max(0L, t0 + (c + 1) * cycleMs - System.currentTimeMillis()))
      }
    }
    ctx.phase("tail")(Thread.sleep(TailMs))
    // stop right after a commit, between triggers where possible
    ctx.awaitTrigger(activeId(), 30000)(_ => true)
    rq.stop()
    ctx.drainListeners()

    val sinkDir = s"$dir/sink"
    val sums = ReconfigurableCountQuery.readFileSink(spark, sinkDir)
      .agg(sum(col("value")), count(lit(1))).collect()(0)
    val (committed, aborted) = checkpointRows(s"$dir/ckpt", rate)
    ctx.rec.emit("check_counts", "sink_sum" -> sums.getLong(0),
      "sink_keys" -> sums.getLong(1), "keys" -> Keys,
      "committed_rows" -> committed, "aborted_rows" -> aborted)
  }

  /** Input rows of every generation's committed batches, and of the
    * batches a stop() aborted after logging their offsets (the sink may
    * hold those: at-least-once), read from the checkpoints' offset and
    * commit logs. Progress events undercount: a stop() can land after a
    * batch's commit and before its progress event. The rate source's
    * offset is whole seconds since its start, `rate` rows each. */
  private def checkpointRows(ckptRoot: String, rate: Int): (Long, Long) = {
    def list(p: java.nio.file.Path) =
      Files.list(p).iterator().asScala.map(_.getFileName.toString).toSeq
    val perGen = list(Paths.get(ckptRoot)).filter(_.matches("gen\\d+")).map { g =>
      val gen = Paths.get(ckptRoot, g)
      def ids(sub: String) = list(gen.resolve(sub)).filter(_.matches("\\d+")).map(_.toLong)
      val (offsets, commits) = (ids("offsets"), ids("commits").toSet)
      def offsetOf(b: Long) =
        Files.readAllLines(gen.resolve(s"offsets/$b")).asScala.last.trim.toLong
      def rows(b: Long) =
        (offsetOf(b) - (if (offsets.contains(b - 1)) offsetOf(b - 1) else 0L)) * rate
      val (done, aborted) = offsets.partition(commits.contains)
      (done.map(rows).sum, aborted.map(rows).sum)
    }
    (perGen.map(_._1).sum, perGen.map(_._2).sum)
  }
}
