package perfbench

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.{Auction, Person}
import graft.sources.NexmarkSources
import graft.streaming.SymmetricJoin

/** nexmark_q3: the reference's two-stream Q3 (auctions:persons = 2:1 at
  * a constant rate) through `SymmetricJoin.join` into a noop sink. No
  * reconfiguration runs: the state store sees many small keyed reads
  * and probes over slowly growing state (sellers whose person fails the
  * state filter buffer auctions forever), and the generators sit on the
  * hot path. Traced runs add a short ladder of higher rates after the
  * nominal window, which finds the sustainable rate.
  */
object NexmarkQ3 {
  /** Offered rows/s per core at the nominal rate and on the ladder. */
  val NominalPerCore = 4500
  val LadderPerCore = Seq(6000, 7500, 9000)
  val SetupReps = 3
  /** Measured length of each ladder step. The ladder feeds only the
    * per-layer `sources.sustainable_rps`, so it runs in traced runs
    * only, after the nominal window the end-to-end metrics come from. */
  val StepMs = 5000L
  /** The join's own default state filter, for the batch oracle. */
  val States = Set("OR", "ID", "CA")

  final case class Offsets(auction: Long, person: Long)

  /** The seed shifts both generators' sequence numbers: auction ids and
    * sellers, and which person ids exist (sellers below the first
    * person id never join and keep buffering). */
  def offsetsFromSeed(seed: Long): Offsets = {
    val rnd = new scala.util.Random(seed)
    Offsets(rnd.nextInt(1000000).toLong, rnd.nextInt(50).toLong)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val off = offsetsFromSeed(ctx.seed)
    val nominal = NominalPerCore * ctx.cores
    val ladder = LadderPerCore.map(_ * ctx.cores)
    ctx.rec.emit("config", "nominal_rate" -> nominal, "ladder" -> ladder,
      "offsets" -> Seq(off.auction, off.person))

    def start(name: String, total: Int): StreamingQuery = {
      val (aRate, pRate) = (total * 2 / 3, total / 3)
      def rate(r: Int, tag: String) = spark.readStream.format("rate")
        .option("rowsPerSecond", r).load()
        .observe(s"${Main.ObservePrefix}$tag", max(col("timestamp")).as("due_max"),
          min(col("timestamp")).as("due_min"), count(lit(1)).as("n"))
        .select(col("value")).as[Long]
      val (oa, op) = (off.auction, off.person)
      val auctions = rate(aRate, "a").map(i => NexmarkSources.auctionAt(i + oa))
      val persons = rate(pRate, "p").map(i => NexmarkSources.personAt(i + op))
      SymmetricJoin.join(persons, auctions).writeStream
        .format("noop").outputMode("append").queryName(name)
        .option("checkpointLocation", ctx.dir(s"ckpt-$name"))
        .start()
    }
    def stopAfterTrigger(q: StreamingQuery): Unit = {
      ctx.awaitTrigger(q.id, 30000)(_ => true)
      q.stop()
    }
    val measured = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]

    var q: StreamingQuery = null
    for (rep <- 0 until SetupReps) {
      if (q != null) q.stop()
      q = ctx.setupRep(rep) {
        val s = start(s"q3_setup$rep", nominal)
        ctx.awaitTrigger(s.id, 60000)(_.numInputRows > 0)
        s
      }
    }
    ctx.awaitTrigger(q.id, 30000)(_ => true) // one warm trigger
    ctx.phase("window", "rate" -> nominal, "id" -> q.id.toString) {
      Thread.sleep(ctx.seconds * 1000L)
    }
    stopAfterTrigger(q)
    measured += q
    if (ctx.trace) ladder.foreach { r =>
      val s = start(s"q3_ladder$r", r)
      ctx.awaitTrigger(s.id, 60000)(_.numInputRows > 0)
      ctx.phase("ladder", "rate" -> r, "id" -> s.id.toString)(Thread.sleep(StepMs))
      stopAfterTrigger(s)
      measured += s
    }
    ctx.drainListeners()

    // every measured query's committed output against a batch join of
    // the id ranges its two sources committed
    measured.foreach { m =>
      val ps = ctx.progressOf(m.id)
      def consumed(tag: String) = ps.map { p =>
        Option(p.observedMetrics.get(s"${Main.ObservePrefix}$tag"))
          .filterNot(_.isNullAt(2)).map(_.getLong(2)).getOrElse(0L)
      }.sum
      val (nA, nP) = (consumed("a"), consumed("p"))
      val persons: Dataset[Person] =
        spark.range(nP).as[Long].map(i => NexmarkSources.personAt(i + off.person))
      val auctions: Dataset[Auction] =
        spark.range(nA).as[Long].map(i => NexmarkSources.auctionAt(i + off.auction))
      val states = States
      val expected = auctions.as("a")
        .join(persons.filter(p => states(p.state)).as("p"),
          col("a.seller") === col("p.id"))
        .count()
      ctx.rec.emit("check_join", "id" -> m.id.toString, "name" -> m.name,
        "auctions" -> nA, "persons" -> nP, "expected" -> expected,
        "actual" -> ps.map(_.sink.numOutputRows).sum)
    }
  }
}
