package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Everything a workload needs: the session, the record sink, a work
  * directory inside the checkout, and a way to wait for progress. */
final class Ctx(val spark: SparkSession, val rec: Recorder,
    val seed: Long, val seconds: Int, val cores: Int, val trace: Boolean,
    val work: String, val data: Option[String]) {

  private val progress = ArrayBuffer.empty[StreamingQueryProgress]

  private[perfbench] val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
  }

  /** Committed triggers of one query (all its runs), in arrival order. */
  def progressOf(queryId: java.util.UUID): Seq[StreamingQueryProgress] =
    progress.synchronized(progress.filter(_.id == queryId).toList)

  /** Blocks until a trigger of `queryId` arriving after this call
    * satisfies `cond`; fails after `timeoutMs`. */
  def awaitTrigger(queryId: java.util.UUID, timeoutMs: Long)(
      cond: StreamingQueryProgress => Boolean): StreamingQueryProgress = {
    var seen = progress.synchronized(progress.length)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      val fresh = progress.synchronized {
        val xs = progress.slice(seen, progress.length).toList
        seen = progress.length
        xs
      }
      fresh.find(p => p.id == queryId && cond(p)) match {
        case Some(p) => return p
        case None => Thread.sleep(10)
      }
    }
    throw new IllegalStateException(
      s"no qualifying trigger of query $queryId within $timeoutMs ms")
  }

  /** Waits until every listener event posted so far has been handled. */
  def drainListeners(): Unit =
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Records a named wall-clock interval; metrics select triggers and
    * operations by these intervals. */
  def phase[T](name: String, fields: (String, Any)*)(body: => T): T = {
    val start = System.currentTimeMillis()
    try body
    finally rec.emit("phase", Seq("name" -> name, "start" -> start,
      "end" -> System.currentTimeMillis()) ++ fields: _*)
  }

  /** One repetition of a workload's set-up, timed for `setup_s`. */
  def setupRep[T](rep: Int)(body: => T): T = {
    val (start, t0) = (System.currentTimeMillis(), System.nanoTime())
    val r = body
    rec.emit("setup_rep", "rep" -> rep, "start" -> start,
      "ms" -> (System.nanoTime() - t0) / 1e6)
    r
  }

  def dir(name: String): String = {
    val d = Paths.get(work, name)
    Files.createDirectories(d)
    d.toString
  }
}

/** Benchmark harness entry point (run through perfbench/run.py, which
  * builds the program, launches this JVM and turns its records into
  * metrics).
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --cores C
  *       --work DIR --launch-ms T [--data DIR]
  */
object Main {
  val ObservePrefix = "perfbench_"
  val OpProperty = "perfbench.op"

  /** Largest heap occupancy right after any garbage collection: the
    * memory the run kept live, independent of how far the collector let
    * the heap grow between collections (which sets `VmHWM`). Only heap
    * pools count; Metaspace and the code cache are left out. */
  private object HeapAfterGc extends javax.management.NotificationListener {
    import com.sun.management.GarbageCollectionNotificationInfo
    @volatile var peakBytes = 0L
    private val heapPools = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
    def install(): Unit =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener(this, null, null)
        case _ =>
      }
    override def handleNotification(n: javax.management.Notification,
        handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, usage) if heapPools(pool) => usage.getUsed
        }.sum
        synchronized { if (used > peakBytes) peakBytes = used }
      }
  }

  private def vmHwmKb(): Long = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }.getOrElse(-1L)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val cores = opt("cores").toInt
    val work = opt("work")
    val trace = opt("trace") == "1"
    HeapAfterGc.install()
    val rec = new Recorder
    rec.emit("meta", "workload" -> workload, "seed" -> opt("seed").toLong,
      "seconds" -> opt("seconds").toInt, "cores" -> cores, "trace" -> trace,
      "launch_ms" -> opt("launch-ms").toLong)
    var ok = false
    var spark: SparkSession = null
    try {
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/spark-local")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      rec.emit("session", "ready_ms" -> System.currentTimeMillis())
      val ctx = new Ctx(spark, rec, opt("seed").toLong, opt("seconds").toInt,
        cores, trace, work, opt.get("data"))
      spark.streams.addListener(ctx.progressListener)
      spark.streams.addListener(new TriggerListener(rec))
      if (trace) spark.sparkContext.addSparkListener(new SparkTrace(rec))
      workload match {
        case "reconfig_keyed" => ReconfigKeyed.run(ctx)
        case "nexmark_q3" => NexmarkQ3.run(ctx)
        case "batch_catalog" => BatchCatalog.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.drainListeners()
      ok = true
    } catch {
      case e: Throwable =>
        val sw = new java.io.StringWriter
        e.printStackTrace(new java.io.PrintWriter(sw))
        rec.emit("fatal", "error" -> sw.toString)
    } finally {
      if (spark != null) spark.streams.active.foreach(q =>
        scala.util.Try(q.stop()))
      val cpuNs = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
      rec.emit("final", "ms" -> System.currentTimeMillis(), "cpu_ms" -> cpuNs / 1000000L,
        "vmhwm_kb" -> vmHwmKb(), "heap_after_gc_peak_bytes" -> HeapAfterGc.peakBytes)
      rec.writeTo(s"$work/records.jsonl")
      if (spark != null) scala.util.Try(spark.stop())
    }
    sys.exit(if (ok) 0 else 3)
  }
}
