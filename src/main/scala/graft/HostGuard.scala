package graft

import org.apache.spark.sql.SparkSession

/** Host-calibration guard shared by the batch sweep ([[Bench]]) and
  * the STREAMING bench mains: one fixed probe workload, one host
  * counter reader, one history parser and one set of thresholds.
  *
  * Mechanisms:
  *
  *  - a FIXED synthetic probe (RDD range-partition sort: shuffle write
  *    + sorted read, no parquet, no query code). Bench times the full
  *    10M-row form before and after its sweep and the 2M-row mini form
  *    at every query-family boundary and on every history trip; the
  *    streaming mains bracket each measured leg with the mini form
  *    (streaming legs are wall-clock-fixed, so the probe can never run
  *    INSIDE the measured window). It is the only meter that sees the
  *    host's degraded first-touch fault path, which leaves
  *    steal/iowait/majfault all reading zero.
  *  - hypervisor-steal ticks (/proc/stat field 8) metered across the
  *    measured window; more than [[ContentionLimit]] of wall x cores
  *    flags it.
  *  - a HISTORY tripwire against a checked-in per-row (batch,
  *    tools/bench_history.json) or per-leg (stream,
  *    tools/stream_history.json) reference: a row past its trip ratio
  *    fires an immediate mini probe — hot probe => host event, the run
  *    self-reports flagged; clean probe => the deviation is recorded as
  *    a real-regression pointer. Rates are higher-is-better, so the
  *    stream test is inverted from the batch (time) form.
  *
  * Every streaming leg's JSON gains a "guard" object with a `flagged`
  * bool, so a contaminated streaming record announces itself instead
  * of needing the r15 footnote ("the host ran slow that day... it
  * cannot PROVE it"). */
object HostGuard {

  /** Rows of the start/end calibration probe. */
  val FullProbeRows = 10000000L

  /** Absolute degradation limit for the full probe: healthy runs of
    * this box measure 3.8-5.2 s; an r14 sweep starting at 22.6 s (6x,
    * ZERO guest-visible steal/majfault/refault — host-side memory or
    * scheduling trouble the guest cannot meter directly) produced rows
    * up to 30x their history. */
  val FullProbeLimit = 10.0

  /** Rows of the 1/5-scale mini probe (~0.3-1 s healthy). */
  val MiniProbeRows = 2000000L

  /** Limit for the mini probe: the full limit scaled to 1/5. */
  val MiniProbeLimit = FullProbeLimit / 5.0

  /** Share of wall x host cores that hypervisor steal (or, in the
    * batch sweep, foreign JVMs) may take before a run is flagged. */
  val ContentionLimit = 0.05

  /** The tight history-trip ratio: long batch rows and streaming legs
    * (45 s means) have percent-scale run-to-run noise. */
  val TightTripRatio = 1.4

  /** Time the fixed calibration workload over `rows` rows. */
  def probe(spark: SparkSession, rows: Long): Double = {
    val t0 = System.nanoTime()
    spark.sparkContext.range(0L, rows, 1, numSlices = 32)
      .map(i => (i * 2654435761L) % 999999937L)
      .sortBy(identity)
      .count()
    (System.nanoTime() - t0) / 1e9
  }

  /** History-tripwire ratio threshold for a batch row whose checked-in
    * history is `histPrev` seconds. Multi-second rows get the TIGHT
    * 1.4x ratio: the r15c sweep measured a host event hiding +142 s
    * inside the 471 s converged-pagerank row at 1.43x its history —
    * under the 3x threshold that guards short rows against
    * timer/first-repeat noise — and r16 shipped an unflagged ~2x
    * regression on layout_bucketed_join (12.5→24.3 s, history 13.3 s)
    * precisely because the 1.4x band used to start at 30 s: a
    * [10 s, 30 s)-history row could double silently. A >=10 s-history
    * row's run-to-run noise is already percent-scale (these are
    * multi-second means over fixed work), so 1.4x is signal there
    * too. */
  def tripRatioFor(histPrev: Double): Double =
    if (histPrev >= 10.0) TightTripRatio else 3.0

  /** Cumulative (steal, iowait) ticks (USER_HZ = 100) from /proc/stat's
    * aggregate cpu line; (-1, -1) when unreadable. Steal is the
    * classic invisible contention on a Firecracker guest: a co-tenant
    * VM taking the physical core. */
  def stealIoTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cpu = try f.getLines().next() finally f.close()
      val t = cpu.trim.split("\\s+") // cpu user nice sys idle iowait irq sirq steal
      (t(8).toLong, t(5).toLong)
    } catch { case _: Throwable => (-1L, -1L) }

  /** 1-minute load average, -1 when unreadable. */
  def loadavg1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Cumulative CPU ticks (utime+stime, USER_HZ = 100) of every OTHER
    * java process on the box, by pid. */
  def foreignJvmCpuTicks(): Map[Long, Long] = {
    val self = ProcessHandle.current().pid()
    val procs = Option(new java.io.File("/proc").listFiles())
      .getOrElse(Array.empty)
    procs.iterator
      .filter(f => f.getName.forall(_.isDigit))
      .map(_.getName.toLong)
      .filter(_ != self)
      .flatMap { pid =>
        try {
          // classify by the EXECUTABLE (comm = argv[0] basename, 15
          // chars), not a substring of the full cmdline — a node or
          // python process with "java" anywhere in a path/argument
          // (".../javascript/...") must not count as a foreign JVM
          val comm = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"/proc/$pid/comm")), "UTF-8").trim
          if (comm != "java") None
          else {
            val stat = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(s"/proc/$pid/stat")), "UTF-8")
            // comm may contain spaces/parens — fields resume after
            // the LAST ')': state is field 3, so utime(14) = rest(11),
            // stime(15) = rest(12)
            val rest = stat.substring(stat.lastIndexOf(')') + 2)
              .split(" ")
            Some(pid -> (rest(11).toLong + rest(12).toLong))
          }
        } catch { case _: Throwable => None }
      }.toMap
  }

  /** Parse the flat name -> number object stored under `key` in a
    * history file. The key must be a KEY (next non-space char is ':'),
    * not the same text quoted inside a string field like "source";
    * the object's end is found by brace DEPTH, not the first '}', so a
    * nested object cannot truncate the entries silently; and only that
    * object is read — a whole-file regex would turn any numeric
    * metadata field ("round": 17) into a phantom entry. */
  private[graft] def parseHistory(txt: String,
      key: String = "rates"): Map[String, Double] = {
    val quoted = "\"" + key + "\""
    val keyAt = Iterator.iterate(txt.indexOf(quoted))(
        i => txt.indexOf(quoted, i + 1))
      .takeWhile(_ >= 0)
      .find(i => txt.drop(i + quoted.length).dropWhile(_.isWhitespace)
        .startsWith(":"))
      .getOrElse(-1)
    val open = if (keyAt < 0) -1 else txt.indexOf('{', keyAt)
    if (open < 0) Map.empty[String, Double]
    else {
      var depth = 0
      var close = open
      while (close < txt.length &&
          { val c = txt.charAt(close)
            if (c == '{') depth += 1 else if (c == '}') depth -= 1
            depth != 0 }) close += 1
      "\"([a-z0-9_]+)\"\\s*:\\s*([0-9.eE+-]+)".r
        .findAllMatchIn(txt.substring(open + 1, close))
        .map(mm => mm.group(1) -> mm.group(2).toDouble).toMap
    }
  }

  /** One streaming leg's guard verdict. `historyRatio` =
    * measured/history (<1 = slower than history; 0 when no history
    * entry exists). */
  final case class Stamp(name: String, probeStartSec: Double,
      probeEndSec: Double, probeLimit: Double, stealSec: Double,
      stealFrac: Double, historyRps: Double, historyRatio: Double,
      tripProbeSec: Double, flagged: Boolean) {
    def json: String = {
      def n(v: Double) =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      s"""{"name":"$name","probe_start_sec":${n(probeStartSec)},""" +
        s""""probe_end_sec":${n(probeEndSec)},""" +
        s""""probe_limit":${n(probeLimit)},"steal_sec":${n(stealSec)},""" +
        s""""steal_frac":${n(stealFrac)},""" +
        s""""history_rps":${n(historyRps)},""" +
        s""""history_ratio":${n(historyRatio)},""" +
        s""""trip_probe_sec":${n(tripProbeSec)},"flagged":$flagged}"""
    }
  }

  /** Best healthy rows/s per streaming leg from the checked-in history
    * file (refreshed each round from the latest guard-clean record),
    * resolved against the repo root the stream mains run from. A
    * missing file or leg disables that tripwire with a warning
    * (self-announcing, like the batch guard). */
  lazy val history: Map[String, Double] = {
    val path = sys.env.getOrElse("SPARK_GRAFT_STREAM_HISTORY",
      "tools/stream_history.json")
    val m =
      try parseHistory(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8"))
      catch { case _: Throwable => Map.empty[String, Double] }
    if (m.isEmpty)
      System.err.println("[stream-guard] WARNING: rate tripwire " +
        s"disabled — no history at $path")
    m
  }

  // the FIRST probe against a fresh SparkContext reads cold (JIT +
  // first-touch of the sort path — measured 3.8 s vs 0.5-0.8 s steady
  // on a healthy box), which would flag leg 1 of every suite on probe
  // noise. One discarded warm-up probe per CONTEXT (not per JVM —
  // StreamBenchAll rebuilds the SparkSession between suites, and each
  // rebuilt context's first probe re-pays scheduler/codegen warm-up
  // for rebuild reasons unrelated to host health) pays that cost
  // untimed; the host-health reading starts from the second probe,
  // like the probe-twice rule the batch recipe documents for idle
  // hosts.
  private val warmedApp =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** Bracket one measured streaming leg with the full guard.
    * `rowsPerSec` maps the leg's result to its headline rate for the
    * history check. */
  def guarded[T](spark: SparkSession, name: String)(run: => T)(
      rowsPerSec: T => Double): (T, Stamp) = {
    val limit = MiniProbeLimit
    val appId = spark.sparkContext.applicationId
    if (warmedApp.getAndSet(appId) != appId) {
      val w = probe(spark, MiniProbeRows)
      System.err.println(f"[stream-guard] warm-up probe (discarded): $w%.3f s")
    }
    val p0 = probe(spark, MiniProbeRows)
    if (p0 > limit)
      System.err.println(f"[stream-guard] WARNING: pre-leg probe for " +
        f"'$name' read $p0%.3f s (limit $limit%.1f) — host degraded; " +
        "this leg will self-report flagged")
    val s0 = stealIoTicks()._1
    val t0 = System.nanoTime()
    val result = run
    val wallSec = (System.nanoTime() - t0) / 1e9
    val s1 = stealIoTicks()._1
    val p1 = probe(spark, MiniProbeRows)
    if (p1 > limit)
      System.err.println(f"[stream-guard] WARNING: post-leg probe for " +
        f"'$name' read $p1%.3f s (limit $limit%.1f) — host degraded; " +
        "this leg self-reports flagged")
    val hostCpus = Runtime.getRuntime.availableProcessors()
    val stealSec = if (s0 < 0 || s1 < 0) 0.0 else (s1 - s0) / 100.0
    val stealFrac =
      if (wallSec <= 0) 0.0 else stealSec / (wallSec * hostCpus)
    val rps = rowsPerSec(result)
    val hist = history.getOrElse(name, 0.0)
    val ratio = if (hist > 0) rps / hist else 0.0
    // rate under 1/1.4 of history: immediate probe arbitrates between
    // "host event while this leg ran" (hot => flagged) and "real
    // regression" (clean => recorded pointer, leg stays unflagged)
    var tripProbe = -1.0
    if (hist > 0 && rps < hist / TightTripRatio) {
      tripProbe = probe(spark, MiniProbeRows)
      System.err.println(f"[stream-guard] WARNING: '$name' measured " +
        f"$rps%.0f rows/s = ${ratio * 100}%.0f%% of its checked-in " +
        f"history ($hist%.0f); immediate probe $tripProbe%.3f s " +
        f"(limit $limit%.1f) — " +
        (if (tripProbe > limit) "host degraded, leg self-reports flagged"
         else "probe clean: investigate as a real regression"))
    }
    val flagged = p0 > limit || p1 > limit || stealFrac > ContentionLimit ||
      tripProbe > limit
    (result, Stamp(name, p0, p1, limit, stealSec, stealFrac, hist,
      ratio, tripProbe, flagged))
  }
}
