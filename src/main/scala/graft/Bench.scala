package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — driver runs this per round against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and records the one-line JSON.
  *
  * Prints exactly one JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  */
object Bench {

  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Bench-only rows, beside the catalogue's [[SparkEntry.specs]]: the
    * production forms benched ALONGSIDE the exact oracle forms, so the
    * artifact carries a measured curve for both. Never oracle-checked
    * (Verify runs the exact default-conf forms). */
  private[graft] val benchOnly: Seq[QuerySpec] = {
    import graft.operators.{AnnIvfPq, AnnPq, GraphQueries, TextQueries}
    import graft.sources.BucketedLayout
    Seq(
      // the corpus-model forms: fixed-size top-K model tables with
      // smoothed backoff (the 100 TB shape). Both rebuild their model
      // inside every repeat (no memo, no scratch table), so
      // min-over-repeats hides nothing
      QuerySpec("t_lm_perplexity_pruned", { (s, d) =>
        s.conf.set("spark.graft.lm.topK", "262144")
        TextQueries.lmPerplexity(s, d)
      }, None),
      QuerySpec("t_quality_classifier_pruned", { (s, d) =>
        s.conf.set("spark.graft.nb.topK", "262144")
        TextQueries.qualityClassifier(s, d)
      }, None),
      // the amortized side of the pay-once layout trade: runs after the
      // cold row (alphabetical order), so ensureBucketed serves from the
      // session memo and this times the exchange-free READ path — the
      // cost every query after the first pays at 100 TB. Eager for the
      // warm-up EXCLUSION: constructing it at the bench SF during
      // warm-up would materialize the copies untimed and rob the cold row
      QuerySpec("layout_bucketed_join_warm", BucketedLayout.bucketedJoin,
        None, eagerBuild = true),
      // the untrained SQL-replayable PQ models (the oracle gate's
      // forms), kept benched so the artifact still carries both sides'
      // cost and the recall section both sides' retrieval quality
      QuerySpec("sim_ivfpq_baseline", AnnIvfPq.ivfPqTopK, None),
      QuerySpec("sim_pq_adc_baseline", AnnPq.pqAdcTopK, None),
      // the recall-hungry routing point (nprobe = nlist/4, kf=4 — 0.92
      // recall where the default breadth plateaus at 0.84 on the
      // planted fixture), recorded as a row so the recall/cost knee is
      // measured at the bench SFs. Eager for the warm-up exclusion:
      // warming it would train the shared -refine model untimed
      QuerySpec("sim_ivfpq_refine_wide", AnnIvfPq.ivfPqRefineTopKTrainedWide,
        None, eagerBuild = true, memoFrom = Some("sim_ivfpq_refine")),
      // the production convergence form beside the fixed-3-iteration
      // oracle form; iteration count goes to stderr next to the row.
      // The between-query cleanup has UNPERSISTED the adjacency the
      // oracle row built (the memo would serve a cache-less frame that
      // re-scans orders⋈lineitem EVERY iteration) — release it so this
      // row is a self-contained production run: adjacency build +
      // persist + iterate-to-ε, all timed. Construction runs the whole
      // loop (delta probes execute eagerly)
      QuerySpec("graph_pagerank_converged", { (s, d) =>
        GraphQueries.releaseAdjacency(s, d)
        val cr = GraphQueries.pageRankConverged(s, d)
        System.err.println(s"[bench] pageRankConverged: ${cr.iters} " +
          s"iterations, converged=${cr.converged} (eps=0.1% of max rank)")
        cr.ranks
      }, None, eagerBuild = true))
  }

  /** Every bench row in sweep order: the catalogue plus [[benchOnly]],
    * sorted by name. */
  private[graft] def rows: Seq[QuerySpec] =
    (SparkEntry.specs ++ benchOnly).sortBy(_.name)

  /** A row's family: its name up to the first '_', with the numbered
    * TPC-H (q1..q22) and event (e1..e11) rows folded into one family
    * each. Family boundaries in the alphabetical sweep place the
    * mid-leg probes. */
  private def family(n: String): String = {
    val p = n.takeWhile(_ != '_')
    if (p.matches("q\\d+")) "q" else if (p.matches("e\\d*")) "e" else p
  }

  def main(args: Array[String]): Unit = {
    // local profiling knobs (driver passes no args): args(0) = comma-
    // separated substring filters on query names ("-" prefix excludes;
    // no inclusion tokens = include all), args(1) = repeat count
    val tokens = args.headOption.getOrElse("").split(",")
      .map(_.trim).filter(_.nonEmpty).toSeq
    val (excludes, includes) = tokens.partition(_.startsWith("-"))
    val matches = (name: String) =>
      (includes.isEmpty || includes.exists(name.contains)) &&
        !excludes.exists(e => name.contains(e.drop(1)))
    val repeats = if (args.length > 1) args(1).toInt else 1
    require(repeats >= 1, s"repeats must be >= 1, got $repeats")
    val spark = session()
    runLeg(spark, matches, repeats,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json"),
      filtered = tokens.nonEmpty)
    spark.stop()
  }

  /** One sweep over one SF dir, writing the full record to `fullPath`
    * and printing the compact summary line. Factored out of main so
    * [[BenchSweep]] can run several legs in ONE JVM: this guest's
    * page-fault path intermittently degrades ~100x (33 µs-3.5 ms/page
    * in sys time, zero guest-visible steal — host-side memory
    * pressure re-faulting pages the guest freed), so re-allocating a
    * 48 GiB pre-touched heap per leg can cost more than a leg itself.
    * One JVM touches the heap once and keeps it. */
  private[graft] def runLeg(spark: SparkSession,
      matches: String => Boolean, repeats: Int, sfDir: String,
      fullPath: String, filtered: Boolean = false): Unit = {

    // warm the JVM + parquet footers once with the flagship query
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    val legRows = rows.filter(q => matches(q.name))

    // Warm-up sweep (untimed): construct every query once against the
    // bench dir — this performs the construction-time memo scans (LSH
    // width gate, overlap index, CC materialization key) and Catalyst
    // analysis outside the timed region — and, when the tiny sf0.001
    // sibling exists, EXECUTE the sweep there once so codegen/JIT of
    // every kernel's hot path happens before the first timed query
    // (repeats=1 driver runs otherwise charge ~30 s of one-time JIT to
    // whichever queries run first).
    {
      val tiny = new java.io.File("/root/testdata/sf0.001")
      val warmDirs =
        (if (tiny.isDirectory && tiny.getPath != sfDir) Seq(tiny.getPath)
         else Seq.empty) :+ sfDir
      warmDirs.foreach { d =>
        legRows.filter(q => d != sfDir || !q.eagerBuild)
          .foreach { q =>
            try {
              val df = q.benchForm.getOrElse(q.build)(spark, d)
              if (d != sfDir) df.count() // execute only at the tiny SF
            } catch { case _: Throwable => }
          }
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        System.gc()
      }
    }

    // Host-calibration probe: HostGuard's full probe, timed right
    // before the sweep. The last two rounds' bench totals moved with
    // the box, not the code (r10 drifted ~14% and needed a hand A/B to
    // attribute); the probe gives cross-round comparisons a same-box
    // denominator, and past its limit the sweep self-reports flagged.
    val calibSec = HostGuard.probe(spark, HostGuard.FullProbeRows)
    System.err.println(f"[bench] calibration probe: $calibSec%.3f s")
    val calibLimit = HostGuard.FullProbeLimit

    // Mid-leg probes: r14 proved the start/end probes leave a BLIND
    // WINDOW — a degradation that begins after the start probe and
    // ends before the end probe inflates rows 3-30× while both probes
    // read healthy (BENCH_r14: calib 5.5→2.7 s around a uniformly
    // 1.69× sweep). Interleave the mini probe at every query-FAMILY
    // boundary, untimed, after the between-query cleanup — ~15
    // boundaries ≈ 10 s of untimed wall per leg buys per-family
    // localization of a mid-leg host event. Any mid probe past its
    // limit folds into coload.flagged, so a contaminated sweep
    // self-reports even when both end probes are clean.
    def miniCalibProbe(): Double = HostGuard.probe(spark, HostGuard.MiniProbeRows)
    val calibMidLimit = HostGuard.MiniProbeLimit
    val midProbes = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    var prevFamily: String = null

    // Per-row HISTORY tripwire — the second mechanism closing the
    // blind window (r14 showed family-boundary probes can read just
    // under their limit while a fault-path event inflates the
    // checkpoint-heavy rows 3x between two probes). Against the
    // checked-in per-SF history (tools/bench_history.json, refreshed
    // each round from the latest guard-clean sweep), any row reading
    // >3x its history fires an IMMEDIATE untimed mini-probe: probe hot
    // => host event, leg self-reports flagged; probe clean => the
    // regression is real and the artifact says exactly which row to
    // investigate. Rows under 0.3 s history are exempt (timer noise
    // flips sub-second ratios; r11's rollup_returns measured 16.4x on
    // one descheduled task).
    val sfName = new java.io.File(sfDir).getName
    val historyTimes: Map[String, Double] =
      try {
        val path = sys.env.getOrElse("SPARK_GRAFT_HISTORY",
          "/root/repo/tools/bench_history.json")
        HostGuard.parseHistory(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8"), sfName)
      } catch { case _: Throwable => Map.empty }
    // a guard that silently disables itself contradicts the repo's
    // self-announcing-guard rule: an empty history map means the
    // tripwire is OFF for this whole leg — say so next to the artifact
    if (historyTimes.isEmpty)
      System.err.println(s"[bench] WARNING: history tripwire disabled " +
        s"for this leg — no entries for '$sfName' in " +
        sys.env.getOrElse("SPARK_GRAFT_HISTORY",
          "/root/repo/tools/bench_history.json"))
    val historyTrips =
      scala.collection.mutable.ArrayBuffer[(String, Double, Double)]()

    // host-meter denominator: /proc/stat steal ticks accrue over ALL
    // host CPUs, so the contamination fractions must divide by the
    // box's real core count — SPARK_GRAFT_CPUS sizes only the Spark
    // master/partitions and may legitimately differ from it
    val hostCpus = Runtime.getRuntime.availableProcessors()

    // Co-load guard: the r12 official sweep was distorted 23% by a
    // concurrent JVM the single-job calibration probe cannot see (it
    // saturates the box itself, so co-load only stretches it a little).
    // Instead, meter what OTHER java processes actually BURNED while
    // the sweep ran: snapshot each foreign JVM's cumulative CPU ticks
    // (utime+stime from /proc/<pid>/stat, USER_HZ = 100) before and
    // after, plus /proc/loadavg for context. A sweep whose foreign-JVM
    // CPU exceeds 5% of its own wall×cores self-reports flagged=true in
    // the summary line — a contaminated artifact announces itself
    // instead of needing a judge A/B rerun.
    val loadBefore = HostGuard.loadavg1()
    val jvmsBefore = HostGuard.foreignJvmCpuTicks()
    val (stealBefore, iowaitBefore) = HostGuard.stealIoTicks()
    val sweepStartNs = System.nanoTime()

    val timedNames = legRows.map(_.name).toSet
    // A name filter that selects the _warm layout row WITHOUT its cold
    // twin would charge the one-time bucketed materialization to the
    // first (reported) "warm" repeat — construct the copies untimed
    // here so the warm figure measures what its name claims
    if (timedNames("layout_bucketed_join_warm") &&
        !timedNames("layout_bucketed_join")) {
      try {
        graft.sources.BucketedLayout.ensureBucketed(spark, sfDir)
        System.err.println("[bench] warm-only filter: bucketed copies " +
          "materialized untimed so the _warm row stays a read-path measure")
      } catch { case e: Throwable =>
        // swallowing this silently would let the first TIMED "warm"
        // repeat quietly perform the full bucketed write — the exact
        // mislabeling this guard exists to prevent — so the failure
        // must at least be visible next to the artifact
        System.err.println("[bench] WARNING: warm-only bucketed " +
          s"materialization failed ($e) — the _warm row's first repeat " +
          "will include the one-time write")
      }
    }

    val results = legRows.map { q =>
      val name = q.name
      val fam = family(name)
      if (prevFamily != null && fam != prevFamily) {
        val t = miniCalibProbe()
        midProbes += fam -> t
        if (t > calibMidLimit)
          System.err.println(f"[bench] WARNING: mid-leg probe before " +
            f"family '$fam' read $t%.3f s (limit $calibMidLimit%.1f) — " +
            "host degraded mid-sweep; this leg will self-report flagged")
      }
      prevFamily = fam
      val fn = q.benchForm.getOrElse(q.build)
      var sec = Double.MaxValue
      var ok = true
      var skipped = false
      var rep = 0
      // construction-memoized rows report the FIRST repeat by contract
      // (min-over-repeats never applies), so further repeats could only
      // burn sweep wall time re-reading memos — skip them outright
      // (pageRankConverged alone would re-run its 47-iteration loop)
      var planned = if (q.eagerBuild) 1 else repeats
      // per-ROW steal meter: the sweep-level guard can only say "some
      // window was contaminated"; sampling /proc/stat around each row
      // localizes a mid-sweep host event to the rows it actually hit
      // (the first r13 sf10 sweep lost exactly q15–q18 to one such
      // event and needed a standalone re-measure to prove it)
      val (rowSteal0, _) = HostGuard.stealIoTicks()
      val rowStartNs = System.nanoTime()
      while (rep < planned) {
        rep += 1
        val t0 = System.nanoTime()
        ok = try { fn(spark, sfDir).count(); ok }
          catch {
            // a DESIGNED refusal (e.g. the exact all-pairs form past
            // its row cap, whose scale path is a separate query) is not
            // an error — report it distinctly so a genuine failure of
            // the same query can never hide behind the skip sentinel
            case _: graft.model.DesignedSkip => skipped = true; ok
            case _: Throwable => false
          }
        // min over repeats: the steady-state cost, robust to one-off
        // JIT/page-cache/GC interference in either direction — except
        // construction-memoized queries, which report the first (cold)
        // repeat so the memoized work can't vanish from the number
        val t = (System.nanoTime() - t0) / 1e9
        if (q.eagerBuild) { if (rep == 1) sec = t }
        else sec = math.min(sec, t)
        // Fast rows are timer-noise-dominated at big SFs: one
        // descheduled task flips a sub-second query's sweep ratio
        // (r11's rollup_returns recorded 16.4× at sf10 against 3.3× on
        // re-measure). When a multi-repeat sweep meets a fast query,
        // extend it to three repeats so the reported min is a stable
        // figure — cost is < 2·3 s per fast row. repeats=1 driver runs
        // are untouched (extension would change their accounting), as
        // are eagerBuild rows (they report the first repeat by
        // contract, which extension cannot stabilize).
        if (rep == planned && planned < 3 && repeats > 1 &&
            !q.eagerBuild && ok && !skipped && sec < 3.0)
          planned = 3
        if (repeats > 1) {
          System.err.println(
            f"[bench] $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          // a repeat must not pay for its predecessor's garbage (the
          // bounded driver collects leave old-gen pressure behind)
          System.gc()
        }
      }
      // caches are query-scoped working sets — release before the next
      // query so storage memory never accumulates across the sweep.
      // clearCache only drops SQL-cached relations; localCheckpoint
      // blocks (iterative queries) live in the RDD registry and must be
      // unpersisted explicitly or they pin storage for the whole sweep.
      // Broadcast blocks are reaped by the ContextCleaner only after
      // their weak refs are GC'd — force that between queries (outside
      // the timed region) so no query pays for its predecessors.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      // error OUTRANKS skip: if any repeat genuinely failed, the query
      // reports -1 even when another repeat ended in a designed
      // refusal — otherwise a transient failure could hide behind the
      // skip sentinel. `rep` records how many repeats actually ran —
      // the self-extending fast-row policy above makes the count
      // row-dependent, and the artifact must say which policy measured
      // each row
      val (rowSteal1, _) = HostGuard.stealIoTicks()
      val rowStealFrac =
        if (rowSteal0 < 0 || rowSteal1 < 0) 0.0
        else {
          val wall = (System.nanoTime() - rowStartNs) / 1e9
          if (wall <= 0) 0.0
          else (rowSteal1 - rowSteal0) / 100.0 / (wall * hostCpus)
        }
      if (rowStealFrac > HostGuard.ContentionLimit)
        System.err.println(f"[bench] WARNING: $name ran under " +
          f"${rowStealFrac * 100}%.1f%% hypervisor steal — treat its " +
          "time as contaminated")
      val histPrev = historyTimes.getOrElse(name, 0.0)
      val tripRatio = HostGuard.tripRatioFor(histPrev)
      // Memo-REUSING rows' first-repeat accounting assumes their
      // PROVIDER row ran earlier in the sweep (full sweeps — the runs
      // history is refreshed from — guarantee it by alphabetical
      // order); a NAME-FILTERED run that drops the provider makes the
      // reuser pay a construction its history recorded warm, so its
      // tripwire would fire on an accounting artifact, not the host or
      // the code. Exempt exactly those rows — every self-contained
      // eagerBuild row (its own memo slot, or an explicit
      // release-and-rebuild like graph_pagerank_converged) keeps its
      // tripwire on filtered runs too.
      val warmthComparable =
        !(filtered && q.memoFrom.exists(p => !matches(p)))
      if (ok && !skipped && warmthComparable &&
          histPrev >= 0.3 && sec > tripRatio * histPrev) {
        val ratio = sec / histPrev
        val probe = miniCalibProbe()
        historyTrips += ((name, ratio, probe))
        // machine-readable marker FIRST — external harnesses
        // (tools/tripwire_demo.sh) key off this line, not the prose
        // warning below, so rewording the prose can't silently break
        // them (the r16 ADVICE low on the demo's grep)
        System.err.println(f"[bench-trip] $name ratio=$ratio%.2f " +
          f"probe=$probe%.3f")
        System.err.println(f"[bench] WARNING: $name read $sec%.3f s = " +
          f"$ratio%.1fx its checked-in history ($histPrev%.3f s); " +
          f"immediate probe $probe%.3f s (limit $calibMidLimit%.1f) — " +
          (if (probe > calibMidLimit) "host degraded, leg self-reports flagged"
           else "probe clean: investigate this row as a real regression"))
      }
      (name, if (!ok) -1.0 else if (skipped) Double.NaN else sec, rep,
        rowStealFrac)
    }
    val sweepWallSec = (System.nanoTime() - sweepStartNs) / 1e9
    val loadAfter = HostGuard.loadavg1()
    val jvmsAfter = HostGuard.foreignJvmCpuTicks()
    val (stealAfter, iowaitAfter) = HostGuard.stealIoTicks()
    val stealSec =
      if (stealBefore < 0 || stealAfter < 0) -1.0
      else (stealAfter - stealBefore) / 100.0
    val iowaitSec =
      if (iowaitBefore < 0 || iowaitAfter < 0) -1.0
      else (iowaitAfter - iowaitBefore) / 100.0
    val stealFrac =
      if (stealSec < 0 || sweepWallSec <= 0) 0.0
      else stealSec / (sweepWallSec * hostCpus)
    // foreign CPU burned in-window: common pids by tick delta, pids
    // born mid-sweep by their full count (their whole life is in the
    // window); vanished pids are unmeasurable and only under-count
    val otherJvmCpuSec = jvmsAfter.iterator.map { case (pid, t) =>
      math.max(0L, t - jvmsBefore.getOrElse(pid, 0L))
    }.sum / 100.0
    val coloadFrac =
      if (sweepWallSec > 0) otherJvmCpuSec / (sweepWallSec * hostCpus)
      else 0.0
    // end-of-sweep probe: catches degradation that began MID-sweep
    // (the start probe alone passed a sweep whose later rows ran on a
    // 6x-degraded host)
    val calibEndSec = HostGuard.probe(spark, HostGuard.FullProbeRows)
    System.err.println(f"[bench] calibration probe (end): $calibEndSec%.3f s")
    val calibMidMax = if (midProbes.isEmpty) 0.0 else midProbes.map(_._2).max
    val calibFlag = calibSec > calibLimit || calibEndSec > calibLimit ||
      calibMidMax > calibMidLimit ||
      // a history trip whose immediate probe also read hot is direct
      // evidence the host was degraded WHILE that row ran; a trip with
      // a clean probe stays in history_trips as a regression pointer
      // without flagging the leg
      historyTrips.exists(_._3 > calibMidLimit)
    val coloadFlag = coloadFrac > HostGuard.ContentionLimit ||
      stealFrac > HostGuard.ContentionLimit || calibFlag
    if (coloadFlag)
      System.err.println(f"[bench] WARNING: co-load guard tripped — " +
        f"foreign JVMs $otherJvmCpuSec%.1f CPU-s, hypervisor steal " +
        f"$stealSec%.1f s during the $sweepWallSec%.1f s sweep " +
        f"(foreign ${coloadFrac * 100}%.1f%% / steal ${stealFrac * 100}%.1f%% " +
        f"of the box), calibration $calibSec%.1f->$calibEndSec%.1f s " +
        f"vs limit $calibLimit%.1f, mid-leg max $calibMidMax%.1f vs " +
        f"$calibMidLimit%.1f; treat this sweep as contaminated")

    // ANN retrieval quality (untimed): mean recall@5 per approximate
    // leg vs the exact answer under its own metric — hash-parity
    // proves replay, this records whether the index actually finds
    // the neighbors. SPARK_GRAFT_RECALL=off skips (e.g. huge SFs).
    val recall: Seq[(String, Double)] =
      if (sys.env.getOrElse("SPARK_GRAFT_RECALL", "on") == "off") Seq.empty
      else try graft.operators.AnnRecall.recallAtK(spark, sfDir, timedNames)
      catch { case e: Throwable =>
        System.err.println(s"[bench] recall computation failed: $e")
        Seq.empty
      }
    // Structured-fixture recall (untimed): the planted-cluster twin of
    // the recall block above. On the iid-random driver fixture recall
    // cannot distinguish a working PQ index from a broken one (r13:
    // 0.00 either way); on the planted fixture it DISCRIMINATES —
    // exact-rerank legs ≈ 1.0, trained IVF-PQ in a diagnostic band,
    // the deliberately mis-trained negative control ≈ 0 — and the
    // nprobe→recall curve records the scan-fraction trade behind the
    // trained model's nprobe default. Skipped silently when the
    // fixture for this SF doesn't exist.
    val structured: Option[(String,
        graft.operators.AnnRecall.StructuredReport)] =
      if (sys.env.getOrElse("SPARK_GRAFT_RECALL", "on") == "off") None
      else sys.env.get("SPARK_GRAFT_STRUCT_DIR")
        .orElse(Some("/root/repo/benchdata/clustered/" +
          new java.io.File(sfDir).getName))
        .filter(d => new java.io.File(d, "embeddings.parquet").exists)
        .flatMap { d =>
          try Some(d -> graft.operators.AnnRecall.structuredReport(spark, d))
          catch { case e: Throwable =>
            System.err.println(s"[bench] structured recall failed: $e")
            None
          }
        }
    // Artifact contract: the driver keeps only a short stdout tail, so
    // the LAST line is a compact (<2 KB) self-describing summary —
    // total, count, per-family sums, worst-5, skips/errors, and the
    // path of the full per-query record this main also writes.
    // Locale-pinned number formatting: the f interpolator uses the
    // JVM's default locale, and a comma-decimal locale (de_DE, fr_FR)
    // would render {"value":1,234} — invalid JSON, losing the round's
    // bench record to the driver's parse.
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def j(v: Double): String = if (v.isNaN) "null" else num(v)
    // JSON string escape (same contract as Verify's): env-supplied
    // paths and builder-authored names must never break the artifact
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val measured = results.filter(r => !r._2.isNaN && r._2 >= 0)
    val skippedNames = results.filter(_._2.isNaN).map(_._1)
    val errorNames = results.filter(_._2 == -1.0).map(_._1)
    val total = measured.map(_._2).sum
    // cross-round comparability: rounds ADD rows, so the raw total is
    // not comparable with the previous round's — stamp the total over
    // the intersection with the PREVIOUS round's measured query set
    // (checked-in snapshot, refreshed each round) so the "subtract the
    // new rows" arithmetic lives in the artifact, not in a footnote
    val prevQueries: Set[String] =
      try {
        val path = sys.env.getOrElse("SPARK_GRAFT_PREV_QUERIES",
          "/root/repo/tools/bench_prev_queries.json")
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8")
        "\"([a-z0-9_]+)\"".r.findAllMatchIn(
          txt.substring(txt.indexOf("queries")))
          .map(_.group(1)).toSet
      } catch { case _: Throwable => Set.empty }
    val comparable = measured.filter(r => prevQueries(r._1))
    val comparableTotal = comparable.map(_._2).sum
    val comparableJson =
      s""""comparable_total":${num(comparableTotal)},""" +
        s""""comparable_n":${comparable.size}"""
    val qs = results.map { case (k, v, _, _) => q(k) + ":" + j(v) }
      .mkString("{", ",", "}")
    val repsJson = results.map { case (k, _, r, _) => q(k) + ":" + r }
      .mkString("{", ",", "}")
    // per-row steal (full record only): which rows a mid-sweep host
    // event actually touched
    val stealRows = results.filter(_._4 > HostGuard.ContentionLimit)
    val rowStealJson = stealRows
      .map { case (k, _, _, f) => q(k) + ":" + num(f) }
      .mkString("{", ",", "}")
    val arr = (xs: Seq[String]) => xs.map(q).mkString("[", ",", "]")
    val coloadJson =
      s"""{"other_jvm_cpu_sec":${num(otherJvmCpuSec)},""" +
        s""""frac":${num(coloadFrac)},"steal_sec":${num(stealSec)},""" +
        s""""steal_frac":${num(stealFrac)},"iowait_sec":${num(iowaitSec)},""" +
        s""""load1_before":${num(loadBefore)},""" +
        s""""load1_after":${num(loadAfter)},""" +
        s""""rows_steal_flagged":${stealRows.size},"flagged":$coloadFlag}"""
    val recallJson = recall.map { case (k, v) => q(k) + ":" + j(v) }
      .mkString("{", ",", "}")
    val structuredJson = structured match {
      case None => "null"
      case Some((d, r)) =>
        val legsJ = r.legs.map { case (k, v) => q(k) + ":" + j(v) }
          .mkString("{", ",", "}")
        def curveJ(c: Seq[graft.operators.AnnRecall.NprobePoint]): String =
          c.map(p =>
            s"""{"nprobe":${p.nprobe},"scan_frac":${num(p.scanFrac)},""" +
              s""""recall":${j(p.recall)}}""").mkString("[", ",", "]")
        val orAmpJ = r.orAmp.map(p =>
          s"""{"tables":${p.tables},"bits":${p.bits},""" +
            s""""index_rows":${p.indexRows},"cand_pairs":${p.candPairs},""" +
            s""""recall":${j(p.recall)}}""").mkString("[", ",", "]")
        val refineJ = r.refineCurve.map(p =>
          s"""{"k_factor":${p.kFactor},"nprobe":${p.nprobe},""" +
            s""""scan_frac":${num(p.scanFrac)},"recall":${j(p.recall)}}""")
          .mkString("[", ",", "]")
        s"""{"dir":${q(d)},"legs":$legsJ,""" +
          s""""negctrl_ivfpq_trained":${j(r.negControl)},""" +
          s""""nlist":${r.nlist},"nprobe_curve":${curveJ(r.curve)},""" +
          s""""alt_nlist":${r.altNlist},""" +
          s""""alt_nprobe_curve":${curveJ(r.altCurve)},""" +
          s""""ivf_nlist":${r.ivfNlist},""" +
          s""""ivf_nprobe_curve":${curveJ(r.ivfCurve)},""" +
          s""""lsh_or_amp":$orAmpJ,"refine_curve":$refineJ}"""
    }
    val calibMidJson = midProbes
      .map { case (f, t) => q(f) + ":" + num(t) }.mkString("{", ",", "}")
    val historyTripsJson = historyTrips
      .map { case (n, r, p) =>
        s"""{"row":${q(n)},"ratio":${num(r)},"probe_sec":${num(p)}}""" }
      .mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,""" +
        s""""reps":$repsJson,"row_steal":$rowStealJson,""" +
        s""""skipped":${arr(skippedNames)},"errors":${arr(errorNames)},""" +
        s""""calib_sec":${num(calibSec)},"calib_end_sec":${num(calibEndSec)},""" +
        s""""calib_mid":$calibMidJson,"calib_mid_limit":${num(calibMidLimit)},""" +
        s""""history_trips":$historyTripsJson,""" +
        s""""coload":$coloadJson,""" +
        s""""recall":$recallJson,"recall_structured":$structuredJson,""" +
        s"""$comparableJson,"sf":${q(sfDir)}}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] full-record write failed: $e") }
    // A second, (sf, cpus)-keyed copy of the full record: the driver
    // runs the bench twice (32-core then low-core scaling leg) with the
    // default fullPath, and the second run silently overwrites the
    // first — the r17 32-core per-query record was lost exactly that
    // way and had to be reconstructed from git. The keyed copy makes
    // each leg's per-query ground truth survive in the working tree.
    try {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val sfLeaf = new java.io.File(sfDir).getName
        .replaceAll("[^A-Za-z0-9._-]", "_")
      val dir = Option(new java.io.File(fullPath).getParentFile)
        .map(_.getPath + "/").getOrElse("")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"${dir}bench_full_${sfLeaf}_${cpus}c.json"),
        (full + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] keyed full-record write failed: $e") }
    println(full) // kept on stdout too for local runs; summary is LAST
    val fams = measured.groupBy(r => family(r._1)).toSeq
      .map { case (f, rs) => f -> rs.map(_._2).sum }.sortBy(-_._2)
      .map { case (f, v) => q(f) + ":" + j(v) }.mkString("{", ",", "}")
    val worst = measured.sortBy(-_._2).take(5)
      .map { case (k, v, _, _) => q(k) + ":" + j(v) }.mkString("{", ",", "}")
    // Driver tail contract: the driver keeps only the LAST 2000 chars
    // of stdout and parses the last complete JSON line found there.
    // r15-r17 lost their bench records because recall_structured grew
    // this line past 2000 chars (r17: 3387). The structured recall
    // curves now live ONLY in the full record (fullPath, printed
    // above); the summary is length-guarded — if it ever outgrows the
    // budget, progressively heavy optional fields are dropped rather
    // than silently breaking the driver's parse. A full per-query map
    // can never fit: the 123 query names alone sum to 1915 chars.
    def summaryLine(withRecall: Boolean, withWorst: Boolean): String =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","n":${measured.size},""" +
        s""""families":$fams,""" +
        (if (withWorst) s""""worst5":$worst,""" else "") +
        s""""skipped":${arr(skippedNames)},""" +
        s""""errors":${arr(errorNames)},"calib_sec":${num(calibSec)},""" +
        s""""calib_end_sec":${num(calibEndSec)},""" +
        s""""calib_mid_max":${num(calibMidMax)},""" +
        s""""history_trips_n":${historyTrips.size},""" +
        s""""coload":$coloadJson,""" +
        (if (withRecall) s""""recall":$recallJson,""" else "") +
        s"""$comparableJson,""" +
        s""""full":${q(fullPath)},"sf":${q(sfDir)}}"""
    val variants = Seq(summaryLine(true, true), summaryLine(false, true),
      summaryLine(false, false))
    val summary = variants.find(_.length <= 1900).getOrElse(variants.last)
    if (summary.length > 1900)
      System.err.println(s"[bench] WARNING: summary line is " +
        s"${summary.length} chars even after dropping optional fields " +
        "— the driver's 2000-char tail capture may truncate it")
    println(summary)
  }
}

/** Multi-leg sweep in ONE JVM: `BenchSweep <repeats> <sfDir:outPath>...`
  *
  * Equivalent to running [[Bench]] once per leg, except the
  * SparkSession — and with it the pre-touched heap, the JIT state, and
  * the page cache the parquet footers live in — survives across legs.
  * Construction memos are keyed by (session, dir, mtimes), so legs
  * cannot serve each other's models; between-query cache/persist
  * cleanup already runs inside each leg's sweep loop. Motivated by a
  * measured host pathology: first-touch page faults intermittently run
  * ~100x slow (host-side memory pressure, invisible to every
  * guest-side meter except wall time), so per-leg 48 GiB heap
  * re-allocation contaminated whole legs. One JVM pays first-touch
  * once, at startup, OUTSIDE any timed region. */
object BenchSweep {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BenchSweep <repeats> <sfDir:outPath>...")
    val repeats = args(0).toInt
    require(repeats >= 1, s"repeats must be >= 1, got $repeats")
    val legs = args.drop(1).toSeq.map { a =>
      val i = a.lastIndexOf(':')
      require(i > 0, s"leg must be sfDir:outPath, got $a")
      (a.substring(0, i), a.substring(i + 1))
    }
    val spark = Bench.session()
    legs.foreach { case (sfDir, outPath) =>
      System.err.println(s"[bench-sweep] leg $sfDir -> $outPath")
      Bench.runLeg(spark, _ => true, repeats, sfDir, outPath)
    }
    spark.stop()
  }
}
