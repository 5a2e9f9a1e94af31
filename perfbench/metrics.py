"""Metric math for the benchmark: turns the harness's raw records
(one JSON object per line, written by perfbench.Main) into the
end-to-end and per-layer metrics. Pure functions over lists of dicts, so
every formula is unit-tested on synthetic inputs (test_metrics.py).

Times in records are epoch milliseconds.
"""
import math
import statistics

# Layers named after the program's packages, plus the engine underneath.
LAYERS = ("sources", "streaming", "controlplane", "operators", "spark")

# A ladder step is sustainable when its backlog grows by at most this
# share of the offered rate and its p90 trigger latency stays under the
# limit.
SUSTAIN_SLOPE_SHARE = 0.05
SUSTAIN_P90_LIMIT_MS = 1500.0

# recovery: latency back within this factor of the pre-reconfiguration
# median, backlog back to the pre-reconfiguration median
RECOVERY_TOLERANCE = 1.10
# pre-reconfiguration reference window
RECOVERY_PRE_MS = 3000

# The engine's per-trigger durations, in the order a micro-batch runs
# them, and the layer each belongs to.
TRIGGER_PHASES = (
    ("latestOffset", "sources"), ("walCommit", "streaming"),
    ("getBatch", "sources"), ("queryPlanning", "streaming"),
    ("addBatch", "streaming"), ("commitOffsets", "streaming"))

# ReconfigReport.phasesMs keys, in execution order.
RECONFIG_PHASES = ("prepare", "synchronize", "updateState",
                   "updateKeyMapping", "resume")


def percentile(values, q=50):
    """Nearest-rank percentile: (value, sample count); (None, 0) when
    there are no samples."""
    xs = sorted(values)
    if not xs:
        return None, 0
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1], len(xs)


def median(values, default=0.0):
    xs = list(values)
    return statistics.median(xs) if xs else default


def geomean(values):
    xs = [x for x in values if x > 0]
    if not xs:
        return 0.0
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def slope_per_s(points):
    """Least-squares slope of (t_ms, y) points, in y per second; 0 for
    fewer than two distinct times."""
    pts = list(points)
    if len(pts) < 2:
        return 0.0
    mt = sum(t for t, _ in pts) / len(pts)
    my = sum(y for _, y in pts) / len(pts)
    var = sum((t - mt) ** 2 for t, _ in pts)
    if var == 0:
        return 0.0
    cov = sum((t - mt) * (y - my) for t, y in pts)
    return cov / var * 1000.0


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    segs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            segs.append((s, e))
    segs.sort()
    total, cur_s, cur_e = 0, None, None
    for s, e in segs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time_by_layer(spans):
    """Self time per layer: each span's duration minus the part of it
    its direct children cover. Spans are dicts with id, parent, layer,
    start, end."""
    children = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append(s)
    out = {}
    for s in spans:
        kids = children.get(s["id"], [])
        covered = union_ms([(k["start"], k["end"]) for k in kids],
                           s["start"], s["end"])
        out[s["layer"]] = out.get(s["layer"], 0) + (s["end"] - s["start"]) - covered
    return out


# ---------------------------------------------------------------- triggers

def due_max(trigger):
    """Newest due timestamp the trigger read, over all its sources."""
    ts = [o.get("due_max") for o in trigger.get("observed", {}).values()]
    ts = [t for t in ts if t is not None]
    return max(ts) if ts else None


def latency_ms(trigger):
    d = due_max(trigger)
    return None if d is None else trigger["end"] - d


def row_latency_ranges(triggers):
    """Per trigger, the (rows, lowest, highest) latency of the rows it
    read: a rate source spreads a second's rows evenly over that second,
    so a trigger's rows are due evenly between its oldest and newest due
    timestamps and all complete with the trigger."""
    out = []
    for t in triggers:
        dues = [(o.get("due_min"), o.get("due_max"))
                for o in t.get("observed", {}).values()
                if o.get("due_min") is not None and o.get("due_max") is not None]
        if t["rows"] > 0 and dues:
            out.append((t["rows"], t["end"] - max(d for _, d in dues),
                        t["end"] - min(d for d, _ in dues)))
    return out


def row_percentile(ranges, q):
    """Percentile of per-row latency over (rows, lo, hi) ranges, rows
    spread evenly over [lo, hi]: (value, rows). Every row is due on a
    schedule, so a stall counts once for each row it delays."""
    total = sum(n for n, _, _ in ranges)
    if total == 0:
        return None, 0
    target = q / 100.0 * total

    def below(x):
        return sum(n if x >= hi else (n * (x - lo) / (hi - lo) if x > lo else 0)
                   for n, lo, hi in ranges)
    lo = min(r[1] for r in ranges)
    hi = max(r[2] for r in ranges)
    for _ in range(60):
        mid = (lo + hi) / 2.0
        if below(mid) >= target:
            hi = mid
        else:
            lo = mid
    return hi, total


def backlog_rows(trigger, rate):
    """Rows due but not yet read when the trigger completed: the rate
    source offers `rate` rows a second, and the trigger read everything
    due up to its newest due timestamp."""
    lat = latency_ms(trigger)
    return None if lat is None else max(0.0, lat) * rate / 1000.0


def committed_rps(all_triggers, window, start):
    """Rows committed by the window's triggers over the wall time they
    took: from the last commit before the window opened to the last
    commit inside it. Counting whole triggers over their own span keeps
    the rate free of the quantization a fixed window would add (a
    trigger commits a whole second or more of rows at once)."""
    if not window:
        return 0.0
    before = [t["end"] for t in all_triggers if t["end"] < start]
    t0 = max(before) if before else start
    t1 = max(t["end"] for t in window)
    return sum(t["rows"] for t in window) * 1000.0 / max(1, t1 - t0)


def in_interval(items, start, end):
    """Items whose `end` falls in [start, end]."""
    return [x for x in items if start <= x["end"] <= end]


def recovery_ms(triggers, pause, resumed):
    """Pause → completion of the first trigger after `resumed` whose
    backlog is back to the pre-pause median and whose latency is within
    RECOVERY_TOLERANCE of the pre-pause median. Latency stands in for
    backlog (rate × latency) at a constant offered rate, so one test
    covers both. None when no pre-pause reference or no recovery."""
    pre = [latency_ms(t) for t in in_interval(triggers, pause - RECOVERY_PRE_MS, pause)]
    pre = [x for x in pre if x is not None]
    if not pre:
        return None
    limit = median(pre) * RECOVERY_TOLERANCE
    for t in sorted(triggers, key=lambda t: t["end"]):
        if t["end"] <= resumed:
            continue
        lat = latency_ms(t)
        if lat is not None and lat <= limit:
            return t["end"] - pause
    return None


def rows_dropped(triggers, pause, rate):
    """Rows the generation running at `pause` had offered (whole seconds
    since its rate source started) but never committed: a state-moving
    reconfiguration repositions the rate source at its head, so these
    are lost. Triggers are those of that generation (one query id)."""
    starts = [o.get("due_min") for t in triggers for o in t["observed"].values()
              if o.get("due_min") is not None]
    if not starts:
        return 0
    created = min(starts)
    due = (pause - created) // 1000 * rate
    return max(0, due - sum(t["rows"] for t in triggers))


def ladder_step(triggers, rate, start, end):
    """Committed rows/s, backlog slope and p90 latency of one ladder
    step, and whether it is sustainable."""
    ts = in_interval(triggers, start, end)
    wall_s = (end - start) / 1000.0
    committed = sum(t["rows"] for t in ts) / wall_s if wall_s > 0 else 0.0
    slope = slope_per_s((t["end"], backlog_rows(t, rate)) for t in ts
                        if due_max(t) is not None)
    p90, _ = percentile([latency_ms(t) for t in ts if due_max(t) is not None], 90)
    ok = (len(ts) >= 2 and slope <= SUSTAIN_SLOPE_SHARE * rate
          and p90 is not None and p90 <= SUSTAIN_P90_LIMIT_MS)
    return {"rate": rate, "committed_rps": committed, "slope_rps": slope,
            "p90_ms": p90, "sustainable": ok}


def sustainable_rps(steps):
    """Committed rate of the highest-rate sustainable step; 0 if none."""
    ok = [s for s in steps if s["sustainable"]]
    return max(ok, key=lambda s: s["rate"])["committed_rps"] if ok else 0.0


# ------------------------------------------------------------ assembly

def by_kind(records):
    out = {}
    for r in records:
        out.setdefault(r["t"], []).append(r)
    return out


def phases(R, name):
    return [p for p in R.get("phase", []) if p["name"] == name]


def setup_s(R):
    """Launch → session ready, plus the median of the workload's set-up
    repetitions. Returns (seconds, repetitions)."""
    launch = R["meta"][0]["launch_ms"]
    ready = R["session"][0]["ready_ms"]
    reps = [r["ms"] for r in R.get("setup_rep", [])]
    return (ready - launch) / 1000.0 + median(reps) / 1000.0, len(reps)


def window_triggers(R):
    w = phases(R, "window")[0]
    ts = in_interval(R.get("trigger", []), w["start"], w["end"])
    if "id" in w:
        ts = [t for t in ts if t["id"] == w["id"]]
    return w, ts


def query_samples(R):
    """Timed batch-query records (warm-up pass excluded)."""
    return [q for q in R.get("query", []) if q["pass"] >= 0]


def per_query_median(qs, field=None):
    by = {}
    for q in qs:
        v = (q["end"] - q["start"]) if field is None else field(q)
        by.setdefault(q["name"], []).append(v)
    return {n: median(v) for n, v in by.items()}


def end_to_end(R):
    """{name: (value, unit, samples)} for every end-to-end metric."""
    m = {}
    s, n = setup_s(R)
    m["setup_s"] = (s, "s", n)
    if R["meta"][0]["workload"] == "batch_catalog":
        qs = query_samples(R)
        times = [q["end"] - q["start"] for q in qs]
        totals = per_query_median(qs)
        rows = sum(o.get("rows", 0) for o in R.get("output", []))
        total_s = sum(totals.values()) / 1000.0
        m["throughput_rps"] = (rows / total_s if total_s else 0.0, "rows/s", len(totals))
        p50, k = percentile(times, 50)
        p90, _ = percentile(times, 90)
    else:
        w, ts = window_triggers(R)
        m["throughput_rps"] = (committed_rps(R.get("trigger", []), ts, w["start"]),
                               "rows/s", len(ts))
        ranges = row_latency_ranges(ts)
        p50, k = row_percentile(ranges, 50)
        p90, _ = row_percentile(ranges, 90)
    m["latency_p50_ms"] = (p50 or 0.0, "ms", k)
    m["latency_p90_ms"] = (p90 or 0.0, "ms", k)
    final = R["final"][0]
    m["peak_heap_mb"] = (final["heap_after_gc_peak_bytes"] / 2.0 ** 20, "MiB", 1)
    m["peak_rss_mb"] = (final["vmhwm_kb"] / 1024.0, "MiB", 1)
    # host weather: the JVM's CPU time next to its wall time
    m["process_cpu_s"] = (final["cpu_ms"] / 1000.0, "s", 1)
    m["process_wall_s"] = ((final["ms"] - R["meta"][0]["launch_ms"]) / 1000.0, "s", 1)
    return m


def live_triggers(R):
    """Triggers of queries started by or after the last set-up
    repetition (earlier repetitions' pipelines are discarded)."""
    last = max(r["start"] for r in R["setup_rep"])
    first_seen = {}
    for t in R.get("trigger", []):
        first_seen.setdefault(t["id"], t["start"])
    return [t for t in R.get("trigger", []) if first_seen[t["id"]] >= last]


def checks(R):
    """(name, ok, detail) for every correctness check of the run."""
    out = []
    for e in R.get("query_end", []):
        if e.get("error"):
            out.append((f"stream:{e['id']}", False, e["error"]))
    for c in R.get("check_counts", []):
        # every committed row exactly once, plus at most the rows of
        # batches a stop() aborted after their sink write (at-least-once)
        committed = c["committed_rows"]
        ok = (committed <= c["sink_sum"] <= committed + c["aborted_rows"]
              and c["sink_keys"] == c["keys"])
        out.append(("counts", ok,
                    f"sink sum {c['sink_sum']} vs committed rows {committed} "
                    f"(up to {c['aborted_rows']} more from stop-aborted batches allowed), "
                    f"{c['sink_keys']}/{c['keys']} keys"))
    for c in R.get("check_join", []):
        ok = c["expected"] == c["actual"] and c["expected"] > 0
        out.append((f"join:{c['name']}", ok,
                    f"sink rows {c['actual']} vs batch join {c['expected']} over "
                    f"{c['auctions']} auctions, {c['persons']} persons"))
    for q in R.get("query", []):
        if q.get("error"):
            out.append((f"query:{q['name']}:pass{q['pass']}", False, q["error"]))
    return out


def operations(R):
    """Operations attempted besides the checks: timed batch queries, or
    committed window triggers plus reconfigurations. A failed one shows
    up as a failed check (query error or stream termination)."""
    if R["meta"][0]["workload"] == "batch_catalog":
        return len(query_samples(R))
    return len(window_triggers(R)[1]) + len(R.get("reconfig", []))


def report(R, check_list, trace, spec):
    """Prints every metric with unit and sample count; returns the
    result object, whose metrics are those `spec` names (BENCHMARK.json's
    end-to-end list, or its per-layer list for a traced run). A per-layer
    metric of a module the workload does not run reads 0 with 0 samples."""
    e2e = end_to_end(R)
    layer = per_layer(R) if trace else {}
    if trace:
        for m in spec:
            layer.setdefault(m["name"], (0.0, m["unit"], 0))
    for name, ok, detail in check_list:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    for title, ms in (("end-to-end", e2e), ("per-layer", layer)):
        if ms:
            print(f"-- {title}")
        for name, (v, unit, n) in ms.items():
            print(f"{name:34s} {v:14.4f} {unit:8s} n={n}")
    bad = sum(1 for _, ok, _ in check_list if not ok)
    attempted = operations(R) + len(check_list)
    print(f"{'error_rate':34s} {bad / max(1, attempted):14.4f} {'ratio':8s} n={attempted}")
    shown = layer if trace else e2e
    return {"correct": bad == 0, "attempted": attempted, "failed": bad,
            "metrics": {m["name"]: {"value": shown[m["name"]][0], "unit": shown[m["name"]][1]}
                        for m in spec}}


# ------------------------------------------------------------- tracing

def _span(sid, parent, layer, start, end):
    return dict(id=sid, parent=parent, layer=layer, start=start, end=max(start, end))


def _contains(spans, t):
    return next((s for s in spans if s["start"] <= t <= s["end"]), None)


def spans(R, start, end):
    """Spans of everything that ended in [start, end]: triggers with their
    engine phases, reconfigurations with their control-plane phases,
    batch queries with build and run, and (traced runs) Spark jobs and
    stages under whichever of those launched them."""
    out, by_batch, by_op = [], {}, {}
    for t in in_interval(R.get("trigger", []), start, end):
        tid = f"trigger:{t['id']}:{t['run']}:{t['batch']}"
        top = _span(tid, None, "streaming", t["start"], t["end"])
        out.append(top)
        by_batch.setdefault((t["id"], str(t["batch"])), []).append(top)
        cur = t["start"]
        for name, layer in TRIGGER_PHASES:
            d = t["dur"].get(name, 0)
            if d > 0:
                out.append(_span(f"{tid}:{name}", tid, layer, cur, min(cur + d, t["end"])))
                if name == "addBatch":
                    top["exec"] = f"{tid}:{name}"
                cur += d
    for r in in_interval(R.get("reconfig", []), start, end):
        rid = f"reconfig:{r['start']}"
        out.append(_span(rid, None, "controlplane", r["start"], r["end"]))
        by_op.setdefault(rid, []).append(out[-1])
        cur = r["start"]
        for name in RECONFIG_PHASES:
            d = r["phases"].get(name, 0.0)
            if d > 0:
                out.append(_span(f"{rid}:{name}", rid, "controlplane", cur, min(cur + d, r["end"])))
                cur += d
    for q in in_interval(query_samples(R), start, end):
        qid = f"query:{q['name']}:{q['pass']}"
        out.append(_span(qid, None, "operators", q["start"], q["end"]))
        for part, (s, e) in (("build", (q["start"], q["built"])), ("run", (q["built"], q["end"]))):
            out.append(_span(f"{qid}:{part}", qid, "operators", s, e))
            by_op.setdefault(f"{part}:{q['name']}", []).append(out[-1])
    jobs = set()
    for j in in_interval(R.get("job", []), start, end):
        p = j["props"]
        parent = None
        if "sql.streaming.queryId" in p and "streaming.sql.batchId" in p:
            top = _contains(by_batch.get((p["sql.streaming.queryId"], p["streaming.sql.batchId"]), []), j["start"])
            parent = top and top.get("exec", top["id"])
        elif "perfbench.op" in p:
            owner = _contains(by_op.get(p["perfbench.op"], []), j["start"])
            parent = owner and owner["id"]
        out.append(_span(f"job:{j['job']}", parent, "spark", j["start"], j["end"]))
        jobs.add(j["job"])
    for s in R.get("stage", []):
        if s["job"] in jobs and s["start"] is not None and s["end"] is not None:
            out.append(_span(f"stage:{s['stage']}", f"job:{s['job']}", "spark", s["start"], s["end"]))
    return out


def per_layer(R):
    """{name: (value, unit, samples)} for every per-layer metric; a layer
    the workload bypasses reports 0 with 0 samples. `operators.<Module>.ms`
    exists for each query module the run's query records name."""
    meta = R["meta"][0]
    wl, cores = meta["workload"], meta["cores"]
    w = phases(R, "window")[0]
    ws, we = w["start"], w["end"]
    wall = max(1, we - ws)
    m = {}

    def put(name, value, unit, n=1):
        m[name] = (float(value or 0.0), unit, n if value is not None else 0)

    stream = wl != "batch_catalog"
    ts = window_triggers(R)[1] if stream else []
    cfg = R.get("config", [{}])[0]
    rate = cfg.get("rate") or cfg.get("nominal_rate") or 0
    lagged = [t for t in ts if due_max(t) is not None]

    # sources
    put("sources.rows_offered", rate * wall / 1000.0, "rows", len(ts))
    put("sources.rows_read", sum(t["rows"] for t in ts), "rows", len(ts))
    put("sources.backlog_slope_rps",
        slope_per_s((t["end"], backlog_rows(t, rate)) for t in lagged), "rows/s", len(lagged))
    v, n = percentile([t["dur"].get("latestOffset", 0) for t in ts])
    put("sources.offset_ms_p50", v, "ms", n)
    steps = []
    if stream and wl == "nexmark_q3":
        steps.append(ladder_step(ts, rate, ws, we))
        for p in phases(R, "ladder"):
            own = [t for t in R["trigger"] if t["id"] == p["id"]]
            steps.append(ladder_step(own, p["rate"], p["start"], p["end"]))
    put("sources.sustainable_rps", sustainable_rps(steps), "rows/s", len(steps))

    # streaming
    put("streaming.triggers", len(ts), "count", len(ts))
    for name, key, q in (("trigger_ms_p50", "triggerExecution", 50),
                         ("trigger_ms_p90", "triggerExecution", 90),
                         ("exec_ms_p50", "addBatch", 50),
                         ("planning_ms_p50", "queryPlanning", 50)):
        v, n = percentile([t["dur"].get(key, 0) for t in ts], q)
        put(f"streaming.{name}", v, "ms", n)
    v, n = percentile([t["dur"].get("walCommit", 0) + t["dur"].get("commitOffsets", 0) for t in ts])
    put("streaming.log_ms_p50", v, "ms", n)
    put("streaming.busy_frac", union_ms([(t["start"], t["end"]) for t in ts], ws, we) / wall,
        "ratio", len(ts))
    put("streaming.output_rows", sum(max(0, t["out_rows"]) for t in ts), "rows", len(ts))
    last = ts[-1]["state"] if ts else []
    put("streaming.state_rows", sum(s["rows"] for s in last), "rows", len(last))
    put("streaming.state_bytes", sum(s["bytes"] for s in last), "bytes", len(last))
    for name, key in (("state_commit_ms_p50", "commit_ms"), ("state_update_ms_p50", "update_ms"),
                      ("state_removal_ms_p50", "removal_ms")):
        v, n = percentile([sum(s[key] for s in t["state"]) for t in ts if t["state"]])
        put(f"streaming.{name}", v, "ms", n)
    put("streaming.state_rows_updated", sum(s["updated"] for t in ts for s in t["state"]),
        "rows", len(ts))

    # controlplane
    rc = in_interval(R.get("reconfig", []), ws, we)
    live = live_triggers(R) if stream else []
    remaps = [r for r in rc if r["kind"] == "remap"]
    rescales = [r for r in rc if r["kind"] == "rescale"]
    put("controlplane.remaps", len(remaps), "count", len(remaps))
    put("controlplane.rescales", len(rescales), "count", len(rescales))
    put("controlplane.remap_ms", median(r["end"] - r["start"] for r in remaps), "ms", len(remaps))
    put("controlplane.rescale_ms", median(r["end"] - r["start"] for r in rescales), "ms",
        len(rescales))
    rec = [x for x in (recovery_ms(live, r["start"], r["end"]) for r in rescales) if x is not None]
    put("controlplane.recovery_ms", median(rec), "ms", len(rec))
    for name, key in (("prepare_ms", "prepare"), ("synchronize_ms", "synchronize"),
                      ("update_state_ms", "updateState"),
                      ("update_key_mapping_ms", "updateKeyMapping"), ("resume_ms", "resume")):
        xs = [r["phases"][key] for r in rc if key in r["phases"]]
        put(f"controlplane.{name}", median(xs), "ms", len(xs))
    first = []
    moved = dropped = 0
    for r in rc:
        after = [t["end"] for t in live if t["end"] > r["end"]]
        if after:
            first.append(min(after) - r["end"])
        before = [t for t in live if t["end"] <= r["start"]]
        if r["kind"] == "rescale" and before:
            prev = max(before, key=lambda t: t["end"])
            moved += sum(s["bytes"] for s in prev["state"])
            dropped += rows_dropped([t for t in live if t["id"] == prev["id"]], r["start"], rate)
    put("controlplane.first_trigger_ms", median(first), "ms", len(first))
    put("controlplane.state_bytes_moved", moved, "bytes", len(rescales))
    put("controlplane.rows_dropped", dropped, "rows", len(rescales))

    # operators
    qs = query_samples(R)
    passes = max(1, len({q["pass"] for q in qs}))
    build = per_query_median(qs, lambda q: q["built"] - q["start"])
    run = per_query_median(qs, lambda q: q["end"] - q["built"])
    total = per_query_median(qs)
    put("operators.build_ms", sum(build.values()), "ms", len(build))
    put("operators.run_ms", sum(run.values()), "ms", len(run))
    put("operators.batch_total_s", sum(total.values()) / 1000.0, "s", len(total))
    put("operators.query_geomean_ms", geomean(total.values()), "ms", len(total))
    module = {q["name"]: q["module"] for q in qs}
    for mod in sorted(set(module.values())):
        xs = [v for n, v in total.items() if module[n] == mod]
        put(f"operators.{mod}.ms", sum(xs), "ms", len(xs))
    jobs = in_interval(R.get("job", []), ws, we)
    ops = [j["props"].get("perfbench.op", "") for j in jobs]
    put("operators.build_jobs", sum(1 for o in ops if o.startswith("build:")) / passes,
        "count", len(qs))
    per_q = {}
    for o in ops:
        if o.startswith(("build:", "run:")):
            per_q[o.split(":", 1)[1]] = per_q.get(o.split(":", 1)[1], 0) + 1
    put("operators.jobs_per_query_p50", median(v / passes for v in per_q.values()),
        "count", len(per_q))

    # spark
    stages = [s for s in in_interval([s for s in R.get("stage", []) if s["end"]], ws, we)]
    put("spark.jobs", len(jobs), "count", len(jobs))
    put("spark.stages", len(stages), "count", len(stages))
    for key, unit in (("tasks", "count"), ("task_ms", "ms"), ("cpu_ms", "ms"), ("gc_ms", "ms"),
                      ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                      ("spill_bytes", "bytes")):
        put(f"spark.{key}", sum(s[key] for s in stages), unit, len(stages))
    put("spark.core_busy_frac", sum(s["task_ms"] for s in stages) / (wall * cores),
        "ratio", len(stages))
    op_iv = ([(t["start"], t["end"]) for t in ts] if stream
             else [(q["start"], q["end"]) for q in in_interval(qs, ws, we)])
    stage_iv = [(s["start"], s["end"]) for s in stages]
    put("spark.driver_residual_ms",
        sum((e - s) - union_ms(stage_iv, s, e) for s, e in op_iv), "ms", len(op_iv))

    # self time per layer
    st = self_time_by_layer(spans(R, ws, we))
    for layer in LAYERS:
        put(f"{layer}.self_ms", st.get(layer, 0), "ms", int(layer in st))
    return m
