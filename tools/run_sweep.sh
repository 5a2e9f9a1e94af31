#!/bin/bash
# Three-SF bench sweep (sf0.1 testdata -> sf1/sf10 replicas) in ONE
# long-lived JVM (graft.BenchSweep) with the fixed pre-touched heap the
# artifacts' method line documents. One JVM because this guest's
# page-fault path intermittently degrades ~100x under host-side memory
# pressure (measured r14: 8 GiB pre-touch = 7 CPU-min sys, zero
# guest-visible steal) — per-leg heap re-allocation contaminated whole
# legs, while already-resident memory runs at full speed. The per-leg
# calibration probes (calib_sec / calib_end_sec in each record) are the
# degradation tripwire; a leg whose probe reads past graft.HostGuard's
# 10 s limit self-reports coload.flagged=true.
#
# Produces /tmp/bench_sf{01,1,10}_<runid>.json — the run id defaults to
# the epoch second so repeated sweeps can never silently clobber an
# earlier record (r14 lost a clean record exactly that way and had to
# reconstruct it from the log). Assemble with tools/assemble_bench.py.
#
# Usage: tools/run_sweep.sh [repeats] [runid]
set -euo pipefail
cd "$(dirname "$0")/.."
REPEATS="${1:-2}"
RUN_ID="${2:-$(date +%s)}"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
java $OPENS -Xms48g -Xmx48g -XX:+AlwaysPreTouch \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.BenchSweep "$REPEATS" \
  "/root/testdata/sf0.1:/tmp/bench_sf01_${RUN_ID}.json" \
  "/root/repo/benchdata/sf1:/tmp/bench_sf1_${RUN_ID}.json" \
  "/root/repo/benchdata/sf10:/tmp/bench_sf10_${RUN_ID}.json"
echo "done: /tmp/bench_sf01_${RUN_ID}.json /tmp/bench_sf1_${RUN_ID}.json /tmp/bench_sf10_${RUN_ID}.json"
