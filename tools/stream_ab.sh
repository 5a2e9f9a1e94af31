#!/bin/bash
# Streaming-micro A/B: the r14 build vs the current build, back-to-back
# on the same host window (VERDICT r16 ask #3 — the micro band has read
# 0.84-0.91x of r14's 85-91k rows/s for three rounds with no
# attribution between host grade and a real r14->r15 regression).
#
# Design: legs INTERLEAVED per state size (r14_1k, cur_1k, r14_10k,
# cur_10k, ...) so a slow host drift hits both builds symmetrically;
# one fresh pre-touched JVM per leg (the r16c micro-only protocol);
# a CLI calibration probe between every pair bounds the window's
# health. The current build's legs also carry their own HostGuard
# stamps; the r14 build predates the guard, so its legs are bracketed
# only by the script's probes.
#
# Usage: tools/stream_ab.sh <outDir> [secondsPerLeg] [r14ClassesDir]
set -euo pipefail
cd "$(dirname "$0")/.."
OUT="${1:?usage: stream_ab.sh <outDir> [seconds] [r14classes]}"
SECONDS_PER_LEG="${2:-45}"
R14="${3:-/tmp/r14wt/target/scala-2.13/classes}"
CUR="target/scala-2.13/classes"
mkdir -p "$OUT"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
JVM="java $OPENS -Xms16g -Xmx16g -XX:+AlwaysPreTouch \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC"

probe() {
  local label="$1"
  local t0=$(date +%s.%N)
  java -Xms4g -Xmx4g -XX:+AlwaysPreTouch -version 2>/dev/null
  local t1=$(date +%s.%N)
  echo "{\"probe\":\"$label\",\"wall_sec\":$(echo "$t1 $t0" | awk '{printf "%.2f", $1-$2}')}" \
    | tee -a "$OUT/probes.jsonl"
}

leg() {  # leg <build> <classes> <bytes>
  local build="$1" cp="$2" bytes="$3"
  local name="${build}_$((bytes / 1024))k"
  echo "[ab] leg $name starting" >&2
  $JVM -cp "$cp:/opt/spark/jars/*" graft.StreamBench \
    60000 10000 "$bytes" "$SECONDS_PER_LEG" "$OUT/$name.json" \
    > "$OUT/$name.stdout" 2> "$OUT/$name.stderr" || {
      echo "[ab] leg $name FAILED" >&2; cat "$OUT/$name.stderr" >&2; exit 1; }
  python3 -c "import json;d=json.load(open('$OUT/$name.json'));print('$name', d['value'], 'busy', d['busy_fraction'])"
}

probe warmup_discard   # first probe after idle always reads degraded
probe start
for bytes in 1024 10240 102400; do
  leg r14 "$R14" "$bytes"
  probe "mid_r14_$bytes"
  leg cur "$CUR" "$bytes"
  probe "mid_cur_$bytes"
done
probe end
python3 - "$OUT" <<'EOF'
import json, sys, glob, os
out = sys.argv[1]
rows = {}
for f in glob.glob(os.path.join(out, '*k.json')):
    d = json.load(open(f))
    rows[os.path.basename(f)[:-5]] = d['value']
summary = {"ab": rows,
           "ratio_cur_vs_r14": {
               s: round(rows.get(f'cur_{s}', 0) / rows[f'r14_{s}'], 3)
               for s in ('1k', '10k', '100k') if rows.get(f'r14_{s}')}}
print(json.dumps(summary))
json.dump(summary, open(os.path.join(out, 'summary.json'), 'w'), indent=1)
EOF
