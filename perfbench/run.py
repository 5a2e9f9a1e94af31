#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the program and the
harness from source with sbt (once per source state; the classpath is
cached under .bench_build/), runs one harness JVM at local[nproc], checks
the outputs, prints every metric by name with its unit and sample count,
and prints one JSON result as the last line of stdout. --trace 0 reports
the end-to-end metrics, --trace 1 the per-layer metrics of a traced run.
--cores overrides nproc (--cores 1 is the single-threaded baseline).

Workloads (see BENCHMARK.json for why each exists):
  reconfig_keyed  keyed count, 100 MB state, remaps and rescales
  nexmark_q3      two-stream symmetric join, nominal rate + rate ladder
  batch_catalog   SparkEntry queries, builder call + full-output noop write
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

WORKLOADS = ("reconfig_keyed", "nexmark_q3", "batch_catalog")
# Fixed input tables of batch_catalog.
DATA_DIR = HERE / "data" / "sf0.01"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600
HEAP = "4g"
# Spark 4 on JDK 17 outside spark-submit needs these (the root build
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [root / "build.sbt", HERE / "build.sbt"]
    for d in (root / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (root / "src" / "main", HERE / "scala"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(root, bdir):
    """Compile program + harness; returns the runtime classpath."""
    stamp = source_stamp(root)
    cp_file, stamp_file = bdir / "classpath.txt", bdir / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building program and harness with sbt", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    cp = lines[-1].strip() if lines else ""
    if proc.returncode != 0 or "perfbench" not in cp or cp.startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 1)
    bdir.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def run_jvm(cp, args, work):
    """Runs the harness JVM in its own process group; returns its records."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(args.cores), "--work", str(work),
              "--launch-ms", str(int(time.time() * 1000))])
    if args.workload == "batch_catalog":
        cmd += ["--data", str(DATA_DIR)]
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = "timeout"
    finally:
        log.close()
    rec_file = work / "records.jsonl"
    records = ([json.loads(ln) for ln in rec_file.read_text().splitlines() if ln]
               if rec_file.is_file() else [])
    return code, records


def oracle_check(root, work):
    """Batch outputs against DuckDB through the repo's own oracle gate."""
    out = work / "oracle-out"
    proc = subprocess.run([sys.executable, str(root / "tools" / "check.py"),
                           str(DATA_DIR), str(out)],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=120)
    results = []
    for ln in proc.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+)(.*)", ln)
        if m:
            results.append((f"oracle:{m.group(2)}", m.group(1) == "PASS",
                            m.group(3).strip(" :")))
    if not results:
        results.append(("oracle", False, proc.stdout[-500:]))
    return results


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()

    root = Path.cwd()
    if not ((root / "build.sbt").is_file() and (root / "src" / "main" / "scala").is_dir()
            and (root / "tools" / "check.py").is_file() and (root / "BENCHMARK.json").is_file()):
        fail(f"{root} holds no program sources (build.sbt, src/main/scala, "
             "tools/check.py, BENCHMARK.json); run from the root of a checkout")
    if args.workload == "batch_catalog" and not DATA_DIR.is_dir():
        fail(f"missing input tables {DATA_DIR}")
    bdir = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    cp = build(root, bdir)

    work = bdir / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        code, records = run_jvm(cp, args, work)
        R = metrics.by_kind(records)
        if code != 0 or "fatal" in R or "final" not in R:
            detail = R["fatal"][0]["error"] if "fatal" in R else f"exit {code}"
            sys.stderr.write((work / "jvm.log").read_text()[-3000:])
            fail(f"harness run failed: {detail}", 1)
        checks = metrics.checks(R)
        if args.workload == "batch_catalog":
            checks += oracle_check(root, work)
        spec = json.loads((root / "BENCHMARK.json").read_text())
        result = metrics.report(R, checks, bool(args.trace),
                                spec["per_layer" if args.trace else "end_to_end"])
    finally:
        # the last run's records and JVM log stay in last/ of the build directory
        last = bdir / "last"
        shutil.rmtree(last, ignore_errors=True)
        last.mkdir(parents=True)
        for name in ("records.jsonl", "jvm.log"):
            if (work / name).is_file():
                shutil.copy(work / name, last / name)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
