#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop caller.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the JVM program from the checkout's sources (see build.py), runs it
on a single-process Spark session (`local[k]`, k = min(4, cpus)), and
prints two JSON lines on stdout: a detail record (every end-to-end metric
under the workload's own operation names, sample counts, sizes, session
settings), then the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json;
with `--trace 1` the per-layer ones, and the spans, stage records and
per-span self times are written to `.bench_work/trace-<workload>-<seed>.json`.
Inputs are generated from the seed and cached under `.bench_work/inputs`.
"""

import argparse
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import summary  # noqa: E402

ROOT = build.ROOT
WORK = ROOT / ".bench_work"
WORKLOADS = ("sync_lifecycle", "llm_pipeline")
# The JVM must finish within this many seconds of its launch, beyond the
# timed loop's own `--seconds`.
JVM_SLACK_S = 150

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(classes, args, out):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'jvm' / 'log4j2.properties'}",
        "-Dspark.callstack.depth=64",
    ]
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    return [build.java(), *opts, "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(WORK), "--out", str(out)]


def run_jvm(cmd, deadline_s):
    """Runs the JVM in its own process group, its stdout sent to stderr;
    kills the whole group if it overruns `deadline_s`. Returns the exit code."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=deadline_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"benchmark JVM exceeded {deadline_s:.0f} s and was killed", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def write_trace(raw, path):
    selfs = summary.self_times(raw["spans"])
    spans = [dict(s, self_ms=selfs[s["id"]]) for s in raw["spans"]]
    path.write_text(json.dumps({"workload": raw["workload"], "seed": raw["seed"], "spans": spans,
                                "stages": raw["stages"], "jobs": raw["jobs"], "plans": raw["plans"]}))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build.build()
    WORK.mkdir(exist_ok=True)
    out = WORK / f"result-{os.getpid()}.json"
    t0 = time.time()
    rc = run_jvm(jvm_command(classes, args, out), args.seconds + JVM_SLACK_S)
    if rc != 0 or not out.exists():
        print(f"benchmark JVM failed (exit {rc})", file=sys.stderr)
        return 1
    raw = json.loads(out.read_text())
    out.unlink()

    e2e, layers, detail, failed, attempted = summary.summarize(raw)
    detail["wall_s"] = time.time() - t0
    metrics = layers if args.trace else e2e
    if args.trace:
        trace_file = WORK / f"trace-{args.workload}-{args.seed}.json"
        write_trace(raw, trace_file)
        detail["trace_file"] = str(trace_file.relative_to(ROOT))
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
