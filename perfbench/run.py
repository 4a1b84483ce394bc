#!/usr/bin/env python3
"""The repo benchmark: one workload per invocation, one JVM per workload.

Usage (from the repo root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (reasons are in BENCHMARK.json's `workloads`):
  relational_sync  the Core pack's diff queries and keyed mirror apply
  stream_state     the StreamingOps curation mirror over a seeded
                   multi-file replay, and keyed dedup state under the HDFS
                   and RocksDB stores, each built and then restarted

Each run builds the engine from source (perfbench/build.py, reused while
sources are unchanged), makes the seeded inputs, and runs perfbench.Main at
local[<cores>] with one client in a closed loop: three set-ups (fresh
session, ScalePosture.configure, one pass), then warm passes for --seconds,
then untimed output checks (DuckDB oracles for batch entries; static or
single-file-replay equality and key counts for the streaming ones).

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. The line before it is the full report of the run, and with
--trace 1 the spans and per-entry layers are written to
<build dir>/traces/. The exit code is non-zero if any output is wrong or
any entry failed.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("relational_sync", "stream_state")
DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s",
             "peak_rss_mb": "MB"}


def tail(values):
    """(value, percentile, n): the highest percentile with at least ten
    samples above it. Below 21 samples that percentile would not exceed the
    median, so the largest sample stands in for it."""
    v = sorted(values)
    n = len(v)
    k = n - 11 if n >= 21 else n - 1
    return v[k], 100.0 * (k + 1) / n, n


def run_jvm(args, classpath, work, inputs_dir, out):
    cpus = len(os.sched_getaffinity(0))
    tmp = os.environ["TMPDIR"]
    # a fixed, pre-touched heap keeps peak RSS from tracking GC heuristics
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", DATA, "--inputs", inputs_dir, "--work", work,
              "--out", out, "--cpus", str(cpus)])
    # the engine's own prints go to stderr: stdout carries only the result
    subprocess.run(cmd, stdout=sys.stderr, check=True, timeout=JVM_TIMEOUT_S)
    with open(out) as f:
        return json.load(f)


def checks_of(result, work):
    """{name: (ok, rows, detail)} for every output check."""
    checks = {c["name"]: c for c in result["checks"]}
    pending = [n for n, c in checks.items() if c["ok"] is None]
    verdict = oracle.compare(ROOT, DATA, os.path.join(work, "check"),
                             result["oracles"], pending) if pending else {}
    out = {}
    for n, c in checks.items():
        detail, rows = verdict.get(n, (c["detail"], c["rows"]))
        ok = c["ok"] if c["ok"] is not None else detail == ""
        out[n] = (ok, rows, detail)
    return out


def end_to_end(result):
    timed = [e for e in result["execs"] if e["phase"] == "timed"]
    ok = [e["seconds"] for e in timed if e["ok"]]
    passes = [p["seconds"] for p in result["passes"] if not p["traced"]] or \
        [p["seconds"] for p in result["passes"]]
    t, pct, n = tail(ok)
    m = {
        "setup_s": statistics.median(s["sessionSeconds"] + s["passSeconds"]
                                     for s in result["setups"]),
        "pass_s": statistics.median(passes),
        "query_p50_s": statistics.median(ok),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    by_entry = {}
    for e in timed:
        by_entry.setdefault(e["entry"], []).append(e["seconds"])
    info = {"query_tail_s": t, "query_tail_percentile": pct, "query_samples": n,
            "timed_passes": len(result["passes"]),
            "entry_p50_s": {k: statistics.median(v) for k, v in sorted(by_entry.items())},
            "cold_entry_s": {e["entry"]: e["seconds"] for e in result["execs"]
                             if e["phase"] == "setup" and e["pass"] == 1}}
    batches = [b for e in timed for b in e["batches"]]
    stream = {}
    if batches:
        ms = [b[0] for b in batches]
        bt, bpct, bn = tail(ms)
        streamed = [e for e in timed if e["batches"]]
        stream = {"stream_rows_per_s": sum(e["inputRows"] for e in streamed)
                  / sum(e["seconds"] for e in streamed),
                  "microbatch_p50_ms": statistics.median(ms),
                  "microbatch_tail_ms": bt}
        info.update({"microbatch_tail_percentile": bpct, "microbatch_samples": bn})
    return m, stream, info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                                or os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    try:
        classpath = build.build(ROOT, build_dir)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs_dir = os.path.join(work, "inputs")
    # temporary files of this process and its children stay in the run's directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    clock = [time.monotonic()]

    def lap():
        clock.append(time.monotonic())
        return clock[-1] - clock[-2]
    try:
        manifest = (inputs.make(DATA, inputs_dir, args.seed)
                    if args.workload == "stream_state" else {})
        phases = {"inputs_s": lap()}
        result = run_jvm(args, classpath, work, inputs_dir,
                         os.path.join(work, "result.json"))
        phases["jvm_s"] = lap()
        checks = checks_of(result, work)
        phases["oracle_s"] = lap()
        phases["jvm_check_s"] = result["check_seconds"]
    except (subprocess.SubprocessError, OSError, KeyError, ValueError) as e:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: run failed: {e}", file=sys.stderr)
        return 3

    failed_execs = [e for e in result["execs"] if not e["ok"]]
    failed_checks = {n: c for n, c in checks.items() if not c[0]}
    attempted = len(result["execs"]) + len(checks)
    failed = len(failed_execs) + len(failed_checks)
    e2e, stream, info = end_to_end(result)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": result["cpus"], "posture": result["posture"],
        "inputs": manifest,
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "failed_ratio": {"value": failed / attempted, "unit": "ratio"},
        "stream": {k: {"value": v, "unit": layers.UNITS[k]} for k, v in stream.items()},
        "samples": info,
        "setups": result["setups"],
        "passes": result["passes"],
        "phases": phases,
        "failures": [f"{e['entry']}: {e['error']}" for e in failed_execs]
        + [f"{n}: {c[2]}" for n, c in failed_checks.items()],
        "checks": {n: {"ok": c[0], "rows": c[1]} for n, c in checks.items()},
    }
    if args.trace:
        rows_out = {n: c[1] for n, c in checks.items()}
        metrics, entries = layers.summarize(result, rows_out, stream)
        report["entries"] = entries
        traces = os.path.join(build_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"report": report, "layers": metrics, "spans": result["spans"]}, f)
    else:
        metrics = report["end_to_end"]
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
