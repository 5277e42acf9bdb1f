#!/usr/bin/env python3
"""Grouped-aggregation benchmark of the library, run from the root of a
checkout.

Usage:
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see perfbench/NOTES.md):
  agg_kernel     15 kernel cells on a seeded 2^17-row table
  registry_rows  6 rows of SparkEntry.queries at sf0.01: four core flox rows,
                 Kneser-Ney scoring, streaming near-dup ingest

One run builds the library and the harness (once per checkout), starts one
JVM at local[4], prepares the inputs, runs a cold pass and then warm passes
(at least two, more while S seconds allow), checks every call's output and prints one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

registry_rows reads the shared test tables: $SPARK_GRAFT_SF_DIR if set,
else ~/testdata/sf0.01. Every file the run writes lives under
.bench_build/run-* in the checkout, and that directory is removed at exit.
"""
import argparse
import json
import re
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # the checkout stays as committed
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import check  # noqa: E402

WORKLOADS = ("agg_kernel", "registry_rows")
CPUS = 4
JVM_LIMIT_S = 165


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_jvm(cmd, cwd, limit):
    """Run the harness in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"perfbench: harness exceeded {limit:.0f} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def rows_per_pass(workload, h, out, data):
    """Input rows behind one pass: the generated table once per kernel
    cell; for a registry call, the rows of every table its oracle SQL reads."""
    names = sorted({c["name"] for c in h["calls"]})
    if workload == "agg_kernel":
        return h["kernel_rows"] * len(names)
    sql = json.loads((out / "oracle_sql.json").read_text())
    rows = {t: pq.ParquetFile(Path(data) / f"{t}.parquet").metadata.num_rows
            for t in check.TABLES if (Path(data) / f"{t}.parquet").is_file()}
    return sum(n for name in names for t, n in rows.items()
               if re.search(rf"\b{t}\b", sql[name], re.I))


def end_to_end(h, rows):
    warm = [p["s"] for p in h["warm_passes"] if not p["traced"]]
    walls = [c["wall_ms"] for c in h["calls"] if c["pass"] > 0 and not c["traced"]]
    pass_s = statistics.median(warm)
    log("warm passes, s: " + ", ".join(f"{w:.3f}" for w in warm)
        + f"; call_p50_ms over {len(walls)} warm calls")
    return {
        "setup_s": (h["setup_s"], "s"),
        "cold_pass_s": (h["cold_pass_s"], "s"),
        "pass_s": (pass_s, "s"),
        "call_p50_ms": (statistics.median(walls), "ms"),
        "rows_per_s": (rows / pass_s, "1/s"),
    }


RATIOS = ("exec.occupancy", "stream.write_amp", "failed_frac")


def unit_of(name):
    if name in RATIOS:
        return "ratio"
    if name == "machine.load_avg":
        return "load"
    for suffix, unit in (("ms", "ms"), ("mb", "MB"), ("pct", "%")):
        if name.endswith("_" + suffix) or name.endswith("." + suffix):
            return unit
    return "count"


def per_layer(h, failed, attempted):
    layers = dict(h["layers"], failed_frac=failed / attempted)
    return {k: (v, unit_of(k)) for k, v in layers.items()}


def run(workload, seed, seconds, trace, calls=None, drop_events=False):
    """One benchmark run; returns (result line as a dict, harness report)."""
    root = Path.cwd()
    classpath, jvm_flags = build.build(root)  # the first run in a checkout builds
    t_start = time.time()
    data = os.environ.get("SPARK_GRAFT_SF_DIR") or str(Path.home() / "testdata" / "sf0.01")
    if workload != "agg_kernel" and not (Path(data) / "lineitem.parquet").exists():
        raise SystemExit(f"perfbench: no test tables at {data}")

    run_dir = root / ".bench_build" / f"run-{os.getpid()}-{time.time_ns()}"
    out = run_dir / "out"
    try:
        for d in ("tmp", "local", "warehouse", "out"):
            (run_dir / d).mkdir(parents=True)
        cmd = ["java", *jvm_flags,
               f"-Djava.io.tmpdir={run_dir / 'tmp'}",
               f"-Dspark.local.dir={run_dir / 'local'}",
               f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
               f"-Dspark.sql.streaming.checkpointLocation={run_dir / 'tmp' / 'stream-checkpoints'}",
               f"-Dderby.system.home={run_dir}",
               f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
               "-Dfile.encoding=UTF-8",
               "-cp", classpath, "perfbench.Harness",
               "--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace),
               "--data", data, "--out", str(out), "--cpus", str(CPUS)]
        if calls:
            cmd += ["--calls", calls]
        if drop_events:
            cmd += ["--drop-events", "1"]
        if run_jvm(cmd, run_dir, JVM_LIMIT_S - (time.time() - t_start)) != 0:
            raise SystemExit("perfbench: harness failed")
        h = json.loads((out / "harness.json").read_text())
        log(f"JVM start to end of warm-up set-up {h['jvm_s']:.2f} s; set-ups (warm-up first), s: "
            + ", ".join(f"{x:.3f}" for x in h["setups_s"])
            + f"; isolation between calls {h['isolate_s']:.1f} s")

        t_check = time.time()
        verdict = check.check_run(workload, h, out, data, root)
        log(f"output check {time.time() - t_check:.1f} s, harness {t_check - t_start:.1f} s")
        failed = []
        for c in h["calls"]:
            why = c["error"] if not c["ok"] else verdict.get(c["dump"], "no output")
            if why:
                failed.append(c["name"])
                log(f"FAILED {c['name']} (pass {c['pass']}): {why}")
        by_call = {}
        for c in h["calls"]:
            by_call.setdefault(c["name"], []).append(c["wall_ms"])
        log("per call, ms (cold / warm median): " + ", ".join(
            f"{n} {w[0]:.0f}/{statistics.median(w[1:]):.0f}" for n, w in by_call.items()))
        attempted = len(h["calls"])
        if trace == 0:
            metrics = end_to_end(h, rows_per_pass(workload, h, out, data))
        else:
            metrics = per_layer(h, len(failed), attempted)
            traces = root / ".bench_build" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            spans = traces / f"{workload}-seed{seed}.json"
            spans.write_text(json.dumps(h["spans"], indent=0))
            bad = sum(1 for s in h["spans"] if not s["reconciled"])
            log(f"span tree of {len(h['spans'])} traced calls in {spans.relative_to(root)}; "
                f"{bad} outside the residual bound")
        result = {
            "correct": not failed,
            "attempted": attempted,
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, h
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    # a SIGTERM unwinds like an error, so the harness JVM is killed and the
    # run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--calls", help="comma-separated subset (diagnostics only)")
    a = ap.parse_args()
    result, _ = run(a.workload, a.seed, a.seconds, a.trace, a.calls)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
