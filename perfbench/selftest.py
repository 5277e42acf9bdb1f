#!/usr/bin/env python3
"""Self-test of the benchmark, run from the root of a checkout.

Usage: python3 perfbench/selftest.py [--workload W ...] [--seconds S]

For each workload it makes three traced runs: two with seed 1 and one with
seed 2, and checks that
  - the two seed-1 runs report identical plan.* counts (not times), build.jobs,
    exec.jobs and exec.stages, and identical generated inputs;
  - seed 2 gives different inputs (agg_kernel: the generated table;
    registry_rows, whose tables are fixed: the call order);
  - every traced call reconciles (Layers.scala): the build span plus the
    planning, SQL executions and jobs the trace saw after it cover the
    call's wall time within max(25 ms, 5% of the call), and the
    listener's jobs of the call's job group are the ones Spark's status
    tracker lists for it.
Then one more traced run of the first workload, whose listener drops every
third job end and SQL execution end (--drop-events), must report
unreconciled calls: the reconciliation catches lost events.
Exits 1 when a check fails.
"""
import argparse
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # the checkout stays as committed
sys.path.insert(0, str(Path(__file__).resolve().parent))

import run as bench  # noqa: E402

DETERMINISTIC = ("plan.", "build.jobs", "exec.jobs", "exec.stages")


def inputs_of(workload, h):
    if workload == "agg_kernel":
        return h["input_digest"]
    return [c["name"] for c in h["calls"] if c["pass"] == 0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", nargs="*", default=list(bench.WORKLOADS))
    ap.add_argument("--seconds", type=float, default=12)
    a = ap.parse_args()
    failures = []

    def check(ok, what):
        print(("PASS " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in a.workload:
        runs = [bench.run(w, seed, a.seconds, 1) for seed in (1, 1, 2)]
        (r1, h1), (r2, h2), (r3, h3) = runs
        m1, m2 = r1["metrics"], r2["metrics"]
        for k in sorted(m1):
            if k.startswith(DETERMINISTIC) and not k.endswith("_ms"):
                check(m1[k]["value"] == m2[k]["value"],
                      f"{w}: {k} repeats with seed 1 ({m1[k]['value']} vs {m2[k]['value']})")
        check(inputs_of(w, h1) == inputs_of(w, h2), f"{w}: seed 1 gives the same inputs twice")
        check(inputs_of(w, h1) != inputs_of(w, h3), f"{w}: seed 2 gives other inputs than seed 1")
        for seed, (r, h) in zip((1, 1, 2), runs):
            print(f"{w} seed {seed}: trace.overhead_pct "
                  f"{r['metrics']['trace.overhead_pct']['value']:.1f}", flush=True)
            bad = [f"{s['call']} pass {s['pass']}: residual {s['residual_ms']:.0f} ms"
                   f" of {s['wall_ms']:.0f} ms" for s in h["spans"] if not s["reconciled"]]
            check(not bad, f"{w} seed {seed}: {len(h['spans'])} traced calls reconcile"
                  + (f" (not: {'; '.join(bad)})" if bad else ""))
            check(r["correct"], f"{w} seed {seed}: every output checks")
    w = a.workload[0]
    r, h = bench.run(w, 1, a.seconds, 1, drop_events=True)
    bad = [s for s in h["spans"] if not s["reconciled"]]
    check(bad and r["metrics"]["trace.unreconciled_calls"]["value"] > 0,
          f"{w} with dropped events: {len(bad)} of {len(h['spans'])} traced calls fail to"
          f" reconcile ({sum(not s['jobs_agree'] for s in bad)} on jobs)")
    print(f"{len(failures)} self-test failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
