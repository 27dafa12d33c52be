#!/usr/bin/env python3
"""Run the benchmark over several seeds and print the tables a performance
claim needs.

    python3 perfbench/report.py --seeds 1 2 3 4 5

For each workload in BENCHMARK.json this makes one untraced ``run.py`` run per seed, one at a time, then one traced run on
the first seed. It prints:

* every end-to-end metric with its unit: the median over runs, the
  run-to-run spread (quartile distance over median, as
  ``statistics.quantiles(values, n=4)`` gives the quartiles), the bound
  from BENCHMARK.json, and the sample counts;
* ``op_fail_rate``: failed or wrong-output ops over ops attempted;
* the traced run's per-layer table, each metric with the end-to-end metric
  it should move, and the tracing overhead (traced ``op_p50_s`` minus the
  untraced median).

Each run's raw result line is echoed as it completes, prefixed ``run`` and
its wall time.
Exits 1 if any run fails or is incorrect.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import TARGETS  # noqa: E402


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict | None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    head = f"run {workload} seed={seed} trace={trace} ({time.perf_counter() - t0:.1f} s)"
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"{head}: exit {proc.returncode}")
        return None
    print(f"{head} {lines[-1]}", flush=True)
    result = json.loads(lines[-1])
    result["spark_conf"] = next(
        (ln.split(" ", 1)[1] for ln in lines if ln.startswith("spark-conf ")), "{}"
    )
    return result


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return float("nan")
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3, 4, 5])
    args = p.parse_args()

    ok = True
    seconds = bench["run_seconds"]
    for wl in (w["name"] for w in bench["workloads"]):
        runs = [one_run(wl, s, seconds, 0) for s in args.seeds]
        good = [r for r in runs if r is not None]
        ok &= len(good) == len(runs) and all(r["correct"] for r in good)
        if not good:
            continue
        ops = [r["attempted"] for r in good]
        failed = sum(r["failed"] for r in good)
        print(f"\n== {wl}: {len(good)} runs, {min(ops)}-{max(ops)} timed ops per run, "
              f"run_seconds {seconds}")
        print(f"  {'metric':16s} {'median':>12s} {'spread':>8s} {'bound':>6s}  unit")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in good]
            print(f"  {m['name']:16s} {statistics.median(vals):12.4f} {spread(vals):8.3f} "
                  f"{m['bound']:6.2f}  {m['unit']}")
        print(f"  {'op_fail_rate':16s} {failed / sum(ops):12.4f} {'':8s} {'':6s}  "
              f"ratio ({failed} of {sum(ops)} ops)")
        print(f"  spark conf: {good[0]['spark_conf']}")

        traced = one_run(wl, args.seeds[0], seconds, 1)
        ok &= traced is not None and traced["correct"]
        if traced is None:
            continue
        got = traced["metrics"]
        print(f"  per-layer (traced run, seed {args.seeds[0]}, {traced['attempted']} ops; "
              "medians over ops)")
        for name, v in got.items():
            print(f"    {name:40s} {v['value']:12.4f} {v['unit']:6s} -> {TARGETS[name]}")
        untraced = statistics.median(r["metrics"]["op_p50_s"]["value"] for r in good)
        traced_p50 = got["trace.op_p50_s"]["value"]
        print(f"  tracing overhead: {traced_p50 - untraced:+.3f} s "
              f"(traced op_p50_s {traced_p50:.3f} - untraced {untraced:.3f})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
