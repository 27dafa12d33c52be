#!/usr/bin/env python3
"""One benchmark run: one workload, one seed, one fresh Spark session.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the repository root. The run builds its inputs from ``--seed`` in
a temp root of its own under ``.perfbench_tmp/`` (deleted at exit), starts a
``local[<cores>]`` session, runs untimed warm-up ops of the workload's own
kind, then times ops in a closed loop with one client for ``--seconds``,
checking every op's output. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` is a separate traced run that reports the
per-layer metrics (spans around the program's public calls, Spark's event
log, process-tree memory). Per-layer values are medians over the timed ops;
a layer the workload's op never calls reads 0.

The environment is pinned from outside, with no program knob changed:
``SPARK_GRAFT_CPUS`` is the usable core count (the package default of 32
oversubscribes a small host), the package is put on the Python workers'
``PYTHONPATH``, and every scratch path (Spark local dir, JVM and Python
temp dirs, warehouse, event log) is inside the run's temp root. The
effective Spark conf is recorded with each result as a ``spark-conf`` JSON
line on stdout, so a change to a session default shows in the record.

Exit status is 0 with a result, or 2 without one when the program cannot be
found or imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from tracing import MemorySampler, Tracer, fold_event_log
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The metric names and units are BENCHMARK.json's. End-to-end: op_p50_s is
# the median wall of one timed op; setup_s the session start, corpus, state
# build and warm-up op walls; triples_per_s the distinct triples of the graph
# the op produces (ingest) or expands over (retrieve), per second of op_p50_s.
# Per layer, the end-to-end metric each should move:
TARGETS = {
    # pipeline stages, wrapped at StageCheckpointer.load_or_compute
    "operators.graphops.dedup_s": "ingest/op_p50_s",
    "functions.extract_s": "ingest/op_p50_s",
    "functions.render_s": "ingest/op_p50_s",
    "operators.chunking_s": "ingest/op_p50_s",
    "operators.graphops.edges_s": "ingest/op_p50_s",
    "pipeline.self_s": "ingest/op_p50_s",
    "pipeline.triples_raw": "ingest/triples_per_s",
    "pipeline.edges": "ingest/triples_per_s",
    "pipeline.chunks": "ingest/op_p50_s",
    # retrieval; visited_nodes is the 2-hop expansion of the op's query,
    # counted at set-up from the committed edges
    "queries.k_hop_s": "retrieve/op_p50_s",
    "queries.self_s": "retrieve/op_p50_s",
    "queries.visited_nodes": "retrieve/op_p50_s",
    "queries.result_nodes": "retrieve/op_p50_s",
    "queries.result_edges": "retrieve/op_p50_s",
    # Spark engine, folded from the event log per op
    "spark.jobs": "retrieve/op_p50_s",
    "spark.stages": "retrieve/op_p50_s",
    "spark.tasks": "retrieve/op_p50_s",
    "spark.driver_gap_s": "retrieve/op_p50_s",
    "spark.executor_run_s": "ingest/op_p50_s",
    "spark.executor_cpu_s": "ingest/op_p50_s",
    "spark.gc_s": "ingest/op_p50_s",
    "spark.shuffle_read_mb": "ingest/op_p50_s",
    "spark.shuffle_write_mb": "ingest/op_p50_s",
    "spark.spill_mb": "ingest/op_p50_s",
    "spark.input_mb": "ingest/op_p50_s",
    "spark.output_mb": "ingest/op_p50_s",
    "spark.task_skew": "ingest/op_p50_s",
    # Arrow/Python boundary (PythonSQLMetrics accumulators)
    "python.sent_mb": "ingest/op_p50_s",
    "python.returned_mb": "ingest/op_p50_s",
    "python.run_s": "ingest/op_p50_s",
    "python.boot_s": "ingest/op_p50_s",
    # set-up components
    "session.start_s": "setup_s",
    "datagen.corpus_s": "setup_s",
    "setup.state_s": "setup_s",
    "setup.warmup_s": "setup_s",
    # memory guards, reported only
    "mem.peak_rss_mb": "none (reported only)",
    "mem.local_dir_peak_mb": "none (reported only)",
    # the traced run's own op median; minus the untraced one = tracing overhead
    "trace.op_p50_s": "tracing overhead",
}


def metric_units(table: str) -> dict[str, str]:
    """{name: unit} of one BENCHMARK.json metric table, in file order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[table]}


def pin_environment(tmp: str) -> None:
    """Set before the JVM starts: the JVM and the Python workers inherit it."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, tmp: str) -> dict:
    from knowledge_nexus_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # JVM scratch inside the run's temp root; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    events = os.path.join(tmp, "events")
    sampler = tracer = None
    if args.trace:
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
        })
        sampler = MemorySampler(os.environ["SPARK_GRAFT_LOCAL_DIR"])
        sampler.start()

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    setup = {"session.start_s": time.perf_counter() - t0}
    try:
        conf_line = json.dumps(dict(sorted(spark.sparkContext.getConf().getAll())))
        print("spark-conf " + conf_line, flush=True)
        wl = WORKLOADS[args.workload](spark, args.seed, tmp)
        if args.trace:
            tracer = Tracer()
            wl.trace(tracer)
        setup.update(wl.setup())

        ok, setup["setup.warmup_s"] = True, 0.0
        for k in range(wl.WARMUPS):
            t0 = time.perf_counter()
            out = wl.op(k)
            setup["setup.warmup_s"] += time.perf_counter() - t0
            ok &= bool(wl.check(k, out))

        walls, windows, outs, failed = [], [], [], 0
        t_loop = time.perf_counter()
        while not walls or time.perf_counter() - t_loop < args.seconds:
            i = len(walls)
            k = wl.WARMUPS + i
            if tracer is not None:
                tracer.op = i
            w0, t0 = time.time(), time.perf_counter()
            try:
                out, good = wl.op(k), True
            except Exception:
                traceback.print_exc()
                out, good = None, False
            walls.append(time.perf_counter() - t0)
            windows.append((w0 * 1e3, time.time() * 1e3))
            if tracer is not None:
                tracer.op = None
            outs.append(out)
            try:
                good = good and bool(wl.check(k, out))
            except Exception:
                traceback.print_exc()
                good = False
            failed += not good
        ok &= bool(wl.final_check())
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        stop_spark(spark)
        if sampler is not None:
            sampler.stop()

    op_p50 = statistics.median(walls)
    setup_s = sum(setup.values())
    if not args.trace:
        units = metric_units("end_to_end")
        values = {
            "op_p50_s": op_p50,
            "setup_s": setup_s,
            "triples_per_s": wl.triples / op_p50,
        }
    else:
        units = metric_units("per_layer")
        per_op = wl.layers(tracer, walls, outs)
        try:
            per_op.update(fold_event_log(events, windows))
        except Exception:
            traceback.print_exc()
            ok = False
        values = {name: 0.0 for name in units}  # a layer the op never calls
        values.update({k: statistics.median(v) for k, v in per_op.items()})
        values.update(setup)
        values["mem.peak_rss_mb"] = sampler.peak_rss / 2**20
        values["mem.local_dir_peak_mb"] = sampler.peak_local / 2**20
        values["trace.op_p50_s"] = op_p50
        extra = set(values) - set(units)
        if extra:
            raise KeyError(f"metrics not in BENCHMARK.json: {sorted(extra)}")
        for name in wl.TRACED_NONZERO:
            if values[name] <= 0:
                print(f"traced run found no {name}", file=sys.stderr)
                ok = False
    print(
        f"{args.workload}: {len(walls)} ops, p50 {op_p50:.3f} s, failed {failed}, "
        f"setup {setup_s:.2f} s, walls {[round(w, 3) for w in walls]}",
        file=sys.stderr,
    )
    return {
        "correct": ok and failed == 0,
        "attempted": len(walls),
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "knowledge_nexus_spark", "__init__.py")):
        print(f"perfbench: no knowledge_nexus_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import knowledge_nexus_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    try:
        pin_environment(tmp)
        os.chdir(tmp)
        result = run(args, tmp)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
