"""Per-layer tracing for the benchmark's ``--trace 1`` runs.

Three sources, all collected from the benchmark's own files (the program is
not instrumented):

* **Spans** around calls into the program's public functions, installed by
  patching the module attribute the caller resolves at call time. Spans
  live in memory and are folded into per-op sums after the run.
* **Spark's event log** (``spark.eventLog.enabled`` into the run's temp
  root), folded per op: jobs, stages, tasks, executor run/CPU/GC time,
  shuffle/spill/input/output bytes, task skew, driver-serial gap, and the
  ``PythonSQLMetrics`` accumulators of Arrow/pandas UDF nodes. Jobs are
  attributed to an op by submission time inside the op's wall-clock
  window; the closed loop runs one op at a time, so the windows are
  disjoint and no job of a check or warm-up falls inside one.
* **A memory sampler** thread: resident set of the whole process tree (this
  interpreter, the JVM, the Python workers) and bytes under the Spark local
  dir.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict

MB = 1024 * 1024

# PythonSQLMetrics accumulator names (Spark 4.1) -> per-layer metric names.
# The unit of each comes from the metric type the SQL plan events declare.
PYTHON_ACCUMULATORS = {
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
}
# SQL metric type -> factor to the per-layer unit (MB or s)
METRIC_TYPE_SCALE = {"size": 1 / MB, "timing": 1e-3, "nsTiming": 1e-9}


class Tracer:
    """In-memory span recorder. ``op`` is the index of the timed op in
    progress, or None during set-up, warm-up and checks; only spans inside a
    timed op are folded into the per-layer table."""

    def __init__(self) -> None:
        self.op: int | None = None
        self.spans: list[tuple[int, str, float]] = []  # (op, name, seconds)
        self._patched: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name_of) -> None:
        """Replace ``owner.attr`` with a timed wrapper; ``name_of(*args,
        **kwargs)`` names the call's span, or returns None to leave the call
        untimed."""
        inner = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            name = name_of(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                if name is not None and self.op is not None:
                    self.spans.append((self.op, name, time.perf_counter() - t0))

        self._patched.append((owner, attr, inner))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, inner = self._patched.pop()
            setattr(owner, attr, inner)

    def per_op(self, n_ops: int, name: str) -> list[float]:
        """Per-op sums of one span."""
        out = [0.0] * n_ops
        for op, nm, v in self.spans:
            if nm == name and op < n_ops:
                out[op] += v
        return out


class MemorySampler(threading.Thread):
    """Peak RSS of this process tree and peak bytes under ``local_dir``,
    sampled every PERIOD seconds until ``stop()``."""

    PERIOD = 0.25

    def __init__(self, local_dir: str) -> None:
        super().__init__(daemon=True)
        self.local_dir = local_dir
        self.peak_rss = 0
        self.peak_local = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _dir_bytes(self) -> int:
        total = 0
        for root, _dirs, files in os.walk(self.local_dir):
            for name in files:
                try:
                    total += os.lstat(os.path.join(root, name)).st_size
                except OSError:
                    continue
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_rss = max(self.peak_rss, self._tree_rss())
            self.peak_local = max(self.peak_local, self._dir_bytes())
            self._halt.wait(self.PERIOD)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _event_lines(log_dir: str):
    """Events in order from Spark 4's rolling ``eventlog_v2_*/events_<n>_*``
    parts (uncompressed)."""
    parts = []
    for root, _dirs, files in os.walk(log_dir):
        parts += [
            (int(name.split("_")[1]), os.path.join(root, name))
            for name in files
            if name.startswith("events_")
        ]
    for _n, path in sorted(parts):
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def fold_event_log(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Per-op Spark engine and Python-boundary metrics from the event log.

    ``windows`` are the timed ops' (start, end) in epoch milliseconds.
    Returns {metric name: [value per op]}; a metric no op moved is absent.
    Raises KeyError on a Python-boundary accumulator whose SQL metric type
    is missing or has no known unit."""
    n = len(windows)

    def op_of(t_ms: float) -> int | None:
        for i, (lo, hi) in enumerate(windows):
            if lo <= t_ms <= hi:
                return i
        return None

    stage_op: dict[int, int] = {}
    stage_span: dict[int, tuple[float, float]] = {}
    stage_tasks: dict[int, list[float]] = {}
    metric_type: dict[int, str] = {}  # SQL metric accumulator id -> type
    out: dict[str, list[float]] = defaultdict(lambda: [0.0] * n)

    for ev in _event_lines(log_dir):
        kind = ev.get("Event")
        if "sparkPlanInfo" in ev:  # SQL execution start or AQE re-plan
            _plan_metric_types(ev["sparkPlanInfo"], metric_type)
        elif kind == "SparkListenerJobStart":
            op = op_of(ev["Submission Time"])
            if op is not None:
                out["spark.jobs"][op] += 1
                for sid in ev["Stage IDs"]:
                    stage_op[sid] = op
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_op and info.get("Submission Time"):
                out["spark.stages"][stage_op[sid]] += 1
                stage_span[sid] = (info["Submission Time"], info["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_op:
                continue
            op = stage_op[sid]
            tm = ev.get("Task Metrics") or {}
            out["spark.tasks"][op] += 1
            run_ms = tm.get("Executor Run Time", 0)
            stage_tasks.setdefault(sid, []).append(run_ms)
            out["spark.executor_run_s"][op] += run_ms / 1e3
            out["spark.executor_cpu_s"][op] += tm.get("Executor CPU Time", 0) / 1e9
            out["spark.gc_s"][op] += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics") or {}
            out["spark.shuffle_read_mb"][op] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            sw = tm.get("Shuffle Write Metrics") or {}
            out["spark.shuffle_write_mb"][op] += sw.get("Shuffle Bytes Written", 0) / MB
            out["spark.spill_mb"][op] += tm.get("Disk Bytes Spilled", 0) / MB
            out["spark.input_mb"][op] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            out["spark.output_mb"][op] += (
                (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = PYTHON_ACCUMULATORS.get(acc.get("Name"))
                if name is not None:
                    scale = METRIC_TYPE_SCALE[metric_type[acc["ID"]]]
                    out[name][op] += float(acc.get("Update") or 0) * scale

    # driver-serial time: op wall not covered by any running stage
    gaps, skews = [], []
    for i, (lo, hi) in enumerate(windows):
        spans = sorted(
            (max(a, lo), min(b, hi))
            for sid, (a, b) in stage_span.items()
            if stage_op[sid] == i and b > lo and a < hi
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in spans:
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        gaps.append((hi - lo - covered) / 1e3)
        # skew of the op's heaviest stage: slowest task over median task
        heavy = max(
            (t for sid, t in stage_tasks.items() if stage_op[sid] == i),
            key=sum,
            default=[],
        )
        med = statistics.median(heavy) if heavy else 0
        skews.append(max(heavy) / med if med > 0 else 1.0)
    out["spark.driver_gap_s"] = gaps
    out["spark.task_skew"] = skews
    return dict(out)


def _plan_metric_types(node: dict, into: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        into[m["accumulatorId"]] = m["metricType"]
    for child in node.get("children", []):
        _plan_metric_types(child, into)
