"""Measurement helpers: in-memory spans, the contention stamp and the
Spark event-log reader. None of them touches the program under test."""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory until the
    run ends. Disabled tracers time nothing and record nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


def _cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


class Contention:
    """Load average and CPU steal over a run window, so a noisy run can
    be explained rather than only discarded."""

    def __init__(self):
        self.load_start = os.getloadavg()[0]
        self._t0, self._s0 = _cpu_times()

    def stamp(self) -> dict:
        t1, s1 = _cpu_times()
        dt = max(t1 - self._t0, 1)
        return {
            "loadavg_1m_start": self.load_start,
            "loadavg_1m_end": os.getloadavg()[0],
            "steal_pct": round(100.0 * (s1 - self._s0) / dt, 3),
            "cpus": len(os.sched_getaffinity(0)),
        }


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in (0, 100)."""
    xs = sorted(values)
    return xs[min(len(xs) - 1, max(0, int(round(q / 100.0 * len(xs) + 0.5)) - 1))]


# ----------------------------------------------------------- event log
_ACC = {
    "time to start Python workers": "python_worker_start_s",
    "time to initialize Python workers": "python_worker_init_s",
    "data sent to Python workers": "python_bytes_sent_mb",
    "data returned from Python workers": "python_bytes_received_mb",
}
SPARK_METRICS = (
    "executor_run_s", "executor_cpu_s", "jvm_gc_s", "python_worker_start_s",
    "python_worker_init_s", "python_bytes_sent_mb", "python_bytes_received_mb",
    "shuffle_write_mb", "tasks_failed",
)


def _acc_value(acc: dict) -> float:
    v = acc.get("Update", acc.get("Value", 0))
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def spark_metrics_by_group(log_dir: Path) -> dict[str, dict[str, float]]:
    """Parse an uncompressed Spark event log (v2 layout: one directory
    of ``events_*`` parts per application) into per-``setJobGroup`` sums
    of task metrics and the Python-runner SQL metrics."""
    files = sorted(Path(log_dir).rglob("events_*"))
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_METRICS, 0.0))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    m = out[group]
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason not in (None, "Success"):
                        m["tasks_failed"] += 1
                    tm = ev.get("Task Metrics") or {}
                    m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["jvm_gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sw = tm.get("Shuffle Write Metrics") or {}
                    m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key is None:
                            continue
                        v = _acc_value(acc)
                        m[key] += v / 1e3 if key.endswith("_s") else v / 1e6
    return dict(out)
