"""Spans recorded around the benchmark's calls into each layer, and the
engine counters read back from the Spark event log.

Spans stay in memory until the run ends. A layer's self time is taken
from prefix spans: the span of a call chain minus the span of its
prefix (extract + join minus extract). Engine counters come from the
uncompressed JSON event log of the traced session, summed over the
tasks of the jobs a span's job group names.
"""
from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time a block; its Spark jobs carry the span's name as their job
        group, so the event log can be split by span."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["name"] if self._stack else ""
            sc.setJobGroup(parent, parent)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


# task accumulables of the Python UDF operators (Spark's PythonSQLMetrics)
_PY_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group over every event log in ``log_dir``."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))]
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group or ""
                elif kind == "SparkListenerTaskEnd":
                    _add_task(totals[stage_group.get(ev["Stage ID"], "")], ev)
    return {g: dict(v) for g, v in totals.items()}


def _add_task(t: dict, ev: dict) -> None:
    t["tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        t["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    t["run_ms"] += m.get("Executor Run Time", 0)
    t["cpu_ns"] += m.get("Executor CPU Time", 0)
    t["gc_ms"] += m.get("JVM GC Time", 0)
    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    t["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = _PY_ACCUMS.get(acc.get("Name"))
        if key is not None:
            t[key] += float(acc.get("Update") or 0)


def engine_metrics(group: dict[str, float], jobs: int) -> dict[str, float]:
    """Per-job engine counters of one job group."""
    g = defaultdict(float, group)
    per = 1.0 / max(jobs, 1)
    return {
        "spark.executor_run_s": g["run_ms"] * 1e-3 * per,
        "spark.executor_cpu_s": g["cpu_ns"] * 1e-9 * per,
        "spark.shuffle_write_bytes": g["shuffle_write_bytes"] * per,
        "spark.spill_bytes": g["spill_bytes"] * per,
        "spark.tasks": g["tasks"] * per,
        "spark.failed_tasks": g["failed_tasks"] * per,
        "spark.output_bytes": g["output_bytes"] * per,
    }


def udf_metrics(group: dict[str, float], calls: int) -> dict[str, float]:
    """Per-call Arrow UDF boundary counters of one job group."""
    g = defaultdict(float, group)
    per = 1.0 / max(calls, 1)
    return {
        "st.python_run_s": g["python_run_ms"] * 1e-3 * per,
        "st.python_init_s": (g["python_init_ms"] + g["python_start_ms"]) * 1e-3 * per,
        "st.bytes_to_python": g["bytes_to_python"] * per,
        "st.bytes_from_python": g["bytes_from_python"] * per,
    }


def jvm_read_bytes(spark) -> int:
    """Bytes the JVM has read so far through read system calls (``rchar``,
    page-cache hits included). The task metric "Bytes Read" of the event
    log misses most of a local-file parquet scan (55 kB for 67 MB)."""
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/io") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("rchar:"))


def jvm_gc_ms(spark) -> int:
    """Collection time so far of every garbage collector of the JVM (in
    local mode the driver and the executor are one JVM)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
