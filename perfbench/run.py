#!/usr/bin/env python3
"""geofileops_spark benchmark: one closed-loop client on local[<=4].

    python3 perfbench/run.py --workload pages_zones --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
and cached under ``.perfbench/`` (generation is reported on stderr, never
in a metric). One client submits a job, waits for it and checks its
output, then submits the next. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` times an
untraced and a traced window, each in a restarted session, then probes
every layer in the traced session (Spark event log on, spans around each
layer call). It reports per-layer metrics, including the traced job time
and the tracing overhead against the untraced window.
"""
from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CORES = min(4, os.cpu_count() or 1)
HEAP = "2g"
# set-ups measured per run (a set-up starts a session); setup_s is their median
SETUPS = 3
# before a timed window, untimed jobs run until two in a row agree within
# SETTLE_RTOL, for at most WARM_CAP_S: the first jobs after JVM start drift
# down (1.2M pages: 6.6, 2.7, 1.6, 1.5 s) while the JIT and Spark's code
# generation settle, and a restarted session starts fresh Python workers
SETTLE_RTOL = 0.10
WARM_CAP_S = 10.0
# timed jobs per window at least
MIN_JOBS = 2

E2E_UNITS = {"setup_s": "s", "job_s": "s", "rows_per_s": "1/s", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {
    "sources.extract_s": "s", "sources.scan_bytes": "bytes",
    "join.pip_s": "s", "join.match_ratio": "ratio",
    "index.cover_s": "s", "index.cells_per_geom": "count",
    "celljoin.candidate_pairs_s": "s", "celljoin.candidates": "count",
    "celljoin.refine_ratio": "ratio",
    "geometry.wkb_loads_s": "s", "geometry.batch_intersection_s": "s", "geometry.union_s": "s",
    "overlay.intersection_s": "s", "dissolve.dissolve_s": "s",
    "st.python_run_s": "s", "st.python_init_s": "s",
    "st.bytes_to_python": "bytes", "st.bytes_from_python": "bytes",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.tasks": "count", "spark.failed_tasks": "count", "spark.output_bytes": "bytes",
    "cache.persisted_mb": "MB", "trace.job_s": "s", "trace.overhead_frac": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ memory
def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the JVM and
    its Python workers). A JVM child whose executable is still java is
    a fork that has not yet exec'd its command: it shares the JVM's
    pages, so it is not counted again."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    total, todo, page = 0, [(root, "")], os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid, parent_exe = todo.pop()
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            if exe == parent_exe and os.path.basename(exe) == "java":
                continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        todo.extend((k, exe) for k in kids.get(pid, []))
    return total


class PeakRss(threading.Thread):
    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval, self.peak, self._stop_ev = interval, 0, threading.Event()

    def run(self):
        while not self._stop_ev.wait(self.interval):
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    def stop(self) -> int:
        self._stop_ev.set()
        self.join()
        return self.peak


# ------------------------------------------------------------ session
def start_session(event_log: str | None = None):
    from geofileops_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    conf = {
        # 15 GB shared machine: a small driver heap leaves room for the
        # Python workers. The heap is committed and touched up front, so
        # peak RSS measures what varies (Python workers, off-heap, JIT)
        # rather than when G1 chose to grow the heap.
        "spark.driver.memory": HEAP,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch"),
        "spark.ui.showConsoleProgress": "false",
        # the JVM keeps the conf of its first session, so set both states
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.eventLog.dir": "file://" + (event_log or tmp),
        # the default zstd event log needs a reader outside the standard library
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=max(CORES, 8), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    rebind_udfs()
    return spark


def rebind_udfs() -> None:
    """Drop the JVM function cached in each of the library's module-level
    pandas UDFs. It holds the Python accumulator of the SparkContext the
    UDF was first used in; after a session restart every Python task
    would fail to update that closed accumulator and log a stack trace."""
    from pyspark.sql.udf import UserDefinedFunction

    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("geofileops_spark"):
            continue
        for v in vars(mod).values():
            udf = getattr(v, "_unwrapped", None)
            if isinstance(udf, UserDefinedFunction):
                udf._judf_placeholder = None


def shutdown() -> None:
    """Stop the active session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------ processes
PR_SET_CHILD_SUBREAPER = 36
# after the JVM exits its Python daemon and workers exit on their own;
# those still running after TERM_AFTER_S get SIGTERM, after KILL_AFTER_S SIGKILL
TERM_AFTER_S = 5.0
KILL_AFTER_S = 30.0


def adopt_orphans() -> None:
    """Become the reaper of orphaned descendants: the Python daemon and
    workers the JVM forks outlive a stopped session or JVM for a moment,
    and stop_children must be able to wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                    kids.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return kids


def stop_children() -> None:
    """Stop every process this one started or adopted, and wait for each."""
    from multiprocessing import resource_tracker

    # the tracker the input generator's process pool started ends only
    # when its pipe closes, which would otherwise be at this process's exit
    resource_tracker._resource_tracker._stop()
    t0 = time.monotonic()
    while kids := _children():
        waited = time.monotonic() - t0
        for pid in kids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0]:
                    continue
                if waited > KILL_AFTER_S:
                    os.kill(pid, signal.SIGKILL)
                elif waited > TERM_AFTER_S:
                    os.kill(pid, signal.SIGTERM)
            except (ChildProcessError, ProcessLookupError):
                continue
        time.sleep(0.05)
    if time.monotonic() - t0 > 1.0:
        log(f"child processes ended after {time.monotonic() - t0:.1f} s")


# ------------------------------------------------------------ client loop
class Client:
    """One closed-loop client: submit a job, wait, check its output."""

    def __init__(self, workload):
        self.w = workload
        self.attempted = 0
        self.failed = 0

    def run_job(self, spark):
        """Returns the job's wall time, or None if it raised or was wrong."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = self.w.job(spark)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        dt = time.perf_counter() - t0
        if not self.w.check(result):
            log(f"job {self.attempted}: WRONG OUTPUT")
            self.failed += 1
            return None
        return dt

    def warm_up(self, spark) -> list[float]:
        """Untimed jobs until two in a row agree within SETTLE_RTOL, or
        WARM_CAP_S passes; returns their times."""
        times: list[float] = []
        end = time.perf_counter() + WARM_CAP_S
        while time.perf_counter() < end and not (
                len(times) >= 2 and abs(times[-1] - times[-2]) <= SETTLE_RTOL * times[-2]):
            dt = self.run_job(spark)
            if dt is None:
                raise RuntimeError("warm-up job failed")
            times.append(dt)
        return times

    def window(self, spark, seconds: float, span=None) -> list[float]:
        """Timed jobs for ``seconds``, and at least MIN_JOBS of them."""
        times: list[float] = []
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or len(times) < MIN_JOBS:
            if self.failed >= MIN_JOBS:
                raise RuntimeError(f"{self.failed} jobs failed")
            if span is None:
                dt = self.run_job(spark)
            else:
                with span("job"):
                    dt = self.run_job(spark)
            if dt is not None:
                times.append(dt)
        return times


def prepare_inputs(w) -> None:
    """Materialize the inputs (untimed, no Spark)."""
    gen_s = w.prepare(CORES)
    log(f"inputs {w.key}: {'generated in %.1f s' % gen_s if gen_s else 'cached'}")


def _fmt(times: list[float]) -> str:
    return str([round(t, 3) for t in times])


def run_untraced(w, seconds: float) -> tuple[dict, Client]:
    prepare_inputs(w)
    client = Client(w)
    rss = PeakRss()
    rss.start()
    setups = []
    for i in range(SETUPS):
        if i:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session()
        w.register(spark)
        start_s = time.perf_counter() - t0
        # the first job's time, without the time of its output check
        dt = client.run_job(spark)
        if dt is None:
            raise RuntimeError("set-up job failed")
        setups.append(start_s + dt)
    # the jobs are timed in the session of the last set-up
    warm = client.warm_up(spark)
    times = client.window(spark, seconds)
    peak = rss.stop()
    job_s = statistics.median(times)
    log(f"{w.name}: setups {_fmt(setups)}; warm-up {len(warm)} jobs {_fmt(warm)} (until two in "
        f"a row agree within {SETTLE_RTOL:.0%}); {len(times)} timed jobs {_fmt(times)}, "
        f"median {job_s:.3f} s; failed_frac {client.failed}/{client.attempted}")
    return {
        "setup_s": statistics.median(setups),
        "job_s": job_s,
        "rows_per_s": w.rows / job_s,
        "peak_rss_mb": peak / 2**20,
    }, client


def run_traced(w, seconds: float) -> tuple[dict, Client]:
    from spans import Tracer, engine_metrics, jvm_gc_ms, read_event_log, udf_metrics
    from workloads import PROBE_REPS, PROBED

    client = Client(w)
    # the workload plus one workload of each other input family: their
    # probes together cover every layer
    probed = [w] + [cls(w.seed, w.cache_dir, w.out_dir) for cls in PROBED if cls.inputs != w.inputs]
    for p in probed:
        prepare_inputs(p)
    # the first session warms the JVM; the untraced and the traced window
    # then each run in a restarted session, so the event log is the only
    # difference between them
    spark = start_session()
    w.register(spark)
    client.warm_up(spark)
    spark.stop()
    spark = start_session()
    w.register(spark)
    client.warm_up(spark)
    plain = client.window(spark, seconds / 2)
    spark.stop()

    log_dir = os.path.join(WORK, "eventlog", f"{w.name}-{os.getpid()}")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark = start_session(event_log=log_dir)
    tracer = Tracer(spark)
    w.register(spark)
    client.warm_up(spark)
    gc_ms = jvm_gc_ms(spark)
    traced = client.window(spark, seconds / 2, span=tracer.span)
    gc_ms = jvm_gc_ms(spark) - gc_ms
    m = {}
    for p in probed:
        if p is not w:
            p.register(spark)
        m.update(p.probes(spark, tracer))
    spark.stop()  # flushes the event log

    groups = read_event_log(log_dir)
    shutil.rmtree(log_dir, ignore_errors=True)
    m.update(engine_metrics(groups.get("job", {}), len(traced)))
    m.update(udf_metrics(groups.get("st.area", {}), PROBE_REPS))
    m["spark.gc_s"] = gc_ms * 1e-3 / len(traced)
    job_s = statistics.median(traced)
    m["trace.job_s"] = job_s
    m["trace.overhead_frac"] = job_s / statistics.median(plain) - 1.0
    log(f"{w.name}: traced jobs {_fmt(traced)}, median {job_s:.3f} s; untraced jobs "
        f"{_fmt(plain)}, median {statistics.median(plain):.3f} s")
    if set(m) != set(PER_LAYER_UNITS):
        raise RuntimeError(f"per-layer metrics out of step: {sorted(set(m) ^ set(PER_LAYER_UNITS))}")
    return m, client


def run_all(args) -> int:
    """Every workload in its own process; a summary line per workload."""
    from workloads import WORKLOADS

    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            rc = p.returncode or 1
            print(f"{name}: FAILED (exit {p.returncode})")
            continue
        res = json.loads(lines[-1])
        cells = [f"{k}={v['value']:.6g} {v['unit']}" for k, v in res["metrics"].items()]
        frac = res["failed"] / res["attempted"]
        print(f"{name}: {' '.join(cells)} failed_frac={frac:.3g} "
              f"({res['failed']}/{res['attempted']} jobs) correct={res['correct']}")
    return rc


def _seed(text: str) -> int:
    seed = int(text)
    if seed < 0:
        raise argparse.ArgumentTypeError("the seed must be >= 0")
    return seed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=_seed, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "geofileops_spark")):
        log(f"no geofileops_spark/ package next to {HERE}; run from a full checkout")
        return 2
    sys.path[:0] = [ROOT, HERE]
    if args.workload == "all":
        return run_all(args)

    # program defaults only: no GFO_* knobs, executors import this checkout,
    # every scratch file stays under .perfbench/ (set before any import
    # can fix the temporary directory)
    for k in [k for k in os.environ if k.startswith("GFO_")]:
        del os.environ[k]
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the short-lived JVM that builds the spark-submit command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["PYTHONHASHSEED"] = "0"
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all")
        return 2

    w = WORKLOADS[args.workload](args.seed, os.path.join(WORK, "inputs"), os.path.join(WORK, "out"))
    run = run_traced if args.trace else run_untraced
    units = PER_LAYER_UNITS if args.trace else E2E_UNITS
    adopt_orphans()
    try:
        metrics, client = run(w, args.seconds)
    finally:
        try:
            shutdown()
        finally:
            stop_children()
    print(json.dumps({
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
