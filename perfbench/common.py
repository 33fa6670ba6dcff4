"""Shared helpers: statistics, machine fingerprint, process-tree memory and
clean-up, Spark session start, and the traced ``QueryEngine`` wrapper."""

from __future__ import annotations

import os
import platform
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(BENCH_DIR, "out")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------------------- #
# statistics

def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(latency, percentile, samples): the highest order statistic with at
    least 10 samples beyond it, i.e. the ``(n-10)/n`` percentile. With
    fewer than 11 samples it falls back to the maximum."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return (xs[-1] if xs else 0.0), 100.0, n
    return xs[n - 11], round(100.0 * (n - 10) / n, 2), n


# --------------------------------------------------------------------------- #
# processes

def _proc_table() -> dict[int, int]:
    """pid → parent pid for every visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            out[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    return out


def descendants(pid: int) -> list[int]:
    table = _proc_table()
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, parent in table.items() if parent == p]
        found.extend(kids)
        frontier.extend(kids)
    return found


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> float:
    """Sum of each process's peak resident set (VmHWM) over this process
    and all its descendants: the Python driver, the JVM, any Python workers
    and, for ``serve``, the API server."""
    pid = os.getpid()
    return sum(_status_kb(p, "VmHWM") for p in [pid] + descendants(pid)) / 1024


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
        f = stat[stat.rindex(")") + 2:].split()
        return sum(int(x) for x in f[11:15])
    except (OSError, ValueError, IndexError):
        return 0


def cpu_sample() -> dict:
    """CPU ticks spent by the whole machine and by this process tree, and
    the wall clock, for :func:`foreign_cpu_frac`."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    busy = sum(cpu[:8]) - cpu[3] - cpu[4] - cpu[7]
    pid = os.getpid()
    return {"machine": busy, "steal": cpu[7], "wall": time.monotonic(),
            "tree": sum(_cpu_ticks(p) for p in [pid] + descendants(pid))}


def contention(start: dict, end: dict) -> dict:
    """Shares of the machine's cores, between two samples, that processes
    outside this run kept busy (``foreign_cpu_frac``) and that the
    hypervisor gave to other guests (``steal_frac``)."""
    capacity = (end["wall"] - start["wall"]) * nproc() * os.sysconf(
        "SC_CLK_TCK")
    other = (end["machine"] - start["machine"]) - (end["tree"] - start["tree"])
    return {"foreign_cpu_frac": max(0.0, other) / capacity,
            "steal_frac": (end["steal"] - start["steal"]) / capacity}


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def other_jvms() -> int:
    mine = set(descendants(os.getpid())) | {os.getpid()}
    return sum(1 for p in _proc_table()
               if p not in mine and _comm(p) == "java")


def stop_tree(pids: list[int], timeout: float = 20.0) -> None:
    """SIGTERM the given processes, SIGKILL what is left after ``timeout``,
    and wait until every one has exited."""
    for sig, wait in ((signal.SIGTERM, timeout), (signal.SIGKILL, 10.0)):
        live = [p for p in pids if os.path.exists(f"/proc/{p}")]
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while live and time.monotonic() < deadline:
            for p in list(live):
                try:
                    # reap our own children; others vanish from /proc
                    if os.waitpid(p, os.WNOHANG)[0] == p:
                        live.remove(p)
                        continue
                except ChildProcessError:
                    pass
                if (not os.path.exists(f"/proc/{p}")
                        or _state(p) == "Z"):
                    live.remove(p)
            time.sleep(0.05)
        if not live:
            return


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
        return stat[stat.rindex(")") + 2]
    except (OSError, ValueError, IndexError):
        return ""


def process_age_s() -> float:
    """Seconds since this process was created (from /proc, so interpreter
    start-up is included)."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------- #
# environment

def sandbox_env() -> None:
    """Environment for Spark processes: the checkout on PYTHONPATH (Python
    workers import the package), one core count for the session, and
    every scratch directory inside the checkout."""
    scratch = os.path.join(BENCH_DIR, ".cache", f"tmp-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT, BENCH_DIR] + [p for p in os.environ.get(
                "PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_LOCAL_DIRS": scratch,
        "TMPDIR": scratch,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
    })


def fingerprint() -> dict:
    import pyspark

    return {"nproc": nproc(), "loadavg": list(os.getloadavg()),
            "other_jvms": other_jvms(), "python": platform.python_version(),
            "pyspark": pyspark.__version__, "machine": platform.machine()}


LOADED_SHARE = 0.03


def loaded(fp_start: dict, fp_end: dict, shares: dict) -> bool:
    """A run is flagged as loaded when another JVM shared the machine, or
    processes outside the run or other guests of the hypervisor took more
    than LOADED_SHARE of its cores. (The load average alone cannot tell:
    it still carries the previous run when runs go back to back.)"""
    return (fp_start["other_jvms"] > 0 or fp_end["other_jvms"] > 0
            or max(shares.values()) > LOADED_SHARE)


def start_spark(tracer, **kwargs):
    """``session.get_spark`` at its defaults (core count from the
    environment), inside a ``session.start`` span."""
    from funnel_rocket_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark(**kwargs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context and the JVM it runs in, and wait for both. The
    gateway JVM exits when its stdin closes."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    try:
        gateway.shutdown()
    except Py4JError:
        pass
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            pass  # stop_tree below kills it
    stop_tree(descendants(os.getpid()))


def traced_register(tracer, spark, register):
    """``register`` (``catalog.register_dataset``) wrapped in a
    ``catalog.register`` span that also records how many Spark jobs the
    registration ran."""
    from funnel_rocket_spark.engine.metrics import JobGroupMetrics

    def wrapped(*args, **kwargs):
        with tracer.span("catalog.register") as span, \
                JobGroupMetrics(spark, "bench register") as jobs:
            ds = register(*args, **kwargs)
        if span is not None:
            span["jobs"] = jobs.snapshot()["invoker"]["jobs"]
        return ds

    return wrapped


def traced_engine(tracer):
    """A ``QueryEngine`` subclass whose public entry points run inside
    spans. ``run`` calls ``plan`` which calls ``expand`` through ``self``,
    so one traced ``run`` yields nested engine.run ⊃ planner.plan ⊃
    validation.expand spans. The plan span also times Catalyst planning
    of the plan's counts frame (``queryExecution().executedPlan()``), which
    is extra driver work an untraced query does not do."""
    from funnel_rocket_spark import QueryEngine

    class TracedEngine(QueryEngine):
        def expand(self, query, df=None):
            with tracer.span("validation.expand"):
                return super().expand(query, df)

        def plan(self, df, query, *args, **kwargs):
            with tracer.span("planner.plan"):
                plan = super().plan(df, query, *args, **kwargs)
                if tracer.active():
                    with tracer.span("planner.catalyst"):
                        plan.counts()._jdf.queryExecution().executedPlan()
                return plan

        def run(self, df, query, *args, **kwargs):
            with tracer.span("engine.run"):
                return super().run(df, query, *args, **kwargs)

    return TracedEngine


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)
