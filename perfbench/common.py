"""Shared pieces of the benchmark: checkout paths, the run directory, host
stamps, medians, process memory and the engine session settings.

Everything a run writes goes under ``<checkout>/.perfbench/`` (generated
tables, Spark local dirs, temp files, event logs, run records), so a run
reads and writes only inside its checkout.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "go_web_mapreduce_spark"
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def check_metric_names(metrics: dict) -> None:
    """Raise ``ValueError`` on a metric name outside ``[A-Za-z0-9_.-]+``
    (leading letter or digit, at most 64 characters)."""
    bad = [k for k in metrics if not METRIC_NAME.fullmatch(k)]
    if bad:
        raise ValueError(f"bad metric names: {bad}")


class RunDir:
    """Per-process scratch tree under ``.perfbench/``; removed by
    :meth:`close`. Exporting ``TMPDIR``/``SPARK_LOCAL_DIRS`` here keeps the
    engine's temp files, shuffle blocks and scratch pins inside the
    checkout."""

    def __init__(self) -> None:
        # trees left by runs that were killed before their cleanup
        for stale in glob.glob(os.path.join(WORK, "run-*")):
            pid = stale.rsplit("-", 1)[1]
            if not pid.isdigit() or not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(stale, ignore_errors=True)
        self.path = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        self.tmp = os.path.join(self.path, "tmp")
        self.events = os.path.join(self.path, "eventlog")
        os.makedirs(self.tmp)
        os.makedirs(self.events)

    def export_env(self) -> None:
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def tmp_mb(self) -> float:
        total = 0
        for base, _dirs, files in os.walk(self.tmp):
            for f in files:
                try:
                    total += os.lstat(os.path.join(base, f)).st_size
                except OSError:
                    pass
        return total / 1e6

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def engine_env(driver_memory: str) -> None:
    """Environment the engine reads at session start: the checkout on the
    Python workers' path, the core count and the driver heap."""
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", driver_memory)


def spark_conf(event_dir: str | None) -> dict[str, str]:
    """``extra_conf`` for ``session.get_spark``: the event log, uncompressed
    (the default zstd codec has no Python decoder here), when tracing."""
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def median(values: list[float]) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def another_pass(start: float, seconds: float, passes: list[float]) -> bool:
    """Whether a timed loop begun at ``start`` (``perf_counter``) runs one
    more pass: always a first one, then while a pass of the median length
    so far still ends within ``seconds``."""
    if not passes:
        return True
    return time.perf_counter() - start + median(passes) <= seconds


def trace_order(seed: int) -> tuple[bool, bool]:
    """Whether each half of a traced run is the traced one: even seeds run
    the untraced half first, odd seeds the traced half."""
    return (False, True) if seed % 2 == 0 else (True, False)


def kind_median(samples: list[tuple[str, float]]) -> float:
    """Mean over operation kinds (a query, a dialect) of each kind's median
    latency. The kinds' latencies sit far apart, so a plain median of the
    mixed samples would jump between them from run to run."""
    by_kind: dict[str, list[float]] = {}
    for kind, value in samples:
        by_kind.setdefault(kind, []).append(value)
    if not by_kind:
        return 0.0
    return sum(median(v) for v in by_kind.values()) / len(by_kind)


def calibration_spin(n: int = 10_000_000) -> float:
    """Seconds for a fixed pure-Python loop: this host's single-core speed
    at measurement time (the same spin ``bench.py`` stamps)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return time.perf_counter() - t0


def procs_running() -> int | None:
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("procs_running"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat`` (user ... steal ...)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def host_stamp(cpu_before: list[int]) -> dict:
    """Core count, engine core setting, spin, load and the share of CPU
    time stolen by the hypervisor since ``cpu_before``: enough to tell host
    drift from a regression when two records disagree."""
    after = cpu_times()
    delta = [b - a for a, b in zip(cpu_before, after)]
    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "calibration_spin_s": round(calibration_spin(), 4),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "procs_running": procs_running(),
        "steal_frac": round(delta[7] / sum(delta), 4) if len(delta) > 7 and sum(delta) else None,
    }


def rss_mb(pid: int | str = "self", peak: bool = False) -> float:
    """Current (``VmRSS``) or peak (``VmHWM``) resident set of a process."""
    key = "VmHWM:" if peak else "VmRSS:"
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def stop_engine(spark, timeout: float = 60.0) -> None:
    """Stop the session, then its JVM, and wait until the JVM has exited
    (PySpark otherwise leaves it to exit after the interpreter)."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM's gateway server exits at end of input
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def write_record(name: str, record: dict) -> str:
    """Keep a run's full record (seed, host stamp, per-operation samples)
    under ``.perfbench/records/``; returns the path."""
    d = os.path.join(WORK, "records")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{name}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    return path
