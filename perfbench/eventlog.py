"""Per-layer metrics from Spark's JSON-lines event log.

A traced run starts its session with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false`` and tags each operation with
``setJobGroup``: a query's build under ``<query>#build`` and its execution
under ``<query>``; the service tags each algorithm with its id itself.
Spark 4 writes a rolling log, a directory ``eventlog_v2_<app>/`` holding
``events_<n>_<app>`` files; a plain single-file log is read too.

:func:`summarize` reads four kinds of events:

- job start properties (``spark.jobGroup.id``, ``spark.sql.execution.id``)
  to attribute each job to an operation;
- task-end metrics and their named SQL accumulables (Python-worker time,
  sort, aggregation-build and scan time), converted by the metric type the
  SQL plan declares for them;
- SQL execution start events, for planning time before the first job;
- streaming query start and progress events, for micro-batch counts and
  times and to attribute micro-batch jobs (whose group is the stream's run
  id) to the operation that ran the stream.

Jobs that match no operation by group, nor by time (their submission falls
inside exactly one operation's span), are counted as unattributed.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from collections.abc import Iterable, Iterator
from dataclasses import dataclass
from datetime import datetime

BUILD_SUFFIX = "#build"

# SQL accumulables summed into per-layer metrics: name -> (metric, type
# assumed when the plan does not declare one)
SQL_METRICS = {
    "time to run Python workers": ("spark.python_run_s", "timing"),
    "time to start Python workers": ("spark.python_start_s", "timing"),
    "data sent to Python workers": ("spark.python_sent_mb", "size"),
    "sort time": ("spark.sort_s", "timing"),
    "time in aggregation build": ("spark.agg_build_s", "timing"),
    "scan time": ("spark.scan_s", "timing"),
}
UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1e-6, "sum": 1.0}

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
STREAM_START = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent"
STREAM_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


@dataclass(frozen=True)
class Span:
    """One operation the benchmark ran: a query name or an algorithm id,
    with wall-clock bounds in epoch milliseconds (event-log time)."""

    label: str
    start_ms: float
    end_ms: float


def log_files(path: str) -> list[str]:
    """Event-log files under ``path``: the file itself, the parts of
    rolling logs (``eventlog_v2_<app>/events_<n>_<app>``) in index order,
    and single-file logs named by application id."""
    if os.path.isfile(path):
        return [path]

    def part(f: str) -> tuple[str, int]:
        return os.path.dirname(f), int(os.path.basename(f).split("_")[1])

    rolling = sorted(glob.glob(os.path.join(path, "eventlog_v2_*", "events_*")), key=part)
    plain = sorted(f for pattern in ("local-*", "app-*", "application_*")
                   for f in glob.glob(os.path.join(path, pattern)))
    return rolling + plain


def read_events(path: str) -> Iterator[dict]:
    for name in log_files(path):
        with open(name, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _plan_metric_types(plan: dict, out: dict[str, str]) -> None:
    for m in plan.get("metrics", ()):
        out.setdefault(m["name"], m["metricType"])
    for child in plan.get("children", ()):
        _plan_metric_types(child, out)


def _owner(spans: list[Span], t_ms: float) -> str | None:
    hits = [s.label for s in spans if s.start_ms <= t_ms <= s.end_ms]
    return hits[0] if len(hits) == 1 else None


# metrics that are not sums over the traced work, so callers do not
# divide them per pass or per request
NOT_ADDITIVE = frozenset({"spark.stage_skew", "spark.task_wait_s",
                          "trace.unattributed_jobs", "trace.ungrouped_jobs"})


def _iso_ms(stamp: str) -> float:
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1e3


def summarize(events: Iterable[dict], spans: list[Span],
              window: tuple[float, float] | None = None) -> dict:
    """Aggregate a traced session into ``{"metrics": {...}, "ops": {...}}``.

    ``metrics`` holds the ``spark.*``/``streaming.*``/``trace.*`` per-layer
    metrics; ``ops`` maps each span label to its ``jobs``, ``build_jobs``
    and ``run_s`` (first job submitted to last job completed). Only jobs
    submitted inside ``window`` (epoch ms; default the whole log) count,
    with the tasks of their stages, their SQL executions and the
    micro-batches of streams started inside it."""
    lo, hi = window or (float("-inf"), float("inf"))
    labels = {s.label for s in spans}
    stage_in: dict[int, bool] = {}
    stream_in: dict[str, bool] = {}
    metric_types: dict[str, str] = {}
    stage_submit: dict[tuple, float] = {}
    stage_tasks: dict[tuple, list[float]] = defaultdict(list)
    stream_runs: set[str] = set()
    exec_start: dict[str, float] = {}
    exec_first_job: dict[str, float] = {}
    job_label: dict[int, str | None] = {}
    ops: dict[str, dict] = {
        s.label: {"jobs": 0, "build_jobs": 0, "first_ms": None, "last_ms": None}
        for s in spans
    }
    m = defaultdict(float)
    accums: dict[str, float] = defaultdict(float)
    task_wait: list[float] = []

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            t = ev["Submission Time"]
            inside = lo <= t <= hi
            for sid in ev.get("Stage IDs", ()):
                stage_in.setdefault(sid, inside)
            if not inside:
                continue
            m["spark.jobs"] += 1
            if group is None:
                m["trace.ungrouped_jobs"] += 1
            label = None
            if group is not None:
                base = group.removesuffix(BUILD_SUFFIX)
                if base in labels:
                    label = base
                    if group.endswith(BUILD_SUFFIX):
                        ops[base]["build_jobs"] += 1
            if label is None and (group is None or group in stream_runs):
                label = _owner(spans, t)
            job_label[ev["Job ID"]] = label
            if label is None:
                m["trace.unattributed_jobs"] += 1
            else:
                op = ops[label]
                op["jobs"] += 1
                op["first_ms"] = t if op["first_ms"] is None else min(op["first_ms"], t)
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                exec_first_job[ex] = min(exec_first_job.get(ex, t), t)
        elif kind == "SparkListenerJobEnd":
            label = job_label.get(ev["Job ID"])
            if label is not None:
                op = ops[label]
                t = ev["Completion Time"]
                op["last_ms"] = t if op["last_ms"] is None else max(op["last_ms"], t)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            if info.get("Submission Time") is not None:
                stage_submit[key] = info["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            if stage_in.get(ev["Stage ID"], True):
                _task_end(ev, m, accums, stage_submit, stage_tasks, task_wait)
        elif kind in (SQL_START, SQL_ADAPTIVE):
            _plan_metric_types(ev.get("sparkPlanInfo") or {}, metric_types)
            if kind == SQL_START:
                exec_start[str(ev["executionId"])] = ev["time"]
        elif kind == STREAM_START:
            stream_runs.add(ev["runId"])
            stream_in[ev["runId"]] = lo <= _iso_ms(ev["timestamp"]) <= hi
        elif kind == STREAM_PROGRESS:
            prog = ev["progress"]
            if stream_in.get(prog["runId"], True):
                m["streaming.batches"] += 1
                m["streaming.batch_s"] += prog.get("batchDuration", 0) / 1e3

    for name, total in accums.items():
        metric, default_type = SQL_METRICS[name]
        m[metric] += total * UNIT_SCALE[metric_types.get(name, default_type)]
    m["spark.plan_s"] = sum(
        max(0.0, t - exec_start[ex]) for ex, t in exec_first_job.items()
        if ex in exec_start
    ) / 1e3
    m["spark.task_wait_s"] = sum(task_wait) / len(task_wait) if task_wait else 0.0
    m["spark.stage_skew"] = max(
        (max(ts) / max(sorted(ts)[len(ts) // 2], 1.0)
         for ts in stage_tasks.values() if len(ts) >= 2),
        default=1.0,
    )
    for key in ("trace.unattributed_jobs", "trace.ungrouped_jobs", "streaming.batches",
                "streaming.batch_s", *(v[0] for v in SQL_METRICS.values())):
        m.setdefault(key, 0.0)
    out_ops = {
        label: {
            "jobs": op["jobs"],
            "build_jobs": op["build_jobs"],
            "run_s": ((op["last_ms"] - op["first_ms"]) / 1e3
                      if op["first_ms"] is not None and op["last_ms"] is not None
                      else 0.0),
        }
        for label, op in ops.items()
    }
    return {"metrics": dict(m), "ops": out_ops}


def _task_end(ev, m, accums, stage_submit, stage_tasks, task_wait) -> None:
    info = ev.get("Task Info") or {}
    tm = ev.get("Task Metrics") or {}
    m["spark.tasks"] += 1
    run_ms = tm.get("Executor Run Time", 0)
    m["spark.task_run_s"] += run_ms / 1e3
    m["spark.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    m["spark.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
    m["spark.input_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
    m["spark.output_mb"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
    rd = tm.get("Shuffle Read Metrics") or {}
    m["spark.shuffle_read_mb"] += (
        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / 1e6
    m["spark.fetch_wait_s"] += rd.get("Fetch Wait Time", 0) / 1e3
    wr = tm.get("Shuffle Write Metrics") or {}
    m["spark.shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 1e6
    for acc in info.get("Accumulables", ()):
        name = acc.get("Name")
        if name in SQL_METRICS:
            # SQL metric updates are logged as strings, internal ones as numbers
            try:
                accums[name] += float(acc.get("Update"))
            except (TypeError, ValueError):
                pass
    key = (ev["Stage ID"], ev["Stage Attempt ID"])
    stage_tasks[key].append(float(run_ms))
    if key in stage_submit and info.get("Launch Time") is not None:
        task_wait.append(max(0.0, info["Launch Time"] - stage_submit[key]) / 1e3)
