"""Query workloads: registered queries run serially, as ``bench.py`` runs
them, through ``REGISTRY[name].fn(spark, sf_dir)`` and a ``noop``-sink write.

One run:

1. set-up, once: import the engine, build the session with
   ``session.get_spark`` (which launches the JVM) and warm it up (a parquet
   scan and a pandas UDF, so the Python worker pool is started);
2. check pass, untimed: every query's result is fetched and compared with
   its DuckDB oracle through ``tools/check_oracle.py``'s comparator; this
   pass also warms every query's code paths before timing;
3. timed loop: as many whole passes over the query list as fit in
   ``seconds`` (at least one), each pass in an order drawn from the seed.

With tracing on, the timed loop is split in two halves, each on a freshly
rebuilt and warmed session: one untraced, one with the event log on and
every query tagged by ``setJobGroup``. The seed's parity picks which half
runs first, so neither the rebuild nor drift over the run is charged to the
event log alone. The log is then parsed by :mod:`eventlog`.
"""

from __future__ import annotations

import gc
import importlib.util
import os
import random
import time
from dataclasses import dataclass

import common
import datagen
import eventlog

APP = "perfbench"
DRIVER_MEMORY = "4g"


@dataclass(frozen=True)
class QueryWorkload:
    name: str
    # per-layer subtotal metric -> the (query, scale factor) pairs it sums
    families: dict[str, tuple[tuple[str, float], ...]]

    @property
    def scale(self) -> dict[str, float]:
        """Query name -> the scale factor it runs at."""
        return {q: sf for qs in self.families.values() for q, sf in qs}

    @property
    def queries(self) -> list[str]:
        return list(self.scale)


def _oracle_comparator():
    """``norm_rows`` from ``tools/check_oracle.py``: the repository's one
    oracle comparator (order-insensitive, floats to 6 decimals)."""
    path = os.path.join(common.ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm_rows


def warm_up(spark, data_dir: str) -> None:
    from pyspark.sql import functions as F

    spark.read.parquet(f"{data_dir}/lineitem.parquet").count()
    ident = F.pandas_udf("long")(lambda s: s)
    spark.range(1000).select(ident("id")).write.mode("overwrite").format(
        "noop").save()


class Runner:
    """One benchmark process's engine session and its measurements."""

    def __init__(self, wl: QueryWorkload, seed: int):
        self.wl = wl
        self.rng = random.Random(seed)
        self.data_dirs = {sf: datagen.ensure(os.path.join(common.WORK, "data"), sf)
                          for sf in sorted(set(wl.scale.values()))}
        self.spark = None
        self.session_s: list[float] = []
        self.warmup_s: list[float] = []

    def setup(self, event_dir: str | None = None) -> None:
        """(Re)build the session and warm it up."""
        from go_web_mapreduce_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t1 = time.perf_counter()
        self.spark = get_spark(APP, extra_conf=common.spark_conf(event_dir))
        t2 = time.perf_counter()
        warm_up(self.spark, self.data_dirs[max(self.data_dirs)])
        t3 = time.perf_counter()
        self.session_s.append(t2 - t1)
        self.warmup_s.append(t3 - t2)

    def check(self, registry) -> tuple[int, list[dict]]:
        """Untimed pass: each query against its DuckDB oracle. Returns the
        number checked and the defects found."""
        import duckdb

        from go_web_mapreduce_spark.sources.tables import TABLES

        norm_rows = _oracle_comparator()
        defects = []
        cons = {sf: duckdb.connect() for sf in self.data_dirs}
        try:
            for sf, con in cons.items():
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{self.data_dirs[sf]}/{t}.parquet'")
            for name in self.order():
                spec = registry[name]
                try:
                    sdf = spec.fn(self.spark, self.sf_dir(name))
                    scols = sdf.columns
                    srows = [tuple(r) for r in sdf.toPandas().itertuples(index=False)]
                    ddf = cons[self.wl.scale[name]].execute(spec.oracle).df()
                    dcols = list(ddf.columns)
                    drows = [tuple(r) for r in ddf.itertuples(index=False)]
                except Exception as e:  # noqa: BLE001 — a defect, reported
                    defects.append({"query": name, "error": f"{type(e).__name__}: {e}"[:300]})
                    continue
                if sorted(scols) != sorted(dcols):
                    defects.append({"query": name, "error": f"columns {scols} != {dcols}"})
                elif len(srows) != len(drows):
                    defects.append({"query": name, "error": f"rows {len(srows)} != {len(drows)}"})
                elif norm_rows(scols, srows) != norm_rows(dcols, drows):
                    defects.append({"query": name, "error": "values differ"})
                gc.collect()
        finally:
            for con in cons.values():
                con.close()
        return len(self.wl.queries), defects

    def sf_dir(self, name: str) -> str:
        return self.data_dirs[self.wl.scale[name]]

    def order(self) -> list[str]:
        names = list(self.wl.queries)
        self.rng.shuffle(names)
        return names

    def loop(self, registry, seconds: float, tag: bool) -> dict:
        """As many whole passes as fit in ``seconds`` (at least one)."""
        sc = self.spark.sparkContext
        passes, samples, spans, failures = [], [], [], []
        start_ms = time.time() * 1e3
        start = time.perf_counter()
        while common.another_pass(start, seconds, passes):
            p0 = time.perf_counter()
            for name in self.order():
                df = None
                w0 = time.time()
                t0 = time.perf_counter()
                try:
                    if tag:
                        sc.setJobGroup(name + eventlog.BUILD_SUFFIX, name)
                    df = registry[name].fn(self.spark, self.sf_dir(name))
                    t1 = time.perf_counter()
                    if tag:
                        sc.setJobGroup(name, name)
                    df.write.mode("overwrite").format("noop").save()
                    t2 = time.perf_counter()
                    samples.append({"query": name, "build_s": t1 - t0, "total_s": t2 - t0})
                except Exception as e:  # noqa: BLE001 — counted as failed
                    failures.append({"query": name, "error": f"{type(e).__name__}: {e}"[:300]})
                spans.append(eventlog.Span(name, w0 * 1e3, time.time() * 1e3))
                del df
                gc.collect()
            passes.append(time.perf_counter() - p0)
        if tag:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return {"passes": passes, "samples": samples, "spans": spans,
                "failures": failures, "window": (start_ms, time.time() * 1e3)}


def _end_to_end(setup_s: float, timed: dict) -> dict:
    samples = timed["samples"]
    return {
        "setup_s": setup_s,
        "wall_s": common.median(timed["passes"]),
        "latency_p50_s": common.kind_median([(s["query"], s["total_s"]) for s in samples]),
        "throughput_ops": len(samples) / sum(timed["passes"]),
    }


def _per_layer(runner: Runner, wl: QueryWorkload, traced: dict, untraced: dict,
               summary: dict, mem: dict) -> dict:
    n = len(traced["passes"])
    out = {k: v if k in eventlog.NOT_ADDITIVE else v / n
           for k, v in summary["metrics"].items()}
    by_query: dict[str, list[float]] = {}
    for s in traced["samples"]:
        by_query.setdefault(s["query"], []).append(s["total_s"])
    for metric, members in wl.families.items():
        out[metric] = sum(common.median(by_query.get(q, [])) for q, _sf in members)
    out["operators.build_s"] = sum(s["build_s"] for s in traced["samples"]) / n
    out["operators.build_jobs"] = sum(op["build_jobs"] for op in summary["ops"].values()) / n
    # the process's first (cold) session, the one ``setup_s`` covers
    out["session.start_s"] = runner.session_s[0]
    out["session.warmup_s"] = runner.warmup_s[0]
    out["trace.overhead_frac"] = (common.median(traced["passes"])
                                  / common.median(untraced["passes"]) - 1)
    out.update(mem)
    return out


def run(wl: QueryWorkload, seed: int, seconds: float, trace: bool,
        rundir: common.RunDir) -> dict:
    runner = Runner(wl, seed)
    common.engine_env(DRIVER_MEMORY)
    # set-up: from the engine import to a warmed session (the generated
    # tables already exist, so their one-off generation is not counted)
    t_import = time.perf_counter()
    from go_web_mapreduce_spark.queries import REGISTRY

    runner.setup()
    setup_s = time.perf_counter() - t_import
    t_check = time.perf_counter()
    checked, defects = runner.check(REGISTRY)
    record = {"workload": wl.name, "seed": seed, "seconds": seconds,
              "trace": trace, "scale": wl.scale,
              "setup_s": setup_s, "check_s": time.perf_counter() - t_check,
              "defects": defects}
    if not trace:
        loops = [runner.loop(REGISTRY, seconds, tag=False)]
        common.stop_engine(runner.spark)
        metrics = _end_to_end(setup_s, loops[0])
    else:
        halves = {}
        for traced in common.trace_order(seed):
            runner.setup(event_dir=rundir.events if traced else None)
            halves[traced] = runner.loop(REGISTRY, seconds / 2, tag=traced)
        loops = [halves[False], halves[True]]
        record["trace_first"] = common.trace_order(seed)[0]
        mem = {
            "operators.scratch_mb": rundir.tmp_mb(),
            "mem.driver_peak_rss_mb": common.rss_mb(peak=True),
            "mem.jvm_peak_rss_mb": common.rss_mb(common.jvm_pid(runner.spark), peak=True),
        }
        common.stop_engine(runner.spark)  # flushes and closes the event log
        summary = eventlog.summarize(eventlog.read_events(rundir.events),
                                     loops[1]["spans"], loops[1]["window"])
        metrics = _per_layer(runner, wl, loops[1], loops[0], summary, mem)
        record["ops"] = summary["ops"]
    failures = [f for lp in loops for f in lp["failures"]]
    n_ok = sum(len(lp["samples"]) for lp in loops)
    record["loops"] = [{k: v for k, v in lp.items() if k != "spans"} for lp in loops]
    return {"metrics": metrics, "attempted": checked + n_ok + len(failures),
            "failed": len(defects) + len(failures),
            "correct": not defects and not failures, "record": record}
