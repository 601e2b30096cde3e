"""The repository's benchmark: registered queries and the HTTP algorithm
service, measured from outside through the engine's public calls.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (each
``{"value", "unit"}``) — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (names and units as ``BENCHMARK.json``
declares them).
The line before it names the run record written under
``.perfbench/records/``: the seed, a host stamp (core counts, calibration
spin, load) and every per-operation sample.

Workloads (``why`` in BENCHMARK.json):

- ``queries``: one serial client running registered queries, executor-bound
  ones at sf0.1 and driver-bound ones (streaming micro-batches, a driver
  loop, a write-then-read) at sf0.01; the traced run splits its time into
  the per-family subtotals named in ``QUERIES``;
- ``service_wordcount``: the word count over ``POST /algorithm`` and
  ``GET /result``, four closed-loop clients, ``python`` and ``sql``
  dialects (see :mod:`servicebench`).

End-to-end metrics: ``setup_s`` (the process's one cold set-up: engine
import or server spawn, JVM launch and warm-up), ``wall_s`` (queries:
median time of one pass over the query list; service: the closed loop's
time per completed request times the client count), ``latency_p50_s``
(mean over operation kinds, each query or dialect, of that kind's median
latency) and ``throughput_ops`` (operations completed per second of the
timed loop).

The seed orders the queries of every pass, and for the service picks the
word lists and each client's dialect sequence; the generated tables
(:mod:`datagen`) are fixed. Outputs are checked on every run: queries
against their DuckDB oracles, service results against a client-side
``Counter``. ``attempted`` and ``failed`` count operations (one query or
one request); a wrong result counts as failed.

Self-tests of this directory's code (no Spark session):
``python3 -m pytest perfbench -q -p no:cacheprovider``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import common  # noqa: E402
import querybench  # noqa: E402
import servicebench  # noqa: E402

QUERIES = querybench.QueryWorkload(
    name="queries",
    families={
        # executor-bound, sf0.1: graph.py::global_sort_index (range
        # shuffle + mapInPandas local index) with a per-source rank census
        "operators.range_helpers_s": (("q_quantile_norm", 0.1),),
        # an Arrow/pandas kernel
        "functions.kernels_s": (("q_dedup_simhash", 0.1),),
        # pure-JVM: a sort-rank with no range helper, and a robust
        # aggregate (two IRLS steps, each a scan joined to a broadcast).
        # q_approx_distinct is not here: it ranks its percentile sample by
        # md5(l_orderkey:l_linenumber), which ties on the pairs that repeat
        # in these tables (as in the engine's own test data), so both its
        # result and its DuckDB oracle's depend on execution order
        "operators.aggregate_s": (("q_weighted_median", 0.1), ("q_huber_mean", 0.1)),
        # driver-bound, sf0.01: micro-batches, a driver loop, write-then-read
        "streaming.queries_s": (("q_stream_hourly", 0.01), ("q_stream_stateful", 0.01)),
        "operators.iterative_s": (("q_bpe_train", 0.01),),
        "sources.roundtrip_s": (("q_csv_roundtrip", 0.01),),
    },
)
SERVICE = "service_wordcount"
WORKLOADS = (QUERIES.name, SERVICE)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_metrics(trace: bool) -> dict[str, str]:
    """Name -> unit of the mode's metrics, as ``BENCHMARK.json`` lists them:
    ``per_layer`` when tracing, else ``end_to_end``."""
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def result_line(res: dict, trace: bool) -> dict:
    """The contract's last line: every declared metric of the mode, with
    its unit; a per-layer metric the workload does not touch reads 0."""
    declared = declared_metrics(trace)
    values = dict(res["metrics"])
    values["ops.error_rate"] = res["failed"] / res["attempted"]
    return {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                    for name, unit in declared.items()},
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    missing = [p for p in (common.PACKAGE, os.path.join("tools", "check_oracle.py"))
               if not os.path.exists(os.path.join(common.ROOT, p))]
    if missing:
        print(f"perfbench: not in a checkout of the engine (missing {missing})",
              file=sys.stderr)
        return 2
    rundir = common.RunDir()
    rundir.export_env()
    load_before = os.getloadavg()
    cpu_before = common.cpu_times()
    try:
        if args.workload == SERVICE:
            res = servicebench.run(args.seed, args.seconds, bool(args.trace), rundir)
        else:
            res = querybench.run(QUERIES, args.seed, args.seconds, bool(args.trace), rundir)
    finally:
        rundir.close()
    line = result_line(res, bool(args.trace))
    stamp = common.host_stamp(cpu_before)
    stamp["loadavg_before"] = [round(x, 2) for x in load_before]
    record = {**res["record"], "host": stamp, "result": line,
              "all_metrics": res["metrics"]}
    path = common.write_record(args.workload, record)
    print(json.dumps({"record": os.path.relpath(path, common.ROOT),
                      "workload": args.workload, "seed": args.seed,
                      "error_rate": line["failed"] / line["attempted"], "host": stamp}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
