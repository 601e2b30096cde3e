"""Self-tests of the benchmark's own code; they start no Spark session.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pytest

import common
import datagen
import eventlog
import run
import servicebench

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "testdata")


def _fixture_summary(spans=None):
    with open(os.path.join(FIXTURE, "spans.json")) as f:
        bounds = json.load(f)
    if spans is None:
        spans = [eventlog.Span(label, lo, hi) for label, (lo, hi) in bounds.items()]
    events = eventlog.read_events(os.path.join(FIXTURE, "eventlog"))
    return eventlog.summarize(events, spans)


def test_rolling_log_parts_are_read_in_order():
    files = eventlog.log_files(os.path.join(FIXTURE, "eventlog"))
    assert [os.path.basename(f) for f in files] == ["events_1_local-1", "events_2_local-1"]


def test_jobs_are_attributed_to_queries():
    # the captured log ran q_global_sort, q_stream_hourly, q_approx_distinct,
    # each built under "<query>#build" and executed under "<query>"
    out = _fixture_summary()
    ops = out["ops"]
    assert ops["q_global_sort"] == {"jobs": 6, "build_jobs": 1, "run_s": pytest.approx(22.431)}
    # the micro-batch job carries the stream's run id, not the query's
    # group: it is attributed by the query's span
    assert ops["q_stream_hourly"]["jobs"] == 3
    assert ops["q_approx_distinct"]["jobs"] == 9
    assert ops["q_approx_distinct"]["build_jobs"] == 4
    m = out["metrics"]
    assert m["spark.jobs"] == 19
    # one job of a group the benchmark never ran, outside every span
    assert m["trace.unattributed_jobs"] == 1
    assert m["streaming.batches"] == 1


def test_jobs_outside_known_groups_and_spans_are_counted():
    out = _fixture_summary(spans=[])
    assert out["ops"] == {}
    assert out["metrics"]["trace.unattributed_jobs"] == out["metrics"]["spark.jobs"]


def test_window_keeps_only_jobs_submitted_inside_it():
    with open(os.path.join(FIXTURE, "spans.json")) as f:
        lo, hi = json.load(f)["q_stream_hourly"]
    spans = [eventlog.Span("q_stream_hourly", lo, hi)]
    events = eventlog.read_events(os.path.join(FIXTURE, "eventlog"))
    out = eventlog.summarize(events, spans, window=(lo, hi))
    m = out["metrics"]
    assert m["spark.jobs"] == 3 and m["trace.unattributed_jobs"] == 0
    assert m["streaming.batches"] == 1
    assert 0 < m["spark.tasks"] < _fixture_summary()["metrics"]["spark.tasks"]


def test_sql_metrics_are_converted_by_declared_type():
    m = _fixture_summary()["metrics"]
    # "time to run Python workers" is a ms timing, logged as a string
    assert m["spark.python_run_s"] == pytest.approx(24.729)
    assert m["spark.python_sent_mb"] > 0
    assert m["spark.task_run_s"] >= m["spark.task_cpu_s"] > 0
    assert m["spark.stage_skew"] >= 1


@pytest.mark.parametrize("name", ["setup_s", "spark.python_run_s",
                                  "service.run_s_p50.sql", "mem.jvm_peak_rss_mb", "9-x_y.z"])
def test_metric_name_pattern_accepts(name):
    common.check_metric_names({name: 1})


@pytest.mark.parametrize("name", ["", "has space", "a/b", ".lead", "_lead", "x" * 65, "é"])
def test_metric_name_pattern_rejects(name):
    with pytest.raises(ValueError):
        common.check_metric_names({name: 1})


def test_declared_metric_names_match_the_pattern():
    end_to_end, per_layer = run.declared_metrics(False), run.declared_metrics(True)
    common.check_metric_names(end_to_end)
    common.check_metric_names(per_layer)
    assert "setup_s" in end_to_end
    assert not set(end_to_end) & set(per_layer)


def test_traced_half_order_alternates_with_the_seed():
    assert common.trace_order(4) == (False, True)
    assert common.trace_order(5) == (True, False)


def test_service_inputs_depend_only_on_the_seed():
    a, b, c = servicebench.Inputs(7), servicebench.Inputs(7), servicebench.Inputs(8)
    for client, i in [(0, 0), (3, 5), (servicebench.CLIENTS, 1)]:
        assert a.request(client, i) == b.request(client, i)
    assert a.request(0, 0)[1] != c.request(0, 0)[1]
    dialect, words = a.request(1, 2)
    assert len(words) == servicebench.WORDS
    assert set(words) <= set(servicebench.vocabulary())
    # each client alternates dialects, and the clients' i-th requests are
    # an even mix
    seq = [a.request(2, i)[0] for i in range(4)]
    assert seq[0] != seq[1] and seq[0] == seq[2] and seq[1] == seq[3]
    for i in range(3):
        mix = sorted(a.request(cl, i)[0] for cl in range(servicebench.CLIENTS))
        assert mix == sorted(list(servicebench.DIALECTS) * (servicebench.CLIENTS // 2))


def test_generated_tables_are_deterministic():
    one, two = datagen.tables(0.001), datagen.tables(0.001)
    assert one.keys() == two.keys()
    for name in one:
        assert one[name].equals(two[name]), name


def test_medians():
    assert common.median([3.0, 1.0, 2.0]) == 2.0
    assert common.median([1.0, 2.0, 3.0, 4.0]) == 2.5
    assert common.kind_median([("a", 1.0), ("a", 3.0), ("a", 2.0), ("b", 10.0)]) == 6.0
