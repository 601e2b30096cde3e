"""Service workload: the reference's word count submitted over HTTP.

The engine serves ``POST /algorithm`` / ``GET /result`` from its own
process (:mod:`server`, through ``http_api.serve_background``). This
process runs ``CLIENTS`` closed-loop client threads: each sends a request,
polls ``GET /result/<id>`` every ``POLL_S`` until the reply is not 202,
checks the result against a ``Counter`` of the words it sent, and only then
sends its next request.

Each request counts ``WORDS`` words drawn with the seed from a Zipf(1.1)
vocabulary of ``VOCAB`` words, in ``map_input_length`` chunks of
``MAP_INPUT_LENGTH`` with the reference's reduce-partition heuristic (no
``num_partitions``). Clients alternate the ``python`` and ``sql`` dialects;
the seed picks which half of the clients starts with each.

Each client sends requests back to back for ``LEAD_IN_S`` plus ``seconds``,
with no barrier between clients; only the requests sent after the lead-in
are timed (at least one per client). Latency runs from sending ``POST`` to
the first non-202 ``GET /result``. Throughput sums each client's timed
requests over the time it was busy with them, from sending the first to
its own last reply, so a client is never charged for waiting on the others
at the end.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import subprocess
import sys
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import common
import eventlog
import server as server_mod

CLIENTS = 4
WORDS = 2000
VOCAB = 5000
ZIPF_S = 1.1
MAP_INPUT_LENGTH = 200
POLL_S = 0.02
LEAD_IN_S = 5.0
REQUEST_TIMEOUT_S = 120.0
SERVER_EXIT_TIMEOUT_S = 60.0

DIALECTS = {
    "python": {
        "map_code": "lambda k, v: (len(v) % 2, v, '1')",
        "reduce_code": "lambda k, vs: str(len(vs))",
    },
    "sql": {
        "map_code": {"pi": "length(value) % 2", "key": "value", "value": "'1'"},
        "reduce_code": "cast(size(values) as string)",
    },
}


def vocabulary() -> list[str]:
    """``VOCAB`` distinct lowercase words of 2 to 10 letters (fixed)."""
    rng = random.Random(0)
    words: dict[str, None] = {}
    while len(words) < VOCAB:
        n = rng.randint(2, 10)
        words["".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n))] = None
    return list(words)


class Inputs:
    """The seed's request stream: client ``c``'s ``i``-th request is
    ``request(c, i)``, the same for the same seed."""

    def __init__(self, seed: int):
        self.seed = seed
        self.vocab = np.array(vocabulary())
        ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
        self.p = ranks ** -ZIPF_S / np.sum(ranks ** -ZIPF_S)
        # the dialect each client starts with: half the clients each, so
        # the clients' i-th requests are an even mix; client CLIENTS is the
        # warm-up stream
        names = list(DIALECTS)
        self.first = [names[c % len(names)] for c in range(CLIENTS)]
        random.Random(seed).shuffle(self.first)
        self.first.append(names[0])

    def request(self, client: int, i: int) -> tuple[str, list[str]]:
        rng = np.random.default_rng([self.seed, client, i])
        words = self.vocab[rng.choice(VOCAB, WORDS, p=self.p)].tolist()
        names = list(DIALECTS)
        start = names.index(self.first[client])
        return names[(start + i) % len(names)], words


def body(dialect: str, words: list[str]) -> bytes:
    return json.dumps({
        "dialect": dialect,
        "map_input_length": MAP_INPUT_LENGTH,
        **DIALECTS[dialect],
        "input": [["", w] for w in words],
    }).encode()


def _call(port: int, method: str, path: str, data: bytes | None = None) -> tuple[int, dict]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
    try:
        headers = {"Content-Type": "application/json"} if data is not None else {}
        conn.request(method, path, body=data, headers=headers)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"{}")
    finally:
        conn.close()


def one_request(port: int, dialect: str, words: list[str]) -> dict:
    """POST, poll to completion, check; returns the sample, with ``ok``
    false and an ``error`` when the request failed or the result is wrong."""
    try:
        return _request(port, dialect, words)
    except (OSError, http.client.HTTPException, ValueError) as e:
        return {"dialect": dialect, "ok": False, "error": f"{type(e).__name__}: {e}"}


def _request(port: int, dialect: str, words: list[str]) -> dict:
    w0 = time.time()
    t0 = time.perf_counter()
    status, payload = _call(port, "POST", "/algorithm", body(dialect, words))
    post_s = time.perf_counter() - t0
    sample = {"dialect": dialect, "post_s": post_s, "get_s": [], "ok": False,
              "start_ms": w0 * 1e3}
    if status != 200:
        sample["error"] = f"POST {status}: {payload}"
        return sample
    sample["id"] = payload["algorithm_id"]
    deadline = t0 + REQUEST_TIMEOUT_S
    while True:
        time.sleep(POLL_S)
        g0 = time.perf_counter()
        status, payload = _call(port, "GET", f"/result/{sample['id']}")
        sample["get_s"].append(time.perf_counter() - g0)
        if status != 202 or time.perf_counter() > deadline:
            break
    sample["latency_s"] = time.perf_counter() - t0
    sample["end_ms"] = time.time() * 1e3
    expected = {k: str(v) for k, v in Counter(words).items()}
    got = {r["key"]: r["value"] for r in payload.get("results", ())}
    sample["ok"] = status == 200 and got == expected
    if not sample["ok"]:
        sample["error"] = f"GET {status}: " + (
            "result differs from the client's Counter" if status == 200
            else str(payload)[:200])
    return sample


class Server:
    """The server subprocess and its command channel."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(common.ROOT, "perfbench", "server.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            cwd=common.ROOT,
        )
        self.port = None

    def command(self, line: str) -> dict:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()
        for out in self.proc.stdout:
            if out.startswith(server_mod.REPLY_PREFIX):
                return json.loads(out[len(server_mod.REPLY_PREFIX):])
        raise RuntimeError(f"server exited with {self.proc.wait()}")

    def start(self, event_dir: str | None) -> dict:
        rep = self.command("start " + json.dumps(common.spark_conf(event_dir)))
        self.port = rep["port"]
        return rep

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("stop\n")
                self.proc.stdin.close()
                self.proc.wait(SERVER_EXIT_TIMEOUT_S)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()


def warm_up(port: int, inputs: Inputs, counter: list[int]) -> list[dict]:
    """One request per dialect, sent together, from the warm-up stream
    (client ``CLIENTS``)."""
    reqs = [inputs.request(CLIENTS, counter[CLIENTS] + k) for k in range(len(DIALECTS))]
    counter[CLIENTS] += len(reqs)
    with ThreadPoolExecutor(len(reqs)) as pool:
        return list(pool.map(lambda req: one_request(port, *req), reqs))


def loop(port: int, inputs: Inputs, seconds: float, counter: list[int]) -> dict:
    """``CLIENTS`` closed-loop clients, each sending its next request as
    soon as its last one is answered, for ``LEAD_IN_S`` plus ``seconds``.
    A request counts in the timed figures when it was sent after the
    lead-in: the clients start in lockstep, so their first requests all
    contend at once, which the later, staggered ones do not. Each client
    sends at least one counted request. ``counter`` holds each client's
    next request index, so every request of a run has its own input; each
    client thread touches only its own."""
    start = time.perf_counter()

    def client(c: int) -> tuple[list[dict], float]:
        samples, counted_from = [], None
        while True:
            sent = time.perf_counter() - start
            s = one_request(port, *inputs.request(c, counter[c]))
            counter[c] += 1
            s["counted"] = sent >= LEAD_IN_S
            if s["counted"] and counted_from is None:
                counted_from = sent
            samples.append(s)
            busy = time.perf_counter() - start
            if busy >= LEAD_IN_S + seconds and counted_from is not None:
                return samples, busy - counted_from

    with ThreadPoolExecutor(CLIENTS) as pool:
        clients = list(pool.map(client, range(CLIENTS)))
    ok = [sum(s["ok"] and s["counted"] for s in samples) for samples, _busy in clients]
    return {"samples": [s for samples, _busy in clients for s in samples],
            "busy_s": [busy for _samples, busy in clients],
            "throughput": sum(n / busy for n, (_s, busy) in zip(ok, clients))}


def _wall(timed: dict) -> float:
    """Time per completed request times ``CLIENTS``: how long the clients
    take, together, to get one reply each."""
    return CLIENTS / timed["throughput"] if timed["throughput"] else 0.0


def _end_to_end(setup_s: float, timed: dict) -> dict:
    ok = [s for s in timed["samples"] if s["ok"] and s["counted"]]
    return {
        "setup_s": setup_s,
        "wall_s": _wall(timed),
        "latency_p50_s": common.kind_median([(s["dialect"], s["latency_s"]) for s in ok]),
        "throughput_ops": timed["throughput"],
    }


def _per_layer(untraced: dict, traced: dict, samples: list[dict], summary: dict,
               stats: dict, session_s: float, warmup_s: float) -> dict:
    """``samples``: every request of the traced session (warm-up included),
    the base of the per-request figures."""
    n = max(len(samples), 1)
    out = {k: v if k in eventlog.NOT_ADDITIVE else v / n
           for k, v in summary["metrics"].items()}
    dialect_of = {s["id"]: s["dialect"] for s in samples if s.get("id")}
    for dialect in DIALECTS:
        runs = [op["run_s"] for label, op in summary["ops"].items()
                if dialect_of.get(label) == dialect]
        out[f"service.run_s_p50.{dialect}"] = common.median(runs)
    # too few per run for a tail percentile with ten samples beyond it
    out["service.samples"] = sum(s["ok"] and s["counted"]
                                 for s in untraced["samples"] + traced["samples"])
    out["http_api.post_s_p50"] = common.median([s["post_s"] for s in samples if "post_s" in s])
    gets = [s.get("get_s", []) for s in samples]
    out["http_api.get_s_p50"] = common.median([g for gs in gets for g in gs])
    out["http_api.polls_per_req"] = sum(map(len, gets)) / n
    # jobs of the submit path itself (the input count), which run in the
    # request handler before the algorithm's job group is set
    out["service.submit_jobs"] = summary["metrics"]["trace.ungrouped_jobs"] / n
    out["http_api.handles_retained"] = stats["handles"]
    out["mem.server_rss_growth_mb"] = stats["rss_mb"] - stats["rss_mb_start"]
    out["mem.driver_peak_rss_mb"] = stats["driver_peak_mb"]
    out["mem.jvm_peak_rss_mb"] = stats["jvm_peak_mb"]
    out["session.start_s"] = session_s
    out["session.warmup_s"] = warmup_s
    out["trace.overhead_frac"] = _wall(traced) / _wall(untraced) - 1
    return out


def run(seed: int, seconds: float, trace: bool, rundir: common.RunDir) -> dict:
    common.engine_env(server_mod.DRIVER_MEMORY)
    inputs = Inputs(seed)
    counter = [0] * (CLIENTS + 1)
    # set-up: from spawning the server process to the server bound and its
    # warm-up requests answered
    t_spawn = time.perf_counter()
    srv = Server()
    try:
        session_s = srv.start(None)["session_s"]
        t_warm = time.perf_counter()
        warm = warm_up(srv.port, inputs, counter)
        setup_s = time.perf_counter() - t_spawn
        warmup_s = time.perf_counter() - t_warm
        record = {"workload": "service_wordcount", "seed": seed, "seconds": seconds,
                  "trace": trace, "setup_s": setup_s, "clients": CLIENTS,
                  "first_dialects": inputs.first}
        if not trace:
            loops = [loop(srv.port, inputs, seconds, counter)]
            metrics = _end_to_end(setup_s, loops[0])
        else:
            # both halves on a freshly restarted, warmed session; the seed
            # picks which runs first
            halves, traced_warm = {}, []
            for traced in common.trace_order(seed):
                srv.start(rundir.events if traced else None)
                half_warm = warm_up(srv.port, inputs, counter)
                warm += half_warm
                if traced:
                    traced_warm = half_warm
                    rss_start = srv.command("stats")["rss_mb"]
                halves[traced] = loop(srv.port, inputs, seconds / 2, counter)
                if traced:
                    stats = srv.command("stats")
                    stats["rss_mb_start"] = rss_start
            loops = [halves[False], halves[True]]
            record["trace_first"] = common.trace_order(seed)[0]
            srv.close()  # stops the session: flushes the event log
            traced_samples = traced_warm + loops[1]["samples"]
            spans = [eventlog.Span(s["id"], s["start_ms"], s["end_ms"])
                     for s in traced_samples if s.get("id") and "end_ms" in s]
            summary = eventlog.summarize(eventlog.read_events(rundir.events), spans)
            metrics = _per_layer(loops[0], loops[1], traced_samples, summary, stats,
                                 session_s, warmup_s)
            record["ops"] = summary["ops"]
    finally:
        srv.close()
    samples = warm + [s for lp in loops for s in lp["samples"]]
    failed = [s for s in samples if not s["ok"]]
    record["loops"] = loops
    record["warmup"] = warm
    return {"metrics": metrics, "attempted": len(samples), "failed": len(failed),
            "correct": not failed, "record": record}
