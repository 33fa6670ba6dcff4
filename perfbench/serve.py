"""``serve``: the engine query mix through the HTTP API under concurrency.

This process is the load generator. It starts ``server.py`` (the API at its
shipped defaults) as a separate process and registers the seeded event
table through ``POST /datasets/register``. Then ``CLIENTS`` closed-loop
clients run in rounds: in a round every client makes one whole pass over
the mix from its own offset. ``WARMUP_ROUNDS`` untimed rounds warm the
server up (the first round after start-up is about twice as slow as a warm
one, and the second still slower by a tenth or more); the timed window
is a fixed number of rounds, ``seconds / ROUND_S`` rounded (at least
one), so every run takes the same samples and the tail is the same order
statistic whatever the machine's speed. Every response is
compared with the DuckDB answer. A traced run marks alternate requests of
each client as traced; the server records spans for those requests only.
"""

from __future__ import annotations

import json
import os
import socket
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request

import gen
import layers
import mix
from common import (BENCH_DIR, descendants, mean, median, nproc,
                    process_age_s, stop_tree, tree_peak_rss_mb, cpu_sample)

# half the cores: the server's request threads, Py4J and the JVM's own
# threads share them, and one client per core measured the scheduler
CLIENTS = max(1, nproc() // 2)
# the share of ``seconds`` one timed round stands for: at the benchmark's
# 16 s, two rounds (40 queries); a warm round took about 6 s on 4 cores
ROUND_S = 8.0
WARMUP_ROUNDS = 2
REGISTER_WARMUP = 1
REGISTER_REPEATS = 5


def engine_inputs(seed: int) -> tuple[str, dict, float]:
    """(dataset dir, oracle answers, seconds spent preparing them): the
    seeded table and its DuckDB answers, both cached per seed."""
    t0 = time.perf_counter()
    path, _ = gen.engine_dataset(seed)
    want = gen.cached(path, [mix.SHAPES, mix.ORACLE_SQL],
                      lambda: mix.oracle(os.path.join(path, "events",
                                                      "*.parquet")))
    return path, want, time.perf_counter() - t0


class Client:
    def __init__(self, port: int):
        self.base = f"http://127.0.0.1:{port}"

    def call(self, method: str, route: str, body=None, headers=None,
             timeout: float = 120.0):
        data = None if body is None else json.dumps(body).encode()
        req = urllib.request.Request(
            self.base + route, data=data, method=method,
            headers={"Content-Type": "application/json", **(headers or {})})
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return json.loads(resp.read())

    def wait_ready(self, proc, timeout: float = 180.0) -> None:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if proc.poll() is not None:
                raise RuntimeError(f"API server exited with {proc.returncode}")
            try:
                self.call("GET", "/datasets", timeout=2.0)
                return
            except (urllib.error.URLError, ConnectionError, OSError):
                time.sleep(0.2)
        raise RuntimeError("API server did not come up")

    def register(self, name: str, path: str, qid: str, traced: bool):
        return self.call("POST", "/datasets/register", {
            "name": name, "basepath": path,
            "group_id_column": "user_id", "timestamp_column": "ts"},
            headers=_trace_headers(qid, traced))


def _trace_headers(qid: str, traced: bool) -> dict:
    return {"X-Bench-Query": qid, "X-Bench-Trace": "1" if traced else "0"}


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def run(seed: int, seconds: float, tracer) -> dict:
    phases = {"start": process_age_s()}  # process age at each phase's end
    path, want, prep_s = engine_inputs(seed)
    data = os.path.join(path, "events")
    tmp = os.environ["TMPDIR"]
    port = _free_port()
    client = Client(port)
    with open(os.path.join(tmp, "server.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "server.py"),
             "--port", str(port), "--catalog", os.path.join(tmp, "catalog"),
             "--trace", str(int(tracer.enabled))],
            stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    try:
        client.wait_ready(proc)
        phases["server_up"] = process_age_s()
        client.register("events", data, "r0", tracer.enabled)
        phases["registered"] = process_age_s()
        roots: list[dict] = []
        lock = threading.Lock()
        inflight = [0]
        failures: list[str] = []
        busy = [0.0] * CLIENTS  # each client's time inside timed passes

        def one_pass(k: int, n_round: int, out: list) -> None:
            p0 = time.perf_counter()
            offset = k * len(mix.SHAPES) // CLIENTS
            for j in range(len(mix.SHAPES)):
                name, q = mix.SHAPES[(offset + j) % len(mix.SHAPES)]
                # alternate requests; clients start on alternate parities,
                # so every shape is seen both traced and untraced
                traced = (tracer.enabled and n_round >= 0
                          and (j + k + n_round) % 2 == 0)
                qid = f"c{k}r{n_round}q{j}"
                tracer.set_active(traced)
                with lock:
                    inflight[0] += 1
                    seen = inflight[0]
                rec = {"shape": name, "client": k, "traced": traced,
                       "inflight": seen, "ok": False, "stats": None}
                q0 = time.perf_counter()
                try:
                    with tracer.span("client.request", qid=qid) as root:
                        res = client.call("POST", "/datasets/events/query", q,
                                          headers=_trace_headers(qid, traced))
                    rec["ok"] = mix.matches(mix.normalize(res), want[name])
                    rec["stats"] = res.get("stats")
                except Exception as exc:  # noqa: BLE001 — counted as failed
                    failures.append(f"{name}: {exc}")
                    root = None
                rec["wall"] = time.perf_counter() - q0
                with lock:
                    inflight[0] -= 1
                    out.append(rec)
                    if root is not None:
                        roots.append(root)
            if n_round >= 0:
                busy[k] += time.perf_counter() - p0

        def run_round(n_round: int, out: list) -> None:
            """Every client makes one whole pass over the mix from its own
            offset; the round ends when all of them have finished."""
            threads = [threading.Thread(target=one_pass,
                                        args=(k, n_round, out))
                       for k in range(CLIENTS)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()

        warmup: list[dict] = []
        for n_round in range(-WARMUP_ROUNDS, 0):  # untraced, checked
            run_round(n_round, warmup)
        phases["warm"] = process_age_s()
        setup_s = phases["warm"] - prep_s

        # whole rounds, so each shape is sampled equally often
        records: list[dict] = []
        t0 = time.perf_counter()
        for n_round in range(max(1, round(seconds / ROUND_S))):
            run_round(n_round, records)
        window_s = time.perf_counter() - t0
        phases["window"] = process_age_s()

        tracer.set_active(True)
        reg_walls = []
        for i in range(REGISTER_WARMUP + REGISTER_REPEATS):
            r0 = time.perf_counter()
            client.register(f"events_r{i}", data, f"r{i + 1}", tracer.enabled)
            if i >= REGISTER_WARMUP:
                reg_walls.append(time.perf_counter() - r0)
        server_spans = (client.call("GET", "/_bench/spans")
                        if tracer.enabled else [])
        phases["reregistered"] = process_age_s()
        peak = tree_peak_rss_mb()
        cpu_end = cpu_sample()
    finally:
        tree = descendants(os.getpid())  # the server's JVM outlives it
        proc.terminate()  # the server stops Spark on SIGTERM
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass
        stop_tree(tree)
        phases["stopped"] = process_age_s()

    layer = {}
    if tracer.enabled:
        spans = merge(tracer.spans, server_spans)
        traced_recs = [r for r in records if r["traced"] and r["ok"]]
        layer.update(layers.span_layers(spans, roots))
        layer.update(layers.register_layers(spans))
        layer.update(layers.engine_layers(
            traced_recs, gen.ENGINE_SPEC["rows"]))
        starts = [s for s in server_spans if s["name"] == "session.start"]
        layer["session.start_s"] = (starts[0]["end"] - starts[0]["start"]
                                    if starts else 0.0)
        layer["api.overhead_s"] = mean(
            [r["wall"] - r["stats"]["totalSeconds"]
             for r in records if r["stats"]])
        # all responses carry stats; concurrent queries share the cores,
        # so busy time is taken against the window, not per query
        layer["engine.core_busy_frac"] = sum(
            r["stats"]["worker"]["executorRunSeconds"]
            for r in records if r["stats"]) / (window_s * nproc())
        layer["api.inflight_mean"] = sum(
            r["inflight"] for r in records) / len(records)
        layer["tracing.overhead_frac"] = layers.tracing_overhead(records)
    else:
        traced_recs = []
    return {
        "setup_s": setup_s, "register_s": median(reg_walls),
        "records": records, "window_s": window_s, "client_busy_s": busy,
        "warmup_attempted": len(warmup),
        "warmup_errors": sum(not r["ok"] for r in warmup),
        "peak_rss_mb": peak, "cpu_end": cpu_end, "layers": layer,
        "detail": {"per_shape_s": layers.per_shape(records),
                   "walls_s": [r["wall"] for r in records],
                   "phase_age_s": phases,
                   "router": layers.router_decisions(traced_recs),
                   "register_walls_s": reg_walls, "prep_s": prep_s,
                   "clients": CLIENTS, "failures": failures[:20]},
    }


def merge(client_spans: list[dict], server_spans: list[dict]) -> list[dict]:
    """One span list from both processes, with server span ids shifted
    past the client's so parents stay unambiguous."""
    shift = len(client_spans)
    moved = [{**s, "id": s["id"] + shift,
              "parent": None if s["parent"] is None else s["parent"] + shift}
             for s in server_spans]
    return client_spans + moved
