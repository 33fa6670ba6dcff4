"""``operators``: ``benchqueries`` catalog calls in-process, one client.

The catalog callables take ``(spark, sf_dir)``; here ``sf_dir`` holds the
seeded catalog tables from :func:`gen.catalog_dataset`, and each result is
checked against the catalog's own DuckDB oracle (``oracle_sql()``) run on
the same files. Set-up starts the session, registers the ``events`` table
and runs ``WARMUP_PASSES`` untimed, checked passes over the list (the
first pass after start-up takes three times as long as a warm one, the
second still a quarter longer). The timed window then runs a fixed number
of whole passes over the list, ``seconds / PASS_S`` rounded (at least
``MIN_PASSES``), so every run takes the same samples and the median and
tail are the same order statistics whatever the machine's speed. A traced
run alternates traced and untraced calls.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import numpy as np

import gen
import layers
from common import (cpu_sample, mean, median, nproc, process_age_s,
                    start_spark, stop_spark, traced_register,
                    tree_peak_rss_mb)

# (catalog query, operators module it exercises): one per module. The
# count is odd, so the median over the queries is one query's median
# instead of falling between two.
QUERIES = [
    ("sessionize_events", "temporal"),
    ("behavior_session_funnel", "behavior"),
    ("olap_percentiles", "olap"),
    ("text_tfidf", "text"),
    ("dedup_minhash_lsh", "dedup"),
    ("sample_dsir", "sampling"),
    ("ann_ivf_topk", "similarity"),
]
MODULES = sorted({m for _, m in QUERIES})
MIN_PASSES = 2
# the share of ``seconds`` one timed pass stands for: at the benchmark's
# 16 s, four passes (28 calls); a warm pass took about 5 s on 4 cores
PASS_S = 4.0
WARMUP_PASSES = 2
REGISTER_WARMUP = 1
REGISTER_REPEATS = 5


def oracle_inputs(seed: int) -> tuple[str, dict, float]:
    """(sf_dir, oracle frames by query, seconds spent preparing them),
    both cached per seed."""
    import duckdb

    from funnel_rocket_spark.benchqueries import oracle_sql

    sql = {name: oracle_sql()[name] for name, _ in QUERIES}

    def answers() -> dict:
        con = duckdb.connect()
        try:
            for table in gen.CATALOG_TABLES:
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                            f"'{sf_dir}/{table}.parquet'")
            return {name: con.sql(q).df() for name, q in sql.items()}
        finally:
            con.close()

    t0 = time.perf_counter()
    sf_dir, _ = gen.catalog_dataset(seed)
    want = gen.cached(sf_dir, sql, answers)
    return sf_dir, want, time.perf_counter() - t0


def _sorted(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def matches(got, want) -> bool:
    """Order-insensitive frame equality, as the oracle-parity tests compare:
    same columns and rows; floats within 1e-9."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    g, w = _sorted(got), _sorted(want)
    for col in g.columns:
        a, b = g[col].to_numpy(), w[col].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            if not np.allclose(a.astype(float), b.astype(float), rtol=1e-9,
                               atol=1e-9, equal_nan=True):
                return False
        elif not all(x == y for x, y in zip(a, b)):
            return False
    return True


def run(seed: int, seconds: float, tracer) -> dict:
    from funnel_rocket_spark import register_dataset
    from funnel_rocket_spark.benchqueries import queries
    from funnel_rocket_spark.engine.metrics import JobGroupMetrics

    phases = {"start": process_age_s()}  # process age at each phase's end
    sf_dir, want, prep_s = oracle_inputs(seed)
    catalog_dir = os.path.join(os.environ["TMPDIR"], "catalog")
    events = os.path.join(sf_dir, "events.parquet")
    catalog = queries()
    spark = start_spark(tracer)
    phases["session"] = process_age_s()
    register = traced_register(tracer, spark, register_dataset)

    def timed_register(name: str) -> float:
        t0 = time.perf_counter()
        register(spark, name, events, "user_id", "ts",
                 catalog_dir=catalog_dir)
        return time.perf_counter() - t0

    try:
        timed_register("events")
        phases["registered"] = process_age_s()
        errors = 0
        for name, _ in QUERIES * WARMUP_PASSES:  # warm-up, checked
            errors += not matches(catalog[name](spark, sf_dir).toPandas(),
                                  want[name])
        phases["warm"] = process_age_s()
        setup_s = phases["warm"] - prep_s

        records, roots = [], []
        passes = max(MIN_PASSES, round(seconds / PASS_S))
        t0 = time.perf_counter()
        for i in range(passes * len(QUERIES)):
            name, module = QUERIES[i % len(QUERIES)]
            # alternate calls, shifted by one each pass: every query is
            # seen traced and untraced, each first in half of the passes
            traced = tracer.enabled and (
                i % len(QUERIES) + i // len(QUERIES)) % 2 == 0
            tracer.set_active(traced)
            jobs = JobGroupMetrics(spark, f"bench {name}") if traced \
                else nullcontext()
            with tracer.span("query", qid=i) as root:
                q0 = time.perf_counter()
                with tracer.span(f"operators.{module}"), jobs:
                    got = catalog[name](spark, sf_dir).toPandas()
                wall = time.perf_counter() - q0
            rec = {"shape": name, "module": module, "client": 0,
                   "wall": wall, "traced": traced,
                   "ok": matches(got, want[name])}
            if traced:
                snap = jobs.snapshot()
                rec["jobs"] = snap["invoker"]["jobs"]
                rec["run_s"] = snap["worker"]["executorRunSeconds"]
                roots.append(root)
            records.append(rec)
        window_s = time.perf_counter() - t0
        phases["window"] = process_age_s()

        tracer.set_active(True)
        reg_walls = [timed_register(f"events_r{k}")
                     for k in range(REGISTER_WARMUP + REGISTER_REPEATS)
                     ][REGISTER_WARMUP:]
        phases["reregistered"] = process_age_s()
        peak = tree_peak_rss_mb()
        cpu_end = cpu_sample()
    finally:
        stop_spark(spark)
        phases["stopped"] = process_age_s()

    layer = {"session.start_s": next(
        (s["end"] - s["start"] for s in tracer.spans
         if s["name"] == "session.start"), 0.0)}
    if tracer.enabled:
        traced_recs = [r for r in records if r["traced"]]
        layer.update(layers.span_layers(tracer.spans, roots))
        layer.update(layers.register_layers(tracer.spans))
        for module in MODULES:
            layer[f"operators.{module}_s"] = median(
                [r["wall"] for r in traced_recs if r["module"] == module])
        wall = sum(r["wall"] for r in traced_recs)
        layer["operators.jobs"] = mean([r["jobs"] for r in traced_recs])
        layer["operators.core_busy_frac"] = (
            sum(r["run_s"] for r in traced_recs) / (wall * nproc())
            if wall else 0.0)
        layer["tracing.overhead_frac"] = layers.tracing_overhead(records)
    return {
        "setup_s": setup_s, "register_s": median(reg_walls),
        "records": records, "window_s": window_s,
        "client_busy_s": [window_s],
        "warmup_attempted": WARMUP_PASSES * len(QUERIES),
        "warmup_errors": errors,
        "peak_rss_mb": peak, "cpu_end": cpu_end, "layers": layer,
        "detail": {"per_shape_s": layers.per_shape(records),
                   "walls_s": [r["wall"] for r in records],
                   "phase_age_s": phases,
                   "register_walls_s": reg_walls, "prep_s": prep_s},
    }
