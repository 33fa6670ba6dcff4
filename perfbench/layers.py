"""Per-layer metrics from traced queries: the ``stats`` block that
``QueryEngine.run(with_stats=True)`` returns, and the benchmark's spans.

Layer times are means per query, so a query's layers add up to its wall
time. Layers a workload does not pass through report 0.
"""

from __future__ import annotations

from common import mean, median
from tracer import coverage, self_times

_PER_QUERY_SPANS = {"validation.expand_s": "validation.expand",
                    "planner.catalyst_s": "planner.catalyst",
                    "catalog.load_s": "catalog.load",
                    "catalog.read_s": "catalog.read"}


def span_layers(spans: list[dict], roots: list[dict]) -> dict:
    """Layer self times per query, from the spans of the traced queries
    (``roots`` are their client-side query spans)."""
    selfs = self_times(spans)
    qids = {r["qid"] for r in roots}
    per_q: dict = {}
    for s in spans:
        if s["qid"] in qids:
            per_q.setdefault(s["name"], {}).setdefault(s["qid"], 0.0)
            per_q[s["name"]][s["qid"]] += selfs[s["id"]]

    def per_query(name):
        by_q = per_q.get(name, {})
        return sum(by_q.values()) / len(qids) if qids else 0.0

    out = {m: per_query(n) for m, n in _PER_QUERY_SPANS.items()}
    out["planner.build_s"] = per_query("planner.plan")
    covs = [coverage(r, spans) for r in roots]
    out["tracing.span_coverage"] = min(covs) if covs else 0.0
    return out


def engine_layers(records: list[dict], dataset_rows: int) -> dict:
    """Spark-side counters from each traced query's ``stats`` block."""
    stats = [r["stats"] for r in records if r.get("stats")]
    if not stats:
        return {}
    inv = [s["invoker"] for s in stats]
    wk = [s["worker"] for s in stats]
    return {
        "engine.jobs": mean([i["jobs"] for i in inv]),
        "engine.stages": mean([i["stages"] for i in inv]),
        "engine.tasks": mean([i["totalTasks"] for i in inv]),
        "engine.executor_run_s": mean([w["executorRunSeconds"] for w in wk]),
        "engine.executor_cpu_s": mean([w["executorCpuSeconds"] for w in wk]),
        "engine.gc_s": mean([w["jvmGcSeconds"] for w in wk]),
        "engine.scan_passes": mean([w["scannedRows"] / dataset_rows
                                    for w in wk]),
        "engine.shuffle_write_bytes": mean([w["shuffleWriteBytes"]
                                            for w in wk]),
        "engine.spill_bytes": mean([w["diskSpilledBytes"] for w in wk]),
        "planner.route_segmented": sum(
            1 for s in stats
            if s["strategies"]["sequence"] == "fold_segmented"
            or s["strategies"].get("autoRoutedSegmented")),
    }


def router_decisions(records: list[dict]) -> list[dict]:
    """The planner's routing choice for each traced query."""
    out = []
    for r in records:
        st = (r.get("stats") or {}).get("strategies")
        if st:
            out.append({"shape": r["shape"], "sequence": st["sequence"],
                        "autoRouteReason": st["autoRouteReason"],
                        "routeEstimates": st["routeEstimates"],
                        "rowUniverse": st["rowUniverse"]})
    return out


def tracing_overhead(records: list[dict]) -> float:
    """1 - traced throughput / untraced throughput, from interleaved
    traced and untraced queries: the mean latency of each shape seen both
    ways, summed over those shapes."""
    both = {r["shape"] for r in records if r["traced"]} & \
        {r["shape"] for r in records if not r["traced"]}
    if not both:
        return 0.0

    def total(traced):
        return sum(mean([r["wall"] for r in records
                         if r["shape"] == s and r["traced"] == traced])
                   for s in both)

    return 1.0 - total(False) / total(True)


def register_layers(spans: list[dict]) -> dict:
    """Re-registration spans (``catalog.register`` with a ``jobs`` count),
    excluding the first registration of the run."""
    regs = [s for s in spans if s["name"] == "catalog.register"][1:]
    return {"catalog.register_s": median([s["end"] - s["start"]
                                          for s in regs]),
            "catalog.register_jobs": median([s.get("jobs", 0)
                                             for s in regs])}


def per_shape(records: list[dict]) -> dict:
    """Median latency per shape, for the detail output only."""
    by: dict = {}
    for r in records:
        by.setdefault(r["shape"], []).append(r["wall"])
    return {k: median(v) for k, v in by.items()}
