"""The fixed 10-shape engine query mix and its DuckDB oracle.

Each shape is a Funnel Rocket query JSON (the reference's query language)
plus the SQL that answers it independently of Spark. Results from
``QueryEngine.run`` and from the HTTP API are reduced to one comparable
form by :func:`normalize`; the oracle builds the same form from DuckDB.

Semantics restated by the oracle (the same ones ``benchqueries`` gates):
a sequence step matches strictly after the previous step's earliest
match; ``maxDuration`` bounds the gap from the first step's earliest
match; a ``rowFound: false`` step requires no such row after the first
step's earliest match.
"""

from __future__ import annotations

import math

from gen import NANOS_DAY

SIGNUP = {"filter": ["event_type", "==", "signup"]}
CLICK = {"filter": ["event_type", "==", "click"]}
PURCHASE = {"filter": ["event_type", "==", "purchase"]}
ERROR = {"filter": ["event_type", "==", "error"]}
COUNT_PER_TYPE = {"column": "event_type", "type": "countPerValue"}
SUM_PER_TYPE = {"column": "event_type", "type": "sumPerValue",
                "otherColumn": "value"}

SHAPES = [
    ("empty", {}),
    ("count_target", {"query": {"conditions": [
        {**PURCHASE, "target": ["count", ">=", 3]}]}}),
    ("include_zero", {"query": {"conditions": [
        {**ERROR, "target": ["count", "==", 0], "includeZero": True}]}}),
    ("sum_target", {"query": {"conditions": [
        {**PURCHASE, "target": ["sum", "value", ">", 1000.005]}]}}),
    ("relation", {"query": {
        "relation": "($0 or $big_errors) and $2",
        "conditions": [
            PURCHASE,
            {**ERROR, "name": "big_errors",
             "target": ["sum", "value", ">=", 500.005]},
            {**CLICK, "target": ["count", ">=", 5]}]}}),
    ("sequence3", {"query": {"conditions": [
        {"sequence": [SIGNUP, CLICK, PURCHASE]}]}}),
    ("seq_max_duration", {"query": {"conditions": [
        {"sequence": [SIGNUP, PURCHASE], "maxDuration": 2 * NANOS_DAY}]}}),
    ("seq_row_not_found", {"query": {"conditions": [
        {"sequence": [SIGNUP, {**ERROR, "rowFound": False}, PURCHASE]}]}}),
    ("two_aggregations", {"query": {
        "conditions": [PURCHASE],
        "aggregations": [COUNT_PER_TYPE, SUM_PER_TYPE]}}),
    ("funnel_step_aggs", {"funnel": {
        "sequence": [SIGNUP, CLICK, PURCHASE],
        "stepAggregations": [COUNT_PER_TYPE]}}),
]

# matched-user SQL per shape (``funnel_step_aggs`` has no conditions)
_ALL = "SELECT DISTINCT user_id FROM events"
_S0 = ("s0 AS (SELECT user_id, min(ts) t FROM events "
       "WHERE event_type = 'signup' GROUP BY 1)")
_S1 = ("s1 AS (SELECT e.user_id, min(e.ts) t FROM events e JOIN s0 "
       "ON e.user_id = s0.user_id AND e.ts > s0.t "
       "WHERE e.event_type = 'click' GROUP BY 1)")
_S2 = ("s2 AS (SELECT e.user_id, min(e.ts) t FROM events e JOIN s1 "
       "ON e.user_id = s1.user_id AND e.ts > s1.t "
       "WHERE e.event_type = 'purchase' GROUP BY 1)")
_MATCHED = {
    "empty": _ALL,
    "count_target": (
        "SELECT user_id FROM events GROUP BY 1 HAVING "
        "count(*) FILTER (WHERE event_type = 'purchase') >= 3"),
    "include_zero": (
        "SELECT user_id FROM events GROUP BY 1 HAVING "
        "count(*) FILTER (WHERE event_type = 'error') = 0"),
    "sum_target": (
        "SELECT user_id FROM events WHERE event_type = 'purchase' "
        "GROUP BY 1 HAVING sum(value) > 1000.005"),
    "relation": (
        "SELECT user_id FROM events GROUP BY 1 HAVING "
        "(count(*) FILTER (WHERE event_type = 'purchase') >= 1 OR "
        " coalesce(sum(value) FILTER (WHERE event_type = 'error'), 0) "
        "   >= 500.005) AND "
        "count(*) FILTER (WHERE event_type = 'click') >= 5"),
    "sequence3": f"WITH {_S0}, {_S1}, {_S2} SELECT user_id FROM s2",
    "seq_max_duration": (
        f"WITH {_S0} SELECT DISTINCT e.user_id FROM events e JOIN s0 "
        "ON e.user_id = s0.user_id AND e.ts > s0.t "
        f"AND e.ts <= s0.t + {2 * NANOS_DAY} "
        "WHERE e.event_type = 'purchase'"),
    "seq_row_not_found": (
        f"WITH {_S0}, ok AS (SELECT * FROM s0 WHERE NOT EXISTS ("
        "  SELECT 1 FROM events e WHERE e.user_id = s0.user_id "
        "  AND e.event_type = 'error' AND e.ts > s0.t)) "
        "SELECT DISTINCT e.user_id FROM events e JOIN ok "
        "ON e.user_id = ok.user_id AND e.ts > ok.t "
        "WHERE e.event_type = 'purchase'"),
    "two_aggregations": (
        "SELECT user_id FROM events GROUP BY 1 HAVING "
        "count(*) FILTER (WHERE event_type = 'purchase') >= 1"),
    "funnel_step_aggs": _ALL,
}
_FUNNEL_STEPS = [f"WITH {_S0} SELECT user_id FROM s0",
                 f"WITH {_S0}, {_S1} SELECT user_id FROM s1",
                 f"WITH {_S0}, {_S1}, {_S2} SELECT user_id FROM s2"]
ORACLE_SQL = [_MATCHED, _FUNNEL_STEPS]  # what the cached answers depend on


def _group_block(con, users_sql: str, aggs: list) -> dict:
    con.execute(f"CREATE OR REPLACE TEMP TABLE m AS {users_sql}")
    groups, rows = con.execute(
        "SELECT (SELECT count(*) FROM m), (SELECT count(*) FROM events "
        "WHERE user_id IN (SELECT user_id FROM m))").fetchone()
    out = {"groups": int(groups), "rows": int(rows), "aggs": []}
    for agg in aggs:
        metric = {"countPerValue": "count(*)",
                  "sumPerValue": f"sum({agg.get('otherColumn')})"}[agg["type"]]
        vals = con.execute(
            f"SELECT {agg['column']}, {metric} FROM events "
            "WHERE user_id IN (SELECT user_id FROM m) GROUP BY 1").fetchall()
        out["aggs"].append((agg["type"], agg["column"],
                            {str(k): v for k, v in vals}))
    return out


def oracle(parquet_glob: str) -> dict:
    """Expected normalized result of every shape, computed by DuckDB."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{parquet_glob}'")
    want = {}
    for name, q in SHAPES:
        aggs = q.get("query", {}).get("aggregations") or []
        res = _group_block(con, _MATCHED[name], aggs)
        funnel = q.get("funnel")
        res["funnel"] = None if funnel is None else [
            _group_block(con, sql, funnel.get("stepAggregations") or [])
            for sql in _FUNNEL_STEPS]
        want[name] = res
    con.close()
    return want


def _norm_block(block: dict) -> dict:
    return {"groups": int(block["matchingGroups"]),
            "rows": int(block["matchingGroupRows"]),
            "aggs": [(a["type"], a["column"], dict(a["value"]))
                     for a in block.get("aggregations") or []]}


def normalize(result: dict) -> dict:
    """Engine/API result JSON → the oracle's comparable form."""
    out = _norm_block(result["query"])
    funnel = result.get("funnel")
    out["funnel"] = None if funnel is None else [
        _norm_block(s) for s in funnel["sequence"]]
    return out


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _block_equal(got: dict, want: dict) -> bool:
    if (got["groups"], got["rows"]) != (want["groups"], want["rows"]):
        return False
    if len(got["aggs"]) != len(want["aggs"]):
        return False
    for (gt, gc, gv), (wt, wc, wv) in zip(got["aggs"], want["aggs"]):
        if (gt, gc) != (wt, wc) or gv.keys() != wv.keys():
            return False
        if not all(_close(gv[k], wv[k]) for k in gv):
            return False
    return True


def matches(got: dict, want: dict) -> bool:
    if not _block_equal(got, want):
        return False
    if (got["funnel"] is None) != (want["funnel"] is None):
        return False
    if got["funnel"] is None:
        return True
    return (len(got["funnel"]) == len(want["funnel"])
            and all(_block_equal(g, w)
                    for g, w in zip(got["funnel"], want["funnel"])))
