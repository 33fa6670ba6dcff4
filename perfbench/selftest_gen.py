"""Self-test of the seeded input generators.

    python3 perfbench/selftest_gen.py

Checks that one seed always gives the same content digest and another seed
a different one, that the engine table has the row count, user count,
event-type shares and timestamp type its spec states (and BENCHMARK.json's
``serve`` line repeats), and that the catalog tables have their stated
sizes. Prints one line per check; exits 1 if any fails.
"""

from __future__ import annotations

import json
import os
import sys
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import gen
from common import ROOT

def check(name: str, ok: bool, detail: str = "") -> bool:
    print(f"{'ok  ' if ok else 'FAIL'} {name} {detail}".rstrip())
    return ok


def engine_checks() -> Iterator[bool]:
    spec = gen.ENGINE_SPEC
    a = gen.engine_table(7, spec["rows"], spec["users"])
    again = gen.engine_table(7, spec["rows"], spec["users"])
    other = gen.engine_table(8, spec["rows"], spec["users"])
    d = gen.digest({"events": a})
    yield check("engine digest is stable", d == gen.digest({"events": again}))
    yield check("engine digest depends on seed",
          d != gen.digest({"events": other}))
    yield check("engine rows", a.num_rows == spec["rows"], str(a.num_rows))
    users = len(pc.unique(a.column("user_id")))
    yield check("engine users", users == spec["users"], str(users))
    yield check("engine ts is int64 nanoseconds",
          a.schema.field("ts").type == pa.int64()
          and pc.min(a.column("ts")).as_py() >= gen.TS0_NS
          and pc.max(a.column("ts")).as_py()
          < gen.TS0_NS + gen.SPAN_DAYS * gen.NANOS_DAY)
    counts = {r["values"]: r["counts"] for r in
              pc.value_counts(a.column("event_type")).to_pylist()}
    shares = np.array([counts.get(t, 0) / a.num_rows
                       for t in gen.EVENT_TYPES])
    yield check("engine event-type shares", bool(
        np.all(np.abs(shares - np.array(gen.EVENT_SHARES)) < 0.01)),
        " ".join(f"{t}={s:.3f}" for t, s in zip(gen.EVENT_TYPES, shares)))
    per_user = pc.value_counts(a.column("user_id")).field("counts")
    yield check("engine has heavy users",
          pc.max(per_user).as_py() > 5 * spec["rows"] / spec["users"],
          f"max rows per user {pc.max(per_user).as_py()}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        why = {w["name"]: w["why"] for w in json.load(fh)["workloads"]}
    yield check("BENCHMARK.json states the serve table",
          f"{spec['rows']} rows" in why.get("serve", "")
          and f"{spec['users']} users" in why.get("serve", ""))


def catalog_checks() -> Iterator[bool]:
    spec = gen.CATALOG_SPEC
    a = gen.catalog_tables(3)
    yield check("catalog digest is stable",
          gen.digest(a) == gen.digest(gen.catalog_tables(3)))
    yield check("catalog digest depends on seed",
          gen.digest(a) != gen.digest(gen.catalog_tables(4)))
    for table in gen.CATALOG_TABLES:
        yield check(f"catalog {table} rows", a[table].num_rows == spec[table],
              str(a[table].num_rows))
    users = len(pc.unique(a["events"].column("user_id")))
    yield check("catalog events users", users == spec["users"], str(users))
    dims = pc.list_value_length(a["embeddings"].column("embedding"))
    yield check("catalog embedding dim",
          pc.min(dims).as_py() == pc.max(dims).as_py() == spec["dim"])


if __name__ == "__main__":
    results = [*engine_checks(), *catalog_checks()]
    sys.exit(0 if all(results) else 1)
