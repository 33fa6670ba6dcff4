"""Seeded input generators for the benchmark workloads.

Every table is a pure function of the seed: numpy's PCG64 stream drives
all columns, so one seed always yields the same rows and the same content
digest. Generated inputs are cached under ``perfbench/.cache`` per
(workload, seed), so only the first run with a seed pays for generation.

Two input families:

* the **engine table** (``serve``): one event table keyed by
  ``user_id`` with an int64 epoch-nanosecond ``ts``, the layout the
  Funnel Rocket query engine consumes;
* the **catalog tables** (``operators``): small seeded stand-ins for the
  ``events``/``lineitem``/``documents``/``embeddings`` parquet files the
  ``benchqueries`` catalog reads, with the column names and types its
  DuckDB oracles expect.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NANOS_DAY = 86_400 * 10**9
TS0_NS = 1_700_000_000 * 10**9  # 2023-11-14T22:13:20Z
SPAN_DAYS = 90

EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
EVENT_SHARES = (0.50, 0.25, 0.08, 0.12, 0.05)

# The engine table's size; BENCHMARK.json's ``serve`` line states the same
# figures and the self-test checks both.
ENGINE_SPEC = {"rows": 100_000, "users": 10_000}
CATALOG_SPEC = {"events": 20_000, "users": 2_000, "lineitem": 60_000,
                "documents": 1_000, "embeddings": 1_000, "dim": 64}

CATALOG_TABLES = ("events", "lineitem", "documents", "embeddings")

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         ".cache")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _strings(codes: np.ndarray, labels) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(codes.astype(np.int32)), pa.array(list(labels))
    ).dictionary_decode()


def events_columns(seed: int, rows: int, users: int) -> dict:
    """Event rows: every user id in ``[0, users)`` appears at least once,
    the remaining rows go to users with lognormal activity weights (a few
    heavy users, a long tail of light ones); event types follow
    EVENT_SHARES; ``ts`` is uniform over SPAN_DAYS in int64 nanoseconds;
    ``value`` has two decimals, so thresholds ending in 5 at the third
    decimal can never tie with a sum."""
    rng = _rng(seed, 1)
    weights = rng.lognormal(0.0, 1.0, users)
    weights /= weights.sum()
    uid = np.concatenate([np.arange(users, dtype=np.int64),
                          rng.choice(users, rows - users, p=weights)])
    rng.shuffle(uid)
    return {
        "event_id": np.arange(rows, dtype=np.int64),
        "user_id": uid.astype(np.int64),
        "ts": TS0_NS + rng.integers(0, SPAN_DAYS * NANOS_DAY, rows,
                                    dtype=np.int64),
        "event_type": _strings(
            rng.choice(len(EVENT_TYPES), rows, p=EVENT_SHARES), EVENT_TYPES),
        "value": rng.integers(1, 100_000, rows) / 100.0,
    }


def engine_table(seed: int, rows: int, users: int) -> pa.Table:
    return pa.table(events_columns(seed, rows, users))


def catalog_tables(seed: int, spec: dict = CATALOG_SPEC) -> dict:
    """The catalog's input tables at a small, seeded size."""
    ev = events_columns(seed, spec["events"], spec["users"])
    rng = _rng(seed, 2)
    n = spec["events"]
    events = pa.table({
        "event_id": ev["event_id"],
        "ts": pa.array(ev["ts"] // 1000, pa.timestamp("us")),
        "user_id": ev["user_id"],
        "event_type": ev["event_type"],
        "value": ev["value"],
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })

    rng = _rng(seed, 3)
    n = spec["lineitem"]
    day0 = 8_035  # 1992-01-01 in days since the epoch
    lineitem = pa.table({
        "l_orderkey": np.sort(rng.integers(0, n // 4, n)),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _strings(rng.integers(0, 3, n), ("A", "N", "R")),
        "l_linestatus": _strings(rng.integers(0, 2, n), ("F", "O")),
        "l_shipdate": pa.array(
            (day0 + rng.integers(0, 2_500, n)) * 86_400 * 10**6,
            pa.timestamp("us")),
    })

    rng = _rng(seed, 4)
    n = spec["documents"]
    vocab = np.array([f"w{i}" for i in range(400)])
    texts = []
    for i in range(n):
        if i % 10 == 9:  # planted near-duplicate of the previous document
            texts.append(texts[-1] + " " + vocab[rng.integers(0, 400)])
        else:
            ids = rng.zipf(1.3, rng.integers(20, 80)) % 400
            texts.append(" ".join(vocab[ids]))
    langs = ("en", "de", "fr", "es", "zh")
    documents = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _strings(rng.choice(5, n, p=(0.45, 0.15, 0.15, 0.15, 0.10)),
                         langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    rng = _rng(seed, 5)
    n, dim, k = spec["embeddings"], spec["dim"], 16
    centroids = rng.uniform(-1.0, 1.0, (k, dim))
    label = rng.integers(0, k, n)
    vecs = (centroids[label] + 0.25 * rng.uniform(-1.0, 1.0, (n, dim))
            ).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), dim).cast(pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    return {"events": events, "lineitem": lineitem, "documents": documents,
            "embeddings": embeddings}


def digest(tables: dict) -> str:
    """sha256 over every table's column names and values, independent of
    how parquet encodes them."""
    h = hashlib.sha256()
    for name in sorted(tables):
        t = tables[name]
        h.update(name.encode())
        for col in t.column_names:
            h.update(col.encode())
            for chunk in t.column(col).chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()


def _materialize(key: str, build) -> tuple[str, dict]:
    """Return (directory, manifest) of a cached input set, building it with
    ``build(tmpdir) -> manifest`` when absent.
    The directory is written under a temporary name and renamed, so an
    interrupted run never leaves a half-written cache entry."""
    path = os.path.join(CACHE_DIR, key)
    manifest = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest):
        _build(path, build)
    with open(manifest) as fh:
        return path, json.load(fh)


def _build(path: str, build) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = build(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(info, fh, indent=1)
    try:
        os.rename(tmp, path)
    except OSError:  # a concurrent run won the race; use its copy
        shutil.rmtree(tmp, ignore_errors=True)


def cached(directory: str, definition, compute):
    """``compute()``, stored in ``directory`` by the first call and read
    back by later ones; the file name is a digest of ``definition`` (any
    JSON-able description of what ``compute`` answers), so a changed
    definition never reads a stale answer."""
    key = hashlib.sha256(json.dumps(definition).encode()).hexdigest()[:16]
    path = os.path.join(directory, f"answers-{key}.pkl")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as fh:
            pickle.dump(compute(), fh)
        os.replace(tmp, path)
    with open(path, "rb") as fh:
        return pickle.load(fh)


def engine_dataset(seed: int) -> tuple[str, dict]:
    """Cached engine table: ``<dir>/events/part-0.parquet`` (the registered
    dataset is the ``events`` directory)."""
    def build(tmp):
        table = engine_table(seed, ENGINE_SPEC["rows"], ENGINE_SPEC["users"])
        os.makedirs(os.path.join(tmp, "events"))
        pq.write_table(table, os.path.join(tmp, "events", "part-0.parquet"))
        return {"seed": seed, "spec": ENGINE_SPEC,
                "digest": digest({"events": table})}

    return _materialize(f"serve-s{seed}", build)


def catalog_dataset(seed: int) -> tuple[str, dict]:
    """Cached catalog tables: ``<dir>/<table>.parquet``, a ``sf_dir`` for
    the ``benchqueries`` callables and their DuckDB oracles."""
    def build(tmp):
        tables = catalog_tables(seed)
        for name, table in tables.items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        return {"seed": seed, "spec": CATALOG_SPEC, "digest": digest(tables)}

    return _materialize(f"operators-s{seed}", build)
