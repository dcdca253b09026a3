"""Benchmark inputs, generated from a seed inside the checkout.

``write_dataset`` writes the ten engine tables (TPC-H-shaped star
schema plus events, documents and embeddings) with the column types and
value ranges of the engine's sf0.001 test fixture: independent uniform
columns, Poisson-spaced event timestamps, a 30-word document vocabulary
with near-duplicate copies, and unit-norm 64-d embeddings. The read
workloads use one such dataset built from a fixed seed, so its oracle
results can be cached across runs.

``write_ingest_inputs`` writes what ``dfs_ingest`` uploads and folds:
random-byte files and batches of ``orders`` rows, all drawn from the
run's ``--seed``.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated content changes, so cached datasets and
# oracle results from an older generator are rebuilt.
VERSION = 1
DATASET_SEED = 42

ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 15
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "scan column window order sort part agg value line key join merge group"
    " query a vector hash slow stream filter fast the batch spark table small"
    " data big customer row"
).split()

I32, I64, F64, STR = pa.int32(), pa.int64(), pa.float64(), pa.string()
TS = pa.timestamp("us")


def _days(rng, n: int, first: dt.date, last: dt.date) -> np.ndarray:
    span = (last - first).days + 1
    base = np.datetime64(first, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict, types: dict) -> None:
    table = pa.table({c: pa.array(v, type=types[c]) for c, v in cols.items()})
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng) -> dict:
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus one or two markers
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def write_dataset(out_dir: str, seed: int = DATASET_SEED) -> None:
    """Write the ten tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    _write(out_dir, "region",
           {"r_regionkey": range(5), "r_name": REGIONS},
           {"r_regionkey": I32, "r_name": STR})
    _write(out_dir, "nation",
           {"n_nationkey": range(25),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)]},
           {"n_nationkey": I32, "n_name": STR, "n_regionkey": I32})

    n = ROWS["customer"]
    _write(out_dir, "customer",
           {"c_custkey": np.arange(n),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n),
            "c_acctbal": money(-999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n)},
           {"c_custkey": I64, "c_name": STR, "c_nationkey": I32,
            "c_acctbal": F64, "c_mktsegment": STR})

    n = ROWS["supplier"]
    _write(out_dir, "supplier",
           {"s_suppkey": np.arange(n),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n),
            "s_acctbal": money(-999.99, 9999.99, n)},
           {"s_suppkey": I64, "s_name": STR, "s_nationkey": I32,
            "s_acctbal": F64})

    n = ROWS["part"]
    _write(out_dir, "part",
           {"p_partkey": np.arange(n),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, n), rng.choice(PART_NOUN, n))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": rng.integers(1, 51, n),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2)},
           {"p_partkey": I64, "p_name": STR, "p_brand": STR, "p_type": STR,
            "p_size": I32, "p_retailprice": F64})

    _write(out_dir, "orders", orders_rows(rng, 0, ROWS["orders"],
                                          dt.date(1995, 1, 1),
                                          dt.date(2001, 8, 1)), ORDERS_TYPES)

    n = ROWS["lineitem"]
    _write(out_dir, "lineitem",
           {"l_orderkey": rng.integers(0, ROWS["orders"], n),
            "l_partkey": rng.integers(0, ROWS["part"], n),
            "l_suppkey": rng.integers(0, ROWS["supplier"], n),
            "l_linenumber": rng.integers(1, 8, n),
            "l_quantity": rng.integers(1, 51, n).astype(float),
            "l_extendedprice": money(900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _days(rng, n, dt.date(1995, 1, 2),
                                dt.date(2001, 11, 4))},
           {"l_orderkey": I64, "l_partkey": I64, "l_suppkey": I64,
            "l_linenumber": I32, "l_quantity": F64, "l_extendedprice": F64,
            "l_discount": F64, "l_tax": F64, "l_returnflag": STR,
            "l_linestatus": STR, "l_shipdate": TS})

    n = ROWS["events"]
    span_us = 30 * 86400 * 10**6
    gaps = rng.exponential(span_us / n, n)
    offsets = np.minimum(np.cumsum(gaps), span_us - 1).astype("int64")
    _write(out_dir, "events",
           {"event_id": np.arange(n),
            "ts": np.datetime64("2024-01-01", "us")
            + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, EVENT_USERS, n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(60.0, n) + 0.01, 2),
            "props": [json.dumps({"k": int(k)})
                      for k in rng.integers(0, 100, n)]},
           {"event_id": I64, "ts": TS, "user_id": I64, "event_type": STR,
            "value": F64, "props": STR})

    _write(out_dir, "documents", _documents(rng),
           {"doc_id": I64, "text": STR, "lang": STR, "source": STR,
            "n_chars": I64})

    n = ROWS["embeddings"]
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings",
           {"vec_id": np.arange(n), "embedding": list(vecs),
            "label": rng.integers(0, 10, n)},
           {"vec_id": I64, "embedding": pa.list_(pa.float32()),
            "label": I32})


ORDERS_TYPES = {
    "o_orderkey": I64, "o_custkey": I64, "o_orderstatus": STR,
    "o_totalprice": F64, "o_orderdate": TS, "o_orderpriority": STR,
}


def orders_rows(rng, first_key: int, n: int, first: dt.date,
                last: dt.date) -> dict:
    return {
        "o_orderkey": np.arange(first_key, first_key + n),
        "o_custkey": rng.integers(0, ROWS["customer"], n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _days(rng, n, first, last),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    }


# dfs_ingest input sizes: a pass uploads UPLOAD_FILES random files and
# folds ORDER_BATCHES batches of orders rows spread over ORDER_DAYS days
# (two batches: the second replaces rows and merges partial aggregates).
UPLOAD_FILES = 1
UPLOAD_BYTES = (200_000, 1_500_000)
ORDER_BATCHES = 2
ORDER_ROWS = 300
ORDER_DAYS = 6


def write_ingest_inputs(out_dir: str, seed: int) -> dict:
    """Write dfs_ingest's inputs for ``seed``; return their manifest:
    ``files`` (name -> path of a random-byte file, under ``uploads/``)
    and ``orders`` (paths of the batch parquet files, in fold order).
    Batch k > 0 re-issues a third of batch k-1's keys, on the same day
    but with new values, so the keyed upsert replaces rows as well as
    inserting them."""
    rng = np.random.default_rng([seed, VERSION])
    up_dir = os.path.join(out_dir, "uploads")
    os.makedirs(up_dir, exist_ok=True)
    files = {}
    for i in range(UPLOAD_FILES):
        name = f"blob{i:02d}.bin"
        path = os.path.join(up_dir, name)
        with open(path, "wb") as f:
            f.write(rng.bytes(int(rng.integers(*UPLOAD_BYTES))))
        files[name] = path
    first = dt.date(2024, 3, 1)
    last = first + dt.timedelta(days=ORDER_DAYS - 1)
    orders = []
    next_key = 10_000_000
    prev = None
    for b in range(ORDER_BATCHES):
        cols = orders_rows(rng, next_key, ORDER_ROWS, first, last)
        next_key += ORDER_ROWS
        if prev is not None:
            pick = rng.choice(ORDER_ROWS, ORDER_ROWS // 3, replace=False)
            for c in ("o_orderkey", "o_orderdate"):
                cols[c][: len(pick)] = prev[c][pick]
        prev = cols
        path = os.path.join(out_dir, f"orders_batch{b}.parquet")
        _write(out_dir, f"orders_batch{b}", cols, ORDERS_TYPES)
        orders.append(path)
    return {"files": files, "orders": orders}
