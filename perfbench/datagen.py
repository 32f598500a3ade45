"""Deterministic base tables for the benchmark.

Writes the engine's ten catalog tables (TPC-H-style star schema plus
`events`, `documents` and `embeddings`) at scale factor 0.1: 600k
lineitem, 150k orders and 100k events rows, about 17 MB of parquet.
Column names, types and value ranges follow the catalog the engine's
queries and oracles are written against.

The tables are a fixed input: they come from BASE_SEED, never from the
workload seed, so every run of every workload reads the same bytes and
only the statements and batches change with `--seed`.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
# Bump when the generated bytes change, so a stale cache is rebuilt.
VERSION = 1

N_LINEITEM = 600_000
N_ORDERS = 150_000
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64

WORDS = (
    "a the data query table column row key value hash sort join merge "
    "scan filter group agg window batch stream part line order customer "
    "spark vector fast slow big small"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "red", "green", "old", "new", "large", "small", "shiny"]
P_NOUN = ["bolt", "rod", "ring", "plate", "widget", "gizmo", "nut", "gear"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

_DAY_US = 86_400 * 1_000_000


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_since_epoch.astype(np.int64) * _DAY_US,
                    type=pa.timestamp("us"))


def _days(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def build_tables(seed: int = BASE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
    })
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": _pick(rng, names, N_PART),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, N_PART)]),
        "p_type": _pick(rng, P_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": pa.array(np.round(rng.integers(9000, 10000, N_PART) / 10, 1)),
    })
    d0, d1 = _days(1995, 1, 1), _days(2001, 8, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, N_ORDERS)),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    })
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, N_LINEITEM), 2)),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEM),
        "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEM),
        "l_shipdate": _ts(rng.integers(_days(1995, 1, 2), _days(2001, 11, 4) + 1, N_LINEITEM)),
    })
    t0 = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
    ts = np.sort(t0 + rng.integers(0, 30 * _DAY_US, N_EVENTS))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
        "value": pa.array(np.round(rng.exponential(60.0, N_EVENTS), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)]),
    })
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), int(n))])
             for n in rng.integers(8, 100, N_DOCS)]
    # a few verbatim duplicates, so dedup queries have work to fold
    for i in range(8):
        texts[N_DOCS - 1 - i] = texts[i * 7]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, N_DOCS),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.35, (N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def ensure_tables(cache_root: str) -> str:
    """Return a directory holding the ten tables, generating it once.

    The directory name carries VERSION; it is written under a temporary
    name and renamed, so an interrupted run never leaves a partial set."""
    final = os.path.join(cache_root, f"sf0.1-v{VERSION}")
    if os.path.isdir(final):
        return final
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, final)
    except OSError:  # another run finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def copy_tables(src: str, dest: str, names=None) -> None:
    """Per-run working copy of the tables (all, or those in `names`):
    statements may write beside them."""
    os.makedirs(dest, exist_ok=True)
    for f in sorted(os.listdir(src)):
        if names is None or f.removesuffix(".parquet") in names:
            shutil.copyfile(os.path.join(src, f), os.path.join(dest, f))
