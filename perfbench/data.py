"""The benchmark's own star schema, generated from a fixed seed.

The tables have the column names, types and value ranges of the engine's
test tables (a TPC-H-style star schema plus ``events``, ``documents`` and
``embeddings``) at 1/100 of TPC-H sf1: 60 000 lineitems, 15 000 orders.
Nothing outside the checkout is read.  The base tables are the same for
every ``--seed``; the seed drives what each workload does with them.

The tables are written once per checkout under ``.perfbench/data`` and
reused by later runs (writing them takes about a second).
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "v1"
BASE_SEED = 20261017

N_REGION, N_NATION = 5, 25
N_SUPPLIER, N_PART, N_CUSTOMER = 100, 2000, 1500
N_ORDERS, N_LINEITEM = 15_000, 60_000
N_EVENTS, N_USERS = 10_000, 150
N_DOCS, N_VECS, DIM = 500, 500, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a the data table row column key value part line order customer query "
    "scan filter join agg group sort merge hash window batch stream spark "
    "vector big small fast slow"
).split()
COLORS = "red blue green black white small large tiny old new".split()
THINGS = "ring widget anvil gear bolt valve plate spring".split()

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(N_REGION), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(N_NATION), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATION)],
        "n_regionkey": pa.array([i % N_REGION for i in range(N_NATION)], pa.int32()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.permutation(N_SUPPLIER) % N_NATION, pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
    })
    retail = np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{COLORS[a]} {THINGS[b]}" for a, b in zip(
            rng.integers(0, len(COLORS), N_PART), rng.integers(0, len(THINGS), N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": retail,
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, N_NATION, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), N_CUSTOMER)],
    })
    order_days = rng.integers(0, 2404, N_ORDERS)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": _ts(EPOCH_1995 + order_days * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
    })
    okey = rng.integers(0, N_ORDERS, N_LINEITEM)
    pkey = rng.integers(0, N_PART, N_LINEITEM)
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey] * rng.uniform(0.98, 1.02, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _ts(EPOCH_1995 + (order_days[okey] + rng.integers(1, 122, N_LINEITEM)) * DAY_US),
    })
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, N_EVENTS))
    t["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(60.0, N_EVENTS) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 50 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 90)))]
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, N_VECS)
    centroids = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centroids[labels] + rng.normal(0.0, 0.6, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def ensure_tables(root: Path) -> Path:
    """Return the directory of ``<table>.parquet`` files, writing it first
    if this checkout has none yet."""
    out = root / "data" / VERSION
    if (out / "_DONE").exists():
        return out
    tmp = root / "data" / f".{VERSION}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in _tables(np.random.default_rng(BASE_SEED)).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    (tmp / "_DONE").write_text("ok\n")
    try:
        tmp.rename(out)
    except OSError:  # another run finished first; its tables are identical
        shutil.rmtree(tmp, ignore_errors=True)
    return out
