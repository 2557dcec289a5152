"""Fixed synthetic tables for the ``operators`` workload.

The operator battery (``__spark_entry__.queries()``) reads a TPC-H-like
star schema plus ``documents``, ``embeddings`` and ``events`` tables from
one directory. This module writes a small copy of that layout with the
same column names and types, from a fixed seed, so op digests can be
recorded once and compared on every run. The run seed does not reach it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
COLORS = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
THINGS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024 = 1_704_067_200 * 1_000_000


def _ts(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="int64"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build(root: str, scale: float = 1.0) -> dict[str, int]:
    """Write every table under ``root``; returns rows per table.

    ``scale=1`` gives 1,500 customers, 15,000 orders and about 60,000
    line items (the row counts of a TPC-H sf0.01 slice)."""
    rng = np.random.default_rng(SEED)
    n_cust, n_ord = int(1500 * scale), int(15000 * scale)
    n_part, n_supp = int(2000 * scale), max(10, int(100 * scale))
    n_docs, n_vecs, n_events = int(500 * scale), int(500 * scale), int(10000 * scale)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(COLORS)} {rng.choice(THINGS)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    odate = EPOCH_1995 + rng.integers(0, 2400, n_ord) * DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype("float64")
    ship = odate[okey] + rng.integers(-900, 900, n_li) * DAY_US
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(ship),
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(10, 100))))
        if i % 25 == 3:
            # the phrase t34_phrase_match searches for
            texts[-1] += " hash value table"
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    gaps = rng.exponential(260.0, n_events) * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps).astype("int64")),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events),
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    os.makedirs(root, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
