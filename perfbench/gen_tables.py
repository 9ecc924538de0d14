"""Seeded generator for the ten relational tables the catalog reads
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), written as one parquet file each.

The distributions follow the synthetic TPC-H-style star schema the
catalog's oracles were written against: uniform keys and dates, 2-decimal
money, an exponential event value, five languages and twenty sources of
bag-of-words documents of which 5% are an earlier document plus " dup"
and a few are exact copies, and unit-norm 64-d embeddings with ten labels.

``scale`` is the fraction of sf1: 0.01 gives 60k lineitem rows. The same
``seed`` and ``scale`` give byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "new", "blue", "old", "red", "large", "hot", "cold"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a the row key table value part hash join scan sort agg group filter "
    "order line customer query data column batch stream window merge spark "
    "vector small big fast slow"
).split()

_US = np.int64(1_000_000)
_DAY_US = 86_400 * _US


def _epoch_us(y: int, m: int, d: int) -> np.int64:
    return np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten tables as Arrow tables, deterministic in (seed, scale)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_li = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * scale))
    n_doc = max(200, int(50_000 * scale))
    n_vec = max(200, int(20_000 * scale))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pkeys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pkeys,
        "p_name": pa.array([
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pkeys % 1000) * 0.1, 1),
    })
    d0, d1 = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(d0 + rng.integers(0, (d1 - d0) // _DAY_US + 1, n_ord) * _DAY_US),
        "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
    })
    s0, s1 = _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["O", "F"], n_li),
        "l_shipdate": _ts(s0 + rng.integers(0, (s1 - s0) // _DAY_US + 1, n_li) * _DAY_US),
    })
    e0 = _epoch_us(2024, 1, 1)
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64)
    ts = np.minimum(e0 + np.cumsum(gaps), e0 + 30 * _DAY_US - 1)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(1, n_ev * 3 // 200), n_ev)),
        "event_type": _choice(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    t["documents"] = _documents(rng, n_doc)
    vecs = rng.standard_normal((n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _choice(rng, _LANGS, n, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    })


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
