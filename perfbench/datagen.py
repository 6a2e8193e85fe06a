"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one Parquet
file each, with the column names, types and value distributions of the
engine's sf test corpus: a TPC-H-shaped star schema, an ``events`` click
stream spread evenly over 30 days and an LLM-curation corpus (word-salad
documents, unit-norm 64-dim embeddings). The same ``(seed, sf)`` always
yields byte-identical tables.

The documents follow the process measured on the sf0.1 corpus: word
salads of 10 to 99 words drawn uniformly from a 30-word vocabulary, plus
5% near-duplicates, each a copy of an earlier document with the word
``dup`` appended (so two copies of one document are exact duplicates, and
a copy of a copy ends in ``dup dup``), the whole list then shuffled.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as papq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.150, 0.149, 0.148, 0.141]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["small", "red", "blue", "hot", "large", "old", "cold", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
#: share of documents that are a copy of an earlier one plus the word "dup"
NEAR_DUP_SHARE = 0.05
NEAR_DUP_MARK = "dup"

_DAY_US = 86_400_000_000


def _days_since_epoch(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def _dates(rng, n: int, lo: tuple, hi: tuple) -> pa.Array:
    days = rng.integers(_days_since_epoch(*lo), _days_since_epoch(*hi) + 1, n)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _documents(rng, n: int) -> pa.Table:
    vocab = np.asarray([w for w in VOCAB if w != NEAR_DUP_MARK], dtype=object)
    n_dup = round(n * NEAR_DUP_SHARE)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
             for _ in range(n - n_dup)]
    for _ in range(n_dup):
        texts.append(f"{texts[int(rng.integers(0, len(texts)))]} {NEAR_DUP_MARK}")
    texts = [texts[i] for i in rng.permutation(n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``(seed, sf)``; row counts scale with ``sf``
    (sf0.1: 150k orders, 600k line items, 100k events, 5k documents)."""
    rng = np.random.default_rng(seed % 2**63)  # any int seed, negative too
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), max(500, int(20_000 * sf)), int(15_000 * sf)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), pa.float64()),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), pa.float64()),
    })
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500_000.0)),
        "o_orderdate": _dates(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105_000.0)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.10, n_li), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_li), 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _dates(rng, n_li, (1995, 1, 2), (2001, 11, 4)),
    })
    start_us = _days_since_epoch(2024, 1, 1) * _DAY_US
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(start_us + offsets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every table as ``out_dir/<name>.parquet`` (one file, one row
    group, like the test corpus)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        papq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                         row_group_size=max(1, table.num_rows))
