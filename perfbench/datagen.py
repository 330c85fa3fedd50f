"""Seeded synthetic inputs for the benchmark.

Writes the ten catalog tables (``region nation customer supplier part
orders lineitem events documents embeddings``) as one parquet file each,
with the same column names, physical types and value domains as the
engine's reference test tables, so every registered query and its
DuckDB oracle run unchanged on them.  The same ``(seed, sf)`` always
yields byte-identical rows.

Row counts follow the reference scale rule: ``lineitem`` is
``6_000_000 * sf`` rows, ``events`` ``1_000_000 * sf`` over
``15_000 * sf`` users and 30 days (January 2024), ``documents`` and
``embeddings`` never fewer than 500 rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "error", "signup")
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = (
    "a the data row column table key value hash join merge sort scan filter "
    "group agg window stream batch query spark part line order customer "
    "vector big small fast slow"
).split()

#: First instant of the events table and its span in days.
EVENTS_START = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
EMBED_DIM = 64

def _epoch_us(t: dt.datetime) -> int:
    return int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _dates(rng: np.random.Generator, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    days = rng.integers(0, (hi - lo).days + 1, n)
    us = _epoch_us(lo) + days.astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _pick(rng: np.random.Generator, values, n: int, p=None) -> list[str]:
    idx = rng.choice(len(values), n, p=p)
    return [values[i] for i in idx]


def event_table(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """``events``: ``n`` rows ordered by time, ids in time order."""
    span_us = EVENT_DAYS * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + _epoch_us(EVENTS_START)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every catalog table under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array(_names("Customer", n_cust)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust)),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array(_names("Supplier", n_supp)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    })
    adj, noun = _pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(_pick(rng, PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(_pick(rng, ("F", "O", "P"), n_ord)),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": _dates(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord)),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 100000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ("A", "N", "R"), n_line)),
        "l_linestatus": pa.array(_pick(rng, ("F", "O"), n_line)),
        "l_shipdate": _dates(rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    })
    tables["events"] = event_table(rng, n_ev, n_cust // 10)
    lengths = rng.integers(8, 90, n_doc)
    texts = [" ".join(_pick(rng, VOCAB, int(k))) for k in lengths]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(_pick(rng, LANGS, n_doc, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    centers *= 1.2 / np.linalg.norm(centers, axis=1, keepdims=True)
    x = rng.normal(0.0, 1.0, (n_emb, EMBED_DIM)) / np.sqrt(EMBED_DIM) * 8.0
    x = (x + centers[labels]).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
