"""Seeded input tables for the benchmark.

Writes the ten tables the engine's catalog reads (``catalog.TABLES``)
as parquet files with the same column names, types and value
distributions as the engine's test data: a TPC-H-shaped star schema, a
behavioural ``events`` table, a ``documents`` corpus over the same
31-word vocabulary with ~5% near-duplicates, and unit-norm
``embeddings``. At scale 0.1 the row counts equal the sf0.1 test data's,
and the pipeline queries run the same jobs, stages and tasks on both
(but corpus_prep_pipeline_lsh: 35 vs 34 jobs), with shuffle bytes
within 8% for every query that shuffles more than 1 MB. Every value comes from ``numpy.random.default_rng(seed)``,
so one seed always gives byte-identical tables and a different seed
gives a different but same-shaped input.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_US_PER_DAY = 86_400 * 1_000_000
_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    """All ten tables at ``scale`` (1.0 ≈ 1.5 M orders, like TPC-H SF1)."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * scale))
    n_orders = max(200, int(1_500_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_events = max(500, int(1_000_000 * scale))
    n_docs = max(50, int(50_000 * scale))
    n_vecs = max(50, int(20_000 * scale))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })

    order_day = rng.integers(0, 2400, n_orders)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _ts(_ORDER_EPOCH + order_day * _US_PER_DAY),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })

    lines_per_order = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per_order.sum())
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lines).astype(np.int64),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_lines)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_lines)],
        "l_shipdate": _ts(
            _ORDER_EPOCH + (order_day[l_order] + rng.integers(1, 122, n_lines)) * _US_PER_DAY
        ),
    })

    # events: ~30 days of activity, ids in time order
    gaps = rng.exponential(30 * _US_PER_DAY / n_events, n_events)
    ev_ts = np.minimum(np.cumsum(gaps).astype(np.int64), 30 * _US_PER_DAY - 1)
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(_EVENT_EPOCH + ev_ts),
        "user_id": rng.integers(0, n_cust // 10, n_events).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    # documents: random vocabulary text; ~5% copy another doc + " dup"
    lengths = rng.integers(10, 100, n_docs)
    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), k)) for k in lengths]
    for i in rng.choice(n_docs, max(1, n_docs // 20), replace=False):
        texts[i] = texts[(i + 1 + int(rng.integers(0, n_docs - 1))) % n_docs] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_vecs, 64)) + 0.15 * centres[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tb in tables(seed, scale).items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tb.num_rows
    return counts

