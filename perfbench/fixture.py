"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query registry reads (``region`` ...
``embeddings``, one parquet file each) with the schemas and value
distributions of the engine's test fixtures: a TPC-H-like star schema
whose row counts scale with ``sf``, an ``events`` table, and a fixed-size
text corpus with ~5% near-duplicate documents plus unit-norm embeddings.
The same ``(sf, seed)`` always produces byte-identical tables, so the
benchmark never depends on data outside its checkout.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "new", "hot", "old", "large", "small", "blue", "cold"]
PART_NOUN = ["bolt", "gear", "ring", "widget", "anvil", "gizmo", "plate", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64


def _days(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    """``n`` midnight timestamps drawn uniformly from [lo, hi]."""
    epoch = dt.date(1970, 1, 1)
    d = rng.integers((lo - epoch).days, (hi - epoch).days + 1, n)
    return pa.array(d.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_fixture(out_dir: str, sf: float, seed: int, n_docs: int) -> None:
    """Write every table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_orders = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, n_orders, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_orders, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    start_us = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)) + start_us
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(np.clip(rng.exponential(50.0, n_events), 0.01, 490.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            # "dup" only ever marks a near-duplicate.
            words = rng.choice([w for w in VOCAB if w != "dup"], int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] * 0.3 + rng.normal(0.0, 1.0, (n_docs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
