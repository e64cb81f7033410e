"""Seeded generator for the star-schema tables the suite queries read.

Writes ``region nation customer supplier part orders lineitem events documents
embeddings`` as one Parquet file each, with the column names, physical types
and value domains the query suite expects (FIXTURES.md §4): TPC-H-like keys
and categoricals, tz-naive microsecond timestamps, JSON ``props`` strings,
near-duplicate documents (a copy of another document plus `` dup``) and unit
64-d float32 embeddings with a weak per-label offset.

Row counts are those of the sf0.001 tier and do not depend on the seed, so
every seed gives the same amount of work.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_LANGS = ["de", "en", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_DAY_US = 86_400_000_000


def _days(rng: np.random.Generator, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days, size) * _DAY_US


def _write(out: Path, name: str, columns: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(columns), out / f"{name}.parquet", compression="snappy")


def generate(out_dir: str, seed: int) -> int:
    """Write every table under ``out_dir``; return the bytes written."""
    rng = np.random.default_rng(seed)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_line, n_users = 1500, 6000, 15
    n_events, n_docs, n_vecs = 1000, 500, 500

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([
            f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)),
    })
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_line), pa.timestamp("us")),
    })
    ts = np.sort(
        np.datetime64("2024-01-01", "us").astype(np.int64) + rng.integers(0, 30 * _DAY_US, n_events)
    )
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.uniform(0.01, 330.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })

    texts = [" ".join(rng.choice(_VOCAB, rng.integers(8, 90))) for _ in range(n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[(i + 1 + rng.integers(0, n_docs - 1)) % n_docs] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_DOC_LANGS, n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, 64))
    vecs = rng.normal(size=(n_vecs, 64)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return sum(f.stat().st_size for f in out.glob("*.parquet"))
