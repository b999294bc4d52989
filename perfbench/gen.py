"""Seeded input generator for the benchmark.

Writes the engine's synthetic star schema (``catalog.TABLES``) as one
parquet file per table, with the column names, types and value ranges of
the fixture tables the engine's correctness tests use: TPC-H-like
``region nation customer supplier part orders lineitem``, an ``events``
stream table, a token-soup ``documents`` corpus with planted near
duplicates, and unit-norm 64-d ``embeddings`` loosely clustered by
label. The same seed gives the same tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PART_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
PART_ADJ = ["blue", "old", "small", "new", "cold", "large", "hot", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "rod", "anvil", "plate"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.39, 0.16, 0.16, 0.15, 0.14]
VOCAB = (
    "scan column window order sort part agg value line key join merge"
    " group query a vector hash slow stream filter fast the batch spark"
    " table small data big customer row"
).split()

_DAY0 = datetime(1995, 1, 1)
_EVENT0 = datetime(2024, 1, 1)
_SHIP_DAYS = (1, 2499)  # l_shipdate offsets from _DAY0, end exclusive
#: The newest possible ship date: the "today" of a refresh over these inputs.
LAST_SHIPDATE = (_DAY0 + timedelta(days=_SHIP_DAYS[1] - 1)).date()


@dataclass(frozen=True)
class Sizes:
    """Row counts per table: the engine's sf0.001 tables, with a smaller
    corpus because the DuckDB oracles of the corpus ops grow with the
    square of the document count."""

    orders: int = 1500
    lineitem: int = 6000
    customer: int = 150
    supplier: int = 10
    part: int = 200
    events: int = 1000
    documents: int = 200
    embeddings: int = 500
    dim: int = 64


SIZES = Sizes()


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> list:
    return [_DAY0 + timedelta(days=int(d)) for d in rng.integers(lo, hi, n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    """Build every table in memory from ``seed``."""
    rng = np.random.default_rng(seed)
    s = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(s.customer), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(s.customer)],
            "c_nationkey": pa.array(rng.integers(0, 25, s.customer), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, s.customer),
            "c_mktsegment": rng.choice(SEGMENTS, s.customer).tolist(),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(s.supplier), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s.supplier)],
            "s_nationkey": pa.array(rng.integers(0, 25, s.supplier), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s.supplier),
        }
    )
    keys = np.arange(s.part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_ADJ, s.part), rng.choice(PART_NOUN, s.part)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.part)],
            "p_type": rng.choice(PART_TYPES, s.part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, s.part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 200) * 0.1, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(s.orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, s.customer, s.orders), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], s.orders).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, s.orders),
            "o_orderdate": pa.array(_days(rng, 0, 2404, s.orders), pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, s.orders).tolist(),
        }
    )
    n = s.lineitem
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, s.orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, s.part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s.supplier, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
            "l_linestatus": rng.choice(["O", "F"], n).tolist(),
            "l_shipdate": pa.array(_days(rng, *_SHIP_DAYS, n), pa.timestamp("us")),
        }
    )
    n = s.events
    offsets_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [_EVENT0 + timedelta(microseconds=int(u)) for u in offsets_us],
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, max(1, n // 66), n), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n).tolist(),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    out["documents"] = _documents(rng, s.documents)
    out["embeddings"] = _embeddings(rng, s.embeddings, s.dim)
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Token-soup documents; about 5% are a one-token edit of an earlier
    document plus a trailing ``dup`` token (the near duplicates the
    dedup operators look for)."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    x = 0.15 * centers[labels] + rng.normal(size=(n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write(seed: int, out_dir: str) -> str:
    """Write every table to ``out_dir/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
