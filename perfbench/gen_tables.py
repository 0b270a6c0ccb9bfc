"""Seeded star-schema tables for the registry workload.

The shapes follow the fixture tables the registry lanes and their DuckDB
oracles are written against (FIXTURES.md section A): the same table and
column names, physical types and value ranges, at a chosen scale factor.
The same seed and scale give byte-identical parquet files.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark sort window line order data column join small big customer query "
    "stream filter group vector ring"
).split()
EMBED_DIM = 64


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        words = rng.choice(VOCAB, int(rng.integers(8, 90)))
        texts.append(" ".join(words))
    # near-duplicates (one word swapped) give the dedup lanes work to find
    for i in rng.choice(n, max(1, n // 20), replace=False):
        words = texts[int(rng.integers(0, n))].split()
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[i] = " ".join(words)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n), pa.string()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(size=(10, EMBED_DIM))
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All registry input tables at scale ``sf`` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_ev = max(200, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 900.0, 500_000.0),
            "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
        }
    )
    start = np.datetime64(dt.datetime(2024, 1, 1), "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": _money(rng, n_ev, 0.0, 100.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_doc)
    return t


def write_tables(out_dir: Path, seed: int, sf: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
