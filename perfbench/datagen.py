"""Seeded synthetic tables for the query workloads.

The catalog queries read ten Parquet tables: a TPC-H-like star schema
(region, nation, customer, supplier, part, orders, lineitem), an ``events``
stream, a ``documents`` corpus with ~5% near-duplicates and an
``embeddings`` table of unit vectors.  ``write_tables`` draws all of them
from one seed with NumPy and writes one Parquet file per table, so the
benchmark needs no external data set.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
#: rows per table at scale 1.0 (scale 0.01 is the size the oracle checks use)
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000,
             "events": 1_000_000, "documents": 50_000, "embeddings": 50_000}
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "green")
PART_NOUN = ("ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "zh", "es", "de", "fr")
DIM = 64


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return d.astype("datetime64[us]")


def make_tables(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * scale)) for k, v in BASE_ROWS.items()}
    i32, i64 = np.int32, np.int64
    t = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32),
                                "r_name": REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32)})
    nc = n["customer"]
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    np_ = n["part"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(np_, dtype=i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, np_),
                                              rng.choice(PART_NOUN, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": rng.integers(1, 51, np_).astype(i32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1)})
    no = n["orders"]
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=i64),
        "o_custkey": rng.integers(0, nc, no).astype(i64),
        "o_orderstatus": rng.choice(("F", "O", "P"), no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(i64),
        "l_partkey": rng.integers(0, np_, nl).astype(i64),
        "l_suppkey": rng.integers(0, ns, nl).astype(i64),
        "l_linenumber": rng.integers(1, 8, nl).astype(i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), nl),
        "l_linestatus": rng.choice(("F", "O"), nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04")})
    ne = n["events"]
    gaps = rng.exponential(260.0, ne)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + np.cumsum(gaps * 1e6).astype("timedelta64[us]"))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=i64),
        "ts": ts,
        "user_id": rng.integers(0, max(10, ne // 66), ne).astype(i64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    x = rng.standard_normal((nv, DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(nv, dtype=i64), "embedding": list(x),
        "label": rng.integers(0, 10, nv).astype(i32)})
    return t


def _documents(rng, nd: int) -> pd.DataFrame:
    """Random-word documents; every 20th is a copy of an earlier one with a
    " dup" suffix under another language and source."""
    texts, langs, sources = [], [], []
    for i in range(nd):
        if i >= 20 and i % 20 == 0:
            j = int(rng.integers(0, i))
            texts.append(texts[j] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(VOCAB, k)))
        langs.append(LANGS[int(rng.choice(5, p=(.44, .15, .14, .14, .13)))])
        sources.append(f"src{i % 20}")
    return pd.DataFrame({"doc_id": np.arange(nd, dtype=np.int64),
                         "text": texts, "lang": langs, "source": sources,
                         "n_chars": np.array([len(s) for s in texts],
                                             dtype=np.int64)})


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (one file each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_tables(seed, scale).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", pa.array(df["embedding"].map(list),
                                         type=pa.list_(pa.float32())))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
