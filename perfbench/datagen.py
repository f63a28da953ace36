"""Seeded generator of the benchmark's input tables.

Writes any of the ten source tables the program reads (`region nation
customer supplier part orders lineitem events documents embeddings`), one
parquet file each. The schemas are those of the repository's test data,
and the value ranges and distributions are close to them. Row counts scale
with `sf` the way the test data's do (sf 0.1: 600k lineitem rows). The
same seed and scale always give byte-identical inputs.
"""
from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.15, 0.145]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window", "hello"]


def row_counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: datetime, end: datetime, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def tables(seed: int, sf: float, names=ALL_TABLES) -> dict[str, pa.Table]:
    """The generated tables, keyed by name. Each table draws from its own
    stream of the seed, so asking for a subset does not change the rest."""
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}
    streams = dict(zip(ALL_TABLES, np.random.SeedSequence(seed).spawn(len(ALL_TABLES))))

    def rng(name):
        return np.random.default_rng(streams[name])

    if "region" in names:
        out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                                  "r_name": REGIONS})
    if "nation" in names:
        out["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if "customer" in names:
        r, k = rng("customer"), n["customer"]
        out["customer"] = pa.table({
            "c_custkey": np.arange(k, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": r.integers(0, 25, k).astype(np.int32),
            "c_acctbal": _cents(r, -999.99, 9999.99, k),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, k)]})
    if "supplier" in names:
        r, k = rng("supplier"), n["supplier"]
        out["supplier"] = pa.table({
            "s_suppkey": np.arange(k, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": r.integers(0, 25, k).astype(np.int32),
            "s_acctbal": _cents(r, -999.99, 9999.99, k)})
    if "part" in names:
        r, k = rng("part"), n["part"]
        names_ = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        out["part"] = pa.table({
            "p_partkey": np.arange(k, dtype=np.int64),
            "p_name": np.array(names_)[r.integers(0, len(names_), k)],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
            "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), k)],
            "p_size": r.integers(1, 51, k).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 1)})
    if "orders" in names:
        r, k = rng("orders"), n["orders"]
        out["orders"] = pa.table({
            "o_orderkey": np.arange(k, dtype=np.int64),
            "o_custkey": r.integers(0, n["customer"], k).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)],
            "o_totalprice": _cents(r, 1000.0, 500000.0, k),
            "o_orderdate": _days(r, datetime(1995, 1, 1), datetime(2001, 8, 1), k),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, k)]})
    if "lineitem" in names:
        r, k = rng("lineitem"), n["lineitem"]
        qty = r.integers(1, 51, k).astype(np.float64)
        out["lineitem"] = pa.table({
            "l_orderkey": r.integers(0, n["orders"], k).astype(np.int64),
            "l_partkey": r.integers(0, n["part"], k).astype(np.int64),
            "l_suppkey": r.integers(0, n["supplier"], k).astype(np.int64),
            "l_linenumber": r.integers(1, 8, k).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, k), 2),
            "l_discount": r.integers(0, 11, k) / 100.0,
            "l_tax": r.integers(0, 9, k) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, k)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, k)],
            "l_shipdate": _days(r, datetime(1995, 1, 2), datetime(2001, 11, 4), k)})
    if "events" in names:
        r, k = rng("events"), n["events"]
        start = np.datetime64(datetime(2024, 1, 1), "us")
        offs = np.sort(r.integers(0, 30 * 86_400_000_000, k))
        out["events"] = pa.table({
            "event_id": np.arange(k, dtype=np.int64),
            "ts": start + offs.astype("timedelta64[us]"),
            "user_id": r.integers(0, max(1, int(15_000 * sf)), k).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, k)],
            "value": np.round(r.exponential(50.0, k), 2),
            "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)]})
    if "documents" in names:
        r, k = rng("documents"), n["documents"]
        vocab = np.array(VOCAB)
        texts = [" ".join(vocab[r.integers(0, len(vocab), m)])
                 for m in r.integers(8, 100, k)]
        # a few exact and near duplicates, as crawled corpora have
        for i in range(0, k - 1, 97):
            texts[i + 1] = texts[i] if i % 2 == 0 else texts[i] + " " + vocab[i % len(vocab)]
        out["documents"] = pa.table({
            "doc_id": np.arange(k, dtype=np.int64), "text": texts,
            "lang": np.array(LANGS)[r.choice(len(LANGS), k, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    if "embeddings" in names:
        r, k = rng("embeddings"), n["embeddings"]
        v = r.standard_normal((k, 64)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        out["embeddings"] = pa.table({
            "vec_id": np.arange(k, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                np.arange(0, 64 * k + 1, 64, dtype=np.int32), v.reshape(-1)),
            "label": r.integers(0, 10, k).astype(np.int32)})
    return out


def write(out_dir: str, seed: int, sf: float, names=ALL_TABLES) -> dict[str, int]:
    """Write the tables as `<out_dir>/<name>.parquet`; returns file sizes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables(seed, sf, names).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, compression="snappy")
        sizes[name] = os.path.getsize(path)
    return sizes
