"""The benchmark's workloads and everything the seed decides.

A workload names the program's ops it runs, the scale of its generated
inputs and the tables those ops read. The seed decides three things: the
generated tables (see `datagen`), the op order of every pass, and, for
`lake_write`, the write batches. The same seed always gives the same plan.
"""
from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

WORKLOADS = {
    # The reference's analyst use case: star joins and aggregates over the
    # gold zone, which the cold pass builds into the empty artifact store,
    # plus the events stream joined to the customer dimension, run to
    # completion inside its builder call (checkpoint WAL, offset commits,
    # per-trigger planning). Work outside the tasks (resolution, Catalyst,
    # codegen, stage dispatch) dominates.
    "star_analytics": {
        "sf": 0.01,
        "tables": STAR_TABLES + ["events"],
        # the cold pass first builds the gold zone into the empty store
        "gold": True,
        # steady passes run until the time is used, and at least this many
        "min_passes": 3,
        "ops": [
            "Analytics/q1_sales_per_month", "Analytics/q2_top_parts",
            "Analytics/q3_top_customers", "Analytics/q4_sales_by_nation",
            "Analytics/q5_supplier_popularity", "Analytics/tpch_pricing_summary",
            "RelOps/window_rank_per_group", "RelOps/rollup_sales",
            "EventsStream/stream_enrich_join",
        ],
        # read the stored gold zone: compare their cold times cold to cold
        "memo_ops": [
            "Analytics/q1_sales_per_month", "Analytics/q2_top_parts",
            "Analytics/q3_top_customers", "Analytics/q4_sales_by_nation",
            "Analytics/q5_supplier_popularity",
        ],
    },
    # Writes beside reads: the ETL into an empty lake, then a seeded
    # MERGE / DELETE / compaction loop with a full read after each commit.
    "lake_write": {
        "sf": 0.01,
        "tables": STAR_TABLES,
        "ops": [],
        "memo_ops": [],
        "timed_ops": ["lake_write/merge", "lake_write/delete", "lake_write/read"],
        # a round is short: four give each commit kind enough samples
        "min_passes": 4,
    },
}


def summary_ops(w: dict) -> list[str]:
    """The ops whose latencies `op_geomean_ms` summarizes."""
    return w.get("timed_ops") or w["ops"]


#: Passes planned per run; a run stops early when its time is used.
MAX_PASSES = 200
#: Rows per MERGE batch, as a share of the orders table.
BATCH_SHARE = 0.02
#: Every COMPACT_EVERY-th round of lake_write ends with a compaction.
COMPACT_EVERY = 3


def rng_for(seed: int, purpose: str) -> np.random.Generator:
    """An independent stream of the seed for one purpose."""
    tag = sum(ord(c) * 31 ** i for i, c in enumerate(purpose)) % (2 ** 32)
    return np.random.default_rng([seed, tag])


def op_orders(seed: int, n_ops: int, passes: int = MAX_PASSES) -> list[list[int]]:
    """A seeded permutation of the op indices for every pass."""
    r = rng_for(seed, "op-order")
    return [r.permutation(n_ops).tolist() for _ in range(passes)]


def lake_batches(seed: int, orders: pa.Table, out_dir: str,
                 rounds: int = MAX_PASSES) -> list[dict]:
    """Seeded write batches over the orders table, written as parquet.

    Each round has a MERGE batch (updates of existing keys and inserts of
    new ones, with distinct keys in a batch) and a key range to DELETE.
    Updated keys are drawn from the original key range, so some rounds hit
    rows that an earlier round inserted or deleted."""
    r = rng_for(seed, "lake-batches")
    n = orders.num_rows
    keys = orders.column("o_orderkey").to_numpy()
    per = max(10, int(n * BATCH_SHARE))
    next_key = int(keys.max()) + 1
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for i in range(rounds):
        n_ins = per // 4
        upd = r.choice(next_key, size=per - n_ins, replace=False)
        ins = np.arange(next_key, next_key + n_ins)
        next_key += n_ins
        k = np.concatenate([upd, ins]).astype(np.int64)
        m = len(k)
        batch = pa.table({
            "o_orderkey": k,
            "o_custkey": r.integers(0, 1000, m).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, m)],
            "o_totalprice": np.round(r.uniform(1000.0, 500000.0, m), 2),
            "o_orderdate": (np.datetime64("1995-01-01", "us")
                            + r.integers(0, 2400, m).astype("timedelta64[D]")
                            .astype("timedelta64[us]")),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM"])[r.integers(0, 3, m)],
        }, schema=orders.schema)
        path = os.path.join(out_dir, f"batch{i:04d}.parquet")
        pq.write_table(batch, path)
        lo = int(r.integers(0, next_key))
        out.append({"merge": os.path.abspath(path), "delete_lo": lo,
                    "delete_hi": lo + max(1, per // 8),
                    "compact": (i + 1) % COMPACT_EVERY == 0})
    return out


def make_plan(name: str, seed: int, work: str) -> tuple[dict, int]:
    """Generate a run's inputs under `work` from the seed, and return the
    harness plan with the bytes of source parquet the workload reads."""
    w = WORKLOADS[name]
    data_dir = os.path.join(work, "data")
    sizes = datagen.write(data_dir, seed, w["sf"], w["tables"])
    plan = {
        "workload": name, "data_dir": data_dir, "work_dir": work,
        "tables": w["tables"], "ops": w["ops"], "memo_ops": w["memo_ops"],
        "gold": w.get("gold", False), "min_steady": w["min_passes"],
        "orders": op_orders(seed, len(w["ops"])) if w["ops"] else [],
        "batches": [],
    }
    if name == "lake_write":
        orders = pq.read_table(os.path.join(data_dir, "orders.parquet"))
        plan["batches"] = lake_batches(seed, orders, os.path.join(work, "batches"), rounds=64)
    return plan, sum(sizes.values())
