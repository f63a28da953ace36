"""Output checks for one run.

Read and stream ops are compared with the repository's DuckDB oracle
(`SparkEntry.oracleSql`) evaluated over the same generated tables, with
the normalization of `tools/verify_local.py`: columns sorted by name,
floats rounded to 4 places, timestamps to microseconds, values compared as
strings. An op without an oracle must return rows. `lake_write` compares
its final table with a plain model of the seeded batches.
"""
from __future__ import annotations

import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

KINDS = ("Sort", "Window", "Join", "Generate", "UDF")


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(4)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.reset_index(drop=True)


def compare(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """None when equal under the oracle normalization, else the first
    difference."""
    g, e = _norm(got), _norm(exp)
    if list(g.columns) != list(e.columns):
        return f"columns: got {list(g.columns)}, expected {list(e.columns)}"
    if len(g) != len(e):
        return f"rows: got {len(g)}, expected {len(e)}"
    gs, es = g.astype(str), e.astype(str)
    if not gs.equals(es):
        i = (gs != es).any(axis=1).idxmax()
        return f"row {i}: got {g.iloc[i].to_dict()}, expected {e.iloc[i].to_dict()}"
    return None


def read_output(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def oracle_checks(ops, oracle_sql: dict, data_dir: str, check_dir: str) -> dict:
    """Per op: None when the output matches, else the reason it does not."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in os.listdir(data_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    out = {}
    for op in ops:
        path = os.path.join(check_dir, op.replace("/", "."))
        if not os.path.isdir(path):
            out[op] = "no output written"
            continue
        got = read_output(path)
        sql = oracle_sql.get(op)
        if sql is None:
            out[op] = None if len(got) > 0 else "no rows (op has no oracle)"
            continue
        try:
            out[op] = compare(got, con.execute(sql).fetchdf())
        except duckdb.Error as e:
            out[op] = f"oracle error: {e}"
    con.close()
    return out


def plan_retention(kinds: dict) -> dict:
    """Per op of the cold pass: None when the optimized plan of its timed
    `noop` write kept every Sort, Window, Join, Generate and UDF node of the
    query's own optimized plan, else what it dropped."""
    out = {}
    for op, k in kinds.items():
        own, noop = k["own"], k["noop"]
        lost = [f"{n} {own[n]}->{noop.get(n, 0)}" for n in KINDS if noop.get(n, 0) < own[n]]
        out[op] = "dropped " + ", ".join(lost) if lost else None
    return out


def lake_check(data_dir: str, check_dir: str, batches, res) -> dict:
    """The write loop's final table against `lake_model` of the rounds the
    run completed."""
    oks = []
    for r in res["sections"].get("rounds", []):
        ok = {e["op"]: e["ok"] for e in res["execs"] if e["pass"] == r["pass"]}
        oks.append((ok.get("lake_write/merge", False), ok.get("lake_write/delete", False)))
    orders = read_output(os.path.join(data_dir, "orders.parquet"))
    expected = lake_model(orders, batches, len(oks), oks)
    path = os.path.join(check_dir, "lake_write.final")
    if not os.path.isdir(path):
        return {"lake_write/final": "final table not written"}
    got = read_output(path).sort_values("o_orderkey").reset_index(drop=True)
    return {"lake_write/final": compare(got, expected)}


def lake_model(orders: pd.DataFrame, batches, rounds_done: int,
               merged_ok) -> pd.DataFrame:
    """The table the write loop must leave: per `o_orderkey` the last
    writer wins, minus the keys in each DELETE range. `merged_ok[i]` says
    which commits of round i succeeded (merge, delete)."""
    t = orders.set_index("o_orderkey")
    for i in range(rounds_done):
        b = batches[i]
        ok_merge, ok_delete = merged_ok[i]
        if ok_merge:
            batch = read_output(b["merge"]).set_index("o_orderkey")
            t = pd.concat([t[~t.index.isin(batch.index)], batch])
        if ok_delete:
            t = t[~((t.index >= b["delete_lo"]) & (t.index <= b["delete_hi"]))]
    return t.reset_index().sort_values("o_orderkey").reset_index(drop=True)
