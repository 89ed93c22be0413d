"""Result checks made apart from the engine.

The harness checks the mr_job tallies itself (against the generator's
tally) and requires every warm pass to reproduce the first pass's rows
exactly. This module checks the first pass's rows of `iterative`: the
engine's DuckDB oracle SQL (`SparkEntry.oracleSql`) on the same input
files, compared sorted and order-insensitively (the normalisation of
`tools/check.py`); the oracle's answer is cached per seed.

`external` returns ({operation: reason} for wrong results, correct),
where `correct` is False only when a check itself could not be made.
"""
import glob
import hashlib
import json
import os
import pickle
import sys

import duckdb
import pandas as pd

TABLES = ["embeddings"]


def _cell(v):
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if hasattr(v, "tolist") and getattr(v, "ndim", 0):
        return tuple(_cell(x) for x in v.tolist())
    return v


def norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.floor("us").astype("datetime64[ns]")
        elif df[c].dtype == object:
            df[c] = df[c].map(_cell)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def result(out, name):
    files = glob.glob(f"{out}/results/{name}/*.parquet")
    return pd.concat([pd.read_parquet(f) for f in files]) if files else None


def compare(got, exp):
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != oracle {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows != oracle {len(exp)}"
    if not got.equals(exp):
        return f"{int((got.values != exp.values).any(axis=1).sum())} rows differ from the oracle"
    return None


def oracle_check(data, out, raw, oracles):
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        if os.path.exists(f"{data}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = {}
    for name in [r["name"] for r in raw["passes"][0] if r["ok"]]:
        sql = oracles.get(name)
        got = result(out, name)
        if sql is None or got is None:
            raise RuntimeError(f"{name}: no oracle or no result to check")
        cache = f"{data}/oracle-{name}-{hashlib.sha1(sql.encode()).hexdigest()[:12]}.pkl"
        if os.path.exists(cache):
            with open(cache, "rb") as f:
                exp = pickle.load(f)
        else:
            exp = norm(con.execute(sql).df())
            with open(cache, "wb") as f:
                pickle.dump(exp, f)
        why = compare(norm(got), exp)
        if why:
            bad[name] = f"{name}: {why}"
    return bad


def external(workload, data, out, raw):
    try:
        if workload == "iterative":
            with open(f"{out}/oracle_sql.json") as f:
                return oracle_check(data, out, raw, json.load(f)), True
        return {}, True
    except Exception as e:  # a check that cannot be made is not a pass
        print(f"perfbench: check could not be made: {e}", file=sys.stderr)
        return {}, False
