"""DuckDB oracle compare for the queries workload's checked outputs.

Each registry query carries equivalent ANSI SQL (GraftQuery.oracle).
The harness writes every query's result once, in its set-up pass, to
parquet; this module runs the oracle SQL in DuckDB over the same input
tables and compares the two results order-insensitively: columns sorted
by name, floats compared at 6 significant digits, rows sorted. This is
the canonical form scripts/check.py uses, kept here so the benchmark's
check does not change when that development script does.
"""
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, (float, np.floating)):
        v = float(v)
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in list(v))
    return v


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1).map(_norm)
    return df.sort_values(by=list(df.columns),
                          key=lambda s: s.map(repr)).reset_index(drop=True)


def compare(data_dir, outputs, tmp_dir):
    """outputs: {step: {"query", "dir", "sql"}}. Returns {step: None | why}."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    verdicts = {}
    for step, o in outputs.items():
        if not o.get("sql"):
            verdicts[step] = "no oracle SQL"
            continue
        try:
            got = canon(pd.read_parquet(o["dir"]))
            want = canon(con.execute(o["sql"]).df())
        except Exception as e:  # a broken output is a failed check
            verdicts[step] = f"compare error: {e}"[:300]
            continue
        if list(got.columns) != list(want.columns):
            verdicts[step] = f"columns {list(got.columns)} != oracle {list(want.columns)}"
        elif len(got) == 0 and len(want) == 0:
            verdicts[step] = None
        elif got.equals(want):
            verdicts[step] = None
        else:
            verdicts[step] = f"result differs from oracle: {got.shape} vs {want.shape}"
    con.close()
    return verdicts
