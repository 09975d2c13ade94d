"""DuckDB oracle check of the benchmark's query results.

Each result the harness wrote is compared with the query's
`SparkEntry.oracleSql` twin run by DuckDB over the same generated input,
with the rules of `tools/check.py`: same columns, same row count, floats
equal within rtol = atol = 1e-9, other values equal, nulls equal nulls.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd


def compare_frames(got, exp):
    """None when equal under the oracle rules, else why not."""
    g = got[sorted(got.columns)].reset_index(drop=True)
    e = exp[sorted(exp.columns)].reset_index(drop=True)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            bad = ~(np.isclose(gv.astype(float), ev.astype(float), rtol=1e-9,
                               atol=1e-9, equal_nan=True) | (gv.isna() & ev.isna()))
        else:
            bad = ~((gv == ev) | (gv.isna() & ev.isna()))
        if bad.any():
            i = int(np.argmax(bad.values))
            return (f"col {c} row {i}: got {gv.iloc[i]!r} exp {ev.iloc[i]!r} "
                    f"({int(bad.sum())} mismatches)")
    return None


def check(data_dir, result_dir, oracle_sql):
    """{query: None | reason} for every query in `oracle_sql`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for q, sql in sorted(oracle_sql.items()):
        try:
            if not sql:
                raise ValueError("no oracle twin")
            got = pd.read_parquet(os.path.join(result_dir, q))
            exp = con.execute(sql).fetchdf()
            out[q] = compare_frames(got, exp)
        except Exception as e:  # a throw is a failed check, not a crash
            out[q] = f"{type(e).__name__}: {e}"
    con.close()
    return out
