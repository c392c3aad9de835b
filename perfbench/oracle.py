"""Compare the benchmark's result dump with the DuckDB oracle SQL that the
program's registry carries (`SparkEntry.oracleSql`).

Each query's output is sorted by every column (columns sorted by name)
on both sides; floats must match bit for bit, everything else as text.
A query without an oracle must return at least one row.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

from gen import TABLES


def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True,
                          na_position="last")


def _diff(got, exp):
    g, e = _canon(got), _canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    for c in g.columns:
        gv, ev = g[c].values, e[c].values
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            gn, en = pd.isna(gv), pd.isna(ev)
            if not (gn == en).all():
                return f"column {c}: null mask differs"
            if not np.array_equal(np.asarray(gv, float)[~gn], np.asarray(ev, float)[~en]):
                return f"column {c}: values differ"
        elif not (g[c].astype(str).values == e[c].astype(str).values).all():
            return f"column {c}: values differ"
    return None


def check(data_dir, verify_dir, names):
    """Returns {query name: reason} for every query whose output is wrong."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(verify_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = {}
    for name in names:
        files = sorted(glob.glob(os.path.join(verify_dir, name, "*.parquet")))
        if not files:
            bad[name] = "no output"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracle:
            if len(got) == 0:
                bad[name] = "rows-only check: 0 rows"
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"oracle error: {str(e).splitlines()[0][:200]}"
            continue
        reason = _diff(got, exp)
        if reason:
            bad[name] = reason
    return bad
