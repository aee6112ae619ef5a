"""Output check for registry keys: each key's Spark output is compared
with its `SparkEntry.oracleSql` result in DuckDB, using the
canonicalization and the strict stringified-cell criterion of
`scripts/check.py`. Oracle results are cached per data directory (the
registry tables never change once generated)."""
import hashlib
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from check import TABLES, canon  # noqa: E402


def _cell(v):
    if not isinstance(v, tuple):
        try:
            if pd.isna(v):
                return "<null>"
        except (TypeError, ValueError):
            pass
    return repr(v)


def compare(spark_df, duck_df):
    """None when equal under check.py's criterion, else the reason."""
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"cols spark={list(a.columns)} duck={list(b.columns)}"
    for c in a.columns:
        ia, ib = (np.issubdtype(a[c].dtype, np.integer),
                  np.issubdtype(b[c].dtype, np.integer))
        fa, fb = (np.issubdtype(a[c].dtype, np.floating),
                  np.issubdtype(b[c].dtype, np.floating))
        if (ia and fb) or (fa and ib):
            return f"int/float dtype drift in {c}"
    if len(a) != len(b):
        return f"rows spark={len(a)} duck={len(b)}"
    for c in a.columns:
        bad = a[c].map(_cell) != b[c].map(_cell)
        if bad.any():
            return f"{c}: {int(bad.sum())} cells differ"
    return None


def check(data, out_dir, sqls, keys):
    """Compare every key in `keys`; returns {key: reason} for failures."""
    cache = f"{data}/.oracle"
    os.makedirs(cache, exist_ok=True)
    con = None
    bad = {}
    for k in keys:
        out = f"{out_dir}/{k}"
        if k not in sqls or not os.path.isdir(out):
            bad[k] = "no output or no oracle"
            continue
        ref = f"{cache}/{k}-{hashlib.sha1(sqls[k].encode()).hexdigest()[:12]}.pkl"
        if os.path.exists(ref):
            duck = pd.read_pickle(ref)
        else:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{data}/{t}.parquet')")
            try:
                duck = con.execute(sqls[k]).df()
            except Exception as e:  # an oracle error is a failed check
                bad[k] = f"oracle error {e}"
                continue
            duck.to_pickle(ref + ".tmp")
            os.replace(ref + ".tmp", ref)
        try:
            reason = compare(pd.read_parquet(out), duck)
        except Exception as e:
            reason = f"compare error {e}"
        if reason:
            bad[k] = reason
    return bad
