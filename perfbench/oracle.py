"""DuckDB oracle check of the curation-mix results.

Each query's result (written by the benchmark's untimed set-up pass, one
parquet directory per query) is compared, as a multiset of rows, with what
the query's `SparkEntry.oracleSql` statement returns over the same input
tables. The oracle results depend only on the tables and the SQL, so they
are cached under the build directory, keyed by both.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd


def _key(tables, sqls):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(tables, "*.parquet"))):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    h.update(json.dumps(sqls, sort_keys=True).encode())
    return h.hexdigest()[:16]


def _connect(tables):
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(tables, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def _canon(df):
    """Rows in a canonical order, columns by name; list-valued cells become
    their JSON text so that lists and arrays of equal values compare equal."""
    df = df.copy()
    for c in df.columns:
        if df[c].dtype == object and any(
                not isinstance(v, (str, bytes, type(None))) for v in df[c]):
            df[c] = [json.dumps(v.tolist() if hasattr(v, "tolist") else v, default=str)
                     for v in df[c]]
    cols = sorted(df.columns)
    return df[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)


def _same(exp, got):
    return (sorted(exp.columns) == sorted(got.columns) and len(exp) == len(got)
            and _canon(exp).equals(_canon(got)))


def check(work, tables, cache_root, names):
    """Names of the queries whose result differs from the oracle."""
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        sqls = {k: v for k, v in json.load(fh).items() if k in names}
    cache = os.path.join(cache_root, _key(tables, sqls))
    os.makedirs(cache, exist_ok=True)
    con = None
    bad = []
    for name in names:
        exp_path = os.path.join(cache, f"{name}.pkl")
        if not os.path.isfile(exp_path):
            if con is None:
                con = _connect(tables)
            con.sql(sqls[name]).df().to_pickle(exp_path)
        exp = pd.read_pickle(exp_path)
        parts = glob.glob(os.path.join(work, "results", name, "*.parquet"))
        if not parts:
            bad.append(name)
            continue
        got = duckdb.sql(f"SELECT * FROM read_parquet({parts!r})").df()
        if not _same(exp, got):
            bad.append(name)
    return bad
