"""DuckDB oracle for the batch workloads.

Each sampled query's `SparkEntry.oracleSql` runs once per data directory in
DuckDB and its result is cached as a pickled DataFrame; a run compares the
program's written result against it with the repository's oracle rules:
columns sorted by name, rows sorted, int-vs-float dtype drift is a failure,
and values compare exactly (or by their string form).
"""
import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _key(name, sql):
    return f"{name}.{hashlib.sha256(sql.encode()).hexdigest()[:12]}.pkl"


def _connect(data_dir, tmp_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '4GB'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET max_temp_directory_size = '4GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def prepare(data_dir, oracle_dir, sqls):
    """Computes and caches the oracle result of every query not cached yet.
    Returns {name: reason} for the queries whose oracle could not be
    computed; those count as failed."""
    errors = {}
    os.makedirs(oracle_dir, exist_ok=True)
    todo = {n: s for n, s in sqls.items()
            if s is None or not os.path.exists(os.path.join(oracle_dir, _key(n, s)))}
    con = None
    for name, sql in sorted(todo.items()):
        if sql is None:
            continue  # no oracle: compare() reports it
        con = con or _connect(data_dir, os.path.join(oracle_dir, ".tmp"))
        try:
            df = con.execute(sql).fetchdf()
        except duckdb.Error as e:
            errors[name] = f"oracle SQL failed: {str(e)[:200]}"
            continue
        for f in os.listdir(oracle_dir):
            if f.startswith(name + "."):
                os.remove(os.path.join(oracle_dir, f))
        df.to_pickle(os.path.join(oracle_dir, _key(name, sql)))
    # remember which SQL each name uses, for compare()
    for name, sql in sqls.items():
        with open(os.path.join(oracle_dir, name + ".current"), "w") as f:
            f.write("" if sql is None or name in errors else _key(name, sql))
    return errors


def _cells_equal(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    try:
        eq = a == b
        if isinstance(eq, np.ndarray):
            eq = eq.all() and len(a) == len(b)
        if eq:
            return True
    except (TypeError, ValueError):
        pass
    return str(a) == str(b)


def _sorted(df):
    try:
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    except TypeError:  # unorderable cells (arrays): order rows by their string form
        order = df.astype(str).sort_values(by=list(df.columns), kind="mergesort").index
        return df.loc[order].reset_index(drop=True)


def compare(result_dir, oracle_dir, name):
    """None when the result at `result_dir` equals the cached oracle result,
    else a one-line reason."""
    key = open(os.path.join(oracle_dir, name + ".current")).read()
    if not key:
        return "no oracle result for this query"
    want = pd.read_pickle(os.path.join(oracle_dir, key))
    try:
        got = duckdb.connect().execute(
            f"SELECT * FROM parquet_scan('{result_dir}/*.parquet')").fetchdf()
    except duckdb.Error as e:
        return f"result unreadable: {str(e)[:200]}"
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    drift = [c for c in gc if {got[c].dtype.kind, want[c].dtype.kind} == {"i", "f"}]
    if drift:
        return f"int-vs-float dtype drift in {drift}"
    g, w = _sorted(got[gc]), _sorted(want[wc])
    for c in gc:
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        try:
            same = np.asarray(gv == wv, dtype=bool)
            if same.shape != (len(gv),):
                raise ValueError
        except (TypeError, ValueError):
            same = np.zeros(len(gv), dtype=bool)
        for i in np.flatnonzero(~same):
            if not _cells_equal(gv[i], wv[i]):
                return f"col {c} row {i}: spark={gv[i]!r} duckdb={wv[i]!r}"
    return None
