"""Checks each query's collected result against its DuckDB oracle.

The comparison follows the project's oracle check (tools/check.py):
columns sorted by name, DuckDB column types equal, rows sorted, values
equal exactly, with NaN equal to NaN and 0.0 distinct from -0.0. A near
miss is a failure.
"""
import hashlib
import os
import pickle
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check  # noqa: E402  (the project's oracle comparison)
from check import TABLES, eq, rows_of  # noqa: E402

with open(check.__file__, "rb") as _f:
    _CHECK_DIGEST = hashlib.sha256(_f.read()).digest()


def _oracle_rows(con, oracle_sql, cache_dir):
    """The oracle's canonical rows, cached per (inputs, SQL, check.py):
    some oracles take seconds in DuckDB, and their answer only changes
    with one of these."""
    if cache_dir is None:
        return rows_of(con.sql(oracle_sql))
    path = os.path.join(cache_dir, hashlib.sha256(_CHECK_DIGEST + oracle_sql.encode()).hexdigest() + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    rows = rows_of(con.sql(oracle_sql))
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(rows, f)
    os.replace(path + ".tmp", path)
    return rows


def compare(con, result_dir, oracle_sql, cache_dir=None):
    """Returns None when the result matches the oracle, else the reason."""
    if not os.path.isdir(result_dir):
        return "no result written"
    got_cols, got_types, got = rows_of(con.sql(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')"))
    want_cols, want_types, want = _oracle_rows(con, oracle_sql, cache_dir)
    if got_cols != want_cols:
        return f"columns {got_cols} != oracle {want_cols}"
    if got_types != want_types:
        return f"column types {got_types} != oracle {want_types}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    bad = sum(1 for g, w in zip(got, want) if not all(eq(x, y) for x, y in zip(g, w)))
    return f"{bad}/{len(got)} rows differ from the oracle" if bad else None


def check(data_dir, out_dir, oracle_sql, queries, cache_dir=None):
    """Checks every distinct query of the run; returns {name: reason} for
    the ones that fail. `cache_dir` must be specific to the input tables."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    failed = {}
    for name in dict.fromkeys(queries):
        if name not in oracle_sql:
            failed[name] = "no oracle"
            continue
        try:
            reason = compare(con, os.path.join(out_dir, "results", name), oracle_sql[name], cache_dir)
        except Exception as e:  # an unreadable result or a failing oracle is a failure
            reason = f"check error: {e}"
        if reason:
            failed[name] = reason
    con.close()
    return failed
