"""DuckDB oracle comparison for the benchmark's cold-pass results.

Runs the catalog's oracle SQL in DuckDB over the same input tables and
compares with the rule of the engine's own gate, scripts/check.py (columns
sorted by name, rows sorted by value, cells compared with `cell_eq`).
Oracle answers depend only on (input, SQL), so they are cached under
`cache_dir`.
"""
import glob
import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from check import TABLES, canon, cell_eq  # noqa: E402


def compare(got, exp):
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"SCHEMA_MISMATCH spark={list(g.columns)} duck={list(e.columns)}"
    if len(g) != len(e):
        return f"ROWCOUNT_MISMATCH spark={len(g)} duck={len(e)}"
    for c in g.columns:
        gv, ev = g[c].tolist(), e[c].tolist()
        for i, (x, y) in enumerate(zip(gv, ev)):
            if not cell_eq(x, y):
                return f"VALUE_MISMATCH col={c} row={i} spark={x!r} duck={y!r}"
    return None


def compare_all(oracle_sql, results_dir, data_dir, cache_dir):
    """{op: (ok, message)} for every op that has an oracle."""
    con = None
    cache = os.path.join(cache_dir, os.path.basename(data_dir))
    os.makedirs(cache, exist_ok=True)
    verdict = {}
    for op, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(results_dir, op, "*.parquet"))
        if not files:
            verdict[op] = (False, "MISSING_RESULT")
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{op}-{key}.pkl")
        if os.path.exists(path):
            exp = pd.read_pickle(path)
        else:
            if con is None:
                con = duckdb.connect()
                con.execute(f"SET threads={os.cpu_count()}")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{data_dir}/{t}.parquet')")
            try:
                exp = con.execute(sql).fetchdf()
            except Exception as e:  # an oracle that cannot run is a failure
                verdict[op] = (False, f"ORACLE_SQL_ERROR: {e}")
                continue
            exp.to_pickle(path + ".partial")
            os.replace(path + ".partial", path)
        bad = compare(got, exp)
        verdict[op] = (bad is None, bad or f"OK rows={len(got)}")
    return verdict
