#!/usr/bin/env python3
"""Compares query results with DuckDB running each query's oracle SQL over
the same parquet tables, with the rules of scripts/check.py, whose table
list and `normalize` (columns sorted by name, rows sorted by every column)
are imported from there: then an exact frame comparison with dtypes
ignored. A query without output files, with another column set or another
row count fails.

Oracle results are cached under .bench_build/oracle, keyed by the SQL text
and the bytes of the input files. To drop the cache, so that the next runs
recompute every oracle:

    python3 perfbench/check_queries.py --rebuild
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_build", "oracle")

_spec = importlib.util.spec_from_file_location(
    "repo_check", os.path.join(ROOT, "scripts", "check.py"))
_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_check)
TABLES, normalize = _check.TABLES, _check.normalize


def data_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            h.update(t.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def connect(data_dir, tmp_dir):
    con = duckdb.connect()
    os.makedirs(tmp_dir, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_frame(con, sql, digest):
    key = hashlib.sha256((digest + "\0" + sql).encode()).hexdigest()
    path = os.path.join(CACHE, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).fetchdf()
    os.makedirs(CACHE, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    df.to_pickle(tmp)
    os.replace(tmp, path)
    return df


def compare(con, files, expected):
    """None when the output equals the oracle, else the reason."""
    if not files:
        return "no output files"
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    g, e = normalize(got), normalize(expected)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
    except AssertionError as ex:
        return str(ex)[:300]
    return None


def check(out_dir, data_dir, ops, oracle_sql):
    """Checks every successful query operation of every round. Returns
    {(name, round): reason} for the failures."""
    con = connect(data_dir, os.path.join(out_dir, "duckdb_tmp"))
    digest = data_digest(data_dir)
    failures = {}
    for op in ops:
        if op["kind"] != "query" or op["status"] != "ok":
            continue
        key = (op["name"], op["round"])
        sql = oracle_sql.get(op["name"])
        if sql is None:
            failures[key] = "no oracle SQL"
            continue
        try:
            expected = oracle_frame(con, sql, digest)
        except Exception as ex:  # an oracle error fails the query, as in check.py
            failures[key] = f"oracle error {ex}"
            continue
        files = sorted(glob.glob(os.path.join(out_dir, f"r{op['round']}", op["name"], "*.parquet")))
        reason = compare(con, files, expected)
        if reason is not None:
            failures[key] = reason
    con.close()
    return failures


if __name__ == "__main__":
    if sys.argv[1:] != ["--rebuild"]:
        raise SystemExit(__doc__)
    shutil.rmtree(CACHE, ignore_errors=True)
    print(f"dropped {CACHE}; the next runs recompute the oracles")
