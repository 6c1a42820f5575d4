"""Oracle check of a run's results.

Each operation's result, written as parquet by the JVM after the timed
passes, is compared with the DuckDB oracle SQL (`SparkEntry.oracleSql`)
over the same generated inputs, with the normalisation of
`tools/parity.py`: columns sorted by name, rows sorted, values equal.
"""
import glob
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from parity import TABLES, norm  # noqa: E402


def verdict(con, result_dir, sql):
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return "NO_OUTPUT"
    if sql is None:
        return "NO_ORACLE"
    got = norm(con.execute(f"SELECT * FROM read_parquet('{files[0]}')").fetchdf())
    try:
        exp = norm(con.execute(sql).fetchdf())
    except Exception as e:  # the oracle itself failed: the check cannot pass
        return f"ORACLE_SQL_ERROR: {e}"
    if list(got.columns) != list(exp.columns):
        return f"SCHEMA_MISMATCH spark={list(got.columns)} duck={list(exp.columns)}"
    if len(got) != len(exp):
        return f"ROWCOUNT spark={len(got)} duck={len(exp)}"
    if not got.equals(exp):
        for c in got.columns:
            neq = ~((got[c] == exp[c]) | (got[c].isna() & exp[c].isna()))
            if neq.any():
                i = neq.idxmax()
                return f"VALUE_MISMATCH col={c} row={i} spark={got[c][i]!r} duck={exp[c][i]!r}"
        return "VALUE_MISMATCH (dtypes)"
    return "OK"


def check(data_dir, work_dir, names, thrown):
    """Return {name: verdict} for every operation; "OK" means it matched."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(work_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for name in sorted(set(names)):
        if name in thrown:
            out[name] = f"THREW {thrown[name]}"
        else:
            out[name] = verdict(con, os.path.join(work_dir, "results", name), oracle.get(name))
    return out
