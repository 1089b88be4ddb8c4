"""Output check for the suite workloads: every query's result, written
as parquet by the benchmark JVM, must equal its DuckDB oracle SQL run
over the same generated tables, in the canonical form of the
repository's oracle checker (tools/check_oracle.py).
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import TABLES, canon  # noqa: E402


def queries(check_dir):
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        return list(json.load(f))


def check(data_dir, check_dir):
    """Return {query: reason} for every query whose result differs."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    failed = {}
    for name, sql in sorted(sqls.items()):
        if sql is None:
            failed[name] = "no oracle SQL"
            continue
        out = os.path.join(check_dir, name)
        if not os.path.isdir(out):
            failed[name] = "no result written"
            continue
        try:
            rel = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')")
            got = canon(rel.fetchall(), [d[0] for d in rel.description])
            rel = con.execute(sql)
            want = canon(rel.fetchall(), [d[0] for d in rel.description])
        except Exception as e:  # a broken result or oracle is a failed check
            failed[name] = f"check error: {e}"
            continue
        if got[0] != want[0]:
            failed[name] = f"columns {got[0]} != oracle {want[0]}"
        elif got[1] != want[1]:
            failed[name] = f"{len(got[1])} rows differ from the oracle's {len(want[1])}"
    return failed


def corrupt(check_dir):
    """Replace the first query's oracle SQL with a wrong one."""
    path = os.path.join(check_dir, "oracle_sql.json")
    with open(path) as f:
        sqls = json.load(f)
    sqls[sorted(sqls)[0]] = "SELECT 1 AS wrong"
    with open(path, "w") as f:
        json.dump(sqls, f)
