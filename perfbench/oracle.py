"""DuckDB oracle check for the `operators` workload.

Runs each query's oracle SQL (graft's SparkEntry.oracleSql, dumped by the
harness as ops_out/oracle_sql.json) in DuckDB over the run's generated
input tables and compares it with the engine's output using the
comparison of the repository's scripts/local_check.py.
"""
import glob
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))
from local_check import compare  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check(data_dir, out_dir):
    """Returns a list of mismatch descriptions (empty when all agree)."""
    con = duckdb.connect()
    for t in TABLES:
        files = glob.glob(os.path.join(data_dir, f"{t}.parquet", "*.parquet"))
        if files:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({files!r})")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            bad.append(f"{name}: no engine output")
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
            exp = con.execute(sql).fetch_arrow_table()
        except duckdb.Error as e:
            bad.append(f"{name}: {str(e)[:200]}")
            continue
        ok, msg = compare(got, exp)
        if not ok:
            bad.append(f"{name}: {msg}")
    return bad
