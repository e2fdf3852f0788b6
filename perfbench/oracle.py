"""Result checks against DuckDB.

`oracle_sql.json` is a frozen copy of the DuckDB oracle SQL the library
declares (`SparkEntry.oracleSql`) for the dashboard keys, so a change to the
library cannot change what its results are checked against. Each key's
result, written by the harness's warm pass, must equal the oracle's result
on the same generated tables. The comparison is the repo's own
`tools/check_oracle.py` (`compare_one`): columns by name, cells exact
(floats by repr), row order included, no cross-class type drift.
"""
import json
import os
import sys

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_sql():
    with open(os.path.join(BENCH, "oracle_sql.json")) as f:
        return json.load(f)


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_keys(root, data_dir, verify_dir, keys):
    """{key: (ok, message)} for every key; `root` is the checkout whose
    `tools/check_oracle.py` does the comparison."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle
    sqls = oracle_sql()
    con, con_s = connect(data_dir), duckdb.connect()
    out = {}
    for k in keys:
        try:
            out[k] = check_oracle.compare_one(
                con, con_s, k, sqls[k], os.path.join(verify_dir, k, "*.parquet"),
                check_oracle.ORACLE_BUDGET_SEC)
        except Exception as e:  # an oracle or read error fails the key
            out[k] = (False, f"{type(e).__name__}: {e}")
    con.close()
    con_s.close()
    return out
