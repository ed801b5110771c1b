#!/usr/bin/env python3
"""Regenerate perfbench/oracle.json, the suite's expected answers.

    python3 perfbench/oracle.py

Run from the root of a graft checkout. It asks graft for the DuckDB
oracle SQL of every suite query (SparkEntry.oracleSql), runs that SQL
in DuckDB over perfbench/data/sf0.01, and stores each answer's canonical
hash. It never reads an answer graft computed.
"""
import json
import os
import sys

sys.dont_write_bytecode = True

import duckdb

import run
from canon import canon

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def main():
    classes = run.build()
    sql_file = os.path.join(run.build_dir(), "oracle_sql.json")
    r = run.subprocess.run(run.java_cmd(classes, run.build_dir(), ["--dump-oracle", sql_file]))
    if r.returncode != 0:
        run.fail("could not dump the oracle SQL")
    with open(sql_file) as f:
        sql = json.load(f)
    data = os.path.join(run.HERE, "data", "sf0.01")
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = {}
    for name in sorted(sql):
        out[name] = canon(con.execute(sql[name]).df())
        print(f"{name}: {out[name]['rows']} rows", file=sys.stderr)
    with open(os.path.join(run.HERE, "oracle.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
