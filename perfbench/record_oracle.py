#!/usr/bin/env python3
"""Records the DuckDB oracle's row count for every query_suite query that
has an oracle twin (`SparkEntry.oracleSql`), over the suite's tables.

    python3 perfbench/record_oracle.py

Run it once, when the query list or the tables change; it rewrites
perfbench/query_suite/oracle_counts.json. The benchmark itself never
runs DuckDB: it compares each query's count with this file.
"""
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    cp = build.classpath()
    work = os.path.join(build.BUILD_DIR, "oracle")
    os.makedirs(work, exist_ok=True)
    sql_path = os.path.join(work, "oracle_sql.json")
    run.run_jvm(cp, work, "oracle.log", ["--mode", "oracle-sql", "--out", sql_path])
    with open(sql_path) as f:
        oracle_sql = json.load(f)
    names = [name for _, name in run.suite_queries()]
    con = duckdb.connect(config={"memory_limit": "2GB", "threads": 2})
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run.SUITE_DATA}/{t}.parquet'")
    counts = {}
    for n in names:
        if n in oracle_sql:
            counts[n] = con.sql(f"SELECT count(*) FROM ({oracle_sql[n]})").fetchone()[0]
            print(f"{n}: {counts[n]}")
    with open(run.SUITE_ORACLE, "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(counts)} of {len(names)} queries have an oracle count")


if __name__ == "__main__":
    main()
