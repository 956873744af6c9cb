#!/usr/bin/env python3
"""Recompute the expected result of every query in the query_mix list with
DuckDB, and store it in perfbench/expected/query_mix.json.

    python3 perfbench/oracle.py

Generates the query_mix tables, asks the harness for each listed query's
`SparkEntry.oracleSql`, runs that SQL under DuckDB over the same parquet
(views named after the tables, time zone UTC, as tools/oracle_check.py
does) and stores per query the columns, their DuckDB types, the row count
and a digest of the normalised rows. Spark's output is never read here.
Rerun it whenever the query list or gen.py changes; runs of the benchmark
compare against the stored file instead of running DuckDB again.
"""
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    import duckdb
    cp, _ = run.classpath()
    tmp = os.path.join(run.ROOT, ".bench_run", f"oracle-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "scratch"))
    try:
        tables = os.path.join(tmp, "tables")
        gen.tables(tables, run.TABLE_SEED, run.TABLE_SF)
        sql_file = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(["java", "-cp", cp, "perfbench.Main", "--workload", "oracle_sql",
                        "--result", sql_file], check=True)
        oracle = json.load(open(sql_file))
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        out = {"generator": check.generator_digest(run.TABLE_SEED, run.TABLE_SF),
               "table_seed": run.TABLE_SEED, "sf": run.TABLE_SF, "queries": {}}
        for name, sql in sorted(oracle.items()):
            t0 = time.monotonic()
            cols, types, rows = check.describe(con, f"({sql})")
            digest, n = check.result_digest(cols, rows)
            out["queries"][name] = {"columns": cols, "types": types, "rows": n,
                                    "digest": digest}
            print(f"{name}: {n} rows [{time.monotonic() - t0:.2f}s]")
        os.makedirs(os.path.dirname(check.EXPECTED), exist_ok=True)
        with open(check.EXPECTED, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
