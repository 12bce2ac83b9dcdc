#!/usr/bin/env python3
"""Regenerate perfbench/pinned.json, the expected output of every library
query the benchmark runs over perfbench/fixtures/sf0.01.

    python3 perfbench/run.py --workload library --seed 0 --seconds 1 --keep-work
    python3 perfbench/pin.py

Pins the queries whose warm-up results the kept work directory holds. A
query with a DuckDB oracle (graft.SparkEntry.oracleSql) is pinned to the
oracle's row count and hash, and the Spark result must already agree with
it; a query without one is pinned to the Spark result.
"""
import json
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

from run import BUILD, FIXTURES, PINNED, build, java_cmd, table_digest

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    check = sorted((BUILD / "work" / "check").iterdir())
    names = [d.name for d in check]
    out = subprocess.run(
        java_cmd(build(), "perfbench.Oracles", names, BUILD / "work" / "tmp"),
        check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    oracles = json.loads(out.stdout.strip().splitlines()[-1])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{FIXTURES}/{t}.parquet'")
    pinned, bad = {}, []
    for d in check:
        q = d.name
        spark = table_digest(pq.read_table(d))
        if q in oracles:
            duck = table_digest(con.execute(oracles[q]).fetch_arrow_table())
            print(f"{q}: spark {spark} duckdb {duck}")
            if spark != duck:
                bad.append(q)
            pin, source = duck, "duckdb"
        else:
            print(f"{q}: spark {spark} (no oracle)")
            pin, source = spark, "spark"
        pinned[q] = {"rows": pin[0], "hash": pin[1], "source": source}
    PINNED.write_text(json.dumps({"queries": pinned}, indent=1, sort_keys=True)
                      + "\n")
    if bad:
        sys.exit(f"Spark disagrees with the DuckDB oracle on {bad}")


if __name__ == "__main__":
    main()
