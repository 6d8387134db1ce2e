#!/usr/bin/env python3
"""Computes the expected result digests of the benchmark's query keys.

Usage, from the repository root:
  python3 graftbench/gen_digests.py <scale_factor>

Runs each key's `SparkEntry.oracleSql` text in DuckDB over the benchmark's
tables in `graftbench/data/` and writes `graftbench/expected/sf<scale_factor>.json`, which the
benchmark compares every operation's result against. Run it again only when
the data, an oracle text or a key list changes. At sf0.1 it takes a few
minutes (the dedup and pipeline oracles dominate).
"""
import json
import os
import subprocess
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import canon  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(sf):
    os.makedirs(run.BUILD, exist_ok=True)
    classpath, _ = run.build()
    data_dir = run.data_dir(sf)
    oracle_file = os.path.join(run.BUILD, "oracles.json")
    tmp = os.path.join(run.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    subprocess.run(run.java_cmd(classpath, "graftbench.Oracles", [oracle_file], tmp),
                   check=True, stdin=subprocess.DEVNULL, timeout=300)
    with open(oracle_file) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    digests = {}
    for key, o in oracles.items():
        t0 = time.time()
        rel = con.sql(o["sql"])
        digests[key] = canon.digest(rel.columns, rel.fetchall(), o["ties"])
        print(f"{key:20s} {digests[key]}  {time.time() - t0:7.1f} s", flush=True)
    out = os.path.join(run.HERE, "expected", f"sf{sf}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"sf": sf, "digests": digests}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
