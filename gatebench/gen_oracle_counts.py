#!/usr/bin/env python3
"""Writes gatebench/oracle_counts.json: for every gate, the row count of
its SparkEntry.oracleSql run by DuckDB over the benchmark's fixtures.
The expected counts come from the oracle, never from the engine.

    python3 gatebench/gen_oracle_counts.py

Builds the harness if needed (to list the oracle SQL); needs the duckdb
Python package. Tables are registered the way tools/check_oracle.py
registers them.
"""

import json
import sys
import time
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    _, listing = run.ensure_built(run.source_hash())
    con = duckdb.connect()
    for t in TABLES:
        p = run.FIXTURES / f"{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    t0 = time.monotonic()
    counts = {}
    for name, sql in sorted(listing["oracle_sql"].items()):
        body = sql.strip().rstrip(";")
        counts[name] = con.execute(f"SELECT count(*) FROM ({body}) AS oracle").fetchone()[0]
    doc = {"fixtures": "sf0.01", "duckdb": duckdb.__version__,
           "generated_s": round(time.monotonic() - t0, 1), "counts": counts}
    (HERE / "oracle_counts.json").write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")
    print(f"{len(counts)} oracle counts in {doc['generated_s']} s")


if __name__ == "__main__":
    main()
