#!/usr/bin/env python3
"""Compute the analytics workload's oracle signatures with DuckDB.

    python3 perfbench/oracle.py        # from the repository root

Generates the analytics_headline inputs (run.py's ANALYTICS_SF and
ANALYTICS_SEED), runs each headline query's ``oracle_sql()`` over them in
DuckDB, and writes perfbench/signatures.json: per query the sorted column
names, the row count and the sha256 of the sorted, normalized rows. Spark
is never started, so the signatures are never copied from engine output.
Rerun it whenever the generator, the scale or a headline oracle changes;
run.py refuses inputs whose digest differs from the one recorded here.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    root = os.getcwd()
    sys.path[:0] = [root, HERE]
    import duckdb

    import gen
    from reference import result_signature, tables_digest
    from run import ANALYTICS_SEED, ANALYTICS_SF, PASS_ORDER

    from pgsf_spark.analytics.registry import QUERIES

    tabs = {
        **gen.star_tables(ANALYTICS_SF, ANALYTICS_SEED),
        **gen.extra_tables(ANALYTICS_SF, ANALYTICS_SEED),
    }
    out = {
        "sf": ANALYTICS_SF,
        "seed": ANALYTICS_SEED,
        "data_sha256": tables_digest(tabs),
        "queries": {},
    }
    with tempfile.TemporaryDirectory(dir=root) as data:
        gen.write_tables(tabs, data)
        con = duckdb.connect()
        for t in tabs:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for q in PASS_ORDER:
            t0 = time.perf_counter()
            res = con.execute(QUERIES[q].oracle)
            cols = [d[0] for d in res.description]
            out["queries"][q] = result_signature(cols, res.fetchall())
            print(f"{q}: {out['queries'][q]['rows']} rows, {time.perf_counter() - t0:.1f}s")
    with open(os.path.join(HERE, "signatures.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
