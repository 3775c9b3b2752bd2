#!/usr/bin/env python
"""Warm the parity oracle cache (DuckDB only, no Spark) for one SF dir.

Usage: python tools/warm_oracle_cache.py [sf_dir]

Runs every oracle_sql() dual through check_parity's cached rowset
helper so a later full `check_parity.py` sweep is Spark-bound. Safe to
kill and rerun — completed oracles are cached as they finish. Run it in
tmux for a cold sf0.1 warm: the exhaustive dedup duals are single-core
in DuckDB and the three worst took ~15-30 min EACH in one measured cold
warm (~85 min total)."""

from __future__ import annotations

import os
import sys
import time

_TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_TOOLS))
sys.path.insert(0, _TOOLS)

import duckdb

import check_parity as cp
import __spark_entry__ as m
from pinterest_data_pipeline_spark.session import TESTDATA_TABLES


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    oracles = m.oracle_sql()
    t0 = time.time()
    for name, sql in oracles.items():
        t1 = time.time()
        cp._oracle_rowset(con, name, sql, sf)
        dt = time.time() - t1
        if dt > 5:
            print(f"{name}: {dt:.1f}s", flush=True)
    print(f"warmed {len(oracles)} oracles in {time.time() - t0:.0f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
