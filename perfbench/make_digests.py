#!/usr/bin/env python3
"""Regenerate ``digests.json``: expected result digests for both batteries.

Each digest comes from the query's DuckDB dual in
``pinterest_data_pipeline_spark/plans/oracles.py``, run over the
benchmark's own tables (``data.py``). Some duals are exhaustive (the
MinHash dual compares every document pair) and take many minutes, which
is why the benchmark only ever compares against the stored file.

    python3 perfbench/make_digests.py [query ...]

With query names, only those entries are recomputed and merged in.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import duckdb  # noqa: E402

import battery  # noqa: E402
import data  # noqa: E402
from common import digest  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from pinterest_data_pipeline_spark.plans.oracles import ORACLES
    from pinterest_data_pipeline_spark.session import TESTDATA_TABLES

    sf_dir = data.ensure_tables(os.path.join(HERE, "_work"))
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    queries = battery.registry()
    names = args.names or list(battery.CURATION) + list(battery.sql_names(queries))

    out = {"data": os.path.basename(sf_dir), "queries": {}}
    if os.path.exists(battery.DIGESTS_PATH):
        with open(battery.DIGESTS_PATH) as f:
            out["queries"] = json.load(f)["queries"]
    for name in names:
        t0 = time.perf_counter()
        cur = con.execute(ORACLES[name])
        cols = [d[0] for d in cur.description]
        out["queries"][name] = digest(cols, cur.fetchall())
        print(f"{name}: {out['queries'][name]['rows']} rows, "
              f"{time.perf_counter() - t0:.1f}s", flush=True)
        with open(battery.DIGESTS_PATH, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
