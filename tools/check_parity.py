"""Correctness gate: every registry query against its DuckDB dual.

Runs every ``queries()`` entry via Spark and its ``oracle_sql()`` dual via
DuckDB on the same parquet, then compares row count, column names, and an
order-insensitive value representation. Usage:

    python tools/check_parity.py [sf_dir] [query ...]

Exit code 0 iff every checked query matches.

Oracle results are CACHED: an uncached sf0.1 full sweep took ~55 min,
DuckDB-bound on the exhaustive dedup duals. The cache key is
sha256(CACHE_VERSION | query name | oracle SQL text | sf_dir | parquet
mtimes+sizes) — any edit to the oracle, a different SF, or regenerated
testdata misses; Spark results are NEVER cached (they are the thing under
test). The cache lives in .parity_cache/ (gitignored); delete that
directory to force every dual to rerun.
"""

from __future__ import annotations

import hashlib
import json
import math
import sys
from datetime import date, datetime
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod
from pinterest_data_pipeline_spark.session import TESTDATA_TABLES, get_spark


def _norm(v):
    """Normalize a scalar for cross-engine comparison."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


CACHE_DIR = Path(__file__).resolve().parent.parent / ".parity_cache"

# Bump whenever _norm/_rowset normalization changes: the
# cached oracle rowsets are stored POST-normalization, so a normalization
# change would otherwise compare fresh Spark rowsets against stale cached
# oracle rowsets — false PASS/FAIL until .parity_cache/ is hand-deleted.
CACHE_VERSION = 1


def _data_fingerprint(sf_dir: str) -> str:
    parts = []
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        st = p.stat()
        parts.append(f"{p.name}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def _oracle_rowset(con, name: str, sql: str, sf_dir: str):
    """(cols, rowset, n_rows) for the DuckDB dual, cached on disk."""
    key = hashlib.sha256(
        f"v{CACHE_VERSION}\x1f{name}\x1f{sql}\x1f{sf_dir}\x1f"
        f"{_data_fingerprint(sf_dir)}".encode()
    ).hexdigest()
    cache_file = CACHE_DIR / f"{key}.json"
    if cache_file.exists():
        d = json.loads(cache_file.read_text())
        return d["cols"], d["rowset"], d["n"]
    cur = con.execute(sql)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    dset = _rowset(dcols, drows)
    CACHE_DIR.mkdir(exist_ok=True)
    cache_file.write_text(
        json.dumps({"cols": dcols, "rowset": dset, "n": len(drows)})
    )
    return dcols, dset, len(drows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if sql is None:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle — rows-only check)")
            if len(srows) == 0:
                print(f"      WARNING {name}: 0 rows")
            continue
        try:
            dcols, dset, dn = _oracle_rowset(con, name, sql, sf_dir)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
            ok = False
        elif len(srows) != dn:
            print(f"FAIL  {name}: rowcount spark={len(srows)} duck={dn}")
            ok = False
        else:
            sset = _rowset(scols, [[r[c] for c in scols] for r in srows])
            if sset != dset:
                ok = False
                diff = [(a, b) for a, b in zip(sset, dset) if a != b][:5]
                print(f"FAIL  {name}: value mismatch; first diffs:")
                for a, b in diff:
                    print(f"      spark: {a}")
                    print(f"      duck : {b}")
        if ok:
            print(f"OK    {name}: {len(srows)} rows")
        else:
            failures.append(name)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
