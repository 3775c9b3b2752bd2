"""Guard: no DuckDB oracle may emit HUGEINT/INT128 output columns.

DuckDB widens ``sum(CASE WHEN ... THEN 1 ELSE 0 END)`` over INTEGER to
HUGEINT (int128), and a value hash serializes HUGEINT differently from
BIGINT, so a query whose values match Spark exactly still fails a
hash-compared parity check.
The fix is a ``::BIGINT`` cast in the oracle SQL; this test DESCRIBEs every
oracle through DuckDB so the class of failure can never silently recur.

DuckDB-only (no SparkSession) — runs in a couple of seconds.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod
from pinterest_data_pipeline_spark.session import TESTDATA_TABLES

SF_DIR = "/root/testdata/sf0.001"

FORBIDDEN_TYPES = ("HUGEINT", "INT128", "UHUGEINT")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TESTDATA_TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield c
    c.close()


def test_no_oracle_emits_hugeint(con):
    offenders = {}
    for name, sql in entrymod.oracle_sql().items():
        desc = con.execute(f"DESCRIBE ({sql})").fetchall()
        bad = [
            (col, typ)
            for col, typ, *_ in desc
            if any(f in typ.upper() for f in FORBIDDEN_TYPES)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracles emitting int128-class columns (a value hash serializes these "
        f"differently from BIGINT — cast with ::BIGINT): {offenders}"
    )
