"""The IVF and IVFADC queries on an empty ``embeddings`` table: each
returns 0 rows with its normal schema and matches its DuckDB dual under
``tools/check_parity.py``'s comparison."""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from pinterest_data_pipeline_spark.session import TESTDATA_TABLES
from tools.check_parity import _rowset

SRC = os.path.join(os.path.dirname(entrymod.SMOKE_SF_DIR), "sf0.01")


@pytest.fixture(scope="module")
def empty_corpus_dir(tmp_path_factory):
    """The sf0.01 tables, linked, except a 0-row ``embeddings`` of the
    same schema."""
    d = tmp_path_factory.mktemp("empty_corpus")
    for t in TESTDATA_TABLES:
        src = os.path.join(SRC, f"{t}.parquet")
        dst = os.path.join(d, f"{t}.parquet")
        if t == "embeddings":
            pq.write_table(pq.read_table(src).slice(0, 0), dst)
        else:
            os.symlink(src, dst)
    return str(d)


@pytest.mark.parametrize("name", ["ann_ivf_topk", "ann_ivf_pq_topk"])
def test_ivf_query_on_empty_corpus_matches_dual(spark, empty_corpus_dir, name):
    df = entrymod.queries()[name](spark, empty_corpus_dir)
    rows = df.collect()
    assert df.dtypes == [
        ("query_id", "bigint"),
        ("n_returned", "bigint"),
        ("recall_ok", "boolean"),
    ]
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{empty_corpus_dir}/{t}.parquet')"
        )
    cur = con.execute(entrymod.oracle_sql()[name])
    dcols = [c[0] for c in cur.description]
    drows = cur.fetchall()
    assert sorted(df.columns) == sorted(dcols)
    assert len(rows) == len(drows) == 0
    assert _rowset(df.columns, rows) == _rowset(dcols, drows)
