"""Queries over an empty source table: the IVF and IVFADC queries and
the incremental-store queries each return their normal columns and
match their DuckDB dual under ``tools/check_parity.py``'s comparison.

Two store queries differ from their duals on an empty table and are not
listed: ``ann_ivf_drift_gated_retrain`` (no drift statistic, so its
``gate_low`` gate does not trigger; the dual's ``triggered`` is a
literal TRUE) and ``sketch_incremental_tdigest`` (0 rows; the dual
emits one row per target quantile)."""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from pinterest_data_pipeline_spark.session import TESTDATA_TABLES
from tools.check_parity import _rowset

SRC = os.path.join(os.path.dirname(entrymod.SMOKE_SF_DIR), "sf0.01")

# each store query over a 0-row copy of the table its store is built from
STORE_QUERIES = {
    "embeddings": [
        "ann_ivf_incremental_upsert",
        "ann_ivf_index_compaction",
        "ann_ivf_centroid_retrain",
        "ann_ivf_stream_upsert",
    ],
    "documents": [
        "dedup_incremental_batch",
        "dedup_incremental_clusters",
        "sketch_incremental_kmv",
        "dedup_incremental_batch_pruned",
        "sketch_incremental_mg",
        "dedup_incremental_stream_store",
        "dedup_bucket_store_compaction",
        "sketch_kmv_stream_store",
    ],
}


@pytest.fixture(scope="module")
def empty_table_dir(tmp_path_factory):
    """``empty_table_dir(t)``: the sf0.01 tables, linked, except a 0-row
    ``t`` of the same schema."""
    dirs = {}

    def make(table: str) -> str:
        if table not in dirs:
            d = tmp_path_factory.mktemp(f"empty_{table}")
            for t in TESTDATA_TABLES:
                src = os.path.join(SRC, f"{t}.parquet")
                dst = os.path.join(d, f"{t}.parquet")
                if t == table:
                    pq.write_table(pq.read_table(src).slice(0, 0), dst)
                else:
                    os.symlink(src, dst)
            dirs[table] = str(d)
        return dirs[table]

    return make


def _spark_and_dual(spark, sf_dir, name):
    df = entrymod.queries()[name](spark, sf_dir)
    rows = df.collect()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    cur = con.execute(entrymod.oracle_sql()[name])
    return df, rows, [c[0] for c in cur.description], cur.fetchall()


@pytest.mark.parametrize("name", ["ann_ivf_topk", "ann_ivf_pq_topk"])
def test_ivf_query_on_empty_corpus_matches_dual(spark, empty_table_dir, name):
    df, rows, dcols, drows = _spark_and_dual(
        spark, empty_table_dir("embeddings"), name
    )
    assert df.dtypes == [
        ("query_id", "bigint"),
        ("n_returned", "bigint"),
        ("recall_ok", "boolean"),
    ]
    assert sorted(df.columns) == sorted(dcols)
    assert len(rows) == len(drows) == 0
    assert _rowset(df.columns, rows) == _rowset(dcols, drows)


@pytest.mark.parametrize(
    "table,name", [(t, n) for t, names in STORE_QUERIES.items() for n in names]
)
def test_store_query_on_empty_table_matches_dual(
    spark, empty_table_dir, table, name
):
    df, rows, dcols, drows = _spark_and_dual(spark, empty_table_dir(table), name)
    assert sorted(df.columns) == sorted(dcols)
    assert _rowset(df.columns, rows) == _rowset(dcols, drows)
