"""Registry surface of the engine: ``entry``, ``queries`` and ``oracle_sql``.

``entry(spark)`` runs the flagship query as a smoke check. Each
``queries()[name]`` has a DuckDB dual ``oracle_sql()[name]``;
``tools/check_parity.py`` runs both on the same parquet and compares row
count, column names and an order-insensitive value hash. The tier-1 tests
and the verify skill drive the same surface.

Implementation lives in ``pinterest_data_pipeline_spark``; this module is a
thin registry so callers import one flat surface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pinterest_data_pipeline_spark.plans import analytics
from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401  (registers queries)
from pinterest_data_pipeline_spark.plans import relational  # noqa: F401  (registers queries)
from pinterest_data_pipeline_spark.plans import oracles

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; the smoke check wants rows>0.

    Exercises the engine's whole hot path: parquet scan -> 4-way join
    (broadcast dim + sort-merge fact) -> hash aggregate -> window rank ->
    rank=1 filter -> order (SURVEY.md §7 step 1).
    """
    return analytics.q1_top_brand_per_nation(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order."""
    return dict(analytics.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL dual for each oracle-checkable query."""
    return dict(oracles.ORACLES)
