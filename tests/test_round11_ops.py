"""Operator tests for the two_phase_running reshape — the distinct-domain
global windows (pareto skyline cumulative max, KS CDF cumulative sums) run
on the bucketed two-phase plan, so the helper itself is pinned against the
naive global window on adversarial shapes (duplicate bucket edges, single
bucket, empty frame semantics)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F


def _rows(df, cols):
    return [tuple(r[c] for c in cols) for r in df.orderBy(*cols).collect()]


def test_two_phase_running_sum_equals_global_window(spark):
    from pinterest_data_pipeline_spark.operators.ranking import (
        two_phase_running,
    )

    # values hash-scattered over [0, 1000) with duplicates ON bucket
    # boundaries (v=100, 200 appear twice) — the edge where a wrong
    # bucket/offset split double- or under-counts
    vals = [7, 100, 100, 101, 200, 200, 199, 3, 950, 444, 445, 500]
    df = spark.createDataFrame(
        [(i, v, v % 3 + 1) for i, v in enumerate(vals)], "id long, v long, x long"
    )
    per_v = df.groupBy("v").agg(F.sum("x").alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    expected = _rows(
        per_v.withColumn("cum", F.sum("c").over(w).cast("long")),
        ["v", "cum"],
    )
    got = _rows(
        two_phase_running(
            per_v, F.floor(F.col("v") / 100).cast("long"), ["v"],
            [("c", "sum", "cum")],
        ),
        ["v", "cum"],
    )
    assert got == expected


def test_two_phase_running_strict_max_equals_global_window(spark):
    from pinterest_data_pipeline_spark.operators.ranking import (
        two_phase_running,
    )

    vals = [(900.5, 3), (901.0, 7), (901.2, 1), (950.0, 7), (999.9, 2),
            (900.1, 5), (902.0, 6)]
    df = spark.createDataFrame(vals, "price double, size int")
    w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    expected = _rows(
        df.withColumn("best_prev", F.max("size").over(w)),
        ["price", "best_prev"],
    )
    got = _rows(
        two_phase_running(
            df, F.floor(F.col("price")).cast("long"), ["price"],
            [("size", "max", "best_prev")], current_row=False,
        ),
        ["price", "best_prev"],
    )
    # first row's best_prev is NULL under the strict frame in BOTH plans
    assert expected[0][1] is None
    assert got == expected


def test_two_phase_running_single_bucket_and_multi_spec(spark):
    from pinterest_data_pipeline_spark.operators.ranking import (
        two_phase_running,
    )

    df = spark.createDataFrame(
        [(1, 10, 2), (2, 20, 1), (3, 5, 9)], "v long, a long, b long"
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    expected = _rows(
        df.withColumn("ca", F.sum("a").over(w).cast("long"))
        .withColumn("cb", F.max("b").over(w)),
        ["v", "ca", "cb"],
    )
    got = _rows(
        two_phase_running(
            df, F.lit(0), ["v"], [("a", "sum", "ca"), ("b", "max", "cb")]
        ),
        ["v", "ca", "cb"],
    )
    assert got == expected


def test_embedding_proximity_audit_empty_eval_emits_zero_rows(spark):
    """On an all-train vector store (empty audited eval
    sample) the audit must emit ZERO rows — matching the oracle's
    GROUP BY over an empty nearest-neighbour frame — instead of one
    all-null row cross-joined with n_train."""
    import hashlib
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    def is_train(vec_id: int) -> bool:
        h = int(hashlib.md5(f"{vec_id}split".encode()).hexdigest()[:8], 16)
        return h % 10000 < 8000

    train_ids = [i for i in range(1, 200) if is_train(i)][:6]
    rows = [
        (i, [1.0, 0.0, 0.0, 0.0], 0) for i in train_ids
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(os.path.join(d, "embeddings.parquet"))
        out = QUERIES["quality_embedding_proximity_audit"](spark, d).collect()
    assert out == []


def test_two_phase_running_rejects_unknown_fn(spark):
    import pytest

    from pinterest_data_pipeline_spark.operators.ranking import (
        two_phase_running,
    )

    df = spark.createDataFrame([(1, 1)], "v long, a long")
    with pytest.raises(ValueError, match="unsupported"):
        two_phase_running(df, F.lit(0), ["v"], [("a", "avg", "ca")])


def test_two_phase_running_null_sort_values_match_global_window(spark):
    """NULL sort values bucket to NULL (floor(NULL/w) is NULL) and both
    plans sort NULLS FIRST, so the reshape must agree with the naive
    window even on NULL keys — no current consumer feeds NULLs (price
    and cents columns are non-null by construction), but the helper's
    contract shouldn't silently depend on that."""
    from pinterest_data_pipeline_spark.operators.ranking import (
        two_phase_running,
    )

    df = spark.createDataFrame(
        [(None, 5), (3, 1), (None, 2), (150, 4)], "v long, c long"
    ).groupBy("v").agg(F.sum("c").alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    expected = {
        r.v: r.cum
        for r in df.withColumn("cum", F.sum("c").over(w).cast("long")).collect()
    }
    got = {
        r.v: r.cum
        for r in two_phase_running(
            df, F.floor(F.col("v") / 100).cast("long"), ["v"],
            [("c", "sum", "cum")],
        ).collect()
    }
    assert got == expected
