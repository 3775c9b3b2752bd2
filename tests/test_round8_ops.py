"""Operator semantics + plan contracts: Bloom prefilter, KMV
sketch, changelog application, streaks — planted-case tests proving the
properties the oracle battery certifies on real tables, plus the plan
shapes that make each honest at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators import bloom, merge as merge_ops, sketches
from pinterest_data_pipeline_spark.plans import analytics, extensions, relational  # noqa: F401

SF = "/root/testdata/sf0.001"


# --- bloom ------------------------------------------------------------------


def test_bloom_superset_and_false_positive_regime(spark):
    """Every built key must probe true (zero false negatives — the
    guarantee that makes Bloom prefiltering safe before a join); at this
    load factor non-members overwhelmingly probe false."""
    m_bits, k = 4096, 3
    members = spark.range(0, 200).select(F.col("id").alias("key"))
    dense = bloom.bloom_words_literal(
        bloom.bloom_build(members, "key", m_bits, k), m_bits
    )
    probes = spark.range(0, 2000).select(F.col("id").alias("key"))
    out = probes.select(
        "key", bloom.bloom_maybe_expr(F.col("key"), dense, m_bits, k).alias("m")
    )
    rows = {r.key: r.m for r in out.collect()}
    assert all(rows[i] for i in range(200))  # superset: no false negatives
    fps = sum(1 for i in range(200, 2000) if rows[i])
    # load 3*200/4096 = 0.146 -> fp rate ~ (1-e^-0.146)^3 ~ 0.25%; allow 20x
    assert fps < 0.05 * 1800, f"{fps} false positives of 1800 non-members"


def test_bloom_merges_by_word_or(spark):
    """Filters over disjoint corpora merge by per-word OR into the filter
    of the union — the property that lets 1000 executors build partials."""
    m_bits, k = 4096, 3
    a = spark.range(0, 100).select(F.col("id").alias("key"))
    b = spark.range(100, 200).select(F.col("id").alias("key"))
    both = spark.range(0, 200).select(F.col("id").alias("key"))
    merged = (
        bloom.bloom_build(a, "key", m_bits, k)
        .unionByName(bloom.bloom_build(b, "key", m_bits, k))
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )
    direct = bloom.bloom_build(both, "key", m_bits, k)
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_bloom_probe_plan_has_no_join(spark):
    """The membership check is a literal expression, not a join: the
    probe side's plan must contain NO join operator at all."""
    members = spark.range(0, 50).select(F.col("id").alias("key"))
    dense = bloom.bloom_words_literal(bloom.bloom_build(members, "key", 4096, 3), 4096)
    probed = spark.range(0, 500).select(
        bloom.bloom_maybe_expr(F.col("id"), dense, 4096, 3).alias("m")
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan


# --- KMV --------------------------------------------------------------------


def test_kmv_exact_below_k_and_estimate_above(spark):
    small = spark.range(0, 40).select(F.col("id").alias("v"))
    est = sketches.kmv_estimate(sketches.kmv_sketch(small, "v", k=64), 64).first()
    assert est.n_sketch == 40 and est.kmv_estimate == 40.0  # exact below k
    big = spark.range(0, 5000).select(F.col("id").alias("v"))
    est2 = sketches.kmv_estimate(sketches.kmv_sketch(big, "v", k=64), 64).first()
    assert est2.n_sketch == 64
    # KMV relative error ~ 1/sqrt(k-2) ~ 12.7%; allow 3 sigma
    assert abs(est2.kmv_estimate - 5000) / 5000 < 0.4


def test_kmv_merge_equals_sketch_of_union(spark):
    a = spark.range(0, 3000).select(F.col("id").alias("v"))
    b = spark.range(1500, 4500).select(F.col("id").alias("v"))
    both = spark.range(0, 4500).select(F.col("id").alias("v"))
    merged = sketches.kmv_merge(
        sketches.kmv_sketch(a, "v", k=64), sketches.kmv_sketch(b, "v", k=64), k=64
    )
    direct = sketches.kmv_sketch(both, "v", k=64)
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_kmv_sketch_uses_take_ordered(spark):
    plan = (
        sketches.kmv_sketch(
            spark.range(0, 1000).select(F.col("id").alias("v")), "v", k=64
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


# --- changelog application --------------------------------------------------


def test_apply_changelog_latest_wins_and_deletes_vanish(spark):
    rows = [
        (1, 1, "U", 10.0),  # key 1: upsert...
        (1, 2, "U", 20.0),  # ...updated: survives at 20.0, n_changes 3
        (1, 3, "U", 20.0),
        (2, 1, "U", 5.0),   # key 2: upsert then delete -> vanishes
        (2, 2, "D", 0.0),
        (3, 1, "D", 0.0),   # key 3: delete then re-insert -> survives
        (3, 2, "U", 7.0),
    ]
    changes = spark.createDataFrame(rows, "k long, seq long, op string, v double")
    out = {
        r.k: (r.v, r.n_changes)
        for r in merge_ops.apply_changelog(changes, ["k"], "op", ["seq"]).collect()
    }
    assert out == {1: (20.0, 3), 3: (7.0, 2)}


def test_apply_changelog_plan_short_circuits_rank(spark):
    changes = spark.createDataFrame(
        [(1, 1, "U", 1.0)], "k long, seq long, op string, v double"
    )
    plan = (
        merge_ops.apply_changelog(changes, ["k"], "op", ["seq"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


# --- streaks ----------------------------------------------------------------


def test_user_streaks_planted_islands(spark):
    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 18:00:00"),  # same day, dedups
        (1, "2024-01-02 09:00:00"),
        (1, "2024-01-03 09:00:00"),
        (1, "2024-01-10 09:00:00"),
        (1, "2024-01-11 09:00:00"),
        (2, "2024-01-05 00:00:00"),
    ]
    events = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        events.withColumn("event_id", F.monotonically_increasing_id()).withColumn(
            "event_type", F.lit("view")
        ).withColumn("value", F.lit(0.0)).withColumn(
            "props", F.lit("{}")
        ).write.parquet(os.path.join(sf_dir, "events.parquet"))
        out = {
            r.user_id: (r.n_active_days, r.n_streaks, r.longest_streak)
            for r in analytics.QUERIES["events_user_streaks"](spark, sf_dir).collect()
        }
    assert out[1] == (5, 2, 3)  # days {1,2,3} + {10,11}
    assert out[2] == (1, 1, 1)


def test_fast_array_literal_bit_identical_to_flit(spark):
    """The SQL-text literal construction must land on the bit-identical
    value as element-wise F.lit — including awkward doubles (shortest
    repr + correctly-rounded parse is a round trip)."""
    from pinterest_data_pipeline_spark.operators.litutil import fast_array_literal

    nested = [
        [0.1, -1.5e-300, 3.141592653589793, 1e308],
        [2.0 ** -52, -0.0, 7.0, 123456789.123456789],
    ]
    ints = [0, 1, -(2**31), 2**62, 4294967296]
    row = spark.range(1).select(
        F.lit(nested).alias("a"),
        fast_array_literal(nested).alias("b"),
        F.lit(ints).alias("c"),
        fast_array_literal(ints).alias("d"),
    ).first()
    import math

    flat_a = [x for sub in row.a for x in sub]
    flat_b = [x for sub in row.b for x in sub]
    assert all(
        (math.copysign(1, x) == math.copysign(1, y) and x == y)
        for x, y in zip(flat_a, flat_b)
    )
    assert row.c == row.d


def test_bloom_and_kmv_null_key_contracts(spark):
    """NULL keys: never bloom members (probe returns false, not NULL),
    never KMV hashes (an unfiltered NULL would sort first in Spark but
    last in DuckDB — a silent cross-engine divergence)."""
    rows = spark.createDataFrame([(1,), (None,), (2,)], "key long")
    dense = bloom.bloom_words_literal(bloom.bloom_build(rows, "key", 1024, 3), 1024)
    out = rows.select(
        "key", bloom.bloom_maybe_expr(F.col("key"), dense, 1024, 3).alias("m")
    ).collect()
    verdicts = {r.key: r.m for r in out}
    assert verdicts[1] is True and verdicts[2] is True
    assert verdicts[None] is False  # not NULL, not True
    sk = sketches.kmv_sketch(rows, "key", k=8).collect()
    assert len(sk) == 2 and all(r.h is not None for r in sk)


def test_bloom_build_rejects_unaligned_bits(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bloom.bloom_build(spark.range(1).select(F.col("id").alias("k")), "k", 1000, 3)
