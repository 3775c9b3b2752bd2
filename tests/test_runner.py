"""End-to-end batch runner test: land -> clean -> Q1-Q9 -> parquet answers."""

from __future__ import annotations

import runner


def test_runner_end_to_end_and_idempotent(spark, tmp_path):
    landing, out = str(tmp_path / "landing"), str(tmp_path / "answers")
    runner.land_raw(landing, rows=300, seed=13)
    counts1 = runner.run_batch(spark, landing, out)
    assert set(counts1) == {
        "q1_top_category_per_country",
        "q2_category_counts_per_year",
        "q3_top_user_per_country",
        "q4_country_with_top_user",
        "q5_top_category_per_age_group",
        "q6_median_followers_per_age_group",
        "q7_users_joined_per_year",
        "q8_median_followers_by_join_year",
        "q9_median_followers_by_join_year_and_age",
    }
    assert all(n > 0 for n in counts1.values())
    assert counts1["q4_country_with_top_user"] == 1

    # rerun = the Airflow retry story: same landing data, same answers
    counts2 = runner.run_batch(spark, landing, out)
    assert counts2 == counts1

    # approx medians keep the same output shape
    counts3 = runner.run_batch(spark, landing, out, approx=True)
    assert set(counts3) == set(counts1)


def test_run_batch_counts_equal_written_answers(spark, tmp_path):
    """run_batch's row counts come from observations on its writes; each
    must equal a re-read of the parquet answer it wrote."""
    import os

    landing, out = str(tmp_path / "landing"), str(tmp_path / "answers")
    runner.land_raw(landing, rows=300, seed=13)
    counts = runner.run_batch(spark, landing, out)
    assert counts == {
        name: spark.read.parquet(os.path.join(out, name)).count() for name in counts
    }


def test_repeat_run_batch_compiles_no_classes(spark, tmp_path):
    """The generated-class cache holds a whole run_batch pass, so running
    the same plans again compiles nothing. At Spark's default of 100
    entries a repeat pass recompiles 64-79 of its 135 classes."""
    from pinterest_data_pipeline_spark.session import CODEGEN_CACHE_ENTRIES

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    landing, out = str(tmp_path / "landing"), str(tmp_path / "answers")
    runner.land_raw(landing, rows=300, seed=13)
    runner.run_batch(spark, landing, out)
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    runner.run_batch(spark, landing, out)
    assert compiles.METRIC_COMPILATION_TIME().getCount() == before
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_with_retries_recovers_from_transient_failure():
    """DAG-parity retry: one transient failure, successful second attempt."""
    from runner import with_retries

    calls = {"n": 0}
    seen = []

    def flaky():
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return "ok"

    out = with_retries(
        flaky, retries=2, delay_seconds=0.0, on_error=lambda a, e: seen.append((a, str(e)))
    )
    assert out == "ok"
    assert calls["n"] == 2
    assert seen == [(0, "transient")]


def test_with_retries_exhausts_and_raises():
    from pytest import raises

    from runner import with_retries

    calls = {"n": 0}

    def always_fails():
        calls["n"] += 1
        raise ValueError("permanent")

    with raises(ValueError, match="permanent"):
        with_retries(always_fails, retries=2, delay_seconds=0.0)
    assert calls["n"] == 3  # initial + 2 retries, DAG parity
