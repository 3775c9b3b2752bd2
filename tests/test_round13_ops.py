"""Operator tests for the self-enforcing broadcast guard on the
two-phase ranking helpers — the bucket-offset
frame is counted before the phase-3 join, and above
``BROADCAST_BUCKET_LIMIT`` the join degrades to sort-merge instead of
trusting the caller's domain-boundedness contract forever.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pinterest_data_pipeline_spark.operators import ranking
from pinterest_data_pipeline_spark.operators.ranking import (
    two_phase_rank,
    two_phase_running,
)


def _rank_rows(df, bucket):
    out = two_phase_rank(df, bucket, ["v", "id"], rank_col="r")
    return {r["id"]: r["r"] for r in out.collect()}


def _expected_rank(rows):
    ordered = sorted(rows, key=lambda t: (t[1], t[0]))
    return {i: r + 1 for r, (i, _) in enumerate(ordered)}


def test_bucket_join_degrades_to_sort_merge_above_limit(spark, monkeypatch):
    """A bucket domain wider than the broadcast limit must (a) still rank
    correctly and (b) plan the phase-3 join as sort-merge, not a forced
    broadcast — the guard, not the caller, enforces driver safety."""
    monkeypatch.setattr(ranking, "BROADCAST_BUCKET_LIMIT", 4)
    rows = [(i, float(i % 37)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, v double")
    # per-value buckets: 37 occupied buckets > the patched limit of 4
    out = two_phase_rank(df, F.col("v").cast("int"), ["v", "id"], rank_col="r")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    got = {r["id"]: r["r"] for r in out.collect()}
    assert got == _expected_rank(rows)


def test_bucket_join_broadcasts_below_limit(spark):
    """The domain-bounded fast path is unchanged: a handful of occupied
    buckets still broadcasts (phase 3 stays shuffle-free on the data
    side)."""
    rows = [(i, float(i % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = two_phase_rank(df, F.col("v").cast("int"), ["v", "id"], rank_col="r")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    got = {r["id"]: r["r"] for r in out.collect()}
    assert got == _expected_rank(rows)


def test_running_sum_correct_under_degraded_join(spark, monkeypatch):
    """two_phase_running shares the guarded join; the degraded sort-merge
    posture must preserve exact SUM() OVER semantics."""
    monkeypatch.setattr(ranking, "BROADCAST_BUCKET_LIMIT", 2)
    rows = [(i, i % 11, (i * 7) % 5) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, v long, x long")
    out = two_phase_running(
        df, F.col("v"), ["v", "id"], [("x", "sum", "rs")]
    )
    got = {r["id"]: r["rs"] for r in out.collect()}
    ordered = sorted(rows, key=lambda t: (t[1], t[0]))
    run = 0
    want = {}
    for i, _, x in ordered:
        run += x
        want[i] = run
    assert got == want


def test_guard_counts_buckets_not_rows(spark, monkeypatch):
    """The guard keys on OCCUPIED BUCKETS (the broadcast payload), not on
    input rows: many rows in few buckets must still broadcast."""
    monkeypatch.setattr(ranking, "BROADCAST_BUCKET_LIMIT", 5)
    rows = [(i, float(i % 2)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = two_phase_rank(df, F.col("v").cast("int"), ["v", "id"], rank_col="r")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


# --- rank correlation, divergence, DiD, mix weights: planted values --------

import math
import os
import tempfile

from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
from pinterest_data_pipeline_spark.plans.analytics import QUERIES


def _write_part(spark, d, rows):
    schema = (
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    )
    spark.createDataFrame(rows, schema).write.parquet(
        os.path.join(d, "part.parquet")
    )


def test_kendall_tau_matches_brute_force(spark):
    """Grid-based tau-b equals the O(n^2) definition on a hand corpus
    with ties in both variables."""
    rows = [
        (i, f"p{i}", "B", "T", size, price)
        for i, (size, price) in enumerate(
            [(1, 900.0), (1, 901.0), (2, 900.0), (2, 902.5),
             (3, 903.0), (3, 903.4), (5, 901.0), (5, 905.0),
             (8, 904.0), (8, 900.0)]
        )
    ]
    pts = [(r[4], int(round(r[5] * 100)) // 100) for r in rows]
    C = D = tx = ty = 0
    n = len(pts)
    for i in range(n):
        for j in range(i + 1, n):
            dx = pts[i][0] - pts[j][0]
            dy = pts[i][1] - pts[j][1]
            if dx == 0:
                tx += 1
            if dy == 0:
                ty += 1
            if dx * dy > 0:
                C += 1
            elif dx * dy < 0:
                D += 1
    n0 = n * (n - 1) // 2
    want = round((C - D) / math.sqrt((n0 - tx) * (n0 - ty)), 6)
    with tempfile.TemporaryDirectory() as d:
        _write_part(spark, d, rows)
        out = QUERIES["quality_kendall_tau"](spark, d).collect()[0]
    assert (out.n_concordant, out.n_discordant) == (C, D)
    assert (out.ties_x_pairs, out.ties_y_pairs) == (tx, ty)
    assert out.tau_b == want


def test_kendall_tau_degenerate_is_null(spark):
    """All-tied variable -> zero denominator -> NULL tau, no ANSI throw."""
    rows = [(i, f"p{i}", "B", "T", 7, 900.0 + i) for i in range(5)]
    with tempfile.TemporaryDirectory() as d:
        _write_part(spark, d, rows)
        out = QUERIES["quality_kendall_tau"](spark, d).collect()[0]
    assert out.tau_b is None
    assert out.ties_x_pairs == 10


def _write_docs(spark, d, rows):
    schema = "doc_id long, text string, lang string, source string, n_chars int"
    spark.createDataFrame(rows, schema).write.parquet(
        os.path.join(d, "documents.parquet")
    )


def test_js_divergence_identical_sources_is_zero(spark):
    """Sources with identical token distributions sit at JS == 0 exactly
    (every p == q term is ln(1) == 0)."""
    rows = [
        (i, "alpha beta beta gamma", "en", f"src{i % 2}", 20)
        for i in range(8)
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        out = QUERIES["quality_js_divergence_sources"](spark, d).collect()
    assert [r.source for r in out] == ["src0", "src1"]
    assert all(r.js_vs_corpus == 0.0 for r in out)
    assert all(r.n_tokens == 16 for r in out)


def test_js_divergence_disjoint_sources_near_ln2(spark):
    """Token-disjoint sources approach the JS upper bound ln 2 against
    each other; vs the pooled 50/50 corpus each sits at exactly ln(2)/2
    + the OTHER-bucket zero term (closed form for this construction)."""
    rows = [(1, "aa aa aa aa", "en", "srcA", 11),
            (2, "bb bb bb bb", "en", "srcB", 11)]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        out = {r.source: r.js_vs_corpus
               for r in QUERIES["quality_js_divergence_sources"](spark, d).collect()}
    # p = (1, 0), q = (0.5, 0.5): JS = 0.5*ln(2/1.5)*... closed form:
    # 0.5*[1*ln(2*1/1.5)] + 0.5*[0.5*ln(2*0.5/1.5) + 0.5*ln(2*0.5/0.5)]
    want = round(
        0.5 * math.log(2 / 1.5)
        + 0.5 * (0.5 * math.log(1 / 1.5) + 0.5 * math.log(2.0)),
        6,
    )
    assert out["srcA"] == want and out["srcB"] == want


def test_temperature_mix_weights_closed_form(spark):
    """alpha=0.5 weights: w_i = sqrt(n_i)/Z; boost >1 for the small
    source, <1 for the large one; weights sum to 1."""
    rows = [(1, " ".join(["t"] * 100), "en", "big", 1),
            (2, " ".join(["t"] * 25), "en", "small", 1)]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        out = {r.source: r for r in
               QUERIES["sample_temperature_mix_weights"](spark, d).collect()}
    z = math.sqrt(100) + math.sqrt(25)
    assert out["big"].weight_t05 == round(10 / z, 6)
    assert out["small"].weight_t05 == round(5 / z, 6)
    assert out["small"].boost > 1.0 > out["big"].boost
    assert abs(out["big"].weight_t05 + out["small"].weight_t05 - 1.0) < 2e-6


def test_diff_in_differences_planted(spark):
    """Hand-planted 2x2: treatment users gain +10.00 post-pre, control
    +2.00 -> DiD == 8.00 exactly; zero within-cell variance -> se == 0
    path avoided by one jittered user per arm."""
    import datetime as dt

    pre = dt.datetime(2024, 1, 10)
    post = dt.datetime(2024, 1, 20)
    rows = []
    eid = 0
    # treat arm (odd user ids): pre 5.00, post 15.00 (+10)
    for u in (1, 3):
        rows += [(eid, pre, u, "purchase", 5.0, "{}"),
                 (eid + 1, post, u, "purchase", 15.0, "{}")]
        eid += 2
    # control arm (even ids): pre 5.00, post 7.00 (+2)
    for u in (2, 4):
        rows += [(eid, pre, u, "purchase", 5.0, "{}"),
                 (eid + 1, post, u, "purchase", 7.0, "{}")]
        eid += 2
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "events.parquet")
        )
        out = QUERIES["events_diff_in_differences"](spark, d).collect()[0]
    assert (out.n_treat, out.n_control) == (2, 2)
    assert out.mean_delta_treat == 10.0
    assert out.mean_delta_control == 2.0
    assert out.did_estimate == 8.0
    assert out.se == 0.0  # zero within-cell variance by construction


def test_pearson_matrix_planted_correlations(spark):
    """y = 2x exactly -> r == 1; y = -x -> r == -1; the four measures are
    planted so quantity/price correlate perfectly and discount/tax
    anti-correlate perfectly."""
    rows = [
        (i, float(i + 1), (i + 1) * 2.0, (10 - i) / 100.0, (i + 1) / 100.0)
        for i in range(8)
    ]
    schema = ("l_orderkey long, l_quantity double, l_extendedprice double, "
              "l_discount double, l_tax double")
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "lineitem.parquet")
        )
        out = {(r.col_a, r.col_b): r.pearson_r
               for r in QUERIES["agg_pearson_matrix"](spark, d).collect()}
    assert out[("price", "quantity")] if ("price", "quantity") in out else True
    assert out[("quantity", "price")] == 1.0
    assert out[("discount", "tax")] == -1.0


# --- rank correlation, mix weights: property tests -------------------------

from hypothesis import given, settings as hyp_settings, strategies as st


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),
            st.integers(min_value=90000, max_value=90500),
        ),
        min_size=1,
        max_size=25,
    )
)
@hyp_settings(max_examples=8, deadline=None)
def test_kendall_tau_property_vs_brute_force(spark, pts_cents):
    """Random tie-heavy (size, price) corpora: the grid formulation must
    equal the O(n^2) pair definition, including the n_pairs==ties
    degenerate NULL."""
    rows = [
        (i, f"p{i}", "B", "T", s, c / 100.0)
        for i, (s, c) in enumerate(pts_cents)
    ]
    pts = [(s, c // 100) for s, c in pts_cents]
    C = D = tx = ty = 0
    n = len(pts)
    for i in range(n):
        for j in range(i + 1, n):
            dx = pts[i][0] - pts[j][0]
            dy = pts[i][1] - pts[j][1]
            tx += dx == 0
            ty += dy == 0
            if dx * dy > 0:
                C += 1
            elif dx * dy < 0:
                D += 1
    n0 = n * (n - 1) // 2
    want = (
        round((C - D) / math.sqrt((n0 - tx) * (n0 - ty)), 6)
        if (n0 - tx) > 0 and (n0 - ty) > 0
        else None
    )
    with tempfile.TemporaryDirectory() as d:
        _write_part(spark, d, rows)
        out = QUERIES["quality_kendall_tau"](spark, d).collect()[0]
    assert (out.n_concordant, out.n_discordant, out.ties_x_pairs,
            out.ties_y_pairs) == (C, D, tx, ty)
    assert out.tau_b == want


@given(
    st.lists(
        st.integers(min_value=1, max_value=400),
        min_size=1,
        max_size=6,
    )
)
@hyp_settings(max_examples=8, deadline=None)
def test_temperature_mix_property(spark, sizes):
    """Random source sizes: weights sum to 1 (within rounding), weights
    are monotone in source size, boosts are anti-monotone, and each
    weight matches the sqrt closed form."""
    rows = [
        (i, " ".join(["t"] * n), "en", f"s{i:02d}", 1)
        for i, n in enumerate(sizes)
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        out = {r.source: r for r in
               QUERIES["sample_temperature_mix_weights"](spark, d).collect()}
    z = sum(math.sqrt(n) for n in sizes)
    total = sum(sizes)
    for i, n in enumerate(sizes):
        r = out[f"s{i:02d}"]
        assert r.n_tokens == n
        # HALF_UP like Spark/DuckDB round, not Python's half-to-even:
        # hypothesis found the exact tie 294/768 = 0.3828125, where
        # round() gives ...812 but both engines agree on ...813
        def r6(x: float) -> float:
            from decimal import ROUND_HALF_UP, Decimal

            return float(Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            ))

        assert r.weight_t05 == r6(math.sqrt(n) / z)
        assert r.share_proportional == r6(n / total)
    assert abs(sum(r.weight_t05 for r in out.values()) - 1.0) < 1e-4


# --- hot-basket guard -----------------------------------------------------
#
# Every basket-mining consumer (pair/triple itemsets, the co-occurrence
# graph) fans out O(basket^k) per order key inside one task. TPC-H data
# bounds baskets at <= 7 items; production data does not. The guard
# excludes oversized baskets WHOLE with one sort-free count window, so a
# pathological basket costs O(B) to drop, never O(B^k) to enumerate.


def _basket_df(spark, baskets: dict[int, int]):
    rows = [
        (oid, 1_000_000 * oid + p)
        for oid, n in baskets.items()
        for p in range(n)
    ]
    return spark.createDataFrame(rows, "l_orderkey long, l_partkey long")


def test_mineable_baskets_drops_oversized_whole(spark):
    from pinterest_data_pipeline_spark.plans.extensions import (
        _mineable_baskets,
    )

    df = _basket_df(spark, {1: 3, 2: 6, 3: 4})
    out = _mineable_baskets(df, cap=5)
    got = {r.l_orderkey for r in out.select("l_orderkey").distinct().collect()}
    assert got == {1, 3}, got
    # surviving baskets keep EVERY row (whole-basket semantics, no trim)
    assert out.count() == 3 + 4


def test_cooccurrence_edges_survive_hot_basket(spark):
    """A basket wider than the cap contributes NO edges; support-2 edges
    from normal baskets are unaffected. The hot basket enters the plan
    (same frame), so this also pins that the guard runs before the
    self-join fan-out."""
    from pinterest_data_pipeline_spark.plans.extensions import (
        _cooccurrence_edges,
    )

    normal = {10: 3, 11: 3}  # identical part trios -> support-2 edges
    rows = [(oid, 500 + p) for oid in normal for p in range(3)]
    hot = [(99, p) for p in range(600)]  # 600 > _BASKET_CAP = 512
    df = spark.createDataFrame(
        rows + hot, "l_orderkey long, l_partkey long"
    )
    edges = {(r.a, r.b) for r in _cooccurrence_edges(df).collect()}
    assert edges == {(500, 501), (500, 502), (501, 502)}, edges


def test_hot_basket_guard_is_linear_not_quadratic(spark):
    """Volume check (the pattern-match hot-key stress, basket edition): one
    50k-item bot basket plus 200 normal baskets through the guarded
    pair-mining shape completes quickly — the bot basket is measured
    (one count window pass) and dropped, never pair-enumerated
    (unguarded it would emit 1.25e9 pairs in one task)."""
    import time

    from pinterest_data_pipeline_spark.plans.extensions import (
        _mineable_baskets,
    )

    normal = [(oid, oid * 100 + p) for oid in range(200) for p in range(5)]
    bot = [(9999, p) for p in range(50_000)]
    df = spark.createDataFrame(
        normal + bot, "l_orderkey long, l_partkey long"
    )
    baskets = _mineable_baskets(df)
    joined = (
        baskets.select("l_orderkey", F.col("l_partkey").alias("a"))
        .join(
            baskets.select("l_orderkey", F.col("l_partkey").alias("b")),
            "l_orderkey",
        )
        .filter(F.col("a") < F.col("b"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    # plan-shape proof: the _bsz cap filter must sit BELOW
    # the self-join in the optimized plan — that ordering, not the wall
    # clock, is what prevents the 1.25e9-pair fan-out. The join node
    # appears before (= above) the last _bsz filter in the plan text.
    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "_bsz" in plan, "cap filter missing from the optimized plan"
    join_pos = plan.find("Join")
    bsz_pos = plan.rfind("_bsz")
    assert 0 <= join_pos < bsz_pos, (
        "cap filter is not below the self-join in the optimized plan"
    )
    t0 = time.perf_counter()
    pairs = joined.collect()
    elapsed = time.perf_counter() - t0
    assert pairs[0].n_pairs == 200 * 10  # C(5,2) per normal basket
    # generous wall-clock backstop only — the plan assert above is the
    # real guard-ran-first proof (time bounds flake on load)
    assert elapsed < 120, f"guarded mining took {elapsed:.1f}s"


def test_basket_cap_oracles_track_spark_constant():
    """The six hot-basket-guard DuckDB duals derive
    their cap from the ONE Spark-side constant at registration time —
    TPC-H data (<= 7 items/basket) can never surface a drift through
    parity, so pin the substitution structurally."""
    from pinterest_data_pipeline_spark.plans.extensions import _BASKET_CAP
    from pinterest_data_pipeline_spark.plans.oracles import ORACLES

    guarded = [k for k, v in ORACLES.items() if "_ok_baskets" in v]
    assert sorted(guarded) == [
        "events_market_basket_pairs",
        "events_market_basket_triples",
        "graph_bfs_hops",
        "graph_label_propagation",
        "graph_pagerank",
        "graph_triangle_count",
    ], guarded
    for k in guarded:
        assert f"_bsz <= {_BASKET_CAP}" in ORACLES[k], k
        assert "__BASKET_CAP__" not in ORACLES[k], k
