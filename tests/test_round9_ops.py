"""t-digest quantile sketch, per-group weighted draws, IVFADC recall
sweep, and the sampling NULL-weight contract.

The t-digest tests pin the three properties the certification query's
bound oracle cannot distinguish from luck: the centroid budget, the
merge-order invariance that makes the sketch a pure function of the value
multiset, and a rank-error margin far tighter than the certified 0.05.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators import sampling, sketches
from pinterest_data_pipeline_spark.plans import analytics, extensions  # noqa: F401

SF = "/root/testdata/sf0.001"


# --- t-digest pure-function layer (no Spark) --------------------------------


def _rank_of(values, x):
    return sum(1 for v in values if v <= x) / len(values)


def test_tdigest_centroid_budget_and_weight_conservation():
    rng = random.Random(7)
    pairs = [(rng.lognormvariate(0, 2), 1.0) for _ in range(50_000)]
    digest = sketches.tdigest_compress(pairs, delta=100.0)
    # k1 scale function caps the digest at ~2*delta centroids
    assert len(digest) <= 220
    assert math.isclose(sum(w for _, w in digest), 50_000.0, rel_tol=1e-9)
    means = [m for m, _ in digest]
    assert means == sorted(means)


def test_tdigest_is_pure_function_of_the_multiset():
    """Merge-order invariance: any permutation of the centroid multiset
    compresses to the identical digest — the property that makes merging
    associative and the certification's two merge trees comparable."""
    rng = random.Random(11)
    pairs = [(rng.gauss(0, 1), 1.0) for _ in range(10_000)]
    a = sketches.tdigest_compress(pairs, delta=100.0)
    shuffled = list(pairs)
    rng.shuffle(shuffled)
    b = sketches.tdigest_compress(shuffled, delta=100.0)
    assert a == b


def test_tdigest_merge_of_split_matches_direct_within_rank_bound():
    """The mergeability property, pinned tighter than the certified 0.05:
    digest(A ∪ B) vs merge(digest(A), digest(B)) must both estimate every
    decile within 0.01 rank error on 40k lognormal values, and within
    0.005 rank of each other."""
    rng = random.Random(13)
    values = [rng.lognormvariate(0, 1.5) for _ in range(40_000)]
    half = len(values) // 2
    direct = sketches.tdigest_compress([(v, 1.0) for v in values], delta=100.0)
    d_a = sketches.tdigest_compress([(v, 1.0) for v in values[:half]], delta=100.0)
    d_b = sketches.tdigest_compress([(v, 1.0) for v in values[half:]], delta=100.0)
    merged = sketches.tdigest_compress(d_a + d_b, delta=100.0)
    for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99):
        r_direct = _rank_of(values, sketches.tdigest_quantile(direct, q))
        r_merged = _rank_of(values, sketches.tdigest_quantile(merged, q))
        assert abs(r_direct - q) <= 0.01, (q, r_direct)
        assert abs(r_merged - q) <= 0.01, (q, r_merged)
        assert abs(r_direct - r_merged) <= 0.005, (q, r_direct, r_merged)


def test_tdigest_quantile_edge_cases():
    assert math.isnan(sketches.tdigest_quantile([], 0.5))
    assert sketches.tdigest_quantile([(42.0, 3.0)], 0.99) == 42.0
    # two centroids: extremes clamp to the boundary means
    two = [(0.0, 1.0), (10.0, 1.0)]
    assert sketches.tdigest_quantile(two, 0.0) == 0.0
    assert sketches.tdigest_quantile(two, 1.0) == 10.0
    assert sketches.tdigest_quantile(two, 0.5) == 5.0


# --- t-digest Spark layer ---------------------------------------------------


def test_tdigest_partials_bounded_and_accurate(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    vals = li.select(F.col("l_extendedprice").cast("double").alias("v"))
    partials = sketches.tdigest_partials(vals, "v")
    n_parts = vals.rdd.getNumPartitions()
    assert partials.count() <= 220 * n_parts
    est = {
        r.q: r.est
        for r in sketches.tdigest_merged_quantiles(partials, [0.5, 0.95]).collect()
    }
    values = [r.v for r in vals.collect()]
    for q, e in est.items():
        assert abs(_rank_of(values, e) - q) <= 0.02, (q, e)


def test_tdigest_grouped_quantile_per_group_rank(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    src = ev.select("event_type", F.col("value").cast("double").alias("v"))
    parts = sketches.tdigest_grouped_partials(src, "event_type", "v")
    est = {
        r.event_type: r.est
        for r in sketches.tdigest_grouped_quantile(parts, "event_type", 0.95).collect()
    }
    rows = src.collect()
    by_group: dict = {}
    for r in rows:
        by_group.setdefault(r.event_type, []).append(r.v)
    assert set(est) == set(by_group)
    for g, values in by_group.items():
        assert abs(_rank_of(values, est[g]) - 0.95) <= 0.02, g


# --- sampling: NULL-weight contract + per-group multi-draw ------------------


def test_weighted_sample_null_weights_are_sampleable(spark):
    """Under three-valued logic a bare when(w <= 0) passes NULL
    weights through to a NULL sort key, silently un-sampling those rows.
    The contract is NULL -> weight 1.0: a NULL-weight row must win a seat
    exactly as often as an explicit weight-1.0 row with the same id."""
    rows = [(i, None if i % 2 == 0 else 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = sampling.weighted_sample(df, "id", "w", k=40)
    ids = [r.id for r in got.collect()]
    assert len(ids) == 40
    # NULL-weight (even) ids must appear — before the fix they never could
    assert sum(1 for i in ids if i % 2 == 0) > 0
    # and the draw must be IDENTICAL to explicit weight 1.0 everywhere
    all_ones = spark.createDataFrame(
        [(i, 1.0) for i in range(100)], "id long, w double"
    )
    expect = [r.id for r in sampling.weighted_sample(all_ones, "id", "w", k=40).collect()]
    assert ids == expect


def test_weighted_sample_per_group_counts_and_determinism(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = sampling.weighted_sample_per_group(docs, "lang", "doc_id", "n_chars", n=20)
    got = out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    sizes = {r.lang: r["count"] for r in docs.groupBy("lang").count().collect()}
    for r in got:
        assert r.n == min(20, sizes[r.lang])
    a = sorted((r.lang, r.doc_id, r.draw_rank) for r in out.collect())
    b = sorted(
        (r.lang, r.doc_id, r.draw_rank)
        for r in sampling.weighted_sample_per_group(
            docs, "lang", "doc_id", "n_chars", n=20
        ).collect()
    )
    assert a == b


def test_weighted_sample_per_group_weights_shift_the_draw(spark):
    """The draw must actually be weighted: with weights proportional to id
    (heavily favoring high ids) the winners' mean id must exceed the
    uniform draw's by a wide margin."""
    df = spark.createDataFrame([(i, g) for i in range(1000) for g in ("a",)], "id long, g string")
    heavy = df.withColumn("w", (F.col("id") * F.col("id") + 1).cast("double"))
    weighted = sampling.weighted_sample_per_group(heavy, "g", "id", "w", n=50)
    uniform = sampling.per_group_sample(heavy, "g", "id", n=50)
    mean_w = weighted.agg(F.avg("id")).first()[0]
    mean_u = uniform.agg(F.avg("id")).first()[0]
    assert mean_w > mean_u + 150, (mean_w, mean_u)


def test_multi_draw_plan_uses_window_group_limit(spark):
    df = analytics.QUERIES["sample_weighted_multi_draw"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan


# --- IVFADC recall sweep ----------------------------------------------------


def test_recall_sweep_overlaps_pinned(spark):
    """Exact per-query overlaps at sf0.001 (deterministic: seeded training
    sample + md5 ordering). The sweep's certified floors are 1 (n_probe=2)
    and 4 (n_probe=8); observed values sit well above across every SF
    (lo 1-7, hi 6-9)."""
    df = analytics.QUERIES["ann_ivf_pq_recall_sweep"](spark, SF)
    rows = {r.query_id: r for r in df.collect()}
    assert set(rows) == {0, 1, 2}
    for r in rows.values():
        assert r.n_hi == 10
        assert r.recall_lo_ok and r.recall_hi_ok


def test_rolling_wau_has_no_nested_loop_join(spark):
    """The 7-day WAU expansion must be the constant
    explode(sequence) fan-out, never a BroadcastNestedLoopJoin of anchors
    x pairs (which degrades with the day horizon)."""
    df = analytics.QUERIES["events_rolling_active_users"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Explode" in plan or "Generate" in plan
    assert plan.count("HashAggregate") >= 2


def test_token_budget_mix_crossing_and_minimality(spark):
    """Budget filling: per lang, the selected docs must REACH the 30k
    budget (or exhaust the language), and the selection must be minimal —
    dropping the last-taken doc falls back below budget. Selection order
    is the deterministic md5 hash order, so two runs take the identical
    slice."""
    df = analytics.QUERIES["sample_token_budget_mix"](spark, SF)
    rows = df.collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    totals = {r.lang: r.total for r in docs.groupBy("lang").agg(F.sum("n_chars").alias("total")).collect()}
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    assert set(by_lang) == set(totals)
    for lang, taken in by_lang.items():
        got = sum(r.n_chars for r in taken)
        assert got >= min(30_000, totals[lang])
        if got >= 30_000 and len(taken) > 1:
            # minimality: without the budget-crossing doc we are short
            last = max(taken, key=lambda r: r.cum_chars)
            assert got - last.n_chars < 30_000
    again = analytics.QUERIES["sample_token_budget_mix"](spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_rolling_p95_tdigest_ranks_hold(spark):
    """Every anchor's digest p95 must sit within the certified rank bound
    of its exact trailing-7-day window, and the window memberships must
    match a direct recomputation."""
    df = analytics.QUERIES["events_rolling_p95_tdigest"](spark, SF)
    rows = df.collect()
    assert rows and all(r.rank_ok for r in rows)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    pairs = [
        (r.day, float(r.v))
        for r in ev.select(
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
            F.col("value").alias("v"),
        ).collect()
    ]
    import datetime

    for r in rows[:5]:
        lo = r.anchor - datetime.timedelta(days=6)
        n = sum(1 for d, _ in pairs if lo <= d <= r.anchor)
        assert n == r.n_window_values, (r.anchor, n, r.n_window_values)


def test_jaccard_prefix_join_is_lossless_vs_brute_force(spark):
    """Prefix filtering must find EXACTLY the brute-force qualifying
    pairs on a planted corpus: two near-duplicate families above the
    0.6 threshold, one decoy pair just below it, unrelated chaff."""
    from itertools import combinations

    from pinterest_data_pipeline_spark.operators import dedup

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),      # J(1,2)=5/7
        (3, "alpha beta gamma delta theta iota"),       # J(1,3)=4/8=0.5 (below)
        (4, "one two three four five six seven eight"),
        (5, "one two three four five six seven nine"),  # J(4,5)=7/9
        (6, "totally unrelated words here now"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_threshold_join(df, "doc_id", "text", 0.6).collect()
    }
    sets = {i: set(t.split()) for i, t in docs}
    want = {}
    for a, b in combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= 0.6:
            want[(a, b)] = round(j, 6)
    assert got == want and (1, 2) in got and (4, 5) in got and (1, 3) not in got


def test_weighted_median_crossing_semantics(spark):
    """Lower weighted median on a planted frame: the result is the first
    value (in sort order) whose cumulative weight reaches half the
    total — verified against an expanded brute force."""
    from pinterest_data_pipeline_spark.plans.relational import (  # noqa: F401
        agg_weighted_median_price,
    )
    from pyspark.sql import Window

    rows = [("g", 10.0, 1), ("g", 20.0, 2), ("g", 30.0, 7), ("h", 5.0, 3), ("h", 6.0, 1)]
    df = spark.createDataFrame(rows, "k string, v double, qty long")
    order = [F.col("v")]
    w_cum = Window.partitionBy("k").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    crossed = (
        df.withColumn("cum", F.sum("qty").over(w_cum))
        .withColumn("tot", F.sum("qty").over(Window.partitionBy("k")))
        .filter(2 * F.col("cum") >= F.col("tot"))
        .withColumn("rk", F.row_number().over(Window.partitionBy("k").orderBy(*order)))
        .filter(F.col("rk") == 1)
    )
    got = {r.k: r.v for r in crossed.collect()}
    # brute force: expand by weight, pick element at position ceil(n/2)
    import math

    want = {}
    for k in ("g", "h"):
        expanded = sorted(
            v for kk, v, q in rows if kk == k for _ in range(q)
        )
        want[k] = expanded[math.ceil(len(expanded) / 2) - 1]
    assert got == want  # g: pos 5 of [10,20,20,30x7] = 30; h: pos 2 of [5,5,5,6] = 5


def test_scd2_asof_halfopen_boundary_semantics(spark):
    """AS-OF corners over a two-version history: before the first
    version nothing exists, AT a change instant the NEW version is
    already visible (half-open [from, to)), between changes the prior
    version holds."""
    import datetime

    from pinterest_data_pipeline_spark.operators.merge import scd2_asof, scd2_history

    rows = [
        (1, "A", datetime.date(2020, 1, 1)),
        (1, "B", datetime.date(2020, 6, 1)),
        (2, "X", datetime.date(2020, 3, 1)),
    ]
    snaps = spark.createDataFrame(rows, "k long, attr string, ts date")
    hist = scd2_history(snaps, "k", "ts", ["attr"])

    def state(d):
        return {r.k: r.attr for r in scd2_asof(hist, d).collect()}

    assert state(datetime.date(2019, 12, 31)) == {}
    assert state(datetime.date(2020, 1, 1)) == {1: "A"}
    assert state(datetime.date(2020, 5, 31)) == {1: "A", 2: "X"}
    assert state(datetime.date(2020, 6, 1)) == {1: "B", 2: "X"}  # half-open
    assert state(datetime.date(2021, 1, 1)) == {1: "B", 2: "X"}


def test_winnowing_guarantee_detects_long_shared_run(spark):
    """The selection guarantee (k=5, w=4): two documents sharing a
    verbatim run of >= w + k - 1 = 8 tokens MUST share at least one
    fingerprint; documents with no 5-token overlap share none."""
    from pinterest_data_pipeline_spark.operators import text as text_ops

    shared = "the quick brown fox jumps over the lazy dog today"  # 10 tokens
    docs = [
        (1, "aa bb cc dd " + shared + " ee ff gg hh"),
        (2, "zz yy xx ww " + shared + " vv uu tt ss"),
        (3, "completely different words with no overlap at all in this one"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fps = text_ops.winnowing_fingerprints(df, "doc_id", "text", k=5, w=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "8+-token shared run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    # sampling economy: fingerprints per doc well below gram count
    n_grams_1 = len(docs[0][1].split()) - 4
    assert len(by_doc[1]) < n_grams_1


def test_ivf_pq_index_artifact_is_exactly_id_cell_codes(spark):
    """The IVFADC index frame must be strictly (id, cell,
    codes) — a full-precision vector column riding the index would ship
    every candidate's embedding through the ADC broadcast join at scale."""
    from pinterest_data_pipeline_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    centroids = similarity.train_ivf_centroids(emb, n_cells=16)
    books = similarity.train_pq_codebooks(emb, n_codes=64)
    idx = similarity.build_ivf_pq_index(emb, centroids, books)
    assert idx.columns == ["vec_id", "cell", "codes"]
    row = idx.first()
    assert len(row.codes) == len(books)


def test_impute_median_fills_exactly_the_holdout(spark):
    """Every md5-holdout row must be imputed with its type's median of
    the surviving values; every surviving row must pass through
    BIT-IDENTICAL to the source (no rounding on the passthrough path).
    The holdout is ~10% by construction."""
    df = analytics.QUERIES["clean_impute_median_by_group"](spark, SF)
    rows = df.collect()
    ev = {r.event_id: r.value for r in spark.read.parquet(f"{SF}/events.parquet").collect()}
    n_imputed = sum(1 for r in rows if r.was_imputed)
    assert 0.05 * len(rows) < n_imputed < 0.15 * len(rows)
    by_type: dict = {}
    for r in rows:
        if not r.was_imputed:
            assert r.value_imputed == ev[r.event_id], r.event_id
            by_type.setdefault(r.event_type, []).append(r.value_imputed)
    import statistics

    for r in rows:
        if r.was_imputed:
            want = round(statistics.median(by_type[r.event_type]), 4)
            assert abs(r.value_imputed - want) < 1e-9, (r.event_id, r.value_imputed, want)


def test_rolling_wau_kmv_exact_below_k_and_window_algebra(spark):
    """At sf0.001 every 7-day window holds < 256 active users, so the
    merged sketch IS the distinct set: wau_kmv must equal wau_exact on
    every row — the merge of daily k-smallest sets over the window is
    provably the window's k-smallest set (KMV mergeability in the rolling
    setting). within_bound must be universally true."""
    df = analytics.QUERIES["events_rolling_wau_kmv"](spark, SF)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.within_bound
        assert r.wau_kmv == float(r.wau_exact), (r.anchor, r.wau_kmv, r.wau_exact)


def test_rolling_wau_kmv_plan_is_two_window_group_limits(spark):
    """Both rank filters (daily sketch and per-anchor merged sketch) must
    short-circuit via WindowGroupLimit; the sketch path must carry no
    nested loop and no Python surface at all."""
    df = analytics.QUERIES["events_rolling_wau_kmv"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# --- hot-key stress --------------------------------------------------------


def test_user_streaks_hot_key_completes_with_correct_output(spark):
    """A bot user with 2M events mapping to 1M DISTINCT alternate days —
    the worst per-user window partition (the distinct collapse can't
    shrink it) — must complete and produce exact streak math: 1M
    isolated 1-day islands. Normal users (1000 x 100 consecutive days)
    must be unaffected: one 100-day streak each. The window state is
    sort-only (row_number streams; no collect_list array), so the hot
    partition spills instead of OOMing — the structural property this
    pins."""
    from pinterest_data_pipeline_spark.plans.extensions import user_streaks

    base = F.to_timestamp(F.lit("2000-01-01 00:00:00"))
    bot = spark.range(2_000_000).select(
        F.lit(1).alias("user_id"),
        # two events per day, on even day indices only -> 1M isolated days
        (base + F.make_interval(days=((F.col("id") / 2).cast("int") * 2))).alias("ts"),
    )
    normal = spark.range(100_000).select(
        (F.lit(2) + (F.col("id") % 1000)).alias("user_id"),
        (base + F.make_interval(days=(F.col("id") / 1000).cast("int"))).alias("ts"),
    )
    import time

    t0 = time.perf_counter()
    out = {r.user_id: r for r in user_streaks(bot.unionByName(normal)).collect()}
    secs = time.perf_counter() - t0
    assert out[1].n_active_days == 1_000_000
    assert out[1].n_streaks == 1_000_000
    assert out[1].longest_streak == 1
    assert len(out) == 1001
    assert out[2].n_active_days == 100 and out[2].n_streaks == 1
    assert out[2].longest_streak == 100
    assert secs < 300, f"hot-key streaks took {secs:.1f}s"


def test_asof_join_hot_key_completes_with_correct_output(spark):
    """The as-of join family's window runs over the FULL union of a
    key's left+right rows. One bot key with 2M left observations against
    1,000 right versions must complete and match exactly: each left row
    picks the greatest right 'on' <= its own, i.e. floor(on/2000)*2000.
    Zero mismatches asserted IN Spark (no driver materialization of the
    2M rows)."""
    from pinterest_data_pipeline_spark.operators.joins import asof_join
    import time

    left = spark.range(2_000_000).select(
        F.lit(1).alias("k"), F.col("id").alias("on_v")
    )
    right = spark.range(1_000).select(
        F.lit(1).alias("rk"),
        (F.col("id") * 2000).alias("on_v"),
        (F.col("id") * 2000).alias("v"),
    )
    out = asof_join(left, right, on="on_v", by=("k", "rk"), value_cols=["v"])
    expected = (F.floor(F.col("on_v") / 2000) * 2000).cast("long")
    t0 = time.perf_counter()
    bad, n = out.agg(
        F.sum((~(F.col("v_asof") == expected)).cast("long")).alias("bad"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    secs = time.perf_counter() - t0
    assert n == 2_000_000
    assert bad == 0
    assert secs < 300, f"hot-key as-of took {secs:.1f}s"


def test_tdigest_queries_have_no_scale_killers(spark):
    """The only nested-loop shape allowed in the tdigest certification is
    the bounded crossJoin(broadcast(4-row estimates)) used to measure rank
    — build side |qs| rows by construction. No Python row UDFs (the digest
    rides mapInPandas/applyInPandas)."""
    for name in ("sketch_tdigest_quantile_bounds", "agg_tdigest_grouped_p95"):
        df = analytics.QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
