"""Weighted t-digest, the reshaped exact weighted
median, and the PPJoin length filter.

The weighted-digest tests pin the properties the certification query's
bound oracle cannot distinguish from luck: weighted-rank accuracy far
tighter than the certified 0.05, merge-order invariance with non-unit
weights, and the NULL/non-positive-weight no-mass contract. The PPJoin
tests pin that the new length filter changes CANDIDATES only — the exact
output is invariant.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators import dedup, sketches

SF = "/root/testdata/sf0.001"


def _wrank(pairs, x):
    """Weighted rank of x in [(value, weight)]: mass at or below x."""
    total = sum(w for _, w in pairs)
    return sum(w for v, w in pairs if v <= x) / total


def _exact_weighted_median(pairs):
    """Lower weighted median: smallest v with 2*cum(v) >= total."""
    total = sum(w for _, w in pairs)
    cum = 0.0
    for v, w in sorted(pairs):
        cum += w
        if 2 * cum >= total:
            return v
    raise AssertionError("empty input")


# --- weighted t-digest, pure-function layer ---------------------------------


def test_weighted_tdigest_quantile_in_weighted_rank_space():
    """A digest built from (value, weight) pairs estimates the weighted
    median within 0.01 WEIGHTED rank on skewed weights — the property the
    sketch_tdigest_weighted_median bound oracle certifies at 0.05."""
    rng = random.Random(17)
    pairs = [
        (rng.lognormvariate(0, 1.5), float(rng.randint(1, 50)))
        for _ in range(30_000)
    ]
    digest = sketches.tdigest_compress(pairs, delta=100.0)
    for q in (0.1, 0.25, 0.5, 0.75, 0.9):
        est = sketches.tdigest_quantile(digest, q)
        assert abs(_wrank(pairs, est) - q) <= 0.01, (q, est)


def test_weighted_tdigest_mergeability():
    """merge(digest(A), digest(B)) vs digest(A ∪ B) with non-unit weights:
    both within 0.01 weighted rank of each decile, within 0.005 of each
    other — weights ride the same centroid algebra as counts."""
    rng = random.Random(19)
    pairs = [
        (rng.gauss(100, 30), float(rng.randint(1, 20))) for _ in range(20_000)
    ]
    half = len(pairs) // 2
    direct = sketches.tdigest_compress(pairs, delta=100.0)
    merged = sketches.tdigest_compress(
        sketches.tdigest_compress(pairs[:half], delta=100.0)
        + sketches.tdigest_compress(pairs[half:], delta=100.0),
        delta=100.0,
    )
    for q in (0.1, 0.5, 0.9):
        r_d = _wrank(pairs, sketches.tdigest_quantile(direct, q))
        r_m = _wrank(pairs, sketches.tdigest_quantile(merged, q))
        assert abs(r_d - q) <= 0.01, (q, r_d)
        assert abs(r_m - q) <= 0.01, (q, r_m)
        assert abs(r_d - r_m) <= 0.005, (q, r_d, r_m)


# --- weighted t-digest, Spark layer -----------------------------------------


def test_tdigest_weighted_partials_drop_null_and_nonpositive_weights(spark):
    """NULL and non-positive weights carry no rank mass: the digest of
    {1 (w=1), 2 (w=NULL), 3 (w=0), 4 (w=-5), 100 (w=3)} has total weight
    4 and its p50 sits at 100 (3 of 4 units of mass)."""
    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, None), (3.0, 0.0), (4.0, -5.0), (100.0, 3.0)],
        "v double, w double",
    )
    partials = sketches.tdigest_partials(df, "v", weight_col="w").collect()
    assert sum(r.weight for r in partials) == pytest.approx(4.0)
    est = sketches.tdigest_merged_quantiles(
        sketches.tdigest_partials(df, "v", weight_col="w"), [0.9]
    ).collect()[0].est
    assert est == pytest.approx(100.0)


def test_tdigest_weighted_partials_match_exact_weighted_median(spark):
    """qty-weighted price digest vs the exact weighted median on real
    lineitem data: within 0.02 weighted rank (certified at 0.05)."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        F.col("l_extendedprice").cast("double").alias("v"),
        F.col("l_quantity").cast("double").alias("w"),
    )
    est = sketches.tdigest_merged_quantiles(
        sketches.tdigest_partials(li, "v", weight_col="w"), [0.5]
    ).collect()[0].est
    pairs = [(r.v, r.w) for r in li.collect()]
    assert abs(_wrank(pairs, est) - 0.5) <= 0.02
    # and the exact operator's answer has weighted rank ~0.5 by definition
    exact = _exact_weighted_median(pairs)
    assert _wrank(pairs, exact) >= 0.5


def test_tdigest_grouped_weighted_partials_keep_null_groups(spark):
    """NULL group keys are real groups on the exact sides —
    the sketch side must keep them too (groupby dropna=False)."""
    df = spark.createDataFrame(
        [("a", 1.0, 1.0), (None, 2.0, 1.0), (None, 4.0, 3.0)],
        "g string, v double, w double",
    )
    parts = sketches.tdigest_grouped_partials(df, "g", "v", weight_col="w")
    rows = parts.collect()
    groups = {r.g for r in rows}
    assert groups == {"a", None}
    null_mass = sum(r.weight for r in rows if r.g is None)
    assert null_mass == pytest.approx(4.0)


# --- PPJoin length filter ----------------------------------------------------


def _mkdocs(spark, docs):
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_jaccard_join_output_invariant_under_length_filter(spark):
    """The length filter prunes candidates only — planted pairs at known
    Jaccard values are returned iff >= threshold, exactly as before."""
    docs = _mkdocs(
        spark,
        [
            (1, "a b c d e f g h"),          # |1∩2|=8,|1∪2|=8 -> 1.0 with 2
            (2, "a b c d e f g h"),
            (3, "a b c d e f x y"),          # J(1,3) = 6/10 = 0.6
            (4, "a b x1 x2 x3 x4 x5 x6"),    # J(1,4) = 2/14 < 0.6
            (5, "z1 z2 z3"),                 # J=0 with all
        ],
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_threshold_join(docs, "doc_id", "text", 0.6).collect()
    }
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    assert got[(1, 2)] == pytest.approx(1.0)
    assert got[(1, 3)] == pytest.approx(0.6)


def test_jaccard_join_length_filter_prunes_size_mismatches(spark):
    """t=0.8 and sizes 4 vs 16: Jaccard can be at most 4/16=0.25, so the
    size band must kill the pair at the CANDIDATE stage even though the
    small doc's tokens are all shared (prefix tokens collide)."""
    shared = "a b c d"
    big = shared + " " + " ".join(f"u{i}" for i in range(12))
    docs = _mkdocs(spark, [(1, shared), (2, big), (3, shared)])
    got = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_threshold_join(docs, "doc_id", "text", 0.8).collect()
    }
    assert got == {(1, 3)}


def test_jaccard_prefix_epsilon_boundary():
    """ceil(t*sz) at an exact integer boundary must not round
    UP through float error. t=0.75, sz=8: t*sz = 6.0 exactly; the prefix
    keep-count is sz - ceil(t*sz) + 1 = 3. The epsilon form preserves
    this for every (t, sz) where t*sz is integral."""
    import math

    for t, sz in [(0.75, 8), (0.5, 10), (0.9, 20), (0.6, 5), (0.8, 25)]:
        exact = sz - math.ceil(round(t * sz, 9)) + 1
        eps = sz - math.ceil(t * sz - 1e-9) + 1
        assert eps == exact, (t, sz)


# --- hot-key stresses ------------------------------------------------------


def test_jaccard_hot_token_candidates_bounded(spark):
    """A token present in 50% of docs must be absorbed by the rarity
    ordering: it never enters a prefix, so candidate volume tracks the
    planted duplicates, not the quadratic hot-token pair count
    (~125k pairs for 500 sharers). Asserted at the CANDIDATE stage via
    the exposed jaccard_prefix_candidates."""
    docs = []
    for i in range(1000):
        toks = [f"t{i}_{j}" for j in range(8)]
        if i % 2 == 0:
            toks.append("hot")
        docs.append((i, " ".join(toks)))
    for i in range(5):  # planted exact duplicates
        docs.append((2000 + i, docs[i][1]))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    n_cands = dedup.jaccard_prefix_candidates(df, "doc_id", "text", 0.6).count()
    # 5 planted pairs + incidental prefix collisions; the hot token alone
    # would contribute ~125k pairs if it ever reached a prefix
    assert n_cands <= 100, n_cands
    got = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_threshold_join(df, "doc_id", "text", 0.6).collect()
    }
    assert got == {(i, 2000 + i) for i in range(5)}


def test_winnow_hot_fingerprint_absorbed_by_stop_filter(spark):
    """One verbatim 8-token run shared by ALL docs (a planted ubiquitous
    fingerprint) must be dropped by the >50-docs stop filter, so the pair
    join sees only the planted duplicate pairs — not the ~2M pairs the
    hot fingerprint would otherwise produce across 2000 docs."""
    from pinterest_data_pipeline_spark.operators import text as text_ops

    boiler = " ".join(f"b{j}" for j in range(8))  # >= w+k-1 = 8 tokens
    docs = []
    for i in range(2000):
        body = " ".join(f"d{i}_{j}" for j in range(20))
        docs.append((i, boiler + " " + body))
    for i in range(3):  # planted exact duplicates
        docs.append((5000 + i, docs[i][1]))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fps = text_ops.winnowing_fingerprints(df, "doc_id", "text", k=5, w=4)
    rare = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") <= 50)
    )
    kept = fps.join(rare.select("fingerprint"), "fingerprint")
    a = kept.select(F.col("doc_id").alias("id_a"), "fingerprint")
    b = kept.select(F.col("doc_id").alias("id_b"), "fingerprint")
    pairs = (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(i, 5000 + i) for i in range(3)}
    # the boilerplate run's fingerprints are in >50 docs -> all dropped;
    # every kept fingerprint is in at most the 2 copies of a planted dup
    max_df = kept.groupBy("fingerprint").count().agg(F.max("count")).first()[0]
    assert max_df <= 2, max_df


# --- new-query pins ----------------------------------------------------------


def test_ann_ivf_filtered_all_results_satisfy_predicate(spark):
    """Pre-filtered IVF: full k returned from the filtered corpus, recall
    floor met, and every neighbor satisfies the predicate (vacuous by
    construction — pinned so a refactor to post-filtering fails here)."""
    from pinterest_data_pipeline_spark.plans import extensions

    rows = extensions.ann_ivf_filtered_topk(spark, SF).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.n_returned == 10
        assert r.recall_ok and r.filter_ok


def test_cdc_scd2_roundtrip_paths_agree(spark):
    from pinterest_data_pipeline_spark.plans import relational

    rows = relational.cdc_scd2_roundtrip(spark, SF).collect()
    assert len(rows) == 150  # every customer survives the replay
    assert all(r.paths_agree for r in rows)
    changed = [r for r in rows if r.c_custkey % 3 == 0]
    assert all(r.current_segment.startswith("NEW-") for r in changed)
    assert all(str(r.current_since) == "2020-06-01" for r in changed)
    kept = [r for r in rows if r.c_custkey % 3 != 0]
    assert all(str(r.current_since) == "2020-01-01" for r in kept)


# Column names of each chunked streaming drive on a non-empty events table.
DRIVE_COLUMNS = {
    "incremental_rollup": ["day", "event_type", "event_count", "value_cents"],
    "funnel_steps": ["user_id", "t_view", "t_click", "t_purchase"],
    "attribution_outer": [
        "view_id", "purchase_id", "user_id", "lag_seconds", "purchase_value",
    ],
    "cms_rollup": ["row_idx", "bucket", "cell_count"],
    "tdigest_daily": ["day", "n_values", "p50", "p95"],
    "session_rollup": ["user_id", "session_start_ts", "n_events", "cents"],
    "dedup_rollup": ["day", "event_type", "event_count"],
    "bitmap_distinct": ["day", "n_active"],
}


@pytest.fixture(scope="module")
def empty_events_dir(spark, tmp_path_factory):
    """An sf dir whose events.parquet has the testdata schema and 0 rows."""
    d = tmp_path_factory.mktemp("empty_events")
    ev = spark.read.parquet(f"{SF}/events.parquet").limit(0)
    ev.write.parquet(str(d / "events.parquet"))
    return str(d)


@pytest.mark.parametrize("drive", sorted(DRIVE_COLUMNS))
def test_availablenow_drive_empty_events(spark, empty_events_dir, tmp_path, drive):
    """Every chunked streaming drive returns 0 rows, with its usual
    columns, on an empty events table: the shared midpoint split gives two
    empty chunks instead of subtracting None bounds."""
    from pinterest_data_pipeline_spark.streaming import pipeline as sp

    out = getattr(sp, f"availablenow_{drive}")(
        spark, empty_events_dir, str(tmp_path / "_work")
    )
    assert out.columns == DRIVE_COLUMNS[drive]
    assert out.count() == 0


# --- sparse cosine pairs ----------------------------------------------------


def _brute_cosine_pairs(rows, max_df, ngram=1):
    """Reference: stop-filtered integer-TF cosine over a tiny corpus."""
    import math
    from collections import Counter

    tfs = {}
    for doc_id, text in rows:
        toks = [t for t in text.split(" ") if t != ""] if ngram == 1 else None
        if ngram > 1:
            words = text.split(" ")
            if len(words) < ngram:
                continue
            toks = [
                " ".join(words[i : i + ngram])
                for i in range(len(words) - ngram + 1)
            ]
        tfs[doc_id] = Counter(toks)
    df_counts = Counter(t for c in tfs.values() for t in c)
    kept = {
        d: {t: n for t, n in c.items() if df_counts[t] <= max_df}
        for d, c in tfs.items()
    }
    out = {}
    ids = sorted(kept)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            dot = sum(kept[a][t] * kept[b].get(t, 0) for t in kept[a])
            na = sum(v * v for v in kept[a].values())
            nb = sum(v * v for v in kept[b].values())
            if dot and na and nb:
                out[(a, b)] = (dot, round(dot / math.sqrt(na * nb), 4))
    return out


def test_sparse_cosine_matches_bruteforce_word_terms(spark):
    """Word-term path vs a driver-side brute force on a planted corpus:
    every pair's integer dot and rounded cosine match exactly."""
    from pinterest_data_pipeline_spark.operators import similarity

    rows = [
        (1, "red fish blue fish old fish"),
        (2, "red fish blue fish"),
        (3, "one fish two fish red fish blue fish"),
        (4, "entirely different words here"),
        (5, "different words again here here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): (r.dot, r.cosine)
        for r in similarity.sparse_cosine_pairs(
            df, "doc_id", "text", threshold=0.0, max_df=50
        ).collect()
    }
    want = _brute_cosine_pairs(rows, max_df=50)
    assert got == want
    # sanity: the near-identical pair scores high, the unrelated pair low
    assert got[(1, 2)][1] > 0.8 > got.get((1, 4), (0, 0.0))[1]


def test_sparse_cosine_ngram_terms_and_stop_filter(spark):
    """Shingle terms recover order sensitivity, and a term above max_df
    carries no mass: docs sharing ONLY the hot shingle never pair."""
    from pinterest_data_pipeline_spark.operators import similarity

    hot = "lorem ipsum dolor"
    rows = [(i, f"{hot} tail{i} x y") for i in range(1, 9)]
    rows += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma delta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): (r.dot, r.cosine)
        for r in similarity.sparse_cosine_pairs(
            df, "doc_id", "text", threshold=0.0, max_df=5, ngram=3
        ).collect()
    }
    want = _brute_cosine_pairs(rows, max_df=5, ngram=3)
    assert got == want
    # the 8 hot-shingle docs pair only through sub-max_df shingles
    # ("ipsum dolor tailN" is unique per doc) — so no hot-only pairs
    assert all(not (a < 100 and b < 100) for a, b in got), got
    assert got[(100, 101)][1] == 1.0


# --- KMV set overlap --------------------------------------------------------


def _kmv_overlap(spark, a_vals, b_vals, k):
    from pinterest_data_pipeline_spark.operators import sketches

    a = spark.createDataFrame([(v,) for v in a_vals], "v long")
    b = spark.createDataFrame([(v,) for v in b_vals], "v long")
    ska = sketches.kmv_sketch(a, "v", k=k, salt="t")
    skb = sketches.kmv_sketch(b, "v", k=k, salt="t")
    sku = sketches.kmv_merge(ska, skb, k=k)
    n_union = sku.count()
    h_k = sku.agg(F.max("h")).first()[0]
    m = sku.join(ska, "h").join(skb, "h").count()
    est_u = (
        float(n_union)
        if n_union < k
        else (k - 1) * 4294967296.0 / h_k
    )
    return m / n_union, est_u * m / n_union


def test_kmv_overlap_exact_below_k(spark):
    """Sketches below capacity hold the whole sets: rho IS the Jaccard
    and the intersection estimate IS the intersection size."""
    a_vals = list(range(0, 60))
    b_vals = list(range(40, 100))  # |A∩B| = 20, |A∪B| = 100
    jac, inter = _kmv_overlap(spark, a_vals, b_vals, k=256)
    assert jac == 20 / 100
    assert inter == 20.0


def test_kmv_overlap_estimates_within_tolerance(spark):
    """Full sketches (k=64 over 3000-element sets, |A∩B|/|A∪B| = 1/3):
    the estimator lands within a loose 3-sigma-ish band (seeded md5
    hashes — deterministic, so this is a fixed-value regression too)."""
    a_vals = list(range(0, 2000))
    b_vals = list(range(1000, 3000))  # jaccard = 1000/3000
    jac, inter = _kmv_overlap(spark, a_vals, b_vals, k=64)
    assert abs(jac - 1 / 3) <= 0.18, jac
    assert abs(inter - 1000) <= 550, inter


# --- market-basket pairs ----------------------------------------------------


def test_market_basket_pair_counts_and_lift(spark):
    """Planted baskets with a known co-occurrence: counts and lift are
    the textbook values, support-1 pairs are dropped."""
    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES
    import tempfile, os

    # orders: {A,B} x3, {A,C} x1, {B,C} x1, {D} x1  -> 6 orders
    baskets = {
        1: ["A", "B"], 2: ["A", "B"], 3: ["A", "B"],
        4: ["A", "C"], 5: ["B", "C"], 6: ["D"],
    }
    part_ids = {"A": 1, "B": 2, "C": 3, "D": 4}
    rows = [
        (o, part_ids[p], i)
        for o, parts in baskets.items()
        for i, p in enumerate(parts)
    ]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_linenumber long"
    )
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        out = {
            (r.part_a, r.part_b): (r.c_pair, r.lift)
            for r in QUERIES["events_market_basket_pairs"](spark, d).collect()
        }
    # A in 4 orders, B in 4, C in 2; N=6. AB: c=3 lift=3*6/16; support-1
    # pairs AC and BC are dropped.
    assert out == {(1, 2): (3, round(18 / 16, 4))}


# --- JL random projection ---------------------------------------------------


def test_jl_projection_matches_numpy_and_preserves_distances(spark):
    """Projected components are the exact integer matrix-vector products,
    and scaled pairwise distances land within the JL band on a planted
    set (sqrt(3/k) scale for the sparse ±1 matrix)."""
    import math
    import numpy as np

    from pinterest_data_pipeline_spark.operators import similarity

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(12, 64)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    out = {
        r.vec_id: list(r.proj)
        for r in similarity.jl_project_quantized(df).collect()
    }
    # exact integer reference
    q = np.round(vecs.astype("float64") * 1000)
    R = np.zeros((16, 64))
    for j, d, v in similarity.jl_projection_rows():
        R[j, d] = v
    for i in range(12):
        assert out[i] == [int(x) for x in (R @ q[i])], i
    # JL distance preservation: sqrt(3/16)-scaled projected distances
    # within a loose (1 ± 0.6) band of the originals (k=16 is tiny)
    scale = math.sqrt(3.0 / 16.0) / 1000.0
    for i in range(12):
        for j in range(i + 1, 12):
            orig = float(np.linalg.norm(q[i] - q[j])) / 1000.0
            prj = (
                float(np.linalg.norm((R @ q[i]) - (R @ q[j]))) * scale
            )
            assert 0.4 * orig <= prj <= 1.6 * orig, (i, j, orig, prj)


def test_jl_projection_matrix_every_output_dim_populated():
    from pinterest_data_pipeline_spark.operators import similarity

    rows = similarity.jl_projection_rows()
    used = {j for j, _, _ in rows}
    assert used == set(range(16))
    # Achlioptas density ~1/3 of 1024 cells
    assert 250 <= len(rows) <= 430, len(rows)


# --- global percent rank without a global window ----------------------------


def test_global_percent_rank_matches_window_function(spark):
    """The distinct-value reshape reproduces percent_rank() semantics
    exactly: mean_pct_rank per group == avg of the window function
    (ties share the first row's rank in BOTH formulations)."""
    import random as _random

    from pyspark.sql import Window as W

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES
    import tempfile, os

    rng = _random.Random(3)
    rows = [
        (rng.choice("ABC"), float(rng.choice([10, 10, 20, 30, 30, 30, 40])))
        for _ in range(500)
    ]
    li = spark.createDataFrame(rows, "l_returnflag string, l_extendedprice double")
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        got = {
            r.l_returnflag: (r.n_rows, r.sum_rank_lt, r.mean_pct_rank)
            for r in QUERIES["window_global_percent_rank"](spark, d).collect()
        }
    pr = li.withColumn(
        "pr", F.percent_rank().over(W.orderBy("l_extendedprice"))
    )
    want = {
        r.l_returnflag: (r.n, round(r.m, 4))
        for r in pr.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("pr").alias("m"))
        .collect()
    }
    for flag, (n_rows, _, mean_pr) in got.items():
        assert (n_rows, mean_pr) == want[flag], flag


# --- streaming exactly-once dedup -------------------------------------------


def test_streaming_dedup_rollup_absorbs_replays(spark, tmp_path):
    """The at-least-once drive really delivers duplicates (raw source rows
    > distinct events), yet the maintained table equals the batch rollup
    over the ORIGINAL events — exactly-once end to end."""
    import os

    from pinterest_data_pipeline_spark.streaming.pipeline import (
        availablenow_dedup_rollup,
    )
    from pinterest_data_pipeline_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    work = str(tmp_path / "dedup_rollup")
    out = availablenow_dedup_rollup(spark, sf, work)

    events = load_table(spark, sf, "events").select("event_id", "ts", "event_type")
    n_events = events.count()
    raw = spark.read.parquet(os.path.join(work, "src"))
    assert raw.count() > n_events  # replays were actually delivered
    assert raw.count() == n_events + events.filter(F.col("event_id") % 5 == 0).count()

    want = {
        (str(r.day), r.event_type): r.n
        for r in events.selectExpr(
            "cast(date_trunc('day', ts) as date) as day", "event_type"
        )
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {
        (str(r.day), r.event_type): r.event_count for r in out.collect()
    }
    assert got == want


def test_market_basket_hot_basket_stress(spark):
    """The family's adversary is one enormous basket — and the
    contract is the _mineable_baskets guard (extensions._BASKET_CAP=512):
    baskets above the cap are excluded WHOLE before any pair enumeration.
    This stresses both halves of that contract end-to-end through the
    registered query:

    - two 400-item baskets (under the cap) ARE mined completely — every
      part passes the a-priori frequency prune, so the self-join really
      enumerates 2*C(400,2) ~= 160k pair rows (the O(basket^2)
      completeness stress the pre-guard test planted);
    - two 600-item baskets (over the cap) are excluded whole: they never
      bump the planted pair's support, their exclusive pairs never
      appear even though unguarded they would co-occur twice, and they
      don't count toward n_orders.
    """
    import tempfile, os

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    # under-cap stress baskets: identical 400-item orders -> all parts
    # frequent -> full O(basket^2) fan-out actually happens
    stress = [(o, p, 0) for o in (1, 4) for p in range(1000, 1400)]
    # the planted pair: parts 1,2 co-occur in exactly two small orders
    planted = [(2, 1, 0), (2, 2, 0), (3, 1, 0), (3, 2, 0)]
    # above-cap baskets (600 > _BASKET_CAP=512) containing the planted
    # pair AND an exclusive pair (401,402) that unguarded would reach
    # support 2 and top the lift ranking
    hot = [(o, p, 0) for o in (98, 99) for p in range(1, 601)]
    li = spark.createDataFrame(
        stress + planted + hot,
        "l_orderkey long, l_partkey long, l_linenumber long",
    )
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        out = {
            (r.part_a, r.part_b): r.c_pair
            for r in QUERIES["events_market_basket_pairs"](spark, d).collect()
        }
    # guarded support: orders 2,3 only (98,99 excluded whole -> not 4);
    # n_orders=4 makes every surviving lift 2.0, tie-broken by part key,
    # so (1,2) leads the top-20 cut
    assert out[(1, 2)] == 2
    # the under-cap stress baskets were mined completely
    assert out[(1000, 1001)] == 2
    assert len(out) == 20
    # every returned pair has support >= 2
    assert all(c >= 2 for c in out.values())
    # pairs exclusive to the above-cap baskets are gone even at
    # unguarded-support 2 — whole-basket exclusion, not the support filter
    assert (401, 402) not in out


# --- FastSS deletion-neighborhood join ---------------------------------------


def test_deletion_neighborhood_join_complete_at_d1(spark):
    """All three edit kinds are caught (insertion, deletion, substitution
    — the completeness cases of the FastSS construction), d=2 pairs are
    rejected by the verify, and the result equals brute force."""
    from pinterest_data_pipeline_spark.operators.joins import (
        deletion_neighborhood_join,
    )

    vals = [
        "kettle", "kettles",   # insertion
        "kettl",               # deletion
        "kattle",              # substitution
        "cattle",              # substitution of kattle; d2 from kettle
        "zebra",               # unrelated
    ]
    df = spark.createDataFrame([(v,) for v in vals], "name string")
    got = {
        (r.val_a, r.val_b): r.edit_distance
        for r in deletion_neighborhood_join(df, "name").collect()
    }
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (a, b): 1
        for a, b in itertools.combinations(sorted(vals), 2)
        if lev(a, b) <= 1
    }
    assert got == want
    assert ("kettle", "kettles") in got and ("kattle", "kettle") in got
    assert ("cattle", "kettle") not in got  # d=2 rejected


# --- fact-to-SCD2 temporal join ----------------------------------------------


def test_scd2_temporal_join_partitions_facts_exactly_once(spark):
    """Every fact matches EXACTLY one dimension interval (intervals
    partition the axis from v1 on), the at-change-instant order reads
    the NEW version, and the identical v3 re-observation creates no
    interval (no double matches)."""
    from pinterest_data_pipeline_spark.operators.merge import scd2_history

    v = [
        (1, "A", "1990-01-01"), (1, "NEW-A", "1997-01-01"),
        (1, "NEW-A", "1999-01-01"),  # identical re-observation
        (2, "B", "1990-01-01"),
    ]
    snaps = spark.createDataFrame(
        v, "c_custkey long, c_mktsegment string, snap_ts string"
    ).withColumn("snap_ts", F.col("snap_ts").cast("date"))
    hist = scd2_history(snaps, "c_custkey", "snap_ts", ["c_mktsegment"])
    dim = hist.select(
        "c_custkey", "c_mktsegment", "valid_from",
        F.coalesce(F.col("valid_to"), F.lit("9999-12-31").cast("date")).alias("valid_to"),
    )
    facts = spark.createDataFrame(
        [(1, "1996-12-31"), (1, "1997-01-01"), (1, "2000-06-01"), (2, "1995-01-01")],
        "o_custkey long, d string",
    ).withColumn("d", F.col("d").cast("date"))
    j = facts.join(
        dim,
        (facts["o_custkey"] == dim["c_custkey"])
        & (F.col("d") >= F.col("valid_from"))
        & (F.col("d") < F.col("valid_to")),
    )
    rows = {(r.o_custkey, str(r.d)): r.c_mktsegment for r in j.collect()}
    assert j.count() == facts.count()  # exactly-once: no loss, no dup
    assert rows[(1, "1996-12-31")] == "A"
    assert rows[(1, "1997-01-01")] == "NEW-A"   # at-instant reads NEW
    assert rows[(1, "2000-06-01")] == "NEW-A"   # v3 collapsed, still one row
    assert rows[(2, "1995-01-01")] == "B"


# --- Pareto skyline -----------------------------------------------------------


def test_pareto_skyline_matches_bruteforce(spark):
    """Window-formulated skyline == brute-force dominance on a planted
    frontier with ties at a point, a same-price dominated row, and an
    interior dominated point."""
    import tempfile, os

    from pinterest_data_pipeline_spark.plans import relational  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [  # (price, size)
        (1.0, 5), (1.0, 3),       # (1,3) dominated by same-price (1,5)
        (2.0, 7), (2.0, 7),       # frontier point with 2 parts
        (3.0, 6),                 # interior: pricier AND smaller than (2,7)
        (4.0, 9),
        (5.0, 9),                 # dominated: same size, pricier
    ]
    part = spark.createDataFrame(
        [(i, p, s) for i, (p, s) in enumerate(rows)],
        "p_partkey long, p_retailprice double, p_size int",
    )
    with tempfile.TemporaryDirectory() as d:
        part.write.parquet(os.path.join(d, "part.parquet"))
        got = {
            (r.price, r.size): r.n_parts
            for r in QUERIES["agg_pareto_skyline"](spark, d).collect()
        }
    assert got == {(1.0, 5): 1, (2.0, 7): 2, (4.0, 9): 1}


# --- triangle counting --------------------------------------------------------


def test_triangle_count_planted_graph(spark):
    """Degree-oriented wedge closing counts each triangle exactly once:
    K4 (4 triangles) + a pendant path (0) + a separate triangle = 5,
    wedges and clustering coefficient exact."""
    import tempfile, os

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    # co-occurrence >= 2 makes an edge: emit each desired edge in TWO orders
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    extra = [(5, 6), (6, 7), (7, 8), (8, 9), (9, 7)]  # path + triangle {7,8,9}
    rows = []
    order = 0
    for (a, b) in k4 + extra:
        for _ in range(2):  # two co-orders -> support 2
            order += 1
            rows += [(order, a, 0), (order, b, 1)]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_linenumber long"
    )
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        r = QUERIES["graph_triangle_count"](spark, d).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (9, 11, 5)
    # wedges: K4 nodes deg3 -> 4*3 = 12; path/tri degs: 5:1,6:2,7:3,8:2,9:2
    # -> 0+1+3+1+1 = 6; total 18
    assert r.n_wedges == 18
    assert r.clustering_coef == round(3.0 * 5 / 18, 4)


# --- multi-touch attribution ---------------------------------------------------


def test_multi_touch_attribution_conserves_cents(spark):
    """Credits sum EXACTLY to each attributed purchase's value (largest-
    remainder convention: div everywhere, mod to the last touch) — the
    invariant float splits cannot provide."""
    import tempfile, os

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    base = "2020-01-05 12:00:00"
    rows = [
        # user 1: three views then a 10.01 purchase -> 333/333/335 split
        (1, 1, "2020-01-05 09:00:00", "view", 0.0),
        (2, 1, "2020-01-05 10:00:00", "view", 0.0),
        (3, 1, "2020-01-05 11:00:00", "view", 0.0),
        (4, 1, base, "purchase", 10.01),
        # user 2: one view -> full credit; stale view outside 24 h ignored
        (5, 2, "2020-01-03 12:00:00", "view", 0.0),
        (6, 2, "2020-01-05 11:30:00", "view", 0.0),
        (7, 2, base, "purchase", 5.00),
        # user 3: purchase with no views -> unattributed, contributes nothing
        (8, 3, base, "purchase", 99.99),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
        "props", F.lit("{}")
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = {str(r.view_day): r for r in
               QUERIES["events_attribution_multi_touch"](spark, d).collect()}
    day = out["2020-01-05"]
    # conservation: 10.01 + 5.00 == credited revenue on the day
    assert day.credited_revenue == 15.01
    assert day.n_credited_views == 4 and day.n_purchases_touched == 2
    assert "2020-01-03" not in out  # stale view got no credit


# --- BM25 / hybrid RRF ---------------------------------------------------------


def test_bm25_matches_hand_computation(spark):
    """BM25 on a planted 4-doc corpus equals the textbook formula computed
    in pure Python (k1=1.2, b=0.75, Robertson idf with +1), with the query
    = the 5 most document-frequent terms and the same one-site rounding."""
    import math
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    texts = {
        10: "alpha beta gamma alpha",
        11: "alpha beta beta delta epsilon zeta",
        12: "beta gamma delta epsilon",
        13: "alpha gamma gamma gamma epsilon",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            r.doc_id: (r.rank, r.n_terms_matched, r.bm25)
            for r in QUERIES["text_bm25_topk"](spark, d).collect()
        }

    toks = {i: t.split(" ") for i, t in texts.items()}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {}
    for ts in toks.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    qterms = sorted(df, key=lambda t: (-df[t], t))[:5]
    k1, b = 1.2, 0.75
    exp = {}
    for i, ts in toks.items():
        score, matched = 0.0, 0
        for t in qterms:
            tf = ts.count(t)
            if tf == 0:
                continue
            matched += 1
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            score += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(ts) / avgdl))
        if matched:
            exp[i] = (matched, round(score, 4))
    ranked = sorted(exp.items(), key=lambda kv: (-kv[1][1], kv[0]))
    expect = {
        i: (rk + 1, m, s) for rk, (i, (m, s)) in enumerate(ranked)
    }
    assert got == expect


def test_hybrid_rrf_scores_recompute_from_arms(spark):
    """Every fused row's rrf_score equals 1/(60+bm25_rank)+1/(60+cosine_rank)
    recomputed from the emitted arm ranks (missing arm = 0), the output is
    ordered by (rrf desc, doc_id), and the top hit appears in >= 1 arm."""
    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = QUERIES["search_hybrid_rrf"](spark, SF).collect()
    assert len(rows) == 20
    assert [r.rank for r in rows] == list(range(1, 21))
    for r in rows:
        exp = 0.0
        if r.bm25_rank is not None:
            exp += 1.0 / (60 + r.bm25_rank)
        if r.cosine_rank is not None:
            exp += 1.0 / (60 + r.cosine_rank)
        assert r.rrf_score == round(exp, 6)
        assert r.bm25_rank is not None or r.cosine_rank is not None
    keys = [(-r.rrf_score, r.doc_id) for r in rows]
    assert keys == sorted(keys)


# --- PageRank ------------------------------------------------------------------


def test_pagerank_planted_graph_matches_reference_iteration(spark):
    """PageRank on a planted star-plus-triangle graph equals 3 reference
    power iterations computed in pure Python, and the hub outranks leaves."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    # star: hub 1 - leaves 2..5; plus triangle {6,7,8}
    und = [(1, 2), (1, 3), (1, 4), (1, 5), (6, 7), (6, 8), (7, 8)]
    rows = []
    order = 0
    for (a, b) in und:
        for _ in range(2):
            order += 1
            rows += [(order, a, 0), (order, b, 1)]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_linenumber long"
    )
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        got = {
            r.part_id: (r.degree, r.pagerank)
            for r in QUERIES["graph_pagerank"](spark, d).collect()
        }

    adj = {}
    for a, b in und:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    nodes = sorted(adj)
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(3):
        r = {
            v: 0.15 / n
            + 0.85 * sum(r[u] / len(adj[u]) for u in adj[v])
            for v in nodes
        }
    expect = {v: (len(adj[v]), round(r[v], 6)) for v in nodes}
    assert got == expect
    assert got[1][1] > got[2][1]  # hub outranks leaf
    # mass conservation on the undirected graph (no dangling nodes)
    assert abs(sum(pr for _, pr in got.values()) - 1.0) < 1e-6


# --- equi-depth binning --------------------------------------------------------


def test_equidepth_bins_are_near_equal_and_ordered(spark):
    """8 bins cover all orders, populations are near-equal (within 25% of
    n/8 on the continuous-ish totalprice), and bin ranges are disjoint and
    ordered."""
    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES
    from pinterest_data_pipeline_spark.session import load_table

    rows = QUERIES["agg_equidepth_bins"](spark, SF).collect()
    n = load_table(spark, SF, "orders").count()
    assert [r.bin_id for r in rows] == list(range(1, 9))
    assert sum(r.n_orders for r in rows) == n
    for r in rows:
        assert abs(r.n_orders - n / 8) <= 0.25 * n / 8
        assert r.bin_min <= r.bin_max
    for a, b in zip(rows, rows[1:]):
        assert a.bin_max <= b.bin_min


# --- bucketed interval join ----------------------------------------------------


def test_interval_bucketed_join_boundaries_and_plan(spark):
    """Half-open [lo, lo+14d) containment on a planted fixture: point AT lo
    is in, at hi is out, a week-boundary-crossing match is found once, a
    zero-match window survives with 0 — and the physical plan contains NO
    nested-loop join (the bucket index turns the interval match into a
    pure equi-join)."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    lo = dt.datetime(1995, 3, 1)
    orders = spark.createDataFrame(
        [
            (97, lo, 0.0),          # window [1995-03-01, 1995-03-15)
            (97 * 2, dt.datetime(1997, 1, 1), 0.0),  # zero-match window
            (5, lo, 0.0),           # not a window (fails % 97)
        ],
        "o_orderkey long, o_orderdate timestamp, o_totalprice double",
    )
    li = spark.createDataFrame(
        [
            (1, lo, 100.0),                              # at lo -> in
            (2, lo + dt.timedelta(days=13), 200.0),      # crosses week bucket
            (3, lo + dt.timedelta(days=14), 400.0),      # at hi -> out
            (4, lo - dt.timedelta(days=1), 800.0),       # before -> out
        ],
        "l_orderkey long, l_shipdate timestamp, l_extendedprice double",
    )
    with tempfile.TemporaryDirectory() as d:
        orders.write.parquet(os.path.join(d, "orders.parquet"))
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        df = QUERIES["join_interval_bucketed"](spark, d)
        plan = df._jdf.queryExecution().executedPlan().toString()
        got = {r.window_id: (r.n_shipped, r.shipped_value) for r in df.collect()}
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert got == {97: (2, 300.0), 194: (0, 0.0)}


# --- quantized k-means ---------------------------------------------------------


def test_kmeans_quantized_matches_numpy_lloyd(spark):
    """The registered 2-iteration quantized k-means equals the same
    algorithm run in numpy on a planted 3-cluster corpus (seeds 0/1/2 in
    different true clusters), recovers the planted membership, and its
    inertia is exactly the integer sum of final squared distances."""
    import os
    import tempfile

    import numpy as np

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rng = np.random.RandomState(7)
    dim, per = 8, 40
    centers = np.array(
        [[5.0] + [0.0] * (dim - 1), [0.0] * (dim - 1) + [5.0], [-5.0] * dim]
    )
    pts = np.concatenate(
        [c + 0.3 * rng.randn(per, dim) for c in centers]
    ).astype(np.float32)
    # interleave so seeds 0,1,2 land in distinct true clusters
    pts = pts[[j * per + i for i in range(per) for j in range(3)]]
    rows = [(i, [float(x) for x in pts[i]], 0) for i in range(len(pts))]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tempfile.TemporaryDirectory() as d:
        emb.write.parquet(os.path.join(d, "embeddings.parquet"))
        got = {
            r.cluster_id: (r.n_vectors, r.inertia)
            for r in QUERIES["ml_kmeans_quantized"](spark, d).collect()
        }

    q = np.round(pts.astype(np.float64) * 1000).astype(np.int64)
    cent = {c: q[c].copy() for c in range(3)}

    def assign(cent):
        out = {}
        for i in range(len(q)):
            best = min(
                cent, key=lambda c: (int(((q[i] - cent[c]) ** 2).sum()), c)
            )
            out[i] = best
        return out

    for _ in range(2):
        a = assign(cent)
        new = {}
        for c in set(a.values()):
            members = np.array([q[i] for i in a if a[i] == c], dtype=np.float64)
            new[c] = np.round(members.mean(axis=0)).astype(np.int64)
        cent = new
    a = assign(cent)
    exp = {}
    for i, c in a.items():
        n, s = exp.get(c, (0, 0))
        exp[c] = (n + 1, s + int(((q[i] - cent[c]) ** 2).sum()))
    assert got == exp
    assert sorted(n for n, _ in got.values()) == [per, per, per]


# --- A/B chi-square ------------------------------------------------------------


def test_ab_chisquare_planted_cells_and_degenerate_guard(spark):
    """A planted corpus with known cells (arm0: 2 converters / 1 not;
    arm1: 0 / 3) yields the hand-computed Pearson statistic; a corpus
    where EVERY user converts (empty margin) yields NULL chi2 and FALSE
    significance instead of a division error."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    t0 = dt.datetime(2024, 1, 1)

    def user_events(uid, n_purchases_after):
        evs = [(uid * 1000, t0, uid, "view", 0.0, "{}")]
        for i in range(n_purchases_after):
            evs.append(
                (uid * 1000 + 1 + i, t0 + dt.timedelta(hours=i + 1), uid,
                 "purchase", 1.0, "{}")
            )
        return evs

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    # arm 0 (even ids): users 2, 4 convert (14 purchases), 6 does not (1);
    # arm 1 (odd ids): users 1, 3, 5 do not convert (0, 13, 2)
    rows = (
        user_events(2, 14) + user_events(4, 14) + user_events(6, 1)
        + user_events(1, 0) + user_events(3, 13) + user_events(5, 2)
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "events.parquet")
        )
        r = QUERIES["events_ab_chisquare"](spark, d).collect()[0]
    assert (r.a, r.b, r.c, r.d) == (2, 1, 0, 3)
    n, num = 6, 2 * 3 - 1 * 0
    denom = (2 + 1) * (0 + 3) * (2 + 0) * (1 + 3)
    assert r.chi2 == round(n * num * num / denom, 4)
    assert bool(r.significant_at_05) == (n * num * num / denom > 3.841)

    rows_all = user_events(2, 14) + user_events(1, 15)  # everyone converts
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows_all, schema).write.parquet(
            os.path.join(d, "events.parquet")
        )
        r = QUERIES["events_ab_chisquare"](spark, d).collect()[0]
    assert (r.a, r.b, r.c, r.d) == (1, 0, 1, 0)
    assert r.chi2 is None and bool(r.significant_at_05) is False


# --- two-sample KS -------------------------------------------------------------


def test_ks_two_sample_planted_and_identical(spark):
    """Hand-computable planted samples: A={1,2,3}, R={3,4} gives
    D = 2/3 (at v=2); identical samples give D = 0 and no rejection."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    schema = "l_extendedprice double, l_returnflag string"

    def run(rows):
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(rows, schema).write.parquet(
                os.path.join(d, "lineitem.parquet")
            )
            return QUERIES["quality_ks_two_sample"](spark, d).collect()[0]

    r = run(
        [(1.0, "A"), (2.0, "A"), (3.0, "A"), (3.0, "R"), (4.0, "R"),
         (9.0, "N")]  # N filtered out
    )
    assert (r.n1, r.n2) == (3, 2)
    assert r.ks_d == round(2.0 / 3.0, 6)
    # critical value at n1=3, n2=2: 1.358*sqrt(5/6) ~ 1.24 -> no rejection
    assert bool(r.reject_equality_at_05) is False

    same = [(float(v), f) for v in (10, 20, 30) for f in ("A", "R")]
    r = run(same)
    assert (r.n1, r.n2, r.ks_d) == (3, 3, 0.0)
    assert bool(r.reject_equality_at_05) is False


# --- winsorized mean -----------------------------------------------------------


def test_winsorized_mean_clips_planted_outlier(spark):
    """A planted extreme outlier moves the raw mean but barely moves the
    winsorized mean; with no outliers the two agree; clip bounds equal the
    group's exact p05/p95."""
    import os
    import tempfile

    import numpy as np

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    base = [float(v) for v in range(100, 200)]  # uniform 100..199
    rows = [(p, "A") for p in base + [1_000_000.0]] + [
        (p, "R") for p in base
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "l_extendedprice double, l_returnflag string"
        ).write.parquet(os.path.join(d, "lineitem.parquet"))
        got = {
            r.l_returnflag: r
            for r in QUERIES["clean_winsorized_mean"](spark, d).collect()
        }
    a, r_ = got["A"], got["R"]
    assert a.raw_mean > 2 * a.winsorized_mean  # outlier dominates raw
    assert abs(a.winsorized_mean - r_.winsorized_mean) < 5  # robust agrees
    # clean group: exact p05/p95 of uniform integers (quantile_cont)
    cents = np.array(sorted(int(p * 100) for p in base))
    for q, attr in ((0.05, "p05"), (0.95, "p95")):
        exact = round(float(np.percentile(cents, q * 100, method="linear")))
        assert getattr(r_, attr) == exact / 100.0
    assert r_.raw_mean == r_.winsorized_mean or abs(
        r_.raw_mean - r_.winsorized_mean
    ) < 3  # mild clipping of the uniform tails only


# --- seasonal MASE -------------------------------------------------------------


def test_seasonal_mase_planted_series_and_gap_exclusion(spark):
    """A perfectly weekly-periodic planted series gives seasonal SAE = 0
    (MASE 0, beats naive); a gap day excludes exactly the scoring rows
    whose lagged day is missing."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    d0 = dt.datetime(2024, 1, 1)
    # 21 days, weekly pattern [1..7] event counts; drop day 10 entirely
    rows = []
    eid = 0
    for day in range(21):
        if day == 10:
            continue
        for _ in range((day % 7) + 1):
            eid += 1
            rows.append(
                (eid, d0 + dt.timedelta(days=day), 1, "view", 0.0, "{}")
            )
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "events.parquet")
        )
        r = QUERIES["events_seasonal_mase"](spark, d).collect()[0]
    # seasonal scoring: days 7..20 present with day-7 present ->
    # 14 candidates minus day 10 (absent) minus day 17 (lag7 = day 10
    # absent) = 12; the periodic series makes every scored error 0
    assert r.n_scored_seasonal == 12
    assert r.sae_seasonal == 0
    # naive scoring: days 1..20 with previous day present -> 20 minus
    # day 10 (absent) minus day 11 (prev absent) = 18
    assert r.n_scored_naive == 18
    assert r.sae_naive > 0
    assert r.mase == 0.0 and bool(r.seasonal_beats_naive) is True


# --- BFS hops ------------------------------------------------------------------


def test_bfs_hops_planted_path_graph(spark):
    """On a planted 6-node path 1-2-3-4-5-6 the seed is node 1 and hops
    are exact: {0:[1], 1:[2], 2:[3], 3:[4]}; nodes 5 and 6 sit beyond 3
    hops and are excluded."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    path = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    rows = []
    order = 0
    for (a, b) in path:
        for _ in range(2):  # support 2 makes the edge
            order += 1
            rows += [(order, a, 0), (order, b, 1)]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_linenumber long"
    )
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        got = {
            r.hop: (r.n_nodes, r.id_checksum)
            for r in QUERIES["graph_bfs_hops"](spark, d).collect()
        }
    assert got == {0: (1, 1), 1: (1, 2), 2: (1, 3), 3: (1, 4)}


# --- cumulative users ----------------------------------------------------------


def test_cumulative_users_counts_first_appearances_only(spark):
    """Users are counted on their FIRST day only: a user active on days 1
    and 3 adds to day 1; the running total is monotone and ends at the
    distinct-user count."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    d0 = dt.datetime(2024, 5, 1)
    rows = []
    eid = 0
    for uid, days in [(1, [0, 2]), (2, [0]), (3, [1, 2]), (4, [2])]:
        for day in days:
            eid += 1
            rows.append(
                (eid, d0 + dt.timedelta(days=day), uid, "view", 0.0, "{}")
            )
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "events.parquet")
        )
        got = [
            (str(r.day), r.new_users, r.cumulative_users)
            for r in QUERIES["events_cumulative_users"](spark, d).collect()
        ]
    assert got == [
        ("2024-05-01", 2, 2),
        ("2024-05-02", 1, 3),
        ("2024-05-03", 1, 4),
    ]


# --- frequent triples ----------------------------------------------------------


def test_market_basket_triples_apriori_prune_is_lossless(spark):
    """Planted baskets: {1,2,3} bought together twice qualifies (support
    2); {1,2,9} appearing once does not, even though pair (1,2) is
    frequent — and the registered (pruned) plan equals the brute-force
    triple enumeration on the same data."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    baskets = [
        (1, [1, 2, 3]),
        (2, [1, 2, 3, 9]),
        (3, [4, 5]),
        (4, [4, 5, 6]),
    ]
    rows = [
        (o, p, i) for o, parts in baskets for i, p in enumerate(parts)
    ]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_linenumber long"
    )
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        got = {
            (r.part_a, r.part_b, r.part_c): r.support
            for r in QUERIES["events_market_basket_triples"](spark, d).collect()
        }
    assert got == {(1, 2, 3): 2}


# --- CUSUM change point --------------------------------------------------------


def test_cusum_flags_planted_level_shift(spark):
    """A series of 10 days at level 5 followed by 10 days at level 15 has
    its minimum CUSUM excursion exactly at the last low day (the change
    point), with the hand-computed excursion value."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    d0 = dt.datetime(2024, 3, 1)
    levels = [5] * 10 + [15] * 10
    rows = []
    eid = 0
    for day, lvl in enumerate(levels):
        for _ in range(lvl):
            eid += 1
            rows.append(
                (eid, d0 + dt.timedelta(days=day), 1, "view", 0.0, "{}")
            )
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "events.parquet")
        )
        r = QUERIES["anomaly_cusum_daily"](spark, d).collect()[0]
    # mean = 10; cusum after low day k (0-based) = (k+1)*(5-10) = -5(k+1),
    # minimized at the 10th low day: -50; the high days then climb back.
    assert r.n_days == 20
    assert str(r.min_cusum_day) == "2024-03-10"
    assert r.min_cusum == -50.0
    # the maximum excursion on this shape is the final value 0, tie-broken
    # to the earliest day that attains it
    assert r.max_cusum == 0.0


# --- proportional quota sampling -----------------------------------------------


def test_proportional_quota_allocation_conserves_k(spark):
    """Quotas sum EXACTLY to k = n//10, each quota is within 1 of its
    exact proportional share, picked counts equal quotas, and a planted
    skewed population allocates the leftover seat to the largest
    remainder."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    # sizes 7 / 6 / 8 -> n=21, k=2; exact shares 0.667/0.571/0.762:
    # bases 0/0/0, remainders 14/12/16 -> seats to C (16) and A (14)
    rows = []
    ck = 0
    for seg, size in (("A", 7), ("B", 6), ("C", 8)):
        for _ in range(size):
            ck += 1
            rows.append((ck, seg))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "c_custkey long, c_mktsegment string"
        ).write.parquet(os.path.join(d, "customer.parquet"))
        got = {
            r.c_mktsegment: (r.stratum_n, r.quota, r.n_picked)
            for r in QUERIES["sample_proportional_quota"](spark, d).collect()
        }
    # zero-quota strata drop out of the picked rollup (inner semantics)
    assert got == {"A": (7, 1, 1), "C": (8, 1, 1)}

    # real data: conservation across segments
    rows2 = QUERIES["sample_proportional_quota"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    n = sum(r.stratum_n for r in rows2)
    k = n // 10
    assert sum(r.quota for r in rows2) == k
    assert all(r.n_picked == r.quota for r in rows2)
    for r in rows2:
        assert abs(r.quota - k * r.stratum_n / n) < 1


# --- revenue concentration -----------------------------------------------------


def test_revenue_concentration_boundary_semantics(spark):
    """On a planted population (99 customers at 100, one whale at 10000)
    the whale crosses the p99 boundary and captures its exact share;
    boundary ties are INCLUDED (>= semantics)."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [(i, i, 100.0) for i in range(1, 100)] + [(100, 100, 10000.0)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, o_totalprice double"
        ).write.parquet(os.path.join(d, "orders.parquet"))
        r = QUERIES["agg_revenue_concentration"](spark, d).collect()[0]
    assert r.n_customers == 100
    assert r.n_whales == 1
    assert r.whale_revenue == 10000.0
    assert r.total_revenue == 99 * 100.0 + 10000.0
    assert r.whale_share == round(10000.0 / 19900.0, 6)


# --- ORC round-trip ------------------------------------------------------------


def test_orc_roundtrip_preserves_timestamps_and_nulls(spark):
    """ORC round-trip on a planted frame with NULLs and a sub-second
    timestamp: values and null-ness survive byte-exact."""
    import datetime as dt
    import os
    import tempfile

    rows = [
        (1, 10, "O", 99.99, dt.datetime(1995, 6, 1, 12, 30, 45, 123000), "1-URGENT"),
        (2, None, None, None, None, ""),
    ]
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    df = spark.createDataFrame(rows, schema)
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "orc")
        df.write.orc(p)
        back = spark.read.schema(df.schema).orc(p)
        got = sorted(
            [tuple(r) for r in back.collect()], key=lambda t: t[0]
        )
    assert got == rows


# --- bot regularity ------------------------------------------------------------


def test_bot_regularity_flags_planted_metronome(spark):
    """A planted metronome user (exactly 60 s between all events, cv=0)
    flags; a human-like user with alternating 30/600 s gaps (cv ~ 0.9)
    does not; a user below the 10-event floor is not scored."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # bot: 20 events exactly 60 s apart
    for i in range(20):
        eid += 1
        rows.append((eid, t0 + dt.timedelta(seconds=60 * i), 1, "view", 0.0, "{}"))
    # human: 20 events, alternating 30 s / 600 s gaps
    t = t0
    for i in range(20):
        eid += 1
        rows.append((eid, t, 2, "view", 0.0, "{}"))
        t += dt.timedelta(seconds=30 if i % 2 == 0 else 600)
    # sparse user: 5 events (below the floor)
    for i in range(5):
        eid += 1
        rows.append((eid, t0 + dt.timedelta(hours=i), 3, "view", 0.0, "{}"))
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "events.parquet")
        )
        r = QUERIES["anomaly_bot_regularity"](spark, d).collect()[0]
    assert r.n_scored == 2
    assert r.n_flagged == 1
    assert r.min_cv == 0.0   # the metronome
    assert r.max_cv > 0.5    # the human


# --- kNN label agreement -------------------------------------------------------


def test_knn_label_agreement_flags_planted_mislabel(spark):
    """Planted clusters with one mislabeled vector: its 5-NN all carry
    the other label, so it is the sole suspect; clean vectors agree."""
    import os
    import tempfile

    import numpy as np

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rng = np.random.RandomState(3)
    dim, per = 8, 20
    a = (np.array([10.0] + [0.0] * (dim - 1)) + 0.1 * rng.randn(per, dim))
    b = (np.array([0.0] * (dim - 1) + [10.0]) + 0.1 * rng.randn(per, dim))
    rows = []
    for i in range(per):
        rows.append((i, [float(x) for x in a[i]], 0))
    for i in range(per):
        # vector 20+0 gets the WRONG label (0) despite sitting in cluster b
        lbl = 0 if i == 0 else 1
        rows.append((per + i, [float(x) for x in b[i]], lbl))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tempfile.TemporaryDirectory() as d:
        emb.write.parquet(os.path.join(d, "embeddings.parquet"))
        r = QUERIES["quality_knn_label_agreement"](spark, d).collect()[0]
    # all 40 vectors audited (corpus < 256)
    assert r.n_audited == 40
    assert r.n_suspect == 1
    assert r.suspect_rate == round(1 / 40, 6)


# --- negative sampling ---------------------------------------------------------


def test_negative_pairs_never_hit_interactions(spark):
    """On a planted interaction log, every emitted negative is a true
    non-interaction, each user gets exactly 5, and a user who bought
    everything popular yields no false negatives."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    # 10 users x 10 items; user u bought items {u}. user 9 bought ALL.
    orows, lrows, ok = [], [], 0
    for u in range(10):
        bought = list(range(10)) if u == 9 else [u]
        for it in bought:
            ok += 1
            orows.append((ok, u))
            lrows.append((ok, it, 1))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            orows, "o_orderkey long, o_custkey long"
        ).write.parquet(os.path.join(d, "orders.parquet"))
        spark.createDataFrame(
            lrows, "l_orderkey long, l_partkey long, l_linenumber long"
        ).write.parquet(os.path.join(d, "lineitem.parquet"))
        rows = QUERIES["sample_negative_pairs"](spark, d).collect()
    interactions = {(u, u) for u in range(10)} | {(9, it) for it in range(10)}
    per_user = {}
    for r in rows:
        assert (r.o_custkey, r.l_partkey) not in interactions
        per_user.setdefault(r.o_custkey, []).append(r.rank)
    # user 9 interacted with every item -> no negatives for them
    assert 9 not in per_user
    for u, ranks in per_user.items():
        assert sorted(ranks) == [1, 2, 3, 4, 5]


# --- RAKE keywords -------------------------------------------------------------


def test_rake_keywords_textbook_example(spark):
    """Hand-computed RAKE on a planted 2-doc corpus: degree/freq word
    stats and phrase scores match the paper's formula; stopword runs
    never produce phrases; >3-word runs are excluded."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    docs = [
        (1, "fast merge of fast scan"),
        (2, "fast merge in big scan and long window chain rule extra"),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
            os.path.join(d, "documents.parquet")
        )
        got = {
            r.phrase: (r.n_occurrences, r.rake_score)
            for r in QUERIES["text_rake_keywords"](spark, d).collect()
        }
    # candidate runs: "fast merge" x2, "fast scan", "big scan",
    # "long window chain rule extra" (5 words -> excluded)
    # word stats: fast freq 3 deg 6; merge freq 2 deg 4; scan freq 2
    # deg 4; big freq 1 deg 2
    assert set(got) == {"fast merge", "fast scan", "big scan"}
    assert got["fast merge"] == (2, round(6 / 3 + 4 / 2, 4))
    assert got["fast scan"] == (1, round(6 / 3 + 4 / 2, 4))
    assert got["big scan"] == (1, round(2 / 1 + 4 / 2, 4))


# --- FIFO allocation -----------------------------------------------------------


def test_fifo_allocation_matches_hand_simulation(spark):
    """Cumulative-interval FIFO on a planted part: shipments of 5 and 3
    units, returns of 4 and 6 — the first return consumes 4 of shipment 1
    (one pair), the second consumes the remaining 1 + all 3 of shipment 2
    (two pairs) and leaves 2 unmatched."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    d0 = dt.datetime(1995, 1, 1)

    def row(ok, ln, qty, day, flag):
        return (7, ok, ln, float(qty), d0 + dt.timedelta(days=day), flag)

    rows = [
        row(1, 1, 5, 0, "N"),   # supply [0,5)
        row(2, 1, 3, 1, "N"),   # supply [5,8)
        row(3, 1, 4, 2, "R"),   # demand [0,4)  -> 1 pair (4 units)
        row(4, 1, 6, 3, "R"),   # demand [4,10) -> 2 pairs (1+3), 2 unmatched
    ]
    schema = (
        "l_partkey long, l_orderkey long, l_linenumber long, "
        "l_quantity double, l_shipdate timestamp, l_returnflag string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "lineitem.parquet")
        )
        r = QUERIES["join_fifo_allocation"](spark, d).collect()[0]
    assert r.n_parts_matched == 1
    assert r.n_matched_pairs == 3
    assert r.matched_qty == 8
    assert r.total_demand == 10
    assert r.unmatched_demand == 2
    assert r.total_supply == 8


# --- statistics, running balance, segmentation, search ----------------------


def test_cohens_kappa_hand_computed(spark):
    """6 planted docs, confusion (s,s)=1 (s,m)=1 (m,m)=2 (l,l)=2:
    N=6, A=5, E = 2*1 + 2*3 + 2*2 = 12, kappa = (30-12)/(36-12) = 0.75."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    def doc(i, n_chars, n_spaces):
        return (i, "x" + " x" * n_spaces, "en", "t", n_chars)

    rows = [
        doc(1, 100, 10),   # A short, B short
        doc(2, 100, 50),   # A short, B medium
        doc(3, 300, 50),   # A medium, B medium
        doc(4, 300, 50),   # A medium, B medium
        doc(5, 500, 80),   # A long, B long
        doc(6, 500, 80),   # A long, B long
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        r = QUERIES["quality_cohens_kappa"](spark, d).collect()[0]
    assert r.n_docs == 6
    assert r.n_agree == 5
    assert r.chance_weight == 12
    assert r.kappa == 0.75


def test_clamped_running_balance_matches_recursion(spark):
    """Planted part: deltas +5,-3,-4,-2,+7 -> balances 5,2,0,0,7 under
    s_i = max(0, s_{i-1}+x_i); two stockouts (draws clamped at zero)."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    d0 = dt.datetime(1995, 1, 1)
    rows = [
        (3, k + 1, 1, float(abs(q)), d0 + dt.timedelta(days=k),
         "R" if q > 0 else "N")
        for k, q in enumerate([5, -3, -4, -2, 7])
    ]
    schema = (
        "l_partkey long, l_orderkey long, l_linenumber long, "
        "l_quantity double, l_shipdate timestamp, l_returnflag string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "lineitem.parquet")
        )
        r = QUERIES["window_clamped_running_balance"](spark, d).collect()[0]
    assert r.n_moves == 5
    assert r.final_balance == 7
    assert r.peak_balance == 7
    assert r.n_stockouts == 2


def test_rfm_segments_four_customer_ladder(spark):
    """4 customers with strictly increasing recency-rank, frequency, and
    monetary land in segments 1-1-1 .. 4-4-4 (quartile boundaries at
    1.75/2.5/3.25 for values 1..4 separate every customer)."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    d0 = dt.datetime(1995, 1, 1)
    rows = []
    ok = 0
    for k in (1, 2, 3, 4):
        for j in range(k):  # freq = k
            ok += 1
            rows.append(
                (ok, k, "O", 1000.0 * k,
                 d0 + dt.timedelta(days=10 * k + j), "1-URGENT")
            )
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "orders.parquet")
        )
        out = QUERIES["agg_rfm_segments"](spark, d).collect()
    segs = {r.segment: r for r in out}
    assert sorted(segs) == ["1-1-1", "2-2-2", "3-3-3", "4-4-4"]
    assert all(r.n_customers == 1 for r in out)
    assert segs["4-4-4"].seg_revenue == 4000.0 * 4


def test_spearman_known_values(spark):
    """Monotone (with a tie) -> rho 1; x=[1,2,3,4] vs rank-permuted
    y ranks [1,4,2,3] -> Pearson-on-ranks = 0.4."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    schema = "p_partkey long, p_size int, p_retailprice double"

    def run(rows):
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(rows, schema).write.parquet(
                os.path.join(d, "part.parquet")
            )
            return QUERIES["quality_spearman_corr"](spark, d).collect()[0]

    r = run([(1, 1, 10.0), (2, 2, 20.0), (3, 2, 20.0), (4, 3, 40.0)])
    assert r.spearman_rho == 1.0
    r = run([(1, 1, 10.0), (2, 2, 40.0), (3, 3, 20.0), (4, 4, 30.0)])
    assert r.spearman_rho == 0.4


def test_benford_digit_extraction_and_contrib(spark):
    """9 orders with totals 1xx..9xx: one observation per leading digit,
    observed_share 1/9, and the digit-1 chi-square contribution matches
    (1 - 9*0.30103)^2 / (9*0.30103) computed directly."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    d0 = dt.datetime(1995, 1, 1)
    rows = [
        (k, 1, "O", 100.0 * k + 11.0, d0, "1-URGENT")
        for k in range(1, 10)
    ]
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "orders.parquet")
        )
        out = QUERIES["quality_benford_digits"](spark, d).collect()
    assert [r.digit for r in out] == list(range(1, 10))
    assert all(r.observed == 1 for r in out)
    assert all(r.observed_share == round(1 / 9, 6) for r in out)
    en = 9 * 0.301030
    assert out[0].chisq_contrib == round((1 - en) ** 2 / en, 6)


def test_bootstrap_ci_degenerate_constant_price(spark):
    """All orders the same price: every replicate mean equals the price,
    so the CI collapses to [price, price] around an identical point."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    d0 = dt.datetime(1995, 1, 1)
    rows = [(k, 1, "O", 250.0, d0, "1-URGENT") for k in range(1, 40)]
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "orders.parquet")
        )
        r = QUERIES["stat_bootstrap_ci_mean"](spark, d).collect()[0]
    assert r.n_orders == 39
    assert r.n_replicates == 50
    assert r.point_mean == 250.0
    assert r.ci_lo == 250.0
    assert r.ci_hi == 250.0


def test_trend_slope_exact_linear_series(spark):
    """Daily counts planted exactly linear (5 + 3x events on day x):
    OLS recovers slope 3, intercept 5 exactly."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    d0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for x in range(10):
        for _ in range(5 + 3 * x):
            eid += 1
            rows.append(
                (eid, d0 + dt.timedelta(days=x, hours=1), eid % 7, "click",
                 1.0, "{}")
            )
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "events.parquet")
        )
        r = QUERIES["events_daily_trend_slope"](spark, d).collect()[0]
    assert r.n_days == 10
    assert r.slope_per_day == 3.0
    assert r.intercept == 5.0


def test_autocorrelation_matches_python_reference(spark):
    """Planted 14-day series with a strong period-7 pattern: the query's
    lag-1/lag-7 ACF equals a direct python evaluation of the same
    n-scaled integer formula."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    series = [10, 2, 3, 2, 4, 2, 9, 11, 3, 2, 3, 3, 2, 10]

    def ref_acf(cs, k):
        n, s = len(cs), sum(cs)
        dev = [n * c - s for c in cs]
        num = sum(dev[i] * dev[i + k] for i in range(n - k))
        den = sum(d * d for d in dev)
        return round(num / den, 6)

    d0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for x, cnt in enumerate(series):
        for _ in range(cnt):
            eid += 1
            rows.append(
                (eid, d0 + dt.timedelta(days=x, hours=3), eid % 5, "view",
                 1.0, "{}")
            )
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "events.parquet")
        )
        out = {r.lag: r for r in
               QUERIES["events_autocorrelation_lag"](spark, d).collect()}
    assert out[1].acf == ref_acf(series, 1)
    assert out[7].acf == ref_acf(series, 7)
    assert out[7].acf > 0.4 > out[1].acf  # weekly pattern dominates lag-1


def test_mann_whitney_separated_groups(spark):
    """URGENT cents {1,2,3} all below LOW {4,5}: U1 = 0 and the
    tie-free z is -3/sqrt(3) = -1.732051."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    d0 = dt.datetime(1995, 1, 1)
    rows = [
        (1, 1, "O", 0.01, d0, "1-URGENT"),
        (2, 1, "O", 0.02, d0, "1-URGENT"),
        (3, 1, "O", 0.03, d0, "1-URGENT"),
        (4, 1, "O", 0.04, d0, "5-LOW"),
        (5, 1, "O", 0.05, d0, "5-LOW"),
        (6, 1, "O", 9.99, d0, "3-MEDIUM"),  # filtered out
    ]
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "orders.parquet")
        )
        r = QUERIES["quality_mann_whitney_u"](spark, d).collect()[0]
    assert (r.n1, r.n2) == (3, 2)
    assert r.u1_x2 == 0
    assert r.tie_sum == 0
    assert r.u1 == 0.0
    assert r.z_score == round(-3 / 3 ** 0.5, 6)


def test_rolling_median_seven_row_frame(spark):
    """Daily revenues 1..8: the 7-row frame median is 4 on day 7
    (median of 1..7) and 5 on day 8 (median of 2..8)."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    d0 = dt.datetime(1995, 1, 1)
    rows = [
        (k, 1, "O", float(k), d0 + dt.timedelta(days=k - 1), "1-URGENT")
        for k in range(1, 9)
    ]
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "orders.parquet")
        )
        out = QUERIES["window_rolling_median_daily"](spark, d).collect()
    meds = [r.rolling_median_7d for r in out]
    assert meds[0] == 1.0
    assert meds[6] == 4.0
    assert meds[7] == 5.0


def test_label_propagation_two_planted_components(spark):
    """Path {1,2,3} (pairs with support 2) and pair {10,11}: three
    min-label rounds give one size-3 community labeled 1 and one size-2
    community labeled 10."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    d0 = dt.datetime(1995, 1, 1)
    rows = []
    ln = 0
    for ok, parts in [
        (1, [1, 2]), (2, [1, 2]), (3, [2, 3]), (4, [2, 3]),
        (5, [10, 11]), (6, [10, 11]),
    ]:
        for p in parts:
            ln += 1
            rows.append((ok, p, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d0))
    schema = (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "lineitem.parquet")
        )
        out = {r.community_size: r for r in
               QUERIES["graph_label_propagation"](spark, d).collect()}
    assert out[3].n_communities == 1 and out[3].label_checksum == 1
    assert out[2].n_communities == 1 and out[2].label_checksum == 10


def test_target_encode_constant_target_invariants(spark):
    """Constant price per segment: every out-of-fold mean equals the
    segment price exactly, and fold + oof counts sum to the segment
    count no matter how the hash distributes folds."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    d0 = dt.datetime(1995, 1, 1)
    orders = []
    for k in range(1, 41):
        seg_cust = 1 if k <= 20 else 2
        orders.append((k, seg_cust, "O",
                       100.0 if seg_cust == 1 else 250.0, d0, "1-URGENT"))
    cust = [(1, "BUILDING"), (2, "MACHINERY")]
    o_schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(orders, o_schema).write.parquet(
            os.path.join(d, "orders.parquet")
        )
        spark.createDataFrame(cust, "c_custkey long, c_mktsegment string"
                              ).write.parquet(os.path.join(d, "customer.parquet"))
        out = QUERIES["ml_target_encode_kfold"](spark, d).collect()
    by_seg = {}
    for r in out:
        by_seg.setdefault(r.c_mktsegment, []).append(r)
        assert r.n_in_fold + r.n_oof == 20
    assert all(r.oof_mean_target == 100.0 for r in by_seg["BUILDING"])
    assert all(r.oof_mean_target == 250.0 for r in by_seg["MACHINERY"])


def test_time_weighted_avg_hand_case(spark):
    """value 1.00 held 10 s then 3.00 held 30 s -> TWA 2.5."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    d0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, d0, 7, "view", 1.0, "{}"),
        (2, d0 + dt.timedelta(seconds=10), 7, "view", 3.0, "{}"),
        (3, d0 + dt.timedelta(seconds=40), 7, "view", 99.0, "{}"),
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "events.parquet")
        )
        r = QUERIES["events_time_weighted_avg"](spark, d).collect()[0]
    assert r.n_intervals == 2
    assert r.held_ms == 40_000
    assert r.time_weighted_avg == 2.5


def test_sessionize_capped_splits_long_session(spark):
    """Events every 25 min for 250 min: one gap session (all gaps under
    30 min) split into three capped sessions at the 2 h offsets."""
    import datetime as dt
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    d0 = dt.datetime(2024, 1, 1)
    rows = [
        (k, d0 + dt.timedelta(minutes=25 * k), 7, "view", 1.0, "{}")
        for k in range(11)
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "events.parquet")
        )
        r = QUERIES["events_sessionize_capped"](spark, d).collect()[0]
    assert r.n_gap_sessions == 1
    assert r.n_capped_sessions == 3
    assert r.n_cap_splits == 2
    assert r.max_events_per_session == 5
    assert r.n_events_total == 11


def test_phrase_search_positional_adjacency(spark):
    """'order key' matches docs 1 and 3 only (doc 2 has the reversed
    words); 'scan column' matches doc 3; absent phrases emit no row."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, "order key value", "en", "t", 15),
        (2, "key order value", "en", "t", 15),
        (3, "scan column order key", "en", "t", 21),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {r.phrase: r for r in
               QUERIES["text_phrase_search"](spark, d).collect()}
    assert out["order key"].n_docs == 2
    assert out["order key"].doc_checksum == 4
    assert out["scan column"].n_docs == 1
    assert "window agg" not in out


def test_phrase_search_hot_doc_no_quadratic_pairs(spark):
    """A pathological doc that is the phrase repeated 10k times: the
    positional join emits one match per occurrence (the (doc, pos) join
    key is unique per side — no quadratic self-pairing), and the doc
    counts once after distinct."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    hot = "order key " * 10_000
    rows = [(1, hot.strip(), "en", "t", len(hot)),
            (2, "scan column", "en", "t", 11)]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {r.phrase: r for r in
               QUERIES["text_phrase_search"](spark, d).collect()}
    assert out["order key"].n_docs == 1
    assert out["order key"].doc_checksum == 1
    assert out["scan column"].n_docs == 1


# --- session 5: bitmap retention --------------------------------------------


def test_bitmap_retention_planted_cohort(spark):
    """Users 0/1/63 planted so the words split (0,1 -> word 0; 63 -> word
    1): day-1 actives {0,1,63}; day-2 retains {0,63} (offset 1 = 2/3);
    day-8 retains {63} (offset 7 = 1/3); duplicate events on one day
    change nothing (bit_or idempotence); days with no day+k bitmap emit
    no row."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, 0, "2020-01-01 00:00:00"),
        (2, 0, "2020-01-01 05:00:00"),  # dup activity, same bit
        (3, 1, "2020-01-01 06:00:00"),
        (4, 63, "2020-01-01 07:00:00"),
        (5, 0, "2020-01-02 00:00:00"),
        (6, 63, "2020-01-02 00:00:00"),
        (7, 63, "2020-01-08 00:00:00"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("view").alias("event_type"), F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = {(r.day, r.offset): r for r in
               QUERIES["events_bitmap_retention"](spark, d).collect()}
    d1_o1 = out[("2020-01-01", 1)]
    assert d1_o1.n_active == 3 and d1_o1.n_retained == 2
    assert d1_o1.retention_rate == round(2 / 3, 6)
    d1_o7 = out[("2020-01-01", 7)]
    assert d1_o7.n_active == 3 and d1_o7.n_retained == 1
    # day 2 + 7 = day 9 has no bitmap -> no row
    assert ("2020-01-02", 7) not in out


def test_max_concurrency_sweep_line_planted(spark):
    """Planted sessions: simultaneous single-event sessions tie-collapse
    (peak 3 while only 2 users overlap in time-extended sessions), a
    midnight-spanning session carries concurrency 1 into day 2, and the
    day-2 peak equals its carry (its max prefix never exceeds 0)."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, 1, "2020-01-01 00:00:00"),
        (2, 1, "2020-01-01 01:00:00"),   # u1 session [00:00, 01:00]
        (3, 2, "2020-01-01 00:30:00"),   # u2 point session at 00:30
        (4, 4, "2020-01-01 00:30:00"),   # u4 point session at 00:30 (tie)
        (5, 3, "2020-01-01 00:45:00"),   # u3 point session day 1
        (6, 3, "2020-01-02 02:00:00"),   # gap > 6 h: new point session day 2
        (7, 5, "2020-01-01 23:00:00"),
        (8, 5, "2020-01-02 01:00:00"),   # u5 session spans midnight
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("view").alias("event_type"), F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = {r.day: r for r in
               QUERIES["events_max_concurrency_daily"](spark, d).collect()}
    d1 = out["2020-01-01"]
    assert d1.peak_concurrency == 3        # 00:30: u1 + u2 + u4 all open
    assert d1.day_start_concurrency == 0
    assert d1.sessions_started == 5
    d2 = out["2020-01-02"]
    assert d2.peak_concurrency == 1        # carry from u5; never exceeded
    assert d2.day_start_concurrency == 1
    assert d2.sessions_started == 1


def test_gini_two_phase_rank_planted(spark):
    """Hand-checked Gini: revenues (1, 9) give exactly 0.4; an
    all-equal segment gives 0.0 even when its customers straddle the
    $5k bucket boundary... equal values can't straddle — instead the
    unequal pair is planted ACROSS buckets ($1k in bucket 0, $9k in
    bucket 1) so the bucket-offset phase is load-bearing."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    customers = [(1, "A"), (2, "A"), (3, "B"), (4, "B"), (5, "B")]
    cust = spark.createDataFrame(
        customers, "c_custkey long, c_mktsegment string"
    )
    orders = [
        (10, 1, 1000.0),   # A: $1k  (bucket 0)
        (11, 2, 9000.0),   # A: $9k  (bucket 1) -> Gini((1k, 9k)) = 0.4
        (12, 3, 700.0),    # B: three equal $700 -> Gini 0
        (13, 4, 700.0),
        (14, 5, 350.0),
        (15, 5, 350.0),    # two orders summing to the same $700
    ]
    odf = spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_totalprice double"
    )
    with tempfile.TemporaryDirectory() as d:
        cust.write.parquet(os.path.join(d, "customer.parquet"))
        odf.write.parquet(os.path.join(d, "orders.parquet"))
        out = {r.c_mktsegment: r for r in
               QUERIES["agg_gini_customer_revenue"](spark, d).collect()}
    assert out["A"].gini == 0.4 and out["A"].n_customers == 2
    assert out["B"].gini == 0.0 and out["B"].n_customers == 3
    assert out["B"].revenue_cents == 210000


def test_funnel_latency_first_view_anchor(spark):
    """Latency anchors on the FIRST view: u1 views at 10:00 and 10:30,
    purchases at 10:10 -> 600 s (not 0); a purchase BEFORE any view
    does not qualify (u2 converts on the later purchase); a user with
    no view never converts (u3)."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, 1, "2020-01-01 10:00:00", "view"),
        (2, 1, "2020-01-01 10:10:00", "purchase"),
        (3, 1, "2020-01-01 10:30:00", "view"),
        (4, 2, "2020-01-01 09:00:00", "purchase"),  # pre-view: ignored
        (5, 2, "2020-01-01 09:30:00", "view"),
        (6, 2, "2020-01-01 09:40:00", "purchase"),  # 600 s
        (7, 3, "2020-01-01 08:00:00", "purchase"),  # never viewed
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type", F.lit(0.0).alias("value"), F.lit("{}").alias("props"),
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = {r.day: r for r in
               QUERIES["events_funnel_latency"](spark, d).collect()}
    d1 = out["2020-01-01"]
    assert d1.n_conversions == 2
    assert d1.median_latency_s == 600.0 and d1.p90_latency_s == 600.0


def test_pmi_cooccurrence_hand_computed(spark):
    """4-doc corpus: PMI(x,y) = ln(4*2/(3*3)) exactly; a token repeated
    within one doc counts ONCE toward document frequency (w in d4), so
    PMI(w,y) = ln(4*1/(1*3))."""
    import math
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, "x y", "en", "t", 3),
        (2, "x y", "en", "t", 3),
        (3, "x z", "en", "t", 3),
        (4, "y z w w", "en", "t", 7),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {(r.t1, r.t2): r for r in
               QUERIES["text_pmi_cooccurrence"](spark, d).collect()}
    xy = out[("x", "y")]
    assert xy.df_pair == 2 and xy.df_x == 3 and xy.df_y == 3
    assert xy.pmi == round(math.log(8 / 9), 6)
    wy = out[("w", "y")]
    assert wy.df_pair == 1 and wy.df_x == 1      # in-doc repeat counts once
    assert wy.pmi == round(math.log(4 / 3), 6)


def test_top_paths_ordering_and_short_paths(spark):
    """Paths preserve EVENT ORDER (view>click != click>view), users with
    fewer than 3 events emit their shorter path, and a 4th event is
    ignored."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, 1, "2020-01-01 10:00:00", "view"),
        (2, 1, "2020-01-01 10:01:00", "click"),
        (3, 1, "2020-01-01 10:02:00", "purchase"),
        (4, 1, "2020-01-01 10:03:00", "error"),     # beyond first 3
        (5, 2, "2020-01-01 10:00:00", "click"),
        (6, 2, "2020-01-01 10:01:00", "view"),       # reversed order
        (7, 3, "2020-01-01 10:00:00", "signup"),     # single event
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type", F.lit(0.0).alias("value"), F.lit("{}").alias("props"),
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = {r.path: r for r in
               QUERIES["events_top_paths"](spark, d).collect()}
    assert out["view>click>purchase"].n_users == 1
    assert out["click>view"].n_users == 1 and out["click>view"].path_len == 2
    assert out["signup"].path_len == 1
    assert "view>click>purchase>error" not in out


def test_ngram_novelty_duplicate_scores_zero(spark):
    """Two identical docs score novelty 0 (every trigram shared); a
    fresh doc scores 1; a doc sharing half its trigrams with the
    boilerplate lands in between, exactly."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, "the quick brown fox", "en", "t", 19),   # copies of each other
        (2, "the quick brown fox", "en", "t", 19),
        (3, "completely novel words here", "en", "t", 27),
        # trigrams: "the quick brown"(shared), "quick brown wolf"(unique)
        (4, "the quick brown wolf", "en", "t", 20),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {r.doc_id: r for r in
               QUERIES["text_ngram_novelty"](spark, d).collect()}
    assert out[1].novelty == 0.0 and out[2].novelty == 0.0
    assert out[3].novelty == 1.0 and out[3].n_grams == 2
    assert out[4].n_grams == 2 and out[4].n_unique == 1
    assert out[4].novelty == 0.5


def test_sorted_neighborhood_finds_prefix_neighbors(spark):
    """Near-identical docs with far-apart ids land adjacent in key
    order and pair up; a near-dup whose PREFIX differs (the known SN
    blind spot) is not paired — pinning the blocking semantics, not
    papering over them."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    twin = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, twin, "en", "t", len(twin)),
        (500, twin + " iota", "en", "t", len(twin) + 5),  # id-distant twin
        # same content, REORDERED so the key prefix differs: missed by SN
        (2, "zeta eta theta alpha beta gamma delta epsilon", "en", "t", 46),
        (3, "unrelated filler text about nothing at all", "en", "t", 43),
        # fillers sorting BETWEEN the twins and doc 2, pushing the
        # reordered twin out of the w=3 neighborhood
        (6, "victor whiskey xray yankee zulu alpha bravo", "en", "t", 43),
        (7, "water wind waves weather warmth winter walls", "en", "t", 44),
        (8, "xylophone xenon xerox xeric xenial xoxo xp", "en", "t", 42),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {(r.id_a, r.id_b): r for r in
               QUERIES["dedup_sorted_neighborhood"](spark, d).collect()}
    assert (1, 500) in out and out[(1, 500)].jaccard_sim >= 0.5
    assert all(2 not in pair for pair in out), "reordered twin must be missed"


def test_cuped_perfect_covariate_equalizes_arms(spark):
    """When Y == X exactly, theta = 1 and the CUPED adjustment removes
    ALL pre-existing imbalance: both arms' adjusted means land on the
    pooled mean (2.50) though their raw means differ (1.50 vs 3.50)."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = []
    eid = 0
    for uid, dollars in [(0, 1.0), (2, 2.0), (1, 3.0), (3, 4.0)]:
        for day in (5, 20):   # pre-period and experiment spend, equal
            eid += 1
            rows.append((eid, uid, f"2024-01-{day:02d} 12:00:00", dollars))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("purchase").alias("event_type"), "value",
        F.lit("{}").alias("props"),
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = {r.arm: r for r in
               QUERIES["events_cuped_adjusted"](spark, d).collect()}
    assert out[0].theta == 1.0 and out[1].theta == 1.0
    assert out[0].mean_y == 1.5 and out[1].mean_y == 3.5
    assert out[0].mean_y_cuped == 2.5 and out[1].mean_y_cuped == 2.5


def test_theilsen_robust_to_outlier_day(spark):
    """Clean 100 + 50x cents/day series with ONE corrupted day: the
    Theil-Sen slope recovers exactly 50 (the corrupted day's pairwise
    slopes are a minority around the median) and the intercept recovers
    100; OLS on the same data would not."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = []
    eid = 0
    for i in range(9):          # days 2024-01-01 .. 09, revenue 1.00+0.50*i
        eid += 1
        dollars = 1.0 + 0.5 * i if i != 4 else 99.0   # day 5 corrupted
        rows.append((eid, 1, f"2024-01-{i+1:02d} 12:00:00", dollars))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("purchase").alias("event_type"), "value",
        F.lit("{}").alias("props"),
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = QUERIES["events_theilsen_trend"](spark, d).collect()[0]
    assert out.n_days == 9 and out.n_pairs == 36
    assert out.ts_slope_cents == 50.0
    assert out.ts_intercept_cents == 100.0


def test_kaplan_meier_hand_computed_curve(spark):
    """4-user cohort: deaths at weeks 0/1/2 and one end-censored user.
    S = 0.75, 0.5, 0.25, then flat 0.25 at the censored week (factor 1,
    no drop) — the textbook KM staircase, exactly."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, 1, "2020-01-01 10:00:00"), (2, 1, "2020-01-03 10:00:00"),
        (3, 2, "2020-01-01 10:00:00"), (4, 2, "2020-01-10 10:00:00"),
        (5, 3, "2020-01-01 10:00:00"), (6, 3, "2020-01-20 10:00:00"),
        (7, 4, "2020-01-01 10:00:00"), (8, 4, "2020-03-01 10:00:00"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("view").alias("event_type"), F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = {r.t: r for r in
               QUERIES["events_kaplan_meier"](spark, d).collect()}
    assert out[0].n == 4 and out[0].d == 1 and out[0].survival == 0.75
    assert out[1].n == 3 and out[1].survival == 0.5
    assert out[2].n == 2 and out[2].survival == 0.25
    assert out[8].c == 1 and out[8].d == 0 and out[8].survival == 0.25


def test_two_phase_rank_equals_global_row_number(spark):
    """The two-phase rank must equal a plain global row_number over the
    same ordering — bucket boundaries, empty buckets, and ties included
    (deterministic tie-break by id)."""
    from pyspark.sql import Window

    from pinterest_data_pipeline_spark.operators.ranking import two_phase_rank

    rows = [(i, v) for i, v in enumerate([5, 3, 3, 99, 0, 42, 17, 3, 99, 1])]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        r.id: r.r
        for r in two_phase_rank(
            df, bucket=F.expr("v div 10"), order_cols=["v", "id"]
        ).collect()
    }
    want = {
        r.id: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "id"))
        ).collect()
    }
    assert got == want


def test_streaming_bitmap_distinct_absorbs_replays(spark, tmp_path):
    """Two streamed batches with planted replays: the bitmap table's
    popcount equals the batch distinct count per day — users active
    many times (and replayed) count once, users spanning both batches
    count once per day they appear."""
    import os

    from pinterest_data_pipeline_spark.streaming import pipeline as sp

    rows = [
        (5, 1, "2020-01-01 01:00:00"),   # event_id % 5 == 0: replayed
        (2, 1, "2020-01-01 02:00:00"),   # same user again, same day
        (3, 2, "2020-01-01 03:00:00"),
        (10, 2, "2020-01-02 01:00:00"),  # replayed, later batch
        (6, 63, "2020-01-02 02:00:00"),  # second word
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("view").alias("event_type"), F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    sf_dir = str(tmp_path / "sf")
    ev.write.parquet(os.path.join(sf_dir, "events.parquet"))
    out = {str(r.day): r.n_active for r in sp.availablenow_bitmap_distinct(
        spark, sf_dir, str(tmp_path / "work")).collect()}
    assert out == {"2020-01-01": 2, "2020-01-02": 2}


def test_rolling_wau_bitmap_exact_window(spark):
    """Users 1/64 on day 1, user 1 again on day 5, user 2 on day 9:
    anchors report the exact trailing-7-day distinct count, including
    the cross-word merge and the day-8 window where day 1 has rolled
    off... day 8 is inactive so only ACTIVE days emit."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, 1, "2020-01-01 10:00:00"),
        (2, 64, "2020-01-01 11:00:00"),   # second word
        (3, 1, "2020-01-05 10:00:00"),    # same user later: still 1
        (4, 2, "2020-01-09 10:00:00"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("view").alias("event_type"), F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = {r.day: r.wau_exact for r in
               QUERIES["events_rolling_wau_bitmap"](spark, d).collect()}
    # active days only: 01, 05, 09
    assert out == {
        "2020-01-01": 2,   # {1, 64}
        "2020-01-05": 2,   # {1, 64} within Dec 30 .. Jan 5
        "2020-01-09": 2,   # {1 (day 5), 2}; day-1 users rolled off
    }


def test_systematic_sampling_exact_spacing(spark):
    """200 docs -> exactly 10 sampled at ranks 1, 21, ..., 181 — the
    equal-interval guarantee Bernoulli sampling lacks; determinism:
    a rerun returns the identical id set."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [(i, f"doc {i}", "en", "t", 5) for i in range(200)]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out1 = QUERIES["sample_systematic"](spark, d).collect()
        out2 = QUERIES["sample_systematic"](spark, d).collect()
    assert [r.rk for r in out1] == [1 + 20 * i for i in range(10)]
    assert [r.doc_id for r in out1] == [r.doc_id for r in out2]


def test_weighted_jaccard_counts_repetition(spark):
    """'spam spam spam' vs 'spam': set Jaccard would say 1.0; weighted
    says min(3,1)/max(3,1) = 1/3. Disjoint neighbors score 0 (the
    no-shared-token coalesce), and identical multisets score 1."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, "spam spam spam", "en", "t", 14),
        (2, "spam", "en", "t", 4),
        (3, "totally different words", "en", "t", 23),
        (4, "alpha beta alpha", "en", "t", 16),
        (5, "beta alpha alpha", "en", "t", 16),   # same multiset as 4
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {r.id_a: r for r in
               QUERIES["dedup_weighted_jaccard_adjacent"](spark, d).collect()}
    assert out[1].weighted_jaccard == round(1 / 3, 4) and out[1].s_min == 1
    assert out[2].weighted_jaccard == 0.0 and out[2].s_min == 0
    assert out[4].weighted_jaccard == 1.0


def test_char_entropy_hand_computed(spark):
    """'aaaa' has entropy 0; 'abab' has exactly ln(2); 'abcd' ln(4) —
    uniform distributions hit the closed forms exactly after the
    defined-order fold."""
    import math
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, "aaaa", "en", "t", 4),
        (2, "abab", "en", "t", 4),
        (3, "abcd", "en", "t", 4),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {r.doc_id: r for r in
               QUERIES["text_char_entropy"](spark, d).collect()}
    assert out[1].entropy == 0.0 and out[1].n_distinct_chars == 1
    assert out[2].entropy == round(math.log(2), 6)
    assert out[3].entropy == round(math.log(4), 6) and out[3].n == 4


def test_group_split_keeps_customers_whole(spark):
    """Every customer's orders land in exactly one split (audited from
    the data), split totals cover the corpus, and a customer with many
    orders stays whole."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [(k, k % 25, 100.0) for k in range(500)]   # 25 customers x 20
    odf = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double"
    )
    with tempfile.TemporaryDirectory() as d:
        odf.write.parquet(os.path.join(d, "orders.parquet"))
        out = QUERIES["sample_group_split_no_leakage"](spark, d).collect()
    assert all(r.leakage_free for r in out)
    assert sum(r.n_orders for r in out) == 500
    assert sum(r.n_customers for r in out) == 25     # whole customers
    assert all(r.n_orders == 20 * r.n_customers for r in out)


def test_markov_accuracy_argmax_and_tiebreak(spark):
    """view->click twice, view->error once: predict click, accuracy
    2/3; a 1-1 tie predicts the lexicographically smaller type."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        # u1: view click view click  -> view->click x2, click->view x1
        (1, 1, "2020-01-01 10:00:00", "view"),
        (2, 1, "2020-01-01 10:01:00", "click"),
        (3, 1, "2020-01-01 10:02:00", "view"),
        (4, 1, "2020-01-01 10:03:00", "click"),
        # u2: view error            -> view->error x1
        (5, 2, "2020-01-01 10:00:00", "view"),
        (6, 2, "2020-01-01 10:01:00", "error"),
        # u3: signup purchase; u4: signup error -> signup tie 1-1
        (7, 3, "2020-01-01 10:00:00", "signup"),
        (8, 3, "2020-01-01 10:01:00", "purchase"),
        (9, 4, "2020-01-01 10:00:00", "signup"),
        (10, 4, "2020-01-01 10:01:00", "error"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type", F.lit(0.0).alias("value"), F.lit("{}").alias("props"),
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = {r.cur: r for r in
               QUERIES["events_markov_accuracy"](spark, d).collect()}
    v = out["view"]
    assert v.predicted == "click" and v.n_transitions == 3
    assert v.n_correct == 2 and v.accuracy == round(2 / 3, 6)
    assert out["signup"].predicted == "error"       # tie: 'error' < 'purchase'
    assert out["signup"].accuracy == 0.5


def test_readability_hand_computed(spark):
    """'The cat sat.' -> 3 words, 1 sentence, 3 syllables: flesch =
    206.835 - 1.015*3 - 84.6*1 = 119.19 exactly; a no-terminal-punct
    doc floors sentences at 1."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, "The cat sat.", "en", "t", 12),
        (2, "no ending punctuation here", "en", "t", 26),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {r.doc_id: r for r in
               QUERIES["text_readability"](spark, d).collect()}
    r1 = out[1]
    assert (r1.n_words, r1.n_sentences, r1.n_syllables) == (3, 1, 3)
    assert r1.flesch == round(206.835 - 1.015 * 3 - 84.6 * 1, 4)
    assert out[2].n_sentences == 1


def test_hierarchical_share_sums_to_one(spark):
    """Within each region the nation shares sum to 1; region shares of
    global sum to 1; a hand-planted 30/70 split recovers exactly."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    region = spark.createDataFrame(
        [(0, "EAST"), (1, "WEST")], "r_regionkey long, r_name string"
    )
    nation = spark.createDataFrame(
        [(0, "N0", 0), (1, "N1", 0), (2, "N2", 1)],
        "n_nationkey long, n_name string, n_regionkey long",
    )
    customer = spark.createDataFrame(
        [(10, 0), (11, 1), (12, 2)], "c_custkey long, c_nationkey long"
    )
    orders = spark.createDataFrame(
        [(100, 10, 30.0), (101, 11, 70.0), (102, 12, 50.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    with tempfile.TemporaryDirectory() as d:
        import os as _os
        region.write.parquet(_os.path.join(d, "region.parquet"))
        nation.write.parquet(_os.path.join(d, "nation.parquet"))
        customer.write.parquet(_os.path.join(d, "customer.parquet"))
        orders.write.parquet(_os.path.join(d, "orders.parquet"))
        out = {(r.r_name, r.n_name): r for r in
               QUERIES["agg_hierarchical_share"](spark, d).collect()}
    assert out[("EAST", "N0")].share_of_region == 0.3
    assert out[("EAST", "N1")].share_of_region == 0.7
    assert out[("WEST", "N2")].share_of_region == 1.0
    assert out[("EAST", "N0")].region_share_of_global == round(100 / 150, 6)


def test_dyadic_decay_exact_halving(spark):
    """$1.00 today + $1.00 yesterday + $1.00 two days ago scores
    exactly 1 + 0.5 + 0.25 = 1.75; a 31-day-old event contributes
    nothing (horizon cut)."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, 1, "2020-03-01 10:00:00", 1.0),
        (2, 1, "2020-02-29 10:00:00", 1.0),
        (3, 1, "2020-02-28 10:00:00", 1.0),
        (4, 2, "2020-01-30 10:00:00", 999.0),   # 31 days old: dropped
        (5, 2, "2020-03-01 11:00:00", 2.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("purchase").alias("event_type"), "value",
        F.lit("{}").alias("props"),
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = {r.user_id: r.decay_score for r in
               QUERIES["events_decay_score_dyadic"](spark, d).collect()}
    assert out[1] == 1.75
    assert out[2] == 2.0


def test_sorted_neighborhood_hot_bucket_correct(spark):
    """Adversary: 3000 docs ALL sharing one 2-char key prefix — the
    entire corpus lands in one rank bucket (two_phase_rank's residual
    skew case). Correctness must hold: the planted adjacent twins are
    found, non-twins are not, and ranks stay a permutation (no offset
    drift)."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = []
    for i in range(1500):
        base = f"zz shared prefix doc number {i:05d} with unique tail {i*7}"
        rows.append((2 * i, base, "en", "t", len(base)))
        rows.append((2 * i + 1, base + " twin", "en", "t", len(base) + 5))
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = QUERIES["dedup_sorted_neighborhood"](spark, d).collect()
    found = {(r.id_a, r.id_b) for r in out if r.jaccard_sim >= 0.7}
    # every planted twin pair is key-adjacent (identical 16-char prefix,
    # ids consecutive in the tie-break) and must be found
    expected = {(2 * i, 2 * i + 1) for i in range(1500)}
    assert expected <= found


def test_duplicate_payment_audit_band_semantics(spark):
    """Same customer + same cents within 24 h pairs; a same-amount pair
    49 h apart does NOT (band), same amount different customer does NOT
    (key), and the planted md5 retry clones are recovered."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, 7, 100.0, "2020-01-01 10:00:00"),
        (2, 7, 100.0, "2020-01-01 13:00:00"),   # dup: 3 h apart
        (3, 7, 100.0, "2020-01-03 11:00:00"),   # 49 h from #1: no pair w/ 1
        (4, 8, 100.0, "2020-01-01 10:30:00"),   # other customer
        (5, 7, 55.5, "2020-01-01 10:00:00"),    # other amount
    ]
    odf = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double, d string"
    ).select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.col("d").cast("timestamp").alias("o_orderdate"),
    )
    with tempfile.TemporaryDirectory() as dd:
        odf.write.parquet(os.path.join(dd, "orders.parquet"))
        out = {(r.key_a, r.key_b): r for r in
               QUERIES["quality_duplicate_payments"](spark, dd).collect()}
    natural = {k for k in out if k[1] < 1_000_000_000_000}
    # the ONLY natural pair: 1-2 (3 h). 1-3 is 49 h and 2-3 is 46 h
    # (band); 1-4 crosses customers (key); 1-5 differs in amount (key).
    assert natural == {(1, 2)}
    assert out[(1, 2)].hours_apart == 3
    planted = {k for k in out if k[1] >= 1_000_000_000_000}
    assert all(b == a + 1_000_000_000_000 for a, b in planted)
    assert all(out[k].hours_apart == 2 for k in planted)


def test_zipf_slope_exact_on_planted_power_law(spark):
    """Token counts 12/6/4/3 = 12/rank: ln f is exactly linear in
    ln rank, so the OLS slope is -1.0 after rounding."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    text = " ".join(["aa"] * 12 + ["bb"] * 6 + ["cc"] * 4 + ["dd"] * 3)
    rows = [(1, text, "en", "t", len(text))]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = QUERIES["text_zipf_slope"](spark, d).collect()[0]
    assert out.k == 4
    assert out.zipf_slope == -1.0


def test_entry_channel_conversion_argmin(spark):
    """Entry = first event by (ts, event_id) even when a purchase comes
    first in event_id order; conversion counts ANY later purchase."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (9, 1, "2020-01-01 10:00:00", "view"),     # entry despite id 9
        (1, 1, "2020-01-01 11:00:00", "purchase"),
        (2, 2, "2020-01-01 10:00:00", "signup"),   # never converts
        (3, 3, "2020-01-01 10:00:00", "view"),     # never converts
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type", F.lit(0.0).alias("value"), F.lit("{}").alias("props"),
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = {r.entry: r for r in
               QUERIES["events_entry_channel_conversion"](spark, d).collect()}
    assert out["view"].n_users == 2 and out["view"].n_converted == 1
    assert out["view"].conversion_rate == 0.5
    assert out["signup"].n_converted == 0
    assert "purchase" not in out     # id-1 purchase is NOT the entry


def test_join_key_skew_identifies_hot_key(spark):
    """One bot user with 80 of 100 events: skew_vs_mean = 0.8 * n_keys
    and share 0.8, ranked first."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [(i, 999 if i < 80 else i, f"2020-01-01 10:{i % 60:02d}:00")
            for i in range(100)]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("view").alias("event_type"), F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    li = spark.createDataFrame([(1, 1)], "l_orderkey long, l_partkey long")
    orders = spark.createDataFrame([(1, 1, 1.0)],
        "o_orderkey long, o_custkey long, o_totalprice double")
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        orders.write.parquet(os.path.join(d, "orders.parquet"))
        out = [r for r in
               QUERIES["quality_join_key_skew"](spark, d).collect()
               if r.join_key == "events.user_id"]
    hot = out[0]
    assert hot.key_value == "999" and hot.n == 80 and hot.share == 0.8
    assert hot.skew_vs_mean == round(0.8 * 21, 4)   # 21 distinct users


def test_new_vs_returning_growth_accounting(spark):
    """u1 active days 1+2 (new then returning), u2 active day 2 only
    (new): day 1 = 1 new, day 2 = 1 new + 1 returning; shares exact."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, 1, "2020-01-01 10:00:00"),
        (2, 1, "2020-01-01 18:00:00"),   # same day: still one pair
        (3, 1, "2020-01-02 10:00:00"),
        (4, 2, "2020-01-02 10:00:00"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("view").alias("event_type"), F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = {r.day: r for r in
               QUERIES["events_new_vs_returning"](spark, d).collect()}
    assert out["2020-01-01"].new_users == 1
    assert out["2020-01-01"].returning_users == 0
    assert out["2020-01-02"].new_users == 1
    assert out["2020-01-02"].returning_users == 1
    assert out["2020-01-02"].new_share == 0.5


def test_functional_dependency_audit_planted(spark):
    """PK holds; a planted name with two brands violates name->brand
    with fan-out 2; brand->type violation fan-out 3."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, "widget", "B1", "small", 1, 1.0),
        (2, "widget", "B2", "small", 1, 1.0),    # name -> brand violated
        (3, "gadget", "B1", "medium", 2, 2.0),   # B1 has small+medium+large
        (4, "sprocket", "B1", "large", 3, 3.0),
        (5, "cog", "B3", "tiny", 1, 1.0),
    ]
    schema = ("p_partkey long, p_name string, p_brand string, p_type string,"
              " p_size int, p_retailprice double")
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "part.parquet")
        )
        out = {r.dependency: r for r in
               QUERIES["quality_functional_dependency"](spark, d).collect()}
    assert out["p_partkey -> p_name"].holds
    nb = out["p_name -> p_brand"]
    assert not nb.holds and nb.n_violating_lhs == 1 and nb.max_rhs_per_lhs == 2
    bt = out["p_brand -> p_type"]
    assert not bt.holds and bt.max_rhs_per_lhs == 3


def test_langid_confusion_cells(spark):
    """Declared-en docs: one scores en (diagonal), one gibberish falls
    to 'und'; shares per declared lang sum to 1."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, "the quick brown fox and the lazy dog", "en", "t", 37),
        (2, "zzz qqq xxx", "en", "t", 11),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {(r.lang, r.predicted): r for r in
               QUERIES["quality_langid_confusion"](spark, d).collect()}
    assert out[("en", "en")].n == 1
    assert out[("en", "und")].n == 1
    assert out[("en", "en")].share_of_declared == 0.5


def test_corpus_card_dup_rate_and_tokens(spark):
    """3 docs in a cell, two identical -> dup rate 1/3; token counts
    ignore empty split artifacts; mean chars exact."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, "a b c", "en", "web", 5),
        (2, "a b c", "en", "web", 5),      # exact dup
        (3, "d  e", "en", "web", 4),       # double space: 2 tokens
        (4, "x", "fr", "web", 1),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {(r.source, r.lang): r for r in
               QUERIES["pipeline_corpus_card"](spark, d).collect()}
    en = out[("web", "en")]
    assert en.n_docs == 3 and en.n_tokens == 8      # 3 + 3 + 2
    assert en.exact_dup_rate == round(1 - 2 / 3, 6)
    assert en.mean_chars == round(14 / 3, 4)
    assert out[("web", "fr")].exact_dup_rate == 0.0


def test_knn_partial_topk_matmul_ties_across_batches(spark):
    """The GEMM kernel's per-batch partial top-k must preserve the global
    (dot desc, vec_id asc) order: plant a corpus where every vector has an
    IDENTICAL dot with the query (all ties) split across many partitions —
    the global top-5 must be the 5 smallest vec_ids, and the exact dot must
    survive the float64 GEMM bit-for-bit."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pinterest_data_pipeline_spark.operators import similarity

    # 40 corpus vectors, all with dot == 6 against q_vec (ties everywhere)
    rows = [(int(i), [1, 2, 1], 0 if i % 2 == 0 else 1) for i in range(40)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, c_vec array<long>, label int"
    ).repartition(8)
    audited = [(999, [2, 1, 2], 1)]
    partials = similarity.knn_partial_topk_matmul(corpus, audited, k=5)
    w = Window.partitionBy("q_id").orderBy(F.desc("dot_q"), F.asc("vec_id"))
    top = (
        partials.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .orderBy("vec_id")
        .collect()
    )
    assert [r.vec_id for r in top] == [0, 1, 2, 3, 4]
    assert all(r.dot_q == 6 for r in top)
    assert [r.label for r in top] == [0, 1, 0, 1, 0]


def test_knn_partial_topk_matmul_self_excluded_despite_top_rank(spark):
    """A query vector present in the corpus dots highest with itself; the
    k+1 partial keeps enough candidates that dropping the self-match
    JVM-side still leaves k true neighbours."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pinterest_data_pipeline_spark.operators import similarity

    rows = [(0, [100, 100], 1)] + [
        (int(i), [10, i], 0) for i in range(1, 8)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, c_vec array<long>, label int"
    )
    audited = [(0, [100, 100], 1)]  # self lives in the corpus
    partials = similarity.knn_partial_topk_matmul(corpus, audited, k=5).filter(
        F.col("vec_id") != F.col("q_id")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("dot_q"), F.asc("vec_id"))
    top = (
        partials.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .collect()
    )
    assert len(top) == 5
    assert all(r.vec_id != 0 for r in top)
    # highest dot wins: dot = 1000 + 100*i -> ids 7,6,5,4,3
    assert sorted(r.vec_id for r in top) == [3, 4, 5, 6, 7]


def test_k_anonymity_planted_groups(spark):
    """Three planted QI groups: a singleton (at risk for every k, l<2),
    a 3-row group with 2 segments (at risk for k=5/10 only), and a
    12-row single-segment group (safe at every k but an l<2 violation)."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = (
        [(1, 1, 10.0, "AUTOMOBILE")]                     # nation 1 band 0
        + [(10 + i, 1, 260.0, ["BUILDING", "MACHINERY"][i % 2])
           for i in range(3)]                             # nation 1 band 1
        + [(100 + i, 2, 10.0, "FURNITURE") for i in range(12)]  # nation 2
    )
    schema = "c_custkey long, c_nationkey int, c_acctbal double, c_mktsegment string"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "customer.parquet")
        )
        out = {r.k: r for r in QUERIES["quality_k_anonymity"](spark, d).collect()}
    assert set(out) == {2, 5, 10}
    assert out[2].n_groups == 3 and out[2].n_rows == 16
    assert out[2].groups_below_k == 1 and out[2].rows_at_risk == 1
    assert out[5].groups_below_k == 2 and out[5].rows_at_risk == 4
    assert out[10].groups_below_k == 2 and out[10].rows_at_risk == 4
    assert out[2].min_group_size == 1
    # singleton + 12-row single-segment group both have l < 2
    assert out[2].l2_violations == 2
    assert out[5].risk_share == round(4 / 16, 6)


def test_simpsons_reversal_planted_flip(spark):
    """Textbook Simpson construction: inside BOTH segments the non-urgent
    cohort has the larger mean, but pooled the urgent cohort wins — every
    segment row must flag reversed=1 with pooled_dir=+1, seg_dir=-1."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    cust = [(1, "SEG_X"), (2, "SEG_Y")]
    orders = [
        # (orderkey, custkey, totalprice, priority)
        (100, 1, 100.00, "1-URGENT"),     # X: A mean 100
        (101, 1, 110.00, "5-LOW"),        # X: B mean 110 -> B > A
        (102, 1, 110.00, "3-MEDIUM"),
        (200, 2, 1000.00, "2-HIGH"),      # Y: A mean 1000
        (201, 2, 1000.00, "1-URGENT"),
        (202, 2, 1010.00, "4-NOT SPECIFIED"),  # Y: B mean 1010 -> B > A
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            cust, "c_custkey long, c_mktsegment string"
        ).write.parquet(os.path.join(d, "customer.parquet"))
        spark.createDataFrame(
            orders,
            "o_orderkey long, o_custkey long, o_totalprice double, "
            "o_orderpriority string",
        ).write.parquet(os.path.join(d, "orders.parquet"))
        out = {r.c_mktsegment: r for r in
               QUERIES["quality_simpsons_reversal"](spark, d).collect()}
    # pooled: A = (100+1000+1000)/3 = 700 > B = (110+110+1010)/3 = 410
    for seg in ("SEG_X", "SEG_Y"):
        assert out[seg].pooled_dir == 1
        assert out[seg].seg_dir == -1
        assert out[seg].reversed == 1
    assert out["SEG_X"].mean_a == 100.0 and out["SEG_X"].mean_b == 110.0
    assert out["SEG_Y"].n_a == 2 and out["SEG_Y"].n_b == 1


def test_ndcg_ideal_dcg_matches_hand_computation(spark):
    """Five docs with known graded relevance 5..1 against the engineered
    top-5-df query (a,b,c,d,e): the IDEAL DCG must equal the hand-computed
    sum(2^rel-1)/log2(rank+1) in rank order, and nDCG must be (0, 1]."""
    import math
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, "a b c d e", "en", "web", 9),
        (2, "a b c d z1", "en", "web", 10),
        (3, "a b c z2 z3", "en", "web", 11),
        (4, "a b z4 z5 z6", "en", "web", 12),
        (5, "a z7 z8 z9 z10", "en", "web", 14),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = QUERIES["search_ndcg_bm25"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    # df: a=5, b=4, c=3, d=2, e=1 (z* fillers df=1 lose the tie to 'e')
    # -> rel(doc_i) = 6-i; ideal gains 31,15,7,3,1 at ranks 1..5
    ideal = sum(
        (2 ** rel - 1) / math.log2(rank + 1)
        for rank, rel in enumerate([5, 4, 3, 2, 1], start=1)
    )
    assert r.k == 10 and r.n_matched_docs == 5
    assert r.idcg_at_k == round(ideal, 6)
    assert 0.0 < r.ndcg_at_k <= 1.0
    assert r.dcg_at_k <= r.idcg_at_k


def test_split_contamination_planted_leak(spark):
    """Plant an exact-duplicate text straddling the train/valid hash-split
    boundary and a clean test doc: the valid split must report exactly one
    leaked doc/text, the test split zero."""
    import hashlib
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    def bucket(doc_id: int) -> str:
        h = int(hashlib.md5(f"{doc_id}split".encode()).hexdigest()[:8], 16)
        b = h % 10000
        return "train" if b < 8000 else ("valid" if b < 9000 else "test")

    ids = {s: [i for i in range(1, 400) if bucket(i) == s] for s in
           ("train", "valid", "test")}
    rows = [
        (ids["train"][0], "leaked doc", "en", "web", 10),
        (ids["valid"][0], "leaked doc", "en", "web", 10),   # the leak
        (ids["valid"][1], "clean valid", "en", "web", 11),
        (ids["test"][0], "clean test", "en", "web", 10),
        (ids["train"][1], "train only", "en", "web", 10),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {r.eval_split: r for r in
               QUERIES["quality_split_contamination"](spark, d).collect()}
    assert out["valid"].n_docs == 2
    assert out["valid"].n_leaked_docs == 1
    assert out["valid"].n_leaked_texts == 1
    assert out["valid"].leak_share == 0.5
    assert out["test"].n_docs == 1 and out["test"].n_leaked_docs == 0


def test_fs_linkage_weights_order_and_sign(spark):
    """FS weight semantics on a planted block: the all-agree pair must
    outrank the partially-agreeing pair; agreement on a LOW-u (rare,
    discriminating) field contributes a larger weight than on a high-u
    field; disagreement weights are negative."""
    import math
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    # one block (Brand#1, size 1); adj near-constant (high u), noun
    # discriminating (low u); p_type constant
    rows = [
        (1, "red bolt", "Brand#1", "T", 1, 1.0),
        (2, "red bolt", "Brand#1", "T", 1, 1.0),     # all-agree with 1
        (3, "red washer", "Brand#1", "T", 1, 1.0),   # noun disagrees
        (4, "red nut", "Brand#2", "T", 9, 1.0),      # other block (no pair)
    ]
    schema = ("p_partkey long, p_name string, p_brand string, "
              "p_type string, p_size int, p_retailprice double")
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "part.parquet")
        )
        out = QUERIES["dedup_linkage_fs_weights"](spark, d).collect()
    by_pair = {(r.part_a, r.part_b): r for r in out}
    assert set(by_pair) == {(1, 2), (1, 3), (2, 3)}
    full = by_pair[(1, 2)]
    partial = by_pair[(1, 3)]
    assert full.rank == 1 and full.match_weight > partial.match_weight
    assert full.agree_adj == full.agree_noun == full.agree_p_type == 1
    assert partial.agree_noun == 0
    # hand-computed: N=4; u_adj=1 (all 'red'), u_noun=(2^2+1+1)/16,
    # u_type=1 -> full = log2(.9/1)*2 + log2(.9/(6/16))
    u_noun = 6 / 16
    expect_full = 2 * math.log2(0.9) + math.log2(0.9 / u_noun)
    assert full.match_weight == round(expect_full, 4)
    # disagreement on the noun is a NEGATIVE contribution
    expect_partial = 2 * math.log2(0.9) + math.log2(0.1 / (1.0 - u_noun))
    assert partial.match_weight == round(expect_partial, 4)
    assert partial.match_weight < full.match_weight


def test_lsh_planner_curve_and_threshold_semantics(spark):
    """Analytic landmarks: s50 is monotone INCREASING as bands shrink
    (fewer bands -> stricter scheme); at (16,8), P(0.7) must match the
    closed form; the data anchor counts exactly the pairs at/above each
    scheme's s50 (planted: one identical adjacent pair jac=1, one
    disjoint pair jac=0)."""
    import math
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES
    from pinterest_data_pipeline_spark.plans.extensions import (
        lsh_planner_params,
    )

    params = {(p["b"], p["r"]): p for p in lsh_planner_params()}
    assert params[(16, 8)]["p_at_07"] == round(
        1.0 - (1.0 - 0.7**8) ** 16, 6
    )
    s50s = [p["s50"] for p in lsh_planner_params()]  # b descending
    assert s50s == sorted(s50s)  # fewer bands -> higher threshold

    rows = [
        (1, "a b c", "en", "web", 5),
        (2, "a b c", "en", "web", 5),    # jac(1,2) = 1 -> above every s50
        (3, "x y z", "en", "web", 5),    # jac(2,3) = 0 -> below every s50
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = QUERIES["dedup_lsh_param_planner"](spark, d).collect()
    assert len(out) == 6
    for r in out:
        assert r.n_pairs_scored == 2
        assert r.n_pairs_targeted == 1


def test_spatial_grid_neighbors_matches_bruteforce(spark):
    """Blocking losslessness from the data: on an 80-customer table the
    grid-blocked pair set must equal the brute-force O(n^2) enumeration
    (count and closest pair), including pairs that straddle cell
    boundaries."""
    import hashlib
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    def coord(key: int, salt: str) -> int:
        return int(
            hashlib.md5(f"{key}{salt}".encode()).hexdigest()[:8], 16
        ) % 10_000_000

    keys = list(range(1, 81))
    pos = {k: (coord(k, "lat"), coord(k, "lon")) for k in keys}
    brute = []
    for i, a in enumerate(keys):
        for b in keys[i + 1:]:
            d2 = (pos[a][0] - pos[b][0]) ** 2 + (pos[a][1] - pos[b][1]) ** 2
            if d2 <= 250_000**2:
                brute.append((d2, a, b))
    brute.sort()
    assert brute, "fixture must contain at least one qualifying pair"

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(k,) for k in keys], "c_custkey long"
        ).write.parquet(os.path.join(d, "customer.parquet"))
        out = QUERIES["join_spatial_grid_neighbors"](spark, d).collect()
    assert out[0].n_pairs_total == len(brute)
    got = [(r.dist2, r.key_a, r.key_b) for r in
           sorted(out, key=lambda r: r.rank)]
    assert got == brute[: len(got)]


def test_grid_neighbor_pairs_hot_cell_still_exact(spark):
    """Hot-cell adversary: 60 points CLUSTERED inside one cell (plus a
    boundary straddler) — the blocked pair set must still equal the
    brute-force enumeration, and the lossless-cell assertion must refuse
    an undersized cell."""
    import pytest as _pytest

    from pinterest_data_pipeline_spark.operators import joins as joins_ops

    # 60 points packed into cell (0, 0) of a 1000-unit grid, one point
    # just across the cell border at x=1005 within threshold of the edge
    rows = (
        [(i, 10 * i, 500) for i in range(60)]
        + [(99, 990, 500), (100, 1005, 500)]
    )
    pts = spark.createDataFrame(rows, "key long, lat_i long, lon_i long")
    got = {
        (r.key_a, r.key_b): r.dist2
        for r in joins_ops.grid_neighbor_pairs(
            pts, cell=1000, threshold2=300**2
        ).collect()
    }
    brute = {}
    for i, (ka, xa, ya) in enumerate(rows):
        for kb, xb, yb in rows[i + 1:]:
            d2 = (xa - xb) ** 2 + (ya - yb) ** 2
            if d2 <= 300**2:
                brute[(min(ka, kb), max(ka, kb))] = d2
    assert got == brute
    assert (99, 100) in got  # the cell-straddling pair survives blocking
    # ValueError, not AssertionError: the losslessness contract must
    # survive `python -O`
    with _pytest.raises(ValueError, match="lossless"):
        joins_ops.grid_neighbor_pairs(pts, cell=100, threshold2=300**2)


def test_knn_partial_topk_matmul_empty_inputs(spark):
    """Empty audit set / empty corpus return empty frames with the right
    schema instead of crashing (the same empty-input guard the streaming
    helpers need)."""
    from pinterest_data_pipeline_spark.operators import similarity

    corpus = spark.createDataFrame(
        [(1, [1, 2], 0)], "vec_id long, c_vec array<long>, label int"
    )
    empty_audit = similarity.knn_partial_topk_matmul(corpus, [], k=5)
    assert empty_audit.count() == 0
    assert [f.name for f in empty_audit.schema.fields] == [
        "q_id", "q_label", "vec_id", "label", "dot_q",
    ]
    empty_corpus = spark.createDataFrame(
        [], "vec_id long, c_vec array<long>, label int"
    )
    got = similarity.knn_partial_topk_matmul(
        empty_corpus, [(9, [1, 2], 1)], k=5
    )
    assert got.count() == 0


def test_embedding_proximity_audit_detects_planted_near_dup(spark):
    """Plant an eval vector nearly identical to a train vector (dot above
    the 900k threshold) next to an orthogonal eval vector: exactly one
    suspicious hit, and min/max nearest dots match hand computation."""
    import hashlib
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    def split_of(vec_id: int) -> str:
        h = int(hashlib.md5(f"{vec_id}split".encode()).hexdigest()[:8], 16)
        b = h % 10000
        return "train" if b < 8000 else ("valid" if b < 9000 else "test")

    ids = {s: [i for i in range(1, 400) if split_of(i) == s] for s in
           ("train", "valid", "test")}
    dim = 4
    unit = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.01, 0.0, 0.0]   # dot with unit ~ 999*1000 = 999000
    ortho = [0.0, 1.0, 0.0, 0.0]     # dot with unit = 0
    rows = [
        (ids["train"][0], unit, 0),
        (ids["train"][1], [0.0, 0.0, 1.0, 0.0], 0),
        (ids["valid"][0], near, 1),
        (ids["valid"][1], ortho, 1),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(os.path.join(d, "embeddings.parquet"))
        out = QUERIES["quality_embedding_proximity_audit"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_audited == 2 and r.n_train == 2
    assert r.n_suspicious == 1
    assert r.max_nearest_dot == 999 * 1000      # near . unit
    assert r.min_nearest_dot == 0               # ortho's best train dot
    assert r.mean_nearest_dot == round((999000 + 0) / 2, 4)


def test_kmeans_separation_planted_tight_and_loose_clusters(spark):
    """Three planted blobs far apart, one per seed (vec 0/1/2): every
    member's runner-up centroid is a FAR blob, so all vectors are
    well-separated; a fixture with two seeds inside one blob correctly
    reported 0.5 well-separated (runner-up was the sibling centroid) —
    the audit reads cluster geometry, not wishful thinking."""
    import os
    import tempfile

    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    # blobs at (0,0), (10,10), (20,0) — seeds 0/1/2 land one per blob
    rows = [
        (0, [0.0, 0.001], 0),
        (1, [10.0, 10.001], 1),
        (2, [20.0, 0.001], 2),
        (3, [0.001, 0.0], 0),
        (4, [9.999, 10.0], 1),
        (5, [19.999, 0.0], 2),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(os.path.join(d, "embeddings.parquet"))
        out = QUERIES["ml_kmeans_separation"](spark, d).collect()
    total = sum(r.n_vectors for r in out)
    assert total == 6
    assert len(out) == 3
    for r in out:
        # every runner-up centroid is in the far blob: b2 >> 4*a2
        assert r.n_well_separated == r.n_vectors
        assert r.well_separated_share == 1.0
        assert r.separation_b2 > 4 * r.cohesion_a2
