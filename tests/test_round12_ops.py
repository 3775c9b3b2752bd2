"""Operator tests for the FS-linkage second blocking pass — candidates
come from a union of three finer blocked self-joins instead of the coarse
(brand, size) pair enumeration, guarded at runtime by the losslessness check
described in the query docstring. These tests pin (a) exact equality against
the coarse plan on real data, (b) the guard RAISING when an all-disagree
pair could enter the top-20, and (c) the constant-field (u == 1) degenerate
path that must NOT raise."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401  (registers queries)


def test_simhash_xxhash64_pairs_equal_exhaustive_hamming_join(spark):
    """The xxhash64 SimHash variant cannot be oracled cross-engine (DuckDB
    has no xxhash64), so certify the WHOLE pipeline in-Spark instead —
    the multi-index pigeonhole's pair set must equal the exhaustive
    O(n^2) Hamming cross-join over the SAME xxhash64 signatures, on the
    real sf0.001 corpus plus planted exact and near duplicates (so the
    assertion never passes vacuously on an empty pair set). The stable-
    hash twin separately certifies the algorithm against DuckDB; this
    pins that swapping the hash function changes nothing but the hash."""
    from pinterest_data_pipeline_spark.operators import dedup
    from pinterest_data_pipeline_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    # plant 10 exact duplicates and 10 near duplicates (one token edited)
    base = docs.orderBy("doc_id").limit(10)
    exact = base.withColumn("doc_id", F.col("doc_id") + 20_000_000)
    near = base.select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzzedit")).alias("text"),
    )
    corpus = docs.unionByName(exact).unionByName(near)

    found = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_near_duplicates(
            corpus, "text", "doc_id", max_distance=10
        ).collect()
    )
    sig = dedup.simhash(corpus, "text", "doc_id")
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"))
    exhaustive = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            dedup.hamming64(F.col("ha"), F.col("hb")).alias("hamming"),
        )
        .filter(F.col("hamming") <= 10)
        .collect()
    )
    assert len(exhaustive) >= 10  # planted exact dups guarantee pairs
    assert found == exhaustive


def _coarse_top20(spark, sf_dir):
    """The coarse-blocked reference plan, kept verbatim as the
    in-Spark dual for the fine-block rewrite (same shape as the DuckDB
    oracle in plans/oracles.py)."""
    from pinterest_data_pipeline_spark.plans.extensions import load_table

    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("adj"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
        "p_type",
    )

    def u_of(col):
        freq = parts.groupBy(col).agg(F.count(F.lit(1)).alias("n_v"))
        return freq.agg(
            F.sum(F.col("n_v") * F.col("n_v")).cast("long").alias(f"sq_{col}")
        )

    stats = (
        parts.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
        .crossJoin(F.broadcast(u_of("adj")))
        .crossJoin(F.broadcast(u_of("noun")))
        .crossJoin(F.broadcast(u_of("p_type")))
    )
    a, b = parts.alias("a"), parts.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).crossJoin(F.broadcast(stats))

    def w(fa, fb, sq):
        u = F.col(sq).cast("double") / F.col("n_total") / F.col("n_total")
        agree = F.col(fa) == F.col(fb)
        return agree.cast("int"), F.when(
            agree, F.log2(F.lit(0.9) / u)
        ).otherwise(F.log2(F.lit(0.1) / (F.lit(1.0) - u)))

    ga, wa = w("a.adj", "b.adj", "sq_adj")
    gn, wn = w("a.noun", "b.noun", "sq_noun")
    gt, wt = w("a.p_type", "b.p_type", "sq_p_type")
    scored = pairs.select(
        F.col("a.p_partkey").alias("part_a"),
        F.col("b.p_partkey").alias("part_b"),
        ga.alias("agree_adj"),
        gn.alias("agree_noun"),
        gt.alias("agree_p_type"),
        F.round(wa + wn + wt, 4).alias("match_weight"),
    )
    return (
        scored.orderBy(F.desc("match_weight"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
        .collect()
    )


def test_fs_linkage_fine_blocking_equals_coarse_top20(spark):
    """The second blocking pass must reproduce the coarse top-20 exactly
    (rank order, agreement flags, rounded weights) on the driver's own
    parity data — strategy forced to "fine" since auto correctly picks
    coarse at this block size."""
    from pinterest_data_pipeline_spark.plans.extensions import (
        fs_linkage_weights,
    )

    sf_dir = "/root/testdata/sf0.01"
    got = fs_linkage_weights(spark, sf_dir, strategy="fine").collect()
    want = _coarse_top20(spark, sf_dir)
    assert len(got) == len(want) == 20
    for i, (g, w_) in enumerate(zip(got, want)):
        assert g.rank == i + 1
        assert (g.part_a, g.part_b) == (w_.part_a, w_.part_b)
        assert (g.agree_adj, g.agree_noun, g.agree_p_type) == (
            w_.agree_adj,
            w_.agree_noun,
            w_.agree_p_type,
        )
        assert g.match_weight == w_.match_weight


def test_fs_linkage_guard_raises_when_pruning_would_be_lossy(spark):
    """A block whose only pair disagrees on every field: the coarse plan
    would return that pair, the fine pass prunes it — the runtime guard
    must raise instead of silently returning a different answer. The
    registered query's auto strategy picks coarse here (and returns the
    pair, matching the oracle); the guard belongs to the forced fine
    path."""
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES
    from pinterest_data_pipeline_spark.plans.extensions import (
        fs_linkage_weights,
    )

    rows = [
        (1, "red bolt", "Brand#1", "TYPE-A", 1, 1.0),
        (2, "blue washer", "Brand#1", "TYPE-B", 1, 1.0),
    ]
    schema = (
        "p_partkey long, p_name string, p_brand string, "
        "p_type string, p_size int, p_retailprice double"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "part.parquet")
        )
        with pytest.raises(Exception, match="not lossless"):
            fs_linkage_weights(spark, d, strategy="fine").collect()
        # auto -> coarse on this data: the all-disagree pair IS the
        # answer, exactly as the DuckDB oracle computes it
        out = QUERIES["dedup_linkage_fs_weights"](spark, d).collect()
        assert [(r.part_a, r.part_b) for r in out] == [(1, 2)]
        assert (out[0].agree_adj, out[0].agree_noun, out[0].agree_p_type) \
            == (0, 0, 0)


def test_fs_linkage_constant_field_does_not_raise(spark):
    """u == 1 on a field (globally constant) means no all-disagree pair
    can exist: nothing is pruned, s0 is -inf, and the ANSI 1-u division
    must stay lazy (this was a real DIVIDE_BY_ZERO during the rewrite).
    Forced fine — the guard expressions only exist on that path."""
    from pinterest_data_pipeline_spark.plans.extensions import (
        fs_linkage_weights,
    )

    rows = [
        (1, "red bolt", "Brand#1", "T", 1, 1.0),
        (2, "red washer", "Brand#1", "T", 1, 1.0),
        (3, "blue bolt", "Brand#1", "T", 1, 1.0),
    ]
    schema = (
        "p_partkey long, p_name string, p_brand string, "
        "p_type string, p_size int, p_retailprice double"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "part.parquet")
        )
        out = fs_linkage_weights(spark, d, strategy="fine").collect()
    # p_type constant -> every within-block pair agrees on it -> all 3
    # pairs are candidates and all survive.
    assert {(r.part_a, r.part_b) for r in out} == {(1, 2), (1, 3), (2, 3)}
    assert [r.rank for r in out] == [1, 2, 3]


def _write_docs(spark, d, rows):
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in rows], schema
    ).write.parquet(os.path.join(d, "documents.parquet"))


def test_bigram_logloss_is_word_order_sensitive(spark):
    """Docs 1 and 2 share the SAME token multiset (so any
    unigram score ties them) but differ in word order — the bigram
    cross-entropy must separate them, and the values on this
    hand-computable fixture must match the add-1-smoothed formula
    H = -sum tf*ln((c2+1)/(c1+V)) / n_bigrams. A 1-token doc has no
    bigram and must be absent."""
    import math

    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    rows = [
        (1, "a b a b a"),   # the corpus's dominant pattern
        (2, "a a b b a"),   # same bag of tokens, jumbled order
        (3, "c"),           # no bigram -> absent
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        out = {
            r.doc_id: r
            for r in QUERIES["quality_bigram_logloss"](spark, d).collect()
        }
    # corpus bigrams: "a b"=3, "b a"=3, "a a"=1, "b b"=1
    # contexts: c1(a)=4, c1(b)=4; vocab V={a,b,c} -> 3
    h1 = -(4 * math.log(4.0 / 7.0)) / 4
    h2 = -(2 * math.log(2.0 / 7.0) + 2 * math.log(4.0 / 7.0)) / 4
    assert out[1].xent_nats == round(h1, 6)
    assert out[2].xent_nats == round(h2, 6)
    assert out[1].xent_nats < out[2].xent_nats  # order sensitivity
    assert 3 not in out
    assert out[1].n_bigrams == 4 and out[1].n_distinct_bigrams == 2


def test_longest_shared_ngram_span_and_df_cap(spark):
    """Two docs sharing a planted 12-token run report
    span=12 (5 chained 8-gram windows); docs sharing nothing are absent;
    a gram shared by >50 docs is frequency-capped out of the candidates
    entirely (the PPJoin prefix-filter discipline)."""
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    shared = " ".join(f"s{i}" for i in range(12))
    boiler = " ".join(f"b{i}" for i in range(8))  # shared by 60 docs
    rows = [
        (1, "x1 x2 x3 " + shared + " y1 y2"),
        (2, "z1 " + shared + " w1 w2 w3"),
        (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
    ] + [(100 + i, boiler + f" t{i}") for i in range(60)]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        out = QUERIES["dedup_longest_shared_ngram"](spark, d).collect()
    by_pair = {(r.id_a, r.id_b): r for r in out}
    assert (1, 2) in by_pair
    assert by_pair[(1, 2)].longest_span_tokens == 12
    assert by_pair[(1, 2)].n_shared_windows == 5  # 12 - 8 + 1
    # doc 3 shares nothing; boilerplate pairs are df-capped out
    assert all(3 not in p for p in by_pair)
    assert all(a < 100 and b < 100 for a, b in by_pair)


def test_birth_vocab_joins_stay_sort_merge(spark):
    """Plan contract: every join whose build side is a
    DATA-SIZED frame (gram vocabulary, gram occurrences, bigram/context
    counts, per-pair aggregates) must plan as SortMergeJoin — the 256x
    probe killed both a planner-chosen broadcast (driver maxResultSize)
    and a shuffled hash build (executor OOM) on these exact joins. The
    only broadcast allowed in either plan is the sanctioned 1-row
    scalar attach (BroadcastNestedLoop on the vocab total). If a
    refactor trips this, fix the plan, not the test."""
    from pinterest_data_pipeline_spark.plans.analytics import QUERIES

    sf = "/root/testdata/sf0.01"
    for name in ("quality_bigram_logloss", "dedup_longest_shared_ngram"):
        plan = (
            QUERIES[name](spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" not in plan, name
        assert "SortMergeJoin" in plan, name
