"""Property-based tests (hypothesis) for the cleaning/text operators.

Each property runs a batch of generated cases through ONE DataFrame action
(lists -> single createDataFrame -> collect) so Spark job latency is paid
once per example set, not per case.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators import cleaning, dedup

SETTINGS = dict(max_examples=15, deadline=None)


@given(st.lists(st.integers(min_value=0, max_value=3_000_000), min_size=1, max_size=30))
@settings(**SETTINGS)
def test_parse_human_count_k_suffix(spark, ns):
    df = spark.createDataFrame([(f"{n}k",) for n in ns], ["v"])
    out = [r.p for r in df.select(cleaning.parse_human_count(F.col("v")).alias("p")).collect()]
    for n, got in zip(ns, out):
        expect = n * 1000 if n * 1000 <= 2**31 - 1 else None
        assert got == expect


@given(st.lists(st.integers(min_value=-5, max_value=120), min_size=1, max_size=50))
@settings(**SETTINGS)
def test_age_group_totality(spark, ages):
    df = spark.createDataFrame([(a,) for a in ages], ["age"])
    out = [r.g for r in df.select(cleaning.age_group(F.col("age")).alias("g")).collect()]
    for a, g in zip(ages, out):
        if a < 18:
            assert g is None
        else:
            assert g in ("18-24", "25-35", "36-50", "50+")
            lo = {"18-24": 18, "25-35": 25, "36-50": 36, "50+": 51}[g]
            hi = {"18-24": 24, "25-35": 35, "36-50": 50, "50+": 10**9}[g]
            assert lo <= a <= hi


@given(
    st.lists(
        st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=20),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_normalize_nulls_idempotent(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], ["c"])
    once = cleaning.normalize_nulls(df)
    twice = cleaning.normalize_nulls(once)
    assert [r.c for r in once.collect()] == [r.c for r in twice.collect()]
    # empty strings and sentinels are gone after one pass
    for r in once.collect():
        assert r.c != "" and r.c not in cleaning.SENTINELS


@given(
    st.lists(st.sampled_from(["a", "b", "c", "dd", "ee"]), min_size=0, max_size=8),
    st.lists(st.sampled_from(["a", "b", "c", "dd", "ee"]), min_size=0, max_size=8),
)
@settings(**SETTINGS)
def test_jaccard_bounds_and_symmetry(spark, xs, ys):
    df = spark.createDataFrame([(xs, ys)], "x array<string>, y array<string>")
    r = df.select(
        dedup.jaccard(F.col("x"), F.col("y")).alias("xy"),
        dedup.jaccard(F.col("y"), F.col("x")).alias("yx"),
    ).first()
    assert 0.0 <= r.xy <= 1.0 and abs(r.xy - r.yx) < 1e-12
    if set(xs) == set(ys) and xs:
        assert r.xy == 1.0


# --- merge_into vs a Python reference model ---------------------------------

_keys = st.integers(min_value=0, max_value=15)
_rows = st.lists(
    st.tuples(_keys, st.integers(min_value=-100, max_value=100)),
    min_size=0,
    max_size=20,
)


@given(target=_rows, source=_rows)
@settings(**SETTINGS)
def test_merge_into_matches_reference_model(spark, target, source):
    """merge_into == dict-semantics upsert, for any target/source key sets.

    Targets/sources are deduped per key (merge requires unique source keys;
    last-wins here to make the model deterministic)."""
    from pinterest_data_pipeline_spark.operators.merge import merge_into

    tgt = {k: v for k, v in target}
    src = {k: v for k, v in source}
    expect = dict(tgt)
    expect.update(src)  # matched -> source value; source-only -> insert

    tdf = spark.createDataFrame(
        [(k, v) for k, v in tgt.items()] or [(None, None)], "id long, val long"
    ).filter(F.col("id").isNotNull())
    sdf = spark.createDataFrame(
        [(k, v) for k, v in src.items()] or [(None, None)], "id long, val long"
    ).filter(F.col("id").isNotNull())
    got = {r.id: r.val for r in merge_into(tdf, sdf, ["id"]).collect()}
    assert got == expect


# --- scd2_history vs a Python reference model -------------------------------

_snap = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # key
        st.integers(min_value=0, max_value=9),   # day offset (distinct ts per key enforced below)
        st.sampled_from(["A", "B", "C"]),        # attribute
    ),
    min_size=1,
    max_size=25,
)


@given(rows=_snap)
@settings(**SETTINGS)
def test_scd2_history_matches_reference_model(spark, rows):
    """scd2_history == per-key change-point model for arbitrary snapshots.

    One observation per (key, ts): later duplicates in the generated list
    overwrite earlier ones (dict semantics) before both sides run."""
    import datetime

    from pinterest_data_pipeline_spark.operators.merge import scd2_history

    obs = {(k, d): a for k, d, a in rows}
    data = [
        (k, datetime.date(2020, 1, 1) + datetime.timedelta(days=d), a)
        for (k, d), a in obs.items()
    ]
    df = spark.createDataFrame(data, "id long, ts date, attr string")
    got = {
        (r.id, str(r.valid_from), str(r.valid_to), r.attr, r.is_current)
        for r in scd2_history(df, "id", "ts", ["attr"]).collect()
    }

    want = set()
    by_key: dict = {}
    for k, d in sorted(obs):
        by_key.setdefault(k, []).append((datetime.date(2020, 1, 1) + datetime.timedelta(days=d), obs[(k, d)]))
    for k, seq in by_key.items():
        changes = [
            (ts, a) for i, (ts, a) in enumerate(seq) if i == 0 or a != seq[i - 1][1]
        ]
        for i, (ts, a) in enumerate(changes):
            nxt = str(changes[i + 1][0]) if i + 1 < len(changes) else "None"
            want.add((k, str(ts), nxt, a, i + 1 == len(changes)))
    assert got == want


def test_approx_percentile_two_level_merge_within_error_bound(spark):
    """Mergeability proof for the 100 TB percentile path: computing the
    approx median per partition-shard and merging (union -> re-aggregate
    over the combined data) must stay within the GK sketch's rank-error
    bound of the exact percentile, for any shard split.

    This pins the property that makes percentile_approx safe to push
    map-side at scale: accuracy does not depend on how rows are sharded.
    """
    from pinterest_data_pipeline_spark.session import load_table

    orders = load_table(spark, "/root/testdata/sf0.01", "orders")
    accuracy = 100  # rank error <= n / accuracy
    n = orders.count()

    exact = orders.agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("p")
    ).first().p

    # shard three ways by an arbitrary hash, approximate each shard's data,
    # then approximate the union (same sketch, data arriving shard-major)
    sharded = orders.withColumn("shard", F.crc32(F.col("o_orderkey").cast("string")) % 3)
    approx_union = (
        sharded.repartition(3, "shard")
        .agg(F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(accuracy)).alias("p"))
        .first()
        .p
    )

    # translate the rank-error bound into a value bound via the exact ECDF
    rank_err = n / accuracy
    lo, hi = 0.5 - rank_err / n, 0.5 + rank_err / n
    bounds = orders.agg(
        F.expr(f"percentile(o_totalprice, {max(lo, 0.0)})").alias("lo"),
        F.expr(f"percentile(o_totalprice, {min(hi, 1.0)})").alias("hi"),
    ).first()
    assert bounds.lo <= approx_union <= bounds.hi, (exact, approx_union, bounds)


# --- quantization, sessionization, as-of, sampling, CMS properties --------


@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-100.0,
                max_value=100.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=4,
            max_size=4,
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_quantize_int8_reconstruction_error_bound(spark, vecs):
    """Dequantized components must lie within half a quantization step of
    the original: |x - code*maxabs/127| <= maxabs/254 (+ float slack)."""
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

    from pinterest_data_pipeline_spark.operators import similarity

    schema = StructType(
        [StructField("vec_id", LongType()), StructField("embedding", ArrayType(FloatType()))]
    )
    df = spark.createDataFrame(list(enumerate(vecs)), schema)
    codes = similarity.quantize_int8_longform(df).collect()
    maxabs = [0.0] * 4
    for v in vecs:
        for i, x in enumerate(v):
            maxabs[i] = max(maxabs[i], abs(float(x)))
    for r in codes:
        assert -127 <= r.code <= 127
        m = maxabs[r.pos]
        x = float(vecs[r.vec_id][r.pos])
        if m == 0:
            assert r.code == 0
        else:
            assert abs(x - r.code * m / 127.0) <= m / 254.0 + 1e-6 * m


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # user
            st.integers(min_value=0, max_value=100_000),  # ts seconds
        ),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
@settings(**SETTINGS)
def test_sessionize_gap_partitions_events_correctly(spark, rows):
    """Session numbering invariants: every event belongs to exactly one
    session; intra-session consecutive gaps <= threshold; the gap that
    starts a new session > threshold."""
    from pyspark.sql import Window

    gap_s = 600
    df = spark.createDataFrame(
        [(u, i, ts) for i, (u, ts) in enumerate(rows)], ["user_id", "event_id", "ts_s"]
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    prev = F.lag("ts_s").over(w)
    is_new = F.when(prev.isNull() | (F.col("ts_s") - prev > gap_s), 1).otherwise(0)
    out = (
        df.withColumn("is_new", is_new)
        .withColumn(
            "session_seq",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .collect()
    )
    assert len(out) == len(rows)
    by_user: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.user_id, r.ts_s, r.event_id)):
        by_user.setdefault(r.user_id, []).append(r)
    for evs in by_user.values():
        assert evs[0].session_seq == 1
        for a, b in zip(evs, evs[1:]):
            if b.session_seq == a.session_seq:
                assert b.ts_s - a.ts_s <= gap_s
            else:
                assert b.session_seq == a.session_seq + 1
                assert b.ts_s - a.ts_s > gap_s


@given(
    st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=15),
    st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=15),
)
@settings(**SETTINGS)
def test_asof_forward_is_backward_on_reversed_axis(spark, left_ts, right_ts):
    """Duality: forward as-of on t equals backward as-of on -t."""
    from pinterest_data_pipeline_spark.operators.joins import asof_join

    right_ts = sorted(set(right_ts))
    left = spark.createDataFrame(
        [(i, "k", t) for i, t in enumerate(left_ts)], ["lid", "key", "t"]
    )
    right = spark.createDataFrame([("k", t, float(t)) for t in right_ts], ["rk", "t", "val"])
    fwd = {
        r.lid: r.val_x
        for r in asof_join(
            left, right, on="t", by=("key", "rk"), value_cols=["val"],
            suffix="_x", direction="forward",
        ).collect()
    }
    neg = F.col("t") * -1
    left_n = left.withColumn("t", neg)
    right_n = right.withColumn("t", neg)
    bwd = {
        r.lid: r.val_x
        for r in asof_join(
            left_n, right_n, on="t", by=("key", "rk"), value_cols=["val"],
            suffix="_x", direction="backward",
        ).collect()
    }
    assert fwd == bwd


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=1, max_value=1_000_000),
        ),
        min_size=3,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=10),
)
@settings(**SETTINGS)
def test_weighted_sample_is_nested_in_k(spark, rows, k):
    """A-ES priorities are a fixed total order per (id, weight, salt), so
    the top-k sample must be a SUBSET of the top-(k+1) sample — the
    property that makes the draw stable when the budget grows."""
    from pinterest_data_pipeline_spark.operators import sampling

    df = spark.createDataFrame(rows, "id long, w long")
    small = {r.id for r in sampling.weighted_sample(df, "id", "w", k=k).collect()}
    big = {r.id for r in sampling.weighted_sample(df, "id", "w", k=k + 1).collect()}
    assert small <= big
    assert len(small) == min(k, len(rows))


@given(
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=60),
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=60),
)
@settings(**SETTINGS)
def test_cms_estimates_monotone_under_stream_growth(spark, part_a, part_b):
    """Adding rows can only grow cell counts, so every point estimate is
    monotone non-decreasing under stream growth — and always >= truth."""
    from pinterest_data_pipeline_spark.operators import sketches

    df_a = spark.createDataFrame([(x,) for x in part_a], "item long")
    df_ab = spark.createDataFrame([(x,) for x in part_a + part_b], "item long")
    probes = df_a.select("item").distinct()
    est_a = {
        r.item: r.cms_estimate
        for r in sketches.cms_point_estimates(
            probes, sketches.cms_cells(df_a, "item", depth=2, width=16), "item",
            depth=2, width=16,
        ).collect()
    }
    est_ab = {
        r.item: r.cms_estimate
        for r in sketches.cms_point_estimates(
            probes, sketches.cms_cells(df_ab, "item", depth=2, width=16), "item",
            depth=2, width=16,
        ).collect()
    }
    from collections import Counter

    truth_a = Counter(part_a)
    for item, e in est_a.items():
        assert e >= truth_a[item]
        assert est_ab[item] >= e


# --- changelog, Bloom, KMV, balance, GEMM vs Python reference models ------

_changelog = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),    # key
        st.integers(min_value=0, max_value=50),   # seq (deduped below)
        st.sampled_from(["U", "U", "U", "D"]),    # op, delete-biased tail
        st.integers(min_value=0, max_value=99),   # value
    ),
    min_size=1,
    max_size=30,
)


@given(rows=_changelog)
@settings(**SETTINGS)
def test_apply_changelog_matches_replay_model(spark, rows):
    """apply_changelog == literally replaying the ordered feed into a
    dict and dropping deleted keys, for ANY interleaving of upserts and
    deletes. Seq deduped per key (the operator contract: the order
    columns totally order each key's changes)."""
    from pinterest_data_pipeline_spark.operators.merge import apply_changelog

    seen: dict = {}
    for k, seq, op, v in rows:
        seen[(k, seq)] = (op, v)  # last generated wins, dedupe (k, seq)
    feed = [(k, seq, op, v) for (k, seq), (op, v) in seen.items()]

    state: dict = {}
    counts: dict = {}
    for k, seq, op, v in sorted(feed):
        state[k] = (op, v)
    for k, seq, op, v in feed:
        counts[k] = counts.get(k, 0) + 1
    expect = {
        k: (float(v), counts[k])
        for k, (op, v) in state.items()
        if op != "D"
    }

    df = spark.createDataFrame(feed, "k long, seq long, op string, v long").withColumn(
        "v", F.col("v").cast("double")
    )
    got = {
        r.k: (r.v, r.n_changes)
        for r in apply_changelog(df, ["k"], "op", ["seq"]).collect()
    }
    assert got == expect


@given(
    members=st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40),
    extras=st.sets(st.integers(min_value=0, max_value=10_000), min_size=0, max_size=40),
)
@settings(**SETTINGS)
def test_bloom_never_false_negative(spark, members, extras):
    """For ANY member set, every member probes true — the property that
    makes Bloom prefiltering semantics-preserving before a join."""
    from pinterest_data_pipeline_spark.operators import bloom

    m_bits, k = 1024, 3
    mdf = spark.createDataFrame([(x,) for x in members], "key long")
    dense = bloom.bloom_words_literal(bloom.bloom_build(mdf, "key", m_bits, k), m_bits)
    probe_keys = sorted(members | extras)
    pdf = spark.createDataFrame([(x,) for x in probe_keys], "key long")
    got = {
        r.key: r.m
        for r in pdf.select(
            "key", bloom.bloom_maybe_expr(F.col("key"), dense, m_bits, k).alias("m")
        ).collect()
    }
    assert all(got[x] for x in members)


@given(
    a=st.sets(st.integers(min_value=0, max_value=100_000), min_size=1, max_size=60),
    b=st.sets(st.integers(min_value=0, max_value=100_000), min_size=1, max_size=60),
)
@settings(**SETTINGS)
def test_kmv_merge_equals_union_sketch(spark, a, b):
    """KMV mergeability for ANY two sets: the k-smallest of the sketch
    union == the sketch of the set union — the property that lets
    distinct counts fold across corpora/executors without re-reading."""
    from pinterest_data_pipeline_spark.operators import sketches

    k = 16
    adf = spark.createDataFrame([(x,) for x in a], "v long")
    bdf = spark.createDataFrame([(x,) for x in b], "v long")
    udf_ = spark.createDataFrame([(x,) for x in (a | b)], "v long")
    merged = sorted(
        r.h
        for r in sketches.kmv_merge(
            sketches.kmv_sketch(adf, "v", k=k),
            sketches.kmv_sketch(bdf, "v", k=k),
            k=k,
        ).collect()
    )
    direct = sorted(r.h for r in sketches.kmv_sketch(udf_, "v", k=k).collect())
    assert merged == direct


@given(
    deltas=st.lists(st.integers(min_value=-50, max_value=50), min_size=1,
                    max_size=40)
)
@settings(**SETTINGS)
def test_clamped_balance_closed_form_equals_recursion(spark, deltas):
    """The window closed form bal_i = cumsum_i - least(0, runmin(cumsum)_i)
    equals the stateful recursion s_i = max(0, s_{i-1} + delta_i) for
    ARBITRARY integer delta sequences — the identity the
    window_clamped_running_balance query rests on."""
    from pyspark.sql import Window

    rows = [(1, k, d) for k, d in enumerate(deltas)]
    df = spark.createDataFrame(rows, "g long, seq long, delta long")
    w = Window.partitionBy("g").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = (
        df.withColumn("p", F.sum("delta").over(w))
        .withColumn("bal", F.col("p") - F.least(F.min("p").over(w), F.lit(0)))
        .orderBy("seq")
        .select("bal")
        .collect()
    )
    s, expect = 0, []
    for d in deltas:
        s = max(0, s + d)
        expect.append(s)
    assert [r.bal for r in out] == expect


@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-(2**25) + 1, max_value=2**25 - 1),
            min_size=8, max_size=8,
        ),
        min_size=1, max_size=12,
    ),
    qvec=st.lists(
        st.integers(min_value=-(2**25) + 1, max_value=2**25 - 1),
        min_size=8, max_size=8,
    ),
)
@settings(**SETTINGS)
def test_gemm_kernel_dot_products_exact_at_component_bound(spark, vecs, qvec):
    """The float64-GEMM exactness claim of knn_partial_topk_matmul /
    jl_project_quantized, at the ASSERTED bound: for arbitrary integer
    components |v| < 2**25 (dim 8 here; the 2**53 headroom argument is
    dim-scaled), the kernel's emitted dot equals Python's arbitrary-
    precision integer dot, bit for bit."""
    from pinterest_data_pipeline_spark.operators import similarity

    rows = [(i, list(map(int, v)), 0) for i, v in enumerate(vecs)]
    corpus = spark.createDataFrame(rows, "vec_id long, c_vec array<long>, label int")
    audited = [(10**6, list(map(int, qvec)), 1)]  # q_id outside corpus ids
    got = {
        r.vec_id: r.dot_q
        for r in similarity.knn_partial_topk_matmul(
            corpus, audited, k=len(vecs)
        ).collect()
    }
    for i, v in enumerate(vecs):
        expect = sum(int(a) * int(b) for a, b in zip(v, qvec))
        assert got[i] == expect


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),  # order value
            st.integers(min_value=-50, max_value=50),      # payload
        ),
        min_size=1,
        max_size=60,
    ),
    width=st.sampled_from([1, 7, 100, 5000]),
    current_row=st.booleans(),
)
@settings(**SETTINGS)
def test_two_phase_running_matches_global_window(spark, pairs, width, current_row):
    """two_phase_running must equal the naive global window
    for BOTH fns and BOTH frame ends, under arbitrary values (negative
    included — floor-division bucketing must stay monotone), duplicate
    order keys collapsed first (the helper ranks a distinct-value
    rollup), and bucket widths from one-per-value to all-in-one."""
    from pyspark.sql import Window

    from pinterest_data_pipeline_spark.operators.ranking import (
        two_phase_running,
    )

    rolled = {}
    for v, x in pairs:
        s, m = rolled.get(v, (0, None))
        rolled[v] = (s + x, x if m is None else max(m, x))
    rows = [(v, s, m) for v, (s, m) in sorted(rolled.items())]
    df = spark.createDataFrame(rows, "v long, c long, x long")
    end = 0 if current_row else -1
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, end)
    expected = {
        r.v: (r.cs, r.mx)
        for r in df.withColumn(
            # un-coalesced: the strict-frame first row is
            # NULL in true SUM() OVER semantics and the helper must match
            "cs", F.sum("c").over(w).cast("long")
        ).withColumn("mx", F.max("x").over(w)).collect()
    }
    got = {
        r.v: (r.cs, r.mx)
        for r in two_phase_running(
            df,
            F.floor(F.col("v") / width).cast("long"),
            ["v"],
            [("c", "sum", "cs"), ("x", "max", "mx")],
            current_row=current_row,
        ).collect()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),        # partition key
            st.integers(min_value=-500, max_value=500),   # sort value
            st.integers(min_value=0, max_value=10**6),    # unique-ish id
        ),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t[2],
    ),
    width=st.sampled_from([1, 13, 250, 2000]),
)
@settings(**SETTINGS)
def test_two_phase_rank_matches_global_row_number(spark, rows, width):
    """two_phase_rank must equal row_number() over the global (or
    per-partition-key) sort for arbitrary values — including negatives
    (floor-bucket monotonicity), duplicate sort values broken by the
    unique id, and bucket widths from one-per-value to all-in-one."""
    from pyspark.sql import Window

    from pinterest_data_pipeline_spark.operators.ranking import two_phase_rank

    df = spark.createDataFrame(rows, "p long, v long, id long")
    w = Window.partitionBy("p").orderBy("v", "id")
    expected = {
        r.id: r.rk
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    got = {
        r.id: r.r
        for r in two_phase_rank(
            df,
            F.floor(F.col("v") / width).cast("long"),
            ["v", "id"],
            partition_cols=["p"],
        ).collect()
    }
    assert got == expected
