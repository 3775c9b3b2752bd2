"""Unit tests for dedup / similarity / text operators with planted cases.

The oracle battery proves cross-engine agreement on real tables; these tests
prove the *semantics*: planted exact dups are found, planted near-dups are
found by MinHash and SimHash, ANN recall against brute force is sane.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators import dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away into "
        "the deep green forest looking for food and water every single day"
    )
    rows = [
        (0, base),
        (1, base),  # exact duplicate of 0
        (2, base.replace("quick", "speedy")),  # near-dup of 0 (one token)
        (3, "completely different text about apache spark query engines and shuffles"),
        (4, "el la de que y en un una los las palabras en espanol para probar"),
        (5, base.replace("dog", "cat").replace("fox", "wolf")),  # near-dup, 2 tokens
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(docs):
    kept = dedup.exact_dedup(docs, "text", "doc_id")
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [0, 2, 3, 4, 5]  # doc 1 removed, doc 0 (min id) kept


def test_exact_dedup_summary_counts(docs):
    summ = {r.keep_id: r.copy_count for r in dedup.exact_dedup_summary(docs, "text", "doc_id").collect()}
    assert summ[0] == 2 and summ[3] == 1


def test_minhash_finds_planted_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_near_duplicates(docs, "text", "doc_id", threshold=0.5).collect()
    }
    assert (0, 1) in pairs  # exact dup
    assert (0, 2) in pairs  # one-token edit
    # unrelated docs never pair
    assert not any(3 in p or 4 in p for p in pairs)


def test_minhash_jaccard_value_exact_dup_is_one(docs):
    rows = dedup.minhash_near_duplicates(docs, "text", "doc_id", threshold=0.5).collect()
    sim = {(r.id_a, r.id_b): r.jaccard_sim for r in rows}
    assert sim[(0, 1)] == 1.0


def test_simhash_finds_planted_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_duplicates(docs, "text", "doc_id", max_distance=12).collect()
    }
    assert pairs.get((0, 1)) == 0  # identical text -> identical simhash
    assert (0, 2) in pairs
    assert (3, 4) not in pairs


def test_jaccard_identity_and_disjoint(spark):
    df = spark.createDataFrame([(["a", "b"], ["a", "b"], ["c"])], ["x", "y", "z"])
    r = df.select(
        dedup.jaccard(F.col("x"), F.col("y")).alias("same"),
        dedup.jaccard(F.col("x"), F.col("z")).alias("disjoint"),
    ).collect()[0]
    assert r.same == 1.0 and r.disjoint == 0.0


def test_cluster_pairs_components(spark):
    # two chains and a singleton edge: {1,2,3,4}, {10,11}, {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], ["id_a", "id_b"]
    )
    comps = {r.member_id: r.cluster_id for r in dedup.cluster_pairs(pairs).collect()}
    assert {comps[i] for i in (1, 2, 3, 4)} == {1}
    assert comps[10] == comps[11] == 10 and comps[20] == 20


def test_cluster_pairs_requires_checkpoint_dir_when_reliable(spark):
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("a checkpoint dir is already set on the shared context")
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(ValueError, match="checkpoint dir"):
        dedup.cluster_pairs(pairs, reliable=True)


def test_cluster_pairs_one_action_per_iteration(spark):
    """The convergence flag folds into each iteration's
    materializing aggregate — ONE action (= one job once AQE and broadcast
    side-jobs are disabled) per iteration, not the old checkpoint + diff
    pair that doubled scheduler round-trips. ``driver_cc_cap=0`` forces
    the distributed branch (under-cap pair sets solve by driver
    union-find instead), which is the branch whose action discipline
    this pins."""
    ns = spark.newSession()
    ns.conf.set("spark.sql.adaptive.enabled", "false")
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sc = ns.sparkContext
    pairs = ns.createDataFrame([(1, 2), (1, 3), (1, 4)], ["id_a", "id_b"])
    group = "cluster-pairs-job-accounting"
    sc.setJobGroup(group, "count actions per iteration")
    try:
        comps = {
            r.member_id: r.cluster_id
            for r in dedup.cluster_pairs(pairs, driver_cc_cap=0).collect()
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1}
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # star graph: iteration 1 relabels the leaves, iteration 2 observes no
    # change (2 aggregate actions), + the final collect = 3 jobs total; a
    # two-jobs-per-iteration shape would show 5+
    assert len(jobs) == 3, sorted(jobs)


def test_near_duplicate_query_plans_launch_no_jobs(spark):
    """Building the MinHash and SimHash near-duplicate query plans runs no
    Spark job. ``load_documents`` fans the documents scan out once; the
    signature operators must not fan it again, because under AQE the
    second partition-count probe runs the first repartition's Exchange
    as an eager job."""
    from pinterest_data_pipeline_spark.plans import extensions

    sf = "/root/testdata/sf0.001"
    sc = spark.sparkContext
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # the session's first read of a table infers its parquet schema with
    # a job; load it before counting
    extensions.load_documents(spark, sf)
    group = "near-dup-plan-build-job-accounting"
    sc.setJobGroup(group, "count jobs launched while plans are built")
    try:
        extensions.dedup_minhash_near_duplicates(spark, sf)
        extensions.dedup_simhash_near_duplicates(spark, sf)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_cluster_pairs_driver_branch_matches_distributed(spark):
    """Under ``driver_cc_cap`` PAIRS cluster_pairs solves by driver
    union-find (the incremental family's kernel) instead of
    the iterative min-diffusion loop. Same labels by construction —
    pinned here on a shape that exercises path compression (a chain),
    min-through-merge (two chains joined out of id order), and a
    singleton edge; plus identical column names/types."""
    rows = (
        [(i, i + 1) for i in range(100, 108)]  # chain
        + [(205, 201), (201, 203), (203, 100)]  # second chain, joins first
        + [(900, 901)]  # island
    )
    pairs = spark.createDataFrame(rows, ["id_a", "id_b"])
    fast = dedup.cluster_pairs(pairs)  # driver branch (14 pairs < cap)
    slow = dedup.cluster_pairs(pairs, driver_cc_cap=0)  # distributed
    assert fast.schema.fieldNames() == slow.schema.fieldNames()
    assert [f.dataType for f in fast.schema.fields] == [
        f.dataType for f in slow.schema.fields
    ]
    frows = {(r.member_id, r.cluster_id) for r in fast.collect()}
    srows = {(r.member_id, r.cluster_id) for r in slow.collect()}
    assert frows == srows
    # the merged component's label is the global min across both chains
    assert (205, 100) in frows and (901, 900) in frows


def test_cluster_pairs_distributed_deep_chain_log_rounds(spark):
    """Pointer doubling: the distributed loop must converge in
    O(log diameter) rounds, not O(diameter). A 64-node chain has
    diameter 63 — plain min-diffusion would need 63 rounds (and silently
    return non-minimal labels at the default ``max_iters=20``); with the
    label-shortcut join the label chain halves per round. One action per
    round (pinned elsewhere), so the job-group count bounds the rounds."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    # max_iters=8 is the proof: plain diffusion moves the min one hop per
    # round, so 8 rounds would leave node 63 labeled 55; only the
    # shortcut's exponential contraction can fully converge within 8.
    comps = {
        r.member_id: r.cluster_id
        for r in dedup.cluster_pairs(
            pairs, max_iters=8, driver_cc_cap=0
        ).collect()
    }
    assert comps == {i: 0 for i in range(n)}  # full convergence to the min


def test_cluster_pairs_null_ids_match_distributed(spark):
    """A nullable bigint pair column passes the driver
    branch's dtype gate, and NULL endpoints used to crash the union-find
    (int-vs-None comparison). The distributed branch's semantics are the
    contract — SQL equi-joins never match NULL, so a NULL node keeps its
    NULL label as one (NULL, NULL) row and never links its partner —
    and the driver branch must produce identical rows."""
    rows = [(1, 2), (2, None), (None, 7), (None, None), (7, 8)]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    fast = dedup.cluster_pairs(pairs)  # driver branch (5 pairs < cap)
    slow = dedup.cluster_pairs(pairs, driver_cc_cap=0)  # distributed
    frows = {(r.member_id, r.cluster_id) for r in fast.collect()}
    srows = {(r.member_id, r.cluster_id) for r in slow.collect()}
    assert frows == srows
    # null partners stay singletons/own-component; one (None, None) row
    assert (None, None) in frows and (2, 1) in frows and (8, 7) in frows


def test_cluster_pairs_over_cap_reads_pairs_once(spark):
    """Over ``driver_cc_cap`` the distributed branch builds its two-way
    edge table from ONE scan of the pair lineage (at scale that lineage
    is the LSH join + verify). A counting UDF in ``pairs`` counts, over
    the whole call, what the cap probe alone counts plus one full scan;
    the labels (null endpoints included) equal the distributed result."""
    rows = [(i, i + 1) for i in range(20)] + [
        (100, 101), (101, None), (None, 7), (None, None),
    ]
    base = spark.createDataFrame(rows, "id_a long, id_b long").coalesce(1)
    reads = spark.sparkContext.accumulator(0)

    def tap(x):
        reads.add(1)
        return x

    pairs = base.withColumn("id_a", F.udf(tap, "long")("id_a"))
    pairs.select("id_a", "id_b").limit(2).toArrow()  # the cap probe alone
    probe_reads = reads.value
    reads.value = 0
    over_cap = {
        (r.member_id, r.cluster_id)
        for r in dedup.cluster_pairs(pairs, driver_cc_cap=1).collect()
    }
    assert reads.value == probe_reads + len(rows)
    expected = {
        (r.member_id, r.cluster_id)
        for r in dedup.cluster_pairs(base, driver_cc_cap=0).collect()
    }
    assert over_cap == expected
    assert (None, None) in over_cap and (20, 0) in over_cap


def test_cluster_pairs_reliable_checkpoint(spark, tmp_path):
    """reliable=True writes fault-tolerant checkpoints (survives executor
    loss, unlike localCheckpoint's block storage) and converges to the
    same components."""
    ckpt = tmp_path / "cc-ckpt"
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    out = dedup.cluster_pairs(pairs, reliable=True, checkpoint_dir=str(ckpt))
    comps = {r.member_id: r.cluster_id for r in out.collect()}
    assert {comps[i] for i in (1, 2, 3)} == {1}
    assert comps[10] == comps[11] == 10
    assert any(ckpt.rglob("*")), "no checkpoint files written"


def test_near_duplicate_clusters_keep_decision(docs):
    out = {r.doc_id: (r.cluster_id, r.keep) for r in
           dedup.near_duplicate_clusters(docs, "text", "doc_id", threshold=0.5).collect()}
    assert len(out) == 6  # every doc labeled, incl. singletons
    # docs 0,1,2 are the planted near-dup cluster -> min id 0 kept
    assert out[0] == (0, True) and out[1] == (0, False) and out[2] == (0, False)
    assert out[3][1] and out[4][1]  # unrelated docs keep themselves


# --- similarity -------------------------------------------------------------


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(5)
    dim = 16
    base = [rng.gauss(0, 1) for _ in range(dim)]
    near = [v + rng.gauss(0, 0.01) for v in base]  # cosine ~1 with base
    rows = [(0, base), (1, near)] + [
        (i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(2, 60)
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_finds_planted_neighbor(vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    out = similarity.cosine_topk(vectors, q, k=3).collect()
    assert out[0].vec_id == 1 and out[0].cosine_sim > 0.99
    assert [r.rank for r in out] == [1, 2, 3]


def test_quantized_topk_agrees_with_float_on_top1(vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    fl = similarity.cosine_topk(vectors, q, k=1).collect()[0]
    qt = similarity.cosine_topk_quantized(vectors, q, k=1, scale=10000).collect()[0]
    # quantized uses dot (no norm); top-1 may differ in general, but the
    # planted ~identical neighbor dominates both metrics
    assert fl.vec_id == qt.vec_id == 1


def test_lsh_topk_recall_vs_brute_force(vectors):
    q = vectors.filter(F.col("vec_id") < 3)
    brute = similarity.cosine_topk(vectors, q, k=5)
    ann = similarity.lsh_topk(vectors, q, k=5, dim=16, n_planes=4, probes=1)
    b = {(r.query_id, r.vec_id) for r in brute.collect()}
    a = {(r.query_id, r.vec_id) for r in ann.collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.5  # 4 planes + 1-bit probes on 16d: generous floor
    # the planted twin must always survive LSH for query 0
    assert (0, 1) in a


def test_ivf_topk_recall_vs_brute_force(vectors):
    q = vectors.filter(F.col("vec_id") < 3)
    centroids = similarity.train_ivf_centroids(
        vectors, n_cells=4, sample_size=60, iters=3
    )
    assert len(centroids) == 4 and len(centroids[0]) == 16
    brute = similarity.cosine_topk(vectors, q, k=5)
    ann = similarity.ivf_topk(vectors, q, centroids, k=5, n_probe=2)
    b = {(r.query_id, r.vec_id) for r in brute.collect()}
    a = {(r.query_id, r.vec_id) for r in ann.collect()}
    assert len(a & b) / len(b) >= 0.5  # probing 2/4 cells on random 16d
    assert (0, 1) in a  # planted twin shares the query's own cell


def test_embedding_near_duplicates_finds_twin(vectors):
    out = similarity.embedding_near_duplicates(
        vectors, threshold=0.99, dim=16, n_planes=6
    ).collect()
    assert any((r.id_a, r.id_b) == (0, 1) for r in out)


# --- text -------------------------------------------------------------------


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat is in the house and it is warm"),
            (1, "el gato que vive en la casa de los vecinos"),
            (2, "xyzzy plugh foobar"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang for r in df.select("doc_id", text.lang_id(F.col("text")).alias("lang")).collect()}
    assert out == {0: "en", 1: "es", 2: "und"}


def test_token_counts(spark):
    df = spark.createDataFrame([(0, "a b c"), (1, "hello")], ["doc_id", "text"])
    out = {r.doc_id: r.n for r in df.select("doc_id", text.token_count(F.col("text")).alias("n")).collect()}
    assert out == {0: 3, 1: 1}


def test_bpe_ish_counts_subword_pieces(spark):
    df = spark.createDataFrame([(0, "hello, world42!")], ["doc_id", "text"])
    n = df.select(text.bpe_ish_token_count(F.col("text")).alias("n")).collect()[0].n
    # hello | , | world | 42 | !
    assert n == 5


def test_fingerprint_stable_and_edit_sensitive(spark):
    df = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d e"), (2, "totally different words here now")],
        ["doc_id", "text"],
    )
    fp = {r.doc_id: r.f for r in df.select("doc_id", text.rolling_fingerprint(F.col("text")).alias("f")).collect()}
    assert fp[0] == fp[1]
    assert fp[0] != fp[2]


def test_quality_score_ranges(spark):
    df = spark.createDataFrame(
        [(0, "the quick brown fox is a very good animal and it runs in the park"),
         (1, "!!! ??? ... ,,, ;;; :::")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.q for r in df.select("doc_id", text.quality_score(F.col("text")).alias("q")).collect()}
    assert 0.0 <= out[1] < out[0] <= 1.0


def test_simhash_multi_index_probe_equals_radius0_pigeonhole(spark):
    """The 4-chunk probe index (d>=4) must return exactly the pairs the
    naive d+1-chunk radius-0 pigeonhole returns — both are exact methods."""
    from pinterest_data_pipeline_spark.operators import dedup
    from pinterest_data_pipeline_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    probed = dedup.simhash_near_duplicates(docs, "text", "doc_id", max_distance=8)
    naive = dedup.simhash_near_duplicates(
        docs, "text", "doc_id", max_distance=8, n_chunks=9
    )
    assert sorted(map(tuple, probed.collect())) == sorted(map(tuple, naive.collect()))


def test_hll_sketch_error_bound_and_merge_exactness(spark):
    from pinterest_data_pipeline_spark.plans import analytics, relational  # noqa: F401

    rows = analytics.QUERIES["sketch_hll_distinct_parts"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) > 0
    for r in rows:
        # default lgConfigK=12 -> ~1.6% relative standard error; the query
        # itself carries the 5% (>3 sigma) bound as within_bound
        assert r.within_bound and r.exact_distinct > 0

    one = analytics.QUERIES["sketch_hll_merge_equals_direct"](
        spark, "/root/testdata/sf0.01"
    ).collect()[0]
    assert one.merge_within_bound  # mergeability within sketch error
    assert one.exact_users > 0


def test_curation_pipeline_invariants(spark):
    """Composite curation chain: no surviving exact dups (on normalized
    text), at most one survivor per near-dup cluster, quality floor holds,
    every survivor carries a split."""
    from pinterest_data_pipeline_spark.operators import text as T
    from pinterest_data_pipeline_spark.plans import analytics, extensions  # noqa: F401
    from pinterest_data_pipeline_spark.session import load_table

    sf = "/root/testdata/sf0.01"
    out = analytics.QUERIES["pipeline_curate_documents"](spark, sf)
    rows = out.collect()
    docs = load_table(spark, sf, "documents")
    assert 0 < len(rows) < docs.count()  # something survived, something culled
    assert all(r.quality >= 0.2 for r in rows)
    assert all(r.split in ("train", "valid", "test") for r in rows)
    # no two survivors share normalized content
    ids = [r.doc_id for r in rows]
    survivors = docs.filter(F.col("doc_id").isin(ids)).select(
        "doc_id", T.normalize_text(F.col("text")).alias("n")
    )
    assert survivors.select("n").distinct().count() == len(ids)


def test_user_trend_matches_numpy_reference(spark):
    """applyInPandas grouped-map: slopes equal a driver-side numpy fit."""
    import numpy as np

    from pinterest_data_pipeline_spark.plans import analytics, extensions  # noqa: F401
    from pinterest_data_pipeline_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r.user_id: (r.n_events, r.value_slope_per_hour)
        for r in analytics.QUERIES["events_user_value_trend"](spark, sf).collect()
    }
    events = load_table(spark, sf, "events").select("user_id", "ts", "value").collect()
    by_user: dict = {}
    for r in events:
        by_user.setdefault(r.user_id, []).append((r.ts.timestamp(), r.value))
    assert len(got) == len(by_user)
    for uid, pts in list(by_user.items())[:50]:
        ts = np.array([p[0] for p in pts]); vs = np.array([p[1] for p in pts])
        th = (ts - ts.min()) / 3600.0
        want = 0.0 if len(pts) < 2 or len(set(th)) < 2 else float(np.polyfit(th, vs, 1)[0])
        assert abs(got[uid][1] - round(want, 6)) < 1e-4, uid


def test_cogroup_attribution_matches_relational_interval_join(spark):
    """cogroup.applyInPandas (two-sided grouped map): per-user pandas
    pairing of views->purchases within 1h must equal the relational
    stream-stream interval join's batch dual — two independent
    implementations, one truth."""
    import pandas as pd

    from pinterest_data_pipeline_spark.session import load_table
    from pinterest_data_pipeline_spark.streaming.pipeline import attributed_conversions

    sf = "/root/testdata/sf0.01"
    events = load_table(spark, sf, "events")
    views = events.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )

    def pair(key, v_pdf: pd.DataFrame, p_pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for _, v in v_pdf.iterrows():
            lo, hi = v["ts"], v["ts"] + pd.Timedelta(hours=1)
            hit = p_pdf[(p_pdf["ts"] >= lo) & (p_pdf["ts"] <= hi)]
            for _, p in hit.iterrows():
                rows.append((int(v["event_id"]), int(p["event_id"])))
        return pd.DataFrame(rows, columns=["view_id", "purchase_id"])

    got = sorted(
        map(
            tuple,
            views.groupBy("user_id")
            .cogroup(purchases.groupBy("user_id"))
            .applyInPandas(pair, "view_id long, purchase_id long")
            .collect(),
        )
    )
    want = sorted(
        (r.view_id, r.purchase_id)
        for r in attributed_conversions(
            events.filter(F.col("event_type") == "view"),
            events.filter(F.col("event_type") == "purchase"),
        ).collect()
    )
    assert got == want and len(got) > 0


def test_cosine_all_pairs_matches_bruteforce(spark):
    """Blocked-GEMM all-pairs must equal a driver-side numpy brute force
    on the same vectors (same rounding), for any block assignment."""
    import numpy as np

    from pinterest_data_pipeline_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = sorted(
        map(tuple, similarity.cosine_all_pairs_above(emb, 0.4, n_blocks=5).collect())
    )
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    sims = np.round((mat / norms[:, None]) @ (mat / norms[:, None]).T, 6)
    want = []
    n = len(ids)
    for i in range(n):
        for j in range(n):
            if ids[i] < ids[j] and sims[i, j] >= 0.4:
                want.append((int(ids[i]), int(ids[j]), float(sims[i, j])))
    assert got == sorted(want)


def test_multi_table_lsh_recall_beats_single_table(spark):
    """OR-amplification: 32x3 tables must recover strictly more moderate-
    cosine pairs than one 6-plane table on the same corpus."""
    from pinterest_data_pipeline_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = similarity.cosine_all_pairs_above(emb, 0.4).count()
    single = similarity.embedding_near_duplicates(
        emb, threshold=0.4, n_planes=6, n_tables=1
    ).count()
    multi = similarity.embedding_near_duplicates(
        emb, threshold=0.4, n_planes=3, n_tables=32
    ).count()
    assert multi >= single
    assert multi >= 0.9 * exact


def test_stack_vectors_names_every_failure_class():
    """Empty batches, null vectors, ragged dims, and null elements inside a
    vector must each fail (or return) descriptively — never an opaque numpy
    error from worker-side vstack."""
    import pandas as pd
    import pytest

    from pinterest_data_pipeline_spark.operators.similarity import _stack_vectors

    out = _stack_vectors(pd.Series([], dtype=object), 4, "t")
    assert out.shape == (0, 4)
    with pytest.raises(ValueError, match="empty Arrow batch"):
        _stack_vectors(pd.Series([], dtype=object), None, "t")
    with pytest.raises(ValueError, match="null embedding"):
        _stack_vectors(pd.Series([[1.0, 2.0], None]), 2, "t")
    with pytest.raises(ValueError, match="ragged"):
        _stack_vectors(pd.Series([[1.0], [1.0, 2.0]]), None, "t")
    with pytest.raises(ValueError, match="inside embedding"):
        _stack_vectors(pd.Series([[1.0, None], [2.0, 3.0]]), 2, "t")
    ok = _stack_vectors(pd.Series([[1.0, 2.0], [3.0, 4.0]]), 2, "t")
    assert ok.shape == (2, 2) and float(ok.sum()) == 10.0


def test_shingle_fast_and_slow_paths_agree(spark):
    """The codegen'd regex shingle path must be bit-identical to the HOF
    tokenization contract on every whitespace shape — single-spaced text
    takes the fast branch, sloppy text (space runs, tabs, edges) the slow
    one, and both must equal the documented single-space-split semantics."""
    from pyspark.sql import functions as F

    from pinterest_data_pipeline_spark.operators.text import shingles, tokens

    rows = [
        ("w1 w2 w3 w4 w5",),  # fast path
        ("a b",), ("one",), ("",), (None,),  # < n tokens
        ("  x  y  z  w ",), ("a\tb c d e",), ("a  b c d",),  # slow path
    ]
    df = spark.createDataFrame(rows, "text string")
    toks = tokens(F.col("text"))
    reference = F.when(F.size(toks) < 3, F.array(F.col("text"))).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.array_join(F.slice(toks, i + 1, 3), " "),
        )
    )
    got = df.select(
        shingles(F.col("text"), 3).alias("actual"), reference.alias("expected")
    ).collect()
    for r in got:
        assert r.actual == r.expected, (r.actual, r.expected)


def test_pii_redaction_and_counts(spark):
    df = spark.createDataFrame(
        [
            (0, "mail me at jo.doe+x@mail.example.org today"),
            (1, "call +1 555-123-4567 or 555 987 6543 now"),
            (2, "ssn is 123-45-6789"),
            (3, "no pii in this perfectly clean sentence"),
        ],
        ["doc_id", "text"],
    )
    counts = text.pii_counts(F.col("text"))
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            counts["email"].alias("e"),
            counts["phone"].alias("p"),
            counts["ssn"].alias("s"),
            text.redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    assert (out[0].e, out[0].p, out[0].s) == (1, 0, 0)
    assert out[0].red == "mail me at [EMAIL] today"
    assert (out[1].e, out[1].p, out[1].s) == (0, 2, 0)
    assert out[1].red == "call +1 [PHONE] or [PHONE] now"
    assert (out[2].e, out[2].p, out[2].s) == (0, 0, 1)
    assert out[2].red == "ssn is [SSN]"
    assert out[3].red == "no pii in this perfectly clean sentence"
    assert (out[3].e, out[3].p, out[3].s) == (0, 0, 0)


def test_duplicate_ngram_fraction(spark):
    df = spark.createDataFrame(
        [
            (0, "a b a b a b"),  # 2-grams: ab ba ab ba ab -> 5 total, 2 distinct
            (1, "all words here are unique tokens"),
            (2, "hi"),  # shorter than n -> 0.0
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id",
            F.round(text.duplicate_ngram_fraction(F.col("text"), 2), 4).alias("f"),
        ).collect()
    }
    assert out[0] == 0.6
    assert out[1] == 0.0
    assert out[2] == 0.0


def test_misra_gries_superset_and_bound_under_decrements(spark):
    """High-cardinality tail with k=5 counters: the decrement path runs
    constantly, yet the heavy item must survive with its estimate inside
    the n/(k+1) mergeable-summaries bound and never above the true count."""
    from pinterest_data_pipeline_spark.operators import sketches

    rows = [("hot",)] * 400 + [(f"tail{i}",) for i in range(600)]
    df = spark.createDataFrame(rows, "item string").repartition(8)
    summary = {
        r.item: r.est_count
        for r in sketches.misra_gries_summary(df, "item", k=5).collect()
    }
    n, k, true_hot = 1000, 5, 400
    assert "hot" in summary  # 400 > 1000/6: guaranteed present
    assert summary["hot"] <= true_hot
    assert true_hot - summary["hot"] <= n / (k + 1)
    # the summary is bounded: at most k items per partition survive
    assert len(summary) <= k * 8


def test_cms_overestimates_and_merges_cellwise(spark):
    """Count-min invariants on a skewed synthetic stream: every point
    estimate >= its true count; the heavy key (no plausible 4-way
    collision partner at this density) estimates exactly; and sketches
    built on disjoint halves merge by cell-wise addition into the
    whole-stream sketch (the mergeable-summaries property that lets the
    sketch fold across 1000 executors or across days)."""
    from pinterest_data_pipeline_spark.operators import sketches

    rows = [(i % 500, 1) for i in range(4000)] + [(9999, 1)] * 800
    df = spark.createDataFrame(rows, "item long, w int").repartition(8)
    cells = sketches.cms_cells(df, "item", depth=4, width=64)
    probes = df.select("item").distinct()
    est = {
        r.item: r.cms_estimate
        for r in sketches.cms_point_estimates(
            probes, cells, "item", depth=4, width=64
        ).collect()
    }
    exact = {r.item: r.n for r in df.groupBy("item").agg(F.count("*").alias("n")).collect()}
    assert all(est[i] >= exact[i] for i in exact)
    # est <= exact + 2n/width holds in expectation per row; with 4 rows the
    # min is far tighter — assert the loose deterministic-safe version
    n = sum(exact.values())
    assert est[9999] <= exact[9999] + 2 * n / 64 * 4

    half_a = df.filter(F.col("item") < 250)
    half_b = df.filter(F.col("item") >= 250)
    merged = (
        sketches.cms_cells(half_a, "item", depth=4, width=64)
        .unionByName(sketches.cms_cells(half_b, "item", depth=4, width=64))
        .groupBy("row_idx", "bucket")
        .agg(F.sum("cell_count").alias("cell_count"))
    )
    assert merged.exceptAll(cells).count() == 0
    assert cells.exceptAll(merged).count() == 0


def test_cms_cell_table_is_bounded_and_broadcast_probed(spark):
    """The cell table never exceeds depth*width rows no matter the input,
    and the probe join broadcasts it (no shuffle of the probe side)."""
    from pinterest_data_pipeline_spark.operators import sketches

    df = spark.range(0, 20000).select(F.col("id").alias("item"))
    cells = sketches.cms_cells(df, "item", depth=4, width=32)
    assert cells.count() <= 4 * 32
    probed = sketches.cms_point_estimates(
        df.select("item").limit(5), cells, "item", depth=4, width=32
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ewma_daily_halves_per_day_gap(spark, tmp_path):
    """Crafted decay check: a single 100.00-value day contributes exactly
    100/2^k to the EWMA k days later, and days beyond the 20-day horizon
    contribute nothing."""
    import os

    from pyspark.sql import functions as F

    from pinterest_data_pipeline_spark.plans import analytics
    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401

    rows = [
        (1, "2024-01-01 12:00:00", 1, "view", 100.0, "{}"),
        (2, "2024-01-03 12:00:00", 1, "view", 0.0, "{}"),
        (3, "2024-01-25 12:00:00", 1, "view", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    df.write.parquet(os.path.join(sf_dir, "events.parquet"))
    out = {
        str(r.day): r.ewma_value
        for r in analytics.QUERIES["events_ewma_daily"](spark, sf_dir).collect()
    }
    assert out["2024-01-01"] == 100.0
    assert out["2024-01-03"] == 25.0  # 100 / 2^2
    assert out["2024-01-25"] == 0.0  # 24 days later: outside the horizon


def test_arrow_byte_stats_diverge_on_multibyte_text(spark):
    """octet vs utf8 length must diverge on non-ASCII text — the property
    the mapInArrow kernel computes from raw buffers."""
    from pinterest_data_pipeline_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, "abc"), (2, "café"), (3, "日本語"), (4, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_bytes, r.n_chars_utf8) for r in text_ops.utf8_byte_stats_arrow(df).collect()}
    assert out[1] == (3, 3)
    assert out[2] == (5, 4)   # é is 2 bytes
    assert out[3] == (9, 3)   # 3 CJK chars x 3 bytes
    assert out[4] == (0, 0)


def test_pattern_match_cap_bounds_state_and_flags_overflow(spark):
    """A user past the cap must COMPLETE (state bounded
    by the pre-collection row_number filter), carry overflowed=true, keep
    the TRUE n_events, and have the match evaluated on the capped prefix —
    here the purchase lands past the cap, so converted flips to false."""
    from pinterest_data_pipeline_spark.plans.extensions import pattern_match_journeys

    rows = []
    # user 1: 24 views then a purchase at position 25 — cap=10 hides it
    for i in range(24):
        rows.append((i, f"2024-01-01 00:00:{i:02d}", 1, "view", 1.0, "{}"))
    rows.append((24, "2024-01-01 00:01:00", 1, "purchase", 1.0, "{}"))
    # user 2: v -> c -> p inside the cap
    rows.append((100, "2024-01-01 00:00:00", 2, "view", 1.0, "{}"))
    rows.append((101, "2024-01-01 00:00:01", 2, "click", 1.0, "{}"))
    rows.append((102, "2024-01-01 00:00:02", 2, "purchase", 1.0, "{}"))
    events = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    capped = pattern_match_journeys(events, cap=10)
    # the rn <= cap filter must short-circuit via WindowGroupLimit — rows
    # past the cap drop before the rank window buffers them
    assert "WindowGroupLimit" in capped._jdf.queryExecution().executedPlan().toString()
    out = {r.user_id: r for r in capped.collect()}
    assert out[1].n_events == 25 and out[1].overflowed and not out[1].converted
    assert out[2].n_events == 3 and not out[2].overflowed and out[2].converted
    # un-capped control: the same user 1 converts (v then p, no click needed
    # for the 'v.*c.*p' regex? it IS needed — stays false, so probe with cap
    # large enough to see the purchase and a planted click)
    rows_click = rows + [(25, "2024-01-01 00:00:30", 1, "click", 1.0, "{}")]
    events2 = spark.createDataFrame(
        rows_click,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    full = {r.user_id: r for r in pattern_match_journeys(events2, cap=512).collect()}
    assert full[1].converted and not full[1].overflowed


def test_misra_gries_one_shrink_per_batch(spark):
    """The batch merge is the Mergeable-Summaries shape —
    the whole value_counts folds into the dict, then AT MOST ONE shrink per
    batch, and the n/(k+1) underestimate bound survives the batching."""
    import pandas as pd

    from pinterest_data_pipeline_spark.operators import sketches

    k = 5
    counters: dict = {}
    total = 0
    truth: dict = {}
    shrinks = []
    # 6 batches, each with 30 distinct tail items + a persistent heavy item
    for b in range(6):
        items = ["hot"] * 50 + [f"t{b}_{i}" for i in range(30)]
        s = pd.Series(items).value_counts(dropna=True)
        shrinks.append(sketches._merge_batch(counters, s, k))
        total += len(items)
        for it in items:
            truth[it] = truth.get(it, 0) + 1
    assert all(n <= 1 for n in shrinks), shrinks
    assert sum(shrinks) >= 1  # the decrement path actually ran
    assert len(counters) <= k
    # superset + bound: hot (300 of 480) is way above n/(k+1) = 80
    assert "hot" in counters
    assert counters["hot"] <= truth["hot"]
    assert truth["hot"] - counters["hot"] <= total / (k + 1)
