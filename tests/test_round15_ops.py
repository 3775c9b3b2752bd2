"""Tests for size-guarded BATCH-side broadcasts in the incremental-store
family.

The STORE side is protected contractually (never broadcast, never
shuffled); an unconditional ``F.broadcast(...)`` on the arrival batch's
endpoint/bucket/remap frames would exhaust driver memory once a day's
landing at 100 TB stops being broadcast-sized. The guard is the
self-enforcing pattern: count the batch-derived frame once, broadcast
at or under ``BATCH_BROADCAST_CAP`` rows, degrade to a sort-merge join above it.
These tests pin the plan shape on BOTH sides of the cap and that the
results are identical either way.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators import dedup
from pinterest_data_pipeline_spark.plans.extensions import load_documents
from pinterest_data_pipeline_spark.sources import layout

SF001 = "/root/testdata/sf0.001"


def _sig_fixtures(spark, tmp_path):
    docs = load_documents(spark, SF001)
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    store_docs = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) != 0)
    store_path = os.path.join(str(tmp_path), "sig_store")
    dedup.minhash_signatures(store_docs, "text", "doc_id").write.parquet(
        store_path
    )
    store_sigs = spark.read.parquet(store_path)
    batch_sigs = dedup.minhash_signatures(batch, "text", "doc_id")
    return batch_sigs, store_sigs


def _rows(df):
    return {tuple(r) for r in df.collect()}


class _no_auto_broadcast:
    """Disable size-based auto-broadcast so the only possible
    BroadcastExchange in a plan is a FORCED hint — exactly what the guard
    must not emit above the cap. (Planner-chosen broadcasts are size-aware
    already and out of the guard's scope.)"""

    KEYS = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.old = {}
        for k in self.KEYS:
            try:
                self.old[k] = self.spark.conf.get(k)
            except Exception:
                self.old[k] = None
            self.spark.conf.set(k, "-1")

    def __exit__(self, *exc):
        for k, v in self.old.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


def test_incremental_candidates_broadcast_guard_both_sides(spark, tmp_path):
    """Below the cap the batch bucket keys broadcast;
    with the cap forced to 0 the probe join degrades to sort-merge — NO
    BroadcastExchange anywhere in the plan — and the candidate set is
    identical."""
    batch_sigs, store_sigs = _sig_fixtures(spark, tmp_path)

    under = dedup.incremental_candidates(batch_sigs, store_sigs, "doc_id")
    plan_under = under._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan_under  # batch-side broadcast kept

    with _no_auto_broadcast(spark):
        over = dedup.incremental_candidates(
            batch_sigs, store_sigs, "doc_id", batch_broadcast_cap=0
        )
        plan_over = over._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan_over, (
            "above-cap candidates must not force a broadcast:\n" + plan_over
        )
        assert "SortMergeJoin" in plan_over
        assert "CartesianProduct" not in plan_over
        rows_over = _rows(over)

    assert _rows(under) == rows_over


def test_incremental_dedup_above_cap_matches_below(spark, tmp_path):
    """End-to-end: incremental_minhash_dedup decisions + store delta are
    identical with the batch broadcast cap forced to 0 (every batch-side
    frame takes the shuffle path)."""
    docs = load_documents(spark, SF001)
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    store_docs = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) != 0)
    store_path = os.path.join(str(tmp_path), "sig_store")
    dedup.minhash_signatures(store_docs, "text", "doc_id").write.parquet(
        store_path
    )
    store_sigs = spark.read.parquet(store_path)

    d_under, delta_under = dedup.incremental_minhash_dedup(
        batch, store_sigs, store_docs, "text", "doc_id", threshold=0.3
    )
    d_over, delta_over = dedup.incremental_minhash_dedup(
        batch, store_sigs, store_docs, "text", "doc_id", threshold=0.3,
        batch_broadcast_cap=0,
    )
    assert _rows(d_under) == _rows(d_over)
    assert _rows(delta_under.select("doc_id")) == _rows(
        delta_over.select("doc_id")
    )


def test_incremental_cluster_update_broadcast_guard_both_sides(spark):
    """Below the cap the endpoint/root/remap frames broadcast; with the
    cap forced to 0 the whole update plans with ZERO BroadcastExchange
    nodes (every batch-side join degrades to sort-merge) and the labels
    are identical. The distributed-CC branch is forced too
    (driver_cc_cap=0) so the above-cap plan is the fully distributed
    posture end-to-end."""
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5), (6, 5), (9, 9)],
        "member_id long, cluster_id long",
    )
    new_pairs = spark.createDataFrame(
        [(2, 5), (9, 30), (40, 41)], "id_a long, id_b long"
    )

    under = dedup.incremental_cluster_update(clusters, new_pairs)
    plan_under = under._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan_under

    with _no_auto_broadcast(spark):
        over = dedup.incremental_cluster_update(
            clusters, new_pairs, driver_cc_cap=0, batch_broadcast_cap=0
        )
        plan_over = over._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan_over, (
            "above-cap cluster update must not force a broadcast:\n"
            + plan_over
        )
        assert "CartesianProduct" not in plan_over
        rows_over = _rows(over)

    expected = {
        (1, 1), (2, 1), (5, 1), (6, 1),  # merged 1-cluster via 2-5
        (9, 9), (30, 9),                  # 30 joins 9's cluster
        (40, 40), (41, 40),               # fresh pair, min-id label
    }
    assert _rows(under) == expected
    assert rows_over == expected


def test_cached_store_params_token_invalidates(spark, tmp_path):
    """_cached_store's fingerprint folds the BUILD PARAMETERS
    in — changing an operator default rebuilds the store instead of
    silently serving a stale one from the work dir."""
    import shutil

    from pinterest_data_pipeline_spark.plans import extensions as ext

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    src = os.path.join(SF001, "documents.parquet")
    dst = os.path.join(sf, "documents.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copy2)(src, dst)

    builds = []

    def build(k):
        def write(path):
            builds.append(k)
            spark.range(1).write.mode("overwrite").parquet(path)

        return write

    name = "_params_probe"
    ext._cached_store(spark, sf, name, "documents.parquet", build(32), params="k=32")
    ext._cached_store(spark, sf, name, "documents.parquet", build(32), params="k=32")
    assert builds == [32]  # same params: cached
    ext._cached_store(spark, sf, name, "documents.parquet", build(64), params="k=64")
    assert builds == [32, 64]  # changed params: rebuilt
    shutil.rmtree(ext._work_dir(sf, name), ignore_errors=True)


def test_driver_union_find_collects_arrow_not_rows(spark):
    """The under-cap CC path must collect the contracted
    edges as Arrow columns (bounded, compact), not Row objects. Pinned
    behaviorally: the answer equals the distributed path on a chain that
    exercises path compression."""
    clusters = spark.createDataFrame([], "member_id long, cluster_id long")
    # 16-edge chain: path compression exercised; diameter stays inside
    # cluster_pairs' max_iters so the distributed dual converges too
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 116)], "id_a long, id_b long"
    )
    fast = dedup.incremental_cluster_update(clusters, chain)
    slow = dedup.incremental_cluster_update(clusters, chain, driver_cc_cap=0)
    assert _rows(fast) == _rows(slow)
    assert {r for r in _rows(fast) if r[0] == 115} == {(115, 100)}


# --- IVF index compaction (the OPTIMIZE lifecycle step) --------------------


def _ivf_fixture(spark, tmp_path, n_cells=8):
    from pinterest_data_pipeline_spark.operators import similarity
    from pinterest_data_pipeline_spark.session import load_table

    emb = load_table(spark, SF001, "embeddings")
    old = emb.filter(F.pmod(F.col("vec_id"), F.lit(10)) != 0)
    batch = emb.filter(F.pmod(F.col("vec_id"), F.lit(10)) == 0)
    centroids = similarity.train_ivf_centroids(old, n_cells=n_cells)
    path = os.path.join(str(tmp_path), "ivf_idx")
    similarity.ivf_assign_cells(old, centroids).write.partitionBy(
        "cell"
    ).parquet(path)
    return emb, batch, centroids, path


def test_ivf_compaction_search_is_bit_for_bit(spark, tmp_path):
    """Searching the compacted index equals searching a from-scratch
    unfragmented assignment of the whole corpus — same rows, same scores,
    same ranks — and the compacted row set equals base ∪ delta."""
    from pinterest_data_pipeline_spark.operators import similarity

    emb, batch, centroids, path = _ivf_fixture(spark, tmp_path)
    delta = similarity.ivf_assign_cells(batch, centroids)
    delta.repartition(6).write.mode("append").partitionBy("cell").parquet(path)
    compacted, n_before, n_after, n_touched = layout.compact_partitions(
        spark, path, ["cell"], "vec_id", 4096
    )
    assert n_after < n_before and n_touched > 0

    rebuilt = similarity.ivf_assign_cells(emb, centroids)
    assert _rows(compacted.select("vec_id", "cell")) == _rows(
        rebuilt.select("vec_id", "cell")
    )
    q = emb.filter(F.col("vec_id") < 3)
    s_compact = sorted(
        map(tuple, similarity.ivf_search_index(
            compacted, q, centroids, k=10, n_probe=3
        ).collect())
    )
    s_rebuilt = sorted(
        map(tuple, similarity.ivf_search_index(
            rebuilt, q, centroids, k=10, n_probe=3
        ).collect())
    )
    assert s_compact == s_rebuilt and len(s_compact) > 0


def test_ivf_compaction_skips_already_compact_cells(spark, tmp_path):
    """O(touched partitions), never O(index): an index already at its
    per-cell file target is left byte-untouched (mtimes preserved), and
    fragmenting ONE cell rewrites exactly that cell."""
    import glob

    from pinterest_data_pipeline_spark.operators import similarity

    emb, batch, centroids, path = _ivf_fixture(spark, tmp_path)
    # normalize to exactly one file per cell first
    layout.compact_partitions(spark, path, ["cell"], "vec_id", 4096)

    def mtimes():
        return {
            f: os.stat(f).st_mtime_ns
            for f in glob.glob(os.path.join(path, "cell=*", "part-*"))
        }

    before = mtimes()
    _, n_b, n_a, n_touched = layout.compact_partitions(
        spark, path, ["cell"], "vec_id", 4096
    )
    assert n_touched == 0 and n_b == n_a
    assert mtimes() == before, "compact cells must not be rewritten"

    # fragment exactly one cell: append that cell's delta rows only
    delta = similarity.ivf_assign_cells(batch, centroids)
    one_cell = delta.orderBy("vec_id").limit(1).select("cell").first()["cell"]
    delta.filter(F.col("cell") == one_cell).repartition(3).write.mode(
        "append"
    ).partitionBy("cell").parquet(path)
    pre = mtimes()
    _, _, _, n_touched = layout.compact_partitions(
        spark, path, ["cell"], "vec_id", 4096
    )
    assert n_touched == 1
    post = mtimes()
    changed_cells = {
        f.split("cell=")[1].split("/")[0]
        for f in set(pre) ^ set(post)
    } | {
        f.split("cell=")[1].split("/")[0]
        for f in pre.keys() & post.keys()
        if pre[f] != post[f]
    }
    assert changed_cells == {str(one_cell)}


def test_ivf_compaction_rebalances_big_cells(spark, tmp_path):
    """Cell REBALANCE: a cell above target_rows_per_file splits into
    ~ceil(rows/target) files, each bounded, instead of one giant file."""
    import glob
    import math

    from pinterest_data_pipeline_spark.operators import similarity

    emb, batch, centroids, path = _ivf_fixture(spark, tmp_path, n_cells=2)
    delta = similarity.ivf_assign_cells(batch, centroids)
    delta.repartition(4).write.mode("append").partitionBy("cell").parquet(path)
    compacted, _, _, _ = layout.compact_partitions(
        spark, path, ["cell"], "vec_id", 64
    )
    counts = {
        r["cell"]: r["n"]
        for r in compacted.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for cell, n in counts.items():
        files = glob.glob(os.path.join(path, f"cell={cell}", "part-*"))
        assert 1 <= len(files) <= math.ceil(n / 64)


# --- incremental t-digest store refresh (sketch family) --------------------


def test_incremental_tdigest_merged_matches_scratch(spark):
    """Incremental == full within the documented t-digest rank bound on a
    crafted heavy-tailed multiset: the merged (store partials ∪ batch
    partials) digest and a from-scratch digest of everything agree
    within 0.02 rank at each target quantile, and both sit within 0.05
    rank of truth."""
    from pinterest_data_pipeline_spark.operators import sketches

    qs = [0.1, 0.5, 0.9]
    # store: 4 "days" of lognormal-ish spread; batch: one day with a
    # planted extreme tail the store has never seen
    rows = [(d, float(((i * 37 + d * 11) % 1000) ** 1.5)) for d in range(4) for i in range(500)]
    rows += [(9, 1e7 + i) for i in range(100)] + [(9, float(i)) for i in range(400)]
    vals = spark.createDataFrame(rows, "day int, v double")
    store = vals.filter("day < 4")
    batch = vals.filter("day = 9")
    merged = sketches.tdigest_merged_quantiles(
        sketches.tdigest_grouped_partials(store, "day", "v").drop("day")
        .unionByName(
            sketches.tdigest_grouped_partials(batch, "day", "v").drop("day")
        ),
        qs,
    )
    scratch = sketches.tdigest_merged_quantiles(
        sketches.tdigest_partials(vals.select("v"), "v"), qs
    )
    ests = {
        r["q"]: (r["m"], r["s"])
        for r in merged.withColumnRenamed("est", "m")
        .join(scratch.withColumnRenamed("est", "s"), "q")
        .collect()
    }
    n = vals.count()
    for q in qs:
        m, s = ests[q]
        fm = vals.filter(F.col("v") <= m).count() / n
        fs = vals.filter(F.col("v") <= s).count() / n
        assert abs(fm - q) <= 0.05, (q, fm)
        assert abs(fs - q) <= 0.05, (q, fs)
        assert abs(fm - fs) <= 0.02, (q, fm, fs)


def test_incremental_tdigest_arrival_reads_batch_only(spark, tmp_path):
    """With the per-day centroid store persisted to parquet, the arrival
    path's plan scans the BATCH events only — historical days enter as
    bounded centroid rows, never as raw events."""
    from pinterest_data_pipeline_spark.operators import sketches
    from pinterest_data_pipeline_spark.session import load_table

    events = load_table(spark, SF001, "events")
    vals = events.select(
        F.to_date("ts").alias("day"),
        F.col("value").cast("double").alias("v"),
    )
    is_batch = (
        F.pmod(
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")),
            F.lit(10),
        )
        == 0
    )
    st_path = os.path.join(str(tmp_path), "td_store")
    sketches.tdigest_grouped_partials(
        vals.filter(~is_batch), "day", "v"
    ).write.parquet(st_path)
    store = spark.read.parquet(st_path)
    est = sketches.tdigest_merged_quantiles(
        store.drop("day").unionByName(
            sketches.tdigest_grouped_partials(
                vals.filter(is_batch), "day", "v"
            ).drop("day")
        ),
        [0.5],
    )
    plan = est._jdf.queryExecution().executedPlan().toString()
    assert plan.count("events.parquet") == 1, plan
    assert plan.count("FileScan parquet") == 2, plan
    assert est.count() == 1


def test_embedding_drift_planted_shift_ranks_first(spark, tmp_path, monkeypatch):
    """A planted mean shift on ONE dimension dominates the drift ranking
    with the closed-form shift value; un-shifted dimensions report ~0."""
    import pinterest_data_pipeline_spark.plans.extensions as ext

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    # 40 store vectors at [0.1, 0.2, 0.3]; 10 batch vectors with dim 1
    # shifted +0.5 and a little per-row noise on dim 2 so var_s > 0
    rows = []
    for i in range(50):
        is_batch = i % 10 == 0
        noise = (i % 5) / 1000.0
        rows.append(
            (i, [0.1, 0.2 + (0.5 if is_batch else 0.0), 0.3 + noise])
        )
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(os.path.join(sf, "embeddings.parquet"))
    out = ext.embedding_store_drift(spark, sf).collect()
    top = out[0]
    assert top["dim"] == 1
    assert abs(top["abs_shift"] - 0.5) < 1e-6
    assert abs(top["mean_store"] - 0.2) < 1e-6
    assert abs(top["mean_batch"] - 0.7) < 1e-6
    # the no-shift dimension reports zero drift
    by_dim = {r["dim"]: r for r in out}
    assert by_dim[0]["abs_shift"] == 0.0


# --- partitioned bucket-store layout --------------------------------------


def test_pruned_bucket_store_decisions_match_sig_store(spark, tmp_path):
    """Layout never changes answers: the partitioned bucket-store variant
    produces decisions identical to the signature-store variant."""
    docs = load_documents(spark, SF001)
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    store_docs = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) != 0)
    sigs = dedup.minhash_signatures(store_docs, "text", "doc_id")
    sig_path = os.path.join(str(tmp_path), "sig_store")
    sigs.write.parquet(sig_path)
    bkt_path = os.path.join(str(tmp_path), "bucket_store")
    dedup.band_bucket_store(sigs, "doc_id").repartition(
        "band", "bh_part"
    ).write.partitionBy("band", "bh_part").parquet(bkt_path)

    d_sig, _ = dedup.incremental_minhash_dedup(
        batch, spark.read.parquet(sig_path), store_docs, "text", "doc_id",
        threshold=0.3,
    )
    rows_sig = _rows(d_sig)
    d_bkt, _ = dedup.incremental_minhash_dedup(
        batch, None, store_docs, "text", "doc_id", threshold=0.3,
        store_buckets=spark.read.parquet(bkt_path),
    )
    assert rows_sig == _rows(d_bkt)


def test_pruned_bucket_store_scan_is_partition_pruned(spark, tmp_path):
    """The arrival probe prunes the bucket-store scan STATICALLY:
    the batch's touched (band, bh_part) set — bounded by the partition
    domain — is collected once and lands as a PartitionFilters predicate
    on the store scan, so only touched leaf directories are read. The
    no-files-from-untouched-leaves property is asserted on the executed
    scan's input files, which pins the behavior independent of plan-
    string formatting."""
    docs = load_documents(spark, SF001)
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    store_docs = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) != 0)
    bkt_path = os.path.join(str(tmp_path), "bucket_store")
    dedup.band_bucket_store(
        dedup.minhash_signatures(store_docs, "text", "doc_id"), "doc_id"
    ).repartition("band", "bh_part").write.partitionBy(
        "band", "bh_part"
    ).parquet(bkt_path)
    assert any(f.startswith("band=") for f in os.listdir(bkt_path))
    batch_sigs = dedup.minhash_signatures(batch, "text", "doc_id")
    cands = dedup.incremental_candidates(
        batch_sigs, None, "doc_id",
        store_buckets=spark.read.parquet(bkt_path),
    )
    plan = cands._jdf.queryExecution().executedPlan().toString()
    # the scan carries a static partition filter on the touched set
    assert "PartitionFilters: [" in plan and "bh_part" in plan, plan[:3000]
    assert "dynamicpruning" not in plan.lower()
    # and it actually prunes — corrupt every UNTOUCHED leaf's parquet
    # files: the probe must still execute cleanly (it never opens them),
    # while a full-store scan would throw on the garbage bytes
    touched = {
        (r["band"], r["bh_part"])
        for r in dedup.band_bucket_store(batch_sigs, "doc_id")
        .select("band", "bh_part").distinct().collect()
    }
    leaves = [
        (int(band_dir.split("=", 1)[1]), int(part_dir.split("=", 1)[1]))
        for band_dir in os.listdir(bkt_path)
        if band_dir.startswith("band=")
        for part_dir in os.listdir(os.path.join(bkt_path, band_dir))
        if part_dir.startswith("bh_part=")
    ]
    untouched = [lf for lf in leaves if lf not in touched]
    assert untouched, "batch must not touch every leaf"
    for band, part in untouched:
        leaf = os.path.join(bkt_path, f"band={band}", f"bh_part={part}")
        for fname in os.listdir(leaf):
            if fname.startswith("part-"):
                with open(os.path.join(leaf, fname), "wb") as fh:
                    fh.write(b"not parquet")
    assert cands.count() > 0


# --- incremental Misra-Gries store refresh ---------------------------------


def test_incremental_mg_merge_bound_and_size(spark):
    """Mergeable-Summaries contract on crafted data: merging a batch
    summary into a store summary keeps <= k counters and every heavy
    item (freq > n/(k+1)) survives with an estimate underestimating by
    at most n/(k+1) — even when the batch floods an item the store
    never saw."""
    from pinterest_data_pipeline_spark.operators import sketches

    k = 2
    store = spark.createDataFrame(
        [("a",)] * 800 + [("b",)] * 300, "lang string"
    )
    batch = spark.createDataFrame([("c",)] * 500, "lang string")
    s_sum = sketches.mg_merge(
        [sketches.misra_gries_summary(store, "lang", k=k)], k
    )
    merged = sketches.mg_merge(
        [s_sum, sketches.misra_gries_summary(batch, "lang", k=k)], k
    )
    rows = {r["item"]: r["est_count"] for r in merged.collect()}
    assert len(rows) <= k
    n = 1600
    exact = {"a": 800, "b": 300, "c": 500}
    for item, true in exact.items():
        if true > n / (k + 1):  # heavy: must be present within bound
            assert item in rows
        if item in rows:
            assert rows[item] <= true
            assert true - rows[item] <= n / (k + 1)


def test_incremental_mg_matches_from_scratch_bound(spark):
    """Incremental == full in the sketch's tolerance: on the documents
    corpus, both the (store ∪ batch)-merged summary and a from-scratch
    summary satisfy the same n/(k+1) bound for every heavy language —
    the registered query's booleans, asserted end-to-end."""
    import pinterest_data_pipeline_spark.plans.extensions as ext

    out = ext.sketch_incremental_mg(spark, SF001).collect()
    assert len(out) >= 1  # 'en' share clears the 25% threshold
    for r in out:
        assert r["in_merged"], r
        assert r["merged_within_bound"], r
        assert r["scratch_within_bound"], r


def test_rerank_label_boost_reorders_shortlist(spark):
    """The boost is real: at least one query's top-10 ORDER differs from
    the pure-cosine order (a matching-label candidate overtakes a closer
    non-matching one), and every boosted score decomposes back to
    dot_q + {0, 200000}."""
    import pinterest_data_pipeline_spark.plans.extensions as ext
    from pinterest_data_pipeline_spark.operators import similarity
    from pinterest_data_pipeline_spark.session import load_table

    out = ext.ann_rerank_label_boost(spark, SF001).collect()
    assert len(out) == 30  # 3 queries x 10
    emb = load_table(spark, SF001, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    pure = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in similarity.cosine_topk_quantized(emb, q, k=10).collect()
    }
    boosted = {(r["query_id"], r["rank"]): r["vec_id"] for r in out}
    assert pure != boosted, "label boost never changed any ranking"
    dots = {
        (r["query_id"], r["vec_id"]): r["dot_q"]
        for r in similarity.cosine_topk_quantized(emb, q, k=50).collect()
    }
    for r in out:
        delta = r["boosted_score"] - dots[(r["query_id"], r["vec_id"])]
        assert delta in (0, 200000), r
