"""Tests for the ENFORCED int64 overflow guard of the pair-statistic
family.

The guard (``extensions._stat_sum_type``) counts the base table (a
metadata count) and promotes the exact integer moment/pair arithmetic to
decimal(38,0) past a per-query worst-case ceiling. These tests plant
GENUINELY over-ceiling data (not synthetic ceiling overrides) to prove:

1. the overflow is real — the pre-guard long path THROWS under Spark 4
   ANSI arithmetic on the planted data;
2. the promoted decimal path completes and matches the same exact DuckDB
   dual (run with HUGEINT moment sums — DuckDB's native overflow-free
   integer discipline);
3. the promoted path is value-identical to the long path at in-regime
   scale (ceilings forced to 0 at sf0.001 vs the normal run).
"""

from __future__ import annotations

import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.plans import extensions
from pinterest_data_pipeline_spark.plans.analytics import QUERIES
from pinterest_data_pipeline_spark.plans.oracles import ORACLES

SF001 = "/root/testdata/sf0.001"


def _write_part(spark, d: str, n: int) -> str:
    """Plant an n-row part table: 50 sizes, deterministic pseudo-random
    prices (hash-derived, weakly correlated with size — a nonzero but
    small rho exercises every term of the statistic)."""
    (
        spark.range(n)
        .select(
            (F.col("id") % 50 + 1).cast("int").alias("p_size"),
            (
                (F.pmod(F.xxhash64(F.col("id")), F.lit(900000)) + 100)
                / 100.0
            ).alias("p_retailprice"),
        )
        .write.parquet(os.path.join(d, "part.parquet"))
    )
    return d


def test_spearman_long_path_overflow_is_real(spark, tmp_path, monkeypatch):
    """At 60k rows the n*sxx moment term reaches ~5e19 — the pre-guard
    long arithmetic genuinely throws under ANSI (this is the TPC-H sf1
    crash the guard exists for), it is not a theoretical caveat."""
    d = _write_part(spark, str(tmp_path), 60_000)
    # force the long path by lifting the ceiling out of the way
    monkeypatch.setattr(extensions, "_STAT_CEILING_SPEARMAN", 10**12)
    with pytest.raises(Exception, match="(?i)overflow|arithmetic"):
        QUERIES["quality_spearman_corr"](spark, d).collect()


def test_spearman_promoted_path_matches_hugeint_dual(spark, tmp_path):
    """The SAME 60k-row plant through the auto-promoted decimal(38,0)
    path completes and matches the registered DuckDB dual run with
    HUGEINT moment sums (the oracle's ::BIGINT sums would overflow in
    DuckDB exactly where Spark's longs do — int128 is DuckDB's native
    equivalent of the decimal promotion)."""
    import duckdb

    d = _write_part(spark, str(tmp_path), 60_000)
    got = QUERIES["quality_spearman_corr"](spark, d).collect()[0]
    # decimal(38,0) outputs in promoted mode — exactness end-to-end
    assert isinstance(got["num"], Decimal)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW part AS SELECT * FROM "
        f"read_parquet('{os.path.join(d, 'part.parquet')}/*.parquet')"
    )
    sql = ORACLES["quality_spearman_corr"]
    for col in ("sx", "sy", "sxy", "sxx", "syy"):
        sql = sql.replace(f"::BIGINT AS {col}", f"::HUGEINT AS {col}")
    sql = sql.replace("(n * sxy - sx * sy)::BIGINT AS num",
                      "(n * sxy - sx * sy)::HUGEINT AS num")
    sql = sql.replace("(n * sxx - sx * sx)::BIGINT AS den_x",
                      "(n * sxx - sx * sx)::HUGEINT AS den_x")
    sql = sql.replace("(n * syy - sy * sy)::BIGINT AS den_y",
                      "(n * syy - sy * sy)::HUGEINT AS den_y")
    want = con.execute(sql).fetchone()
    con.close()

    assert int(got["n"]) == int(want[0]) == 60_000
    assert int(got["num"]) == int(want[1])
    assert int(got["den_x"]) == int(want[2])
    assert int(got["den_y"]) == int(want[3])
    assert got["spearman_rho"] == pytest.approx(want[4], abs=1e-9)


def test_mann_whitney_tie_overflow_promoted(spark, tmp_path, monkeypatch):
    """A fully-tied 2.1M-row sample drives the cubic tie term past
    int64 (2.1e6^3 ~ 9.26e18): the long path throws, the auto-promoted
    path completes with the EXACT tie_sum."""
    d = str(tmp_path)
    n_tied = 2_100_000
    (
        spark.range(n_tied + 4)
        .select(
            F.when(F.col("id") % 2 == 0, "1-URGENT")
            .otherwise("5-LOW")
            .alias("o_orderpriority"),
            F.when(F.col("id") < n_tied, 1000.00)
            .otherwise((F.col("id") - n_tied + 2000).cast("double"))
            .alias("o_totalprice"),
        )
        .write.parquet(os.path.join(d, "orders.parquet"))
    )
    monkeypatch.setattr(extensions, "_STAT_CEILING_MANN_WHITNEY", 10**12)
    with pytest.raises(Exception, match="(?i)overflow|arithmetic"):
        QUERIES["quality_mann_whitney_u"](spark, d).collect()
    monkeypatch.setattr(
        extensions, "_STAT_CEILING_MANN_WHITNEY", 2_000_000
    )
    got = QUERIES["quality_mann_whitney_u"](spark, d).collect()[0]
    # exact cubic tie term, straight from integer math
    want_tie = (n_tied**3 - n_tied) + 4 * 0  # singleton values add t^3-t=0
    assert int(got["tie_sum"]) == want_tie
    assert int(got["n1"]) + int(got["n2"]) == n_tied + 4


@pytest.mark.parametrize(
    "name",
    [
        "quality_spearman_corr",
        "quality_kendall_tau",
        "quality_mann_whitney_u",
    ],
)
def test_force_promote_values_match_long_path(
    spark, monkeypatch, name
):
    """decimal(38,0) promotion is value-identical to the long path on
    in-regime data: force promotion at sf0.001 (every ceiling patched to
    0) and compare every column (exact for the integer columns, bit-equal
    for the rounded floats).
    This certifies the decimal path against the same DuckDB duals
    transitively — the long path is parity-checked against them."""
    normal = QUERIES[name](spark, SF001).collect()
    for ceiling in (
        "_STAT_CEILING_SPEARMAN",
        "_STAT_CEILING_KENDALL",
        "_STAT_CEILING_MANN_WHITNEY",
    ):
        monkeypatch.setattr(extensions, ceiling, 0)
    promoted = QUERIES[name](spark, SF001).collect()
    assert len(normal) == len(promoted) == 1
    for col in normal[0].asDict():
        a, b = normal[0][col], promoted[0][col]
        if isinstance(b, Decimal):
            assert int(b) == int(a), col
        else:
            assert a == b, col


# --- cross-shard incremental dedup -----------------------------------------


def test_incremental_dedup_equals_full_recompute(spark):
    """The incremental pipeline's decisions equal a from-scratch full
    recompute restricted to batch-involving pairs under the same greedy
    policy — the streaming_incremental_rollup certification pattern, on
    the dedup family."""
    from pinterest_data_pipeline_spark.operators import dedup
    from pinterest_data_pipeline_spark.plans.extensions import load_documents

    sf = SF001
    docs = load_documents(spark, sf)
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    store_docs = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) != 0)
    store_sigs = dedup.minhash_signatures(store_docs, "text", "doc_id")
    decisions, delta = dedup.incremental_minhash_dedup(
        batch, store_sigs, store_docs, "text", "doc_id", threshold=0.3
    )
    got = {r["doc_id"]: r.asDict() for r in decisions.collect()}

    # full recompute: every verified pair over the WHOLE corpus
    full_pairs = dedup.minhash_near_duplicates(
        docs, "text", "doc_id", threshold=0.3
    ).collect()
    # greedy policy in plain python over the full pair set
    from collections import defaultdict

    partners = defaultdict(list)
    for r in full_pairs:
        a, b = r["id_a"], r["id_b"], 
        j = r["jaccard_sim"]
        for me, other in ((a, b), (b, a)):
            if me % 10 != 0:
                continue  # only batch docs get decisions
            in_store = other % 10 != 0
            if in_store or other < me:
                partners[me].append((other, in_store, j))
    want = {}
    for r in batch.select("doc_id").collect():
        d = r["doc_id"]
        ps = partners.get(d, [])
        if not ps:
            want[d] = ("keep", 0, 0, None, None)
        else:
            bj = max(p[2] for p in ps)
            bid = min(p[0] for p in ps if p[2] == bj)
            want[d] = (
                "drop",
                sum(1 for p in ps if p[1]),
                sum(1 for p in ps if not p[1]),
                bid,
                bj,
            )
    assert set(got) == set(want)
    for d, (action, ns, nb, bid, bj) in want.items():
        g = got[d]
        assert g["action"] == action, d
        assert g["n_store_matches"] == ns, d
        assert g["n_prior_batch_matches"] == nb, d
        assert g["best_match_id"] == bid, d
        assert g["best_jaccard"] == bj, d

    # store delta: exactly the kept docs' signature rows
    kept = {d for d, w in want.items() if w[0] == "keep"}
    assert {r["doc_id"] for r in delta.select("doc_id").collect()} == kept
    assert [c for c in delta.columns if c.startswith("mh")] == [
        f"mh{i}" for i in range(32)
    ]


def test_incremental_dedup_planted_batch(spark):
    """Planted cross-shard shapes: a batch doc duplicating a store doc
    drops against the store; two batch duplicates keep the earlier and
    drop the later; a unique batch doc keeps."""
    from pinterest_data_pipeline_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    other = "completely different content about spark shuffle partitions and codegen stages"
    uniq = "a third unrelated text regarding decimal promotion and integer overflow guards"
    rows = [
        (7, base),          # store
        (13, other),        # store
        (10, base),         # batch: dup of store 7 -> drop, best 7
        (20, other),        # batch: dup of store 13 AND of batch 30? no - of 13
        (30, other),        # batch: dup of 13 (store) and 20 (earlier batch)
        (40, uniq),         # batch: unique -> keep
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    store_docs = docs.filter(F.col("doc_id") % 10 != 0)
    store_sigs = dedup.minhash_signatures(store_docs, "text", "doc_id")
    decisions, delta = dedup.incremental_minhash_dedup(
        batch, store_sigs, store_docs, "text", "doc_id", threshold=0.5
    )
    got = {r["doc_id"]: r.asDict() for r in decisions.collect()}
    assert got[10]["action"] == "drop" and got[10]["best_match_id"] == 7
    assert got[10]["n_store_matches"] == 1
    assert got[20]["action"] == "drop" and got[20]["best_match_id"] == 13
    assert got[20]["n_prior_batch_matches"] == 0  # no EARLIER batch partner
    assert got[30]["action"] == "drop"
    assert got[30]["n_store_matches"] == 1  # store 13
    assert got[30]["n_prior_batch_matches"] == 1  # batch 20
    assert got[30]["best_match_id"] == 13  # tie on jaccard=1.0 -> min id
    assert got[40]["action"] == "keep"
    assert {r["doc_id"] for r in delta.collect()} == {40}


def test_incremental_candidates_store_never_broadcast(spark, tmp_path):
    """Direction contract (a corpus-sized broadcast exhausts driver
    memory): in the candidate plan the STORE side must never sit under a
    BroadcastExchange — the batch bucket keys are the broadcast side. Parses
    the plan tree by indentation: no line inside any BroadcastExchange
    subtree may reference the store parquet."""
    import os

    from pinterest_data_pipeline_spark.operators import dedup
    from pinterest_data_pipeline_spark.plans.extensions import load_documents

    docs = load_documents(spark, SF001)
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    store_docs = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) != 0)
    store_path = os.path.join(str(tmp_path), "sig_store")
    dedup.minhash_signatures(store_docs, "text", "doc_id").write.parquet(
        store_path
    )
    store_sigs = spark.read.parquet(store_path)
    batch_sigs = dedup.minhash_signatures(batch, "text", "doc_id")
    cands = dedup.incremental_candidates(batch_sigs, store_sigs, "doc_id")
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # the batch-side broadcast exists
    lines = plan.splitlines()
    inside, depth = False, 0
    for ln in lines:
        indent = len(ln) - len(ln.lstrip(" +-:*("))
        if inside and indent <= depth:
            inside = False
        if "BroadcastExchange" in ln:
            inside, depth = True, indent
            continue
        if inside:
            assert "sig_store" not in ln, (
                "store parquet under a BroadcastExchange:\n" + plan
            )


def test_incremental_store_fingerprint_cache(spark, tmp_path):
    """The registered query's signature store is fingerprint-cached: a
    second run at the same corpus reuses the parquet store (no rebuild),
    and rewriting the source rebuilds it."""
    import shutil

    from pinterest_data_pipeline_spark.plans import extensions as ext

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    src = os.path.join(SF001, "documents.parquet")
    dst = os.path.join(sf, "documents.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copy2)(src, dst)

    QUERIES["dedup_incremental_batch"](spark, sf).count()
    store = ext._incr_sig_store(spark, sf).path
    fp_file = os.path.join(store, "_SOURCE_FINGERPRINT")
    assert os.path.exists(fp_file)
    built_at = max(
        os.stat(os.path.join(store, f)).st_mtime_ns
        for f in os.listdir(store)
    )
    QUERIES["dedup_incremental_batch"](spark, sf).count()
    again = max(
        os.stat(os.path.join(store, f)).st_mtime_ns
        for f in os.listdir(store)
    )
    assert again == built_at, "store rebuilt despite unchanged source"

    # rewrite the source -> fingerprint differs -> rebuild
    os.utime(
        dst if not os.path.isdir(dst) else os.path.join(
            dst, sorted(os.listdir(dst))[0]
        )
    )
    QUERIES["dedup_incremental_batch"](spark, sf).count()
    rebuilt = max(
        os.stat(os.path.join(store, f)).st_mtime_ns
        for f in os.listdir(store)
    )
    assert rebuilt > built_at, "store not rebuilt after source change"
    shutil.rmtree(store, ignore_errors=True)


def test_each_prebuilt_store_has_one_owner():
    """A prebuilt store's definition (split, build parameters, schema and
    ``_cached_store`` key) lives in one function: every store name that
    ``plans/extensions.py`` hands to ``_cached_store`` appears as a
    literal in exactly one of its top-level functions, so two copies of
    a definition cannot drift apart and serve each other's bytes."""
    import ast
    from pathlib import Path

    from pinterest_data_pipeline_spark.plans import extensions as ext

    tree = ast.parse(Path(ext.__file__).read_text())
    calls = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and getattr(n.func, "id", None) == "_cached_store"
    ]
    assert all(isinstance(c.args[2], ast.Constant) for c in calls)
    stores = {c.args[2].value for c in calls}
    assert {"_ivf_cell_index", "_incr_sig_store", "_incr_kmv_store"} <= stores
    funcs = [n for n in tree.body if isinstance(n, ast.FunctionDef)]
    owners = {
        store: [
            f.name
            for f in funcs
            if any(
                isinstance(n, ast.Constant) and n.value == store
                for n in ast.walk(f)
            )
        ]
        for store in stores
    }
    assert {s: o for s, o in owners.items() if len(o) != 1} == {}


# --- incremental IVF index upsert (the ANN incremental twin) ------------------


def test_ivf_upsert_merged_equals_full_rebuild(spark):
    """The sharp incremental contract: searching (prebuilt index UNION
    batch delta) equals a from-scratch assignment of the whole corpus
    with the SAME centroids, bit-for-bit — same kernel, same centroids,
    same cells, same candidates, same ranking."""
    from pinterest_data_pipeline_spark.operators import similarity
    from pinterest_data_pipeline_spark.session import load_table
    from pinterest_data_pipeline_spark.plans.extensions import _query_vectors

    emb = load_table(spark, SF001, "embeddings")
    old = emb.filter(F.pmod(F.col("vec_id"), F.lit(10)) != 0)
    batch = emb.filter(F.pmod(F.col("vec_id"), F.lit(10)) == 0)
    cents = similarity.train_ivf_centroids(old, n_cells=16)
    q = _query_vectors(spark, SF001)
    merged = similarity.ivf_assign_cells(old, cents).unionByName(
        similarity.ivf_assign_cells(batch, cents)
    )
    inc = similarity.ivf_search_index(merged, q, cents, k=10, n_probe=4)
    full = similarity.ivf_topk(emb, q, cents, k=10, n_probe=4)
    a = sorted(map(tuple, inc.collect()))
    b = sorted(map(tuple, full.collect()))
    assert a == b and len(a) == 30


def test_ivf_upsert_delta_is_searchable(spark):
    """Delta visibility: a planted batch vector that is the near-exact
    twin of a query vector comes back rank-1 from the merged index —
    new vectors are retrievable without a rebuild."""
    from pinterest_data_pipeline_spark.operators import similarity
    from pinterest_data_pipeline_spark.session import load_table
    from pinterest_data_pipeline_spark.plans.extensions import _query_vectors

    emb = load_table(spark, SF001, "embeddings")
    old = emb.filter(F.pmod(F.col("vec_id"), F.lit(10)) != 0)
    cents = similarity.train_ivf_centroids(old, n_cells=16)
    q = _query_vectors(spark, SF001)
    # the planted twin: query 0's own vector under a fresh id ending in 0
    twin = q.filter(F.col("vec_id") == 0).select(
        F.lit(1_000_000_000).alias("vec_id"), F.col("embedding")
    )
    merged = similarity.ivf_assign_cells(old, cents).unionByName(
        similarity.ivf_assign_cells(twin, cents)
    )
    got = (
        similarity.ivf_search_index(merged, q, cents, k=10, n_probe=4)
        .filter((F.col("query_id") == 0) & (F.col("rank") == 1))
        .collect()
    )
    assert len(got) == 1 and got[0]["vec_id"] == 1_000_000_000
    assert got[0]["cosine_sim"] == 1.0


def test_ivf_upsert_index_scan_is_partition_pruned(spark):
    """The 100 TB layout made real: the registered query's index parquet
    is partitioned by cell, and the probe join injects a
    dynamicpruningexpression into the index scan — unprobed cell
    partitions are never read."""
    QUERIES["ann_ivf_incremental_upsert"](spark, SF001).collect()  # build index
    from pinterest_data_pipeline_spark.plans import extensions as ext

    index_path = ext._ivf_cell_index(spark, SF001).path
    assert any(f.startswith("cell=") for f in os.listdir(index_path))
    df = QUERIES["ann_ivf_incremental_upsert"](spark, SF001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


# --- incremental cluster maintenance ------------------------------------------


def test_incremental_cluster_update_crafted_shapes(spark):
    """Root contraction over crafted shapes: a new edge bridging two old
    clusters merges them under the global min; a pair of brand-new docs
    forms its own cluster; an old singleton joining a new doc clusters
    under the smaller id; untouched clusters pass through unchanged."""
    from pinterest_data_pipeline_spark.operators import dedup

    clusters = spark.createDataFrame(
        [(1, 1), (5, 1), (2, 2), (9, 2), (40, 40), (41, 40)],
        "member_id long, cluster_id long",
    )
    new_pairs = spark.createDataFrame(
        [(5, 9), (100, 101), (3, 200)], "id_a long, id_b long"
    )
    got = {
        r["member_id"]: r["cluster_id"]
        for r in dedup.incremental_cluster_update(clusters, new_pairs).collect()
    }
    assert got == {
        1: 1, 5: 1, 2: 1, 9: 1,       # bridged: merged under global min 1
        40: 40, 41: 40,               # untouched cluster passes through
        100: 100, 101: 100,           # brand-new pair
        3: 3, 200: 3,                 # old singleton + new doc
    }, got


def test_incremental_clusters_query_equals_full_recompute(spark):
    """The registered incremental query's rows equal the full-recompute
    query's rows EXACTLY at sf0.001 — the same contract its shared
    DuckDB dual states, verified engine-side too."""
    inc = sorted(
        map(tuple, QUERIES["dedup_incremental_clusters"](spark, SF001).collect())
    )
    full = sorted(
        map(tuple, QUERIES["dedup_near_duplicate_clusters"](spark, SF001).collect())
    )
    assert inc == full and len(inc) > 0


def test_incremental_cluster_table_never_broadcast(spark, tmp_path):
    """The corpus-scale cluster table is only scanned: no plan may put
    it under a BroadcastExchange (endpoint set and remap are the
    broadcast sides)."""
    import os

    from pinterest_data_pipeline_spark.operators import dedup

    store = os.path.join(str(tmp_path), "cluster_table")
    spark.range(10_000).select(
        F.col("id").alias("member_id"),
        (F.col("id") - F.col("id") % 2).alias("cluster_id"),
    ).write.parquet(store)
    clusters = spark.read.parquet(store)
    new_pairs = spark.createDataFrame(
        [(4, 6), (11, 9001)], "id_a long, id_b long"
    )
    out = dedup.incremental_cluster_update(clusters, new_pairs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # broadcast sides may LEGITIMATELY mention the table inside an
    # InMemoryRelation node — that is the persisted bounded root-lookup
    # frame printing its (already materialized) build lineage. What must
    # never appear is a LIVE cluster-table FileScan under a
    # BroadcastExchange: that would rebuild/broadcast corpus-scale data.
    lines = plan.splitlines()
    inside, depth = False, 0
    imr_depth = None
    for ln in lines:
        indent = len(ln) - len(ln.lstrip(" +-:*("))
        if inside and indent <= depth:
            inside, imr_depth = False, None
        if imr_depth is not None and indent <= imr_depth:
            imr_depth = None
        if "BroadcastExchange" in ln:
            inside, depth = True, indent
            continue
        if inside and imr_depth is None and "InMemoryRelation" in ln:
            imr_depth = indent
            continue
        if inside and imr_depth is None:
            assert "cluster_table" not in ln, (
                "live cluster-table scan under a BroadcastExchange:\n" + plan
            )
    # and the broadcasts carry bounded LOCAL relations (the under-cap
    # path collects the pair/root sets once and ships sub/remap/fresh as
    # LocalRelations — nothing persisted, nothing corpus-scale broadcast)
    assert "LocalTableScan" in plan


def test_incremental_cluster_driver_and_distributed_cc_agree(spark):
    """The guarded degrade: driver-side union-find under
    the cap and the distributed label-propagation fallback produce the
    same min-label answers on the same crafted graph."""
    from pinterest_data_pipeline_spark.operators import dedup

    clusters = spark.createDataFrame(
        [(1, 1), (5, 1), (2, 2), (9, 2)], "member_id long, cluster_id long"
    )
    new_pairs = spark.createDataFrame(
        [(5, 9), (100, 101), (3, 200), (101, 102)], "id_a long, id_b long"
    )
    via_driver = sorted(
        map(tuple, dedup.incremental_cluster_update(clusters, new_pairs).collect())
    )
    via_dist = sorted(
        map(
            tuple,
            dedup.incremental_cluster_update(
                clusters, new_pairs, driver_cc_cap=0
            ).collect(),
        )
    )
    assert via_driver == via_dist and len(via_driver) == 9


# --- incremental KMV sketch store ---------------------------------------------


def test_incremental_kmv_merge_equals_full_rebuild(spark):
    """KMV closure under union, engine-side: merging the store sketch
    with the batch sketch equals a from-scratch sketch of the full
    corpus BIT-FOR-BIT (hash rows identical, not just the estimate)."""
    from pinterest_data_pipeline_spark.operators import sketches
    from pinterest_data_pipeline_spark.plans.extensions import load_documents

    docs = load_documents(spark, SF001)

    def toks(df):
        return df.select(F.explode(F.split(F.col("text"), " ")).alias("token"))

    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    store = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) != 0)
    merged = sketches.kmv_merge(
        sketches.kmv_sketch(toks(store), "token", k=64),
        sketches.kmv_sketch(toks(batch), "token", k=64),
        k=64,
    )
    full = sketches.kmv_sketch(toks(docs), "token", k=64)
    assert [r["h"] for r in merged.collect()] == [
        r["h"] for r in full.collect()
    ]


def test_incremental_kmv_arrival_path_never_rereads_store_docs(
    spark, tmp_path
):
    """With the store sketch persisted to parquet, the arrival path's
    plan scans the BATCH documents only — the store corpus never
    re-reads (its 64-row sketch does)."""
    import os

    from pinterest_data_pipeline_spark.operators import sketches
    from pinterest_data_pipeline_spark.plans.extensions import load_documents

    docs = load_documents(spark, SF001)

    def toks(df):
        return df.select(F.explode(F.split(F.col("text"), " ")).alias("token"))

    store = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) != 0)
    sk_path = os.path.join(str(tmp_path), "kmv_store")
    sketches.kmv_sketch(toks(store), "token", k=64).write.parquet(sk_path)
    store_sketch = spark.read.parquet(sk_path)
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    merged = sketches.kmv_merge(
        store_sketch, sketches.kmv_sketch(toks(batch), "token", k=64), k=64
    )
    est = sketches.kmv_estimate(merged, 64)
    plan = est._jdf.queryExecution().executedPlan().toString()
    assert plan.count("documents.parquet") == 1, plan
    # exactly two parquet scans: the batch documents and the 64-row
    # store sketch (plan text elides long paths, so count scans rather
    # than matching the store path)
    assert plan.count("FileScan parquet") == 2, plan
