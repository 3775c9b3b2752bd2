"""Vector-compression / retrieval / compaction operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pinterest_data_pipeline_spark.operators import similarity

VEC_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def test_quantize_int8_codes_and_clamp(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, -2.0, 0.0]),
            (1, [0.5, 2.0, 0.0]),
            (2, [-1.0, 1.0, 0.0]),
        ],
        VEC_SCHEMA,
    )
    rows = {
        (r.vec_id, r.pos): r.code
        for r in similarity.quantize_int8_longform(df).collect()
    }
    # dim 0: maxabs=1.0 -> codes 127, 64 (round(63.5) away from zero), -127
    assert rows[(0, 0)] == 127 and rows[(2, 0)] == -127
    assert rows[(1, 0)] == 64
    # dim 1: maxabs=2.0 -> -127, 127, 64 (round(63.5))
    assert rows[(0, 1)] == -127 and rows[(1, 1)] == 127 and rows[(2, 1)] == 64
    # dim 2: all-zero dimension -> code 0, no div-by-zero
    assert rows[(0, 2)] == rows[(1, 2)] == rows[(2, 2)] == 0


def test_two_stage_rerank_with_full_candidate_set_matches_exact_topk(spark):
    """With k_coarse >= corpus size stage 1 keeps everyone, so the rerank
    must reproduce brute-force cosine top-k exactly."""
    import random

    rng = random.Random(7)
    data = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(data, VEC_SCHEMA)
    queries = df.filter(F.col("vec_id") < 2)
    exact = similarity.cosine_topk(df, queries, k=5).collect()
    staged = similarity.two_stage_rerank(df, queries, k=5, k_coarse=100).collect()
    key = lambda r: (r.query_id, r.rank)
    assert {key(r): r.vec_id for r in staged} == {key(r): r.vec_id for r in exact}


def test_two_stage_rerank_narrow_candidates_is_subset_of_coarse(spark):
    """Every reranked result must come from the stage-1 candidate list."""
    import random

    rng = random.Random(11)
    data = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(data, VEC_SCHEMA)
    queries = df.filter(F.col("vec_id") < 1)
    coarse = {
        r.vec_id
        for r in similarity.cosine_topk_quantized(
            df, queries, k=10, scale=100
        ).collect()
    }
    final = similarity.two_stage_rerank(df, queries, k=5, k_coarse=10).collect()
    assert {r.vec_id for r in final} <= coarse


def test_compact_small_files_collapses_file_count_losslessly(spark, tmp_path):
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame(
        [(i, f"doc {i} body with\nnewline and \"quotes\"") for i in range(100)],
        schema,
    )
    from pinterest_data_pipeline_spark.sources import layout

    compacted, n_landing, n_compacted = layout.compact_small_files(
        spark,
        df,
        str(tmp_path / "compaction"),
        bucket_col=(F.col("doc_id") % 4).cast("int"),
        schema=schema,
        n_landing_files=32,
    )
    assert n_landing == 32
    assert n_compacted == 4  # one file per bucket
    back = {r.doc_id: r.text for r in compacted.collect()}
    assert back == {i: f"doc {i} body with\nnewline and \"quotes\"" for i in range(100)}


def test_pq_encode_is_deterministic_and_code_bounded(spark):
    """Encoding is a pure function of (vector, codebooks): same codes under
    repartitioning, every code inside [0, n_codes)."""
    from pinterest_data_pipeline_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    books = similarity.train_pq_codebooks(emb, m=8, n_codes=16)
    enc = emb.select(
        "vec_id", similarity.pq_encode_pandas(books)(F.col("embedding")).alias("codes")
    )
    again = emb.repartition(7).select(
        "vec_id", similarity.pq_encode_pandas(books)(F.col("embedding")).alias("codes")
    )
    assert enc.exceptAll(again).count() == 0
    bad = enc.filter(
        F.exists("codes", lambda c: (c < 0) | (c >= 16)) | (F.size("codes") != 8)
    )
    assert bad.count() == 0


def test_pq_rerank_with_full_shortlist_matches_exact_topk(spark):
    """k_coarse = |corpus| makes the ADC stage a no-op filter, so the
    composition must reproduce the exact float-cosine top-k exactly."""
    from pinterest_data_pipeline_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") < 2)
    books = similarity.train_pq_codebooks(emb, n_codes=16)
    full = similarity.pq_topk_rerank(emb, q, books, k=5, k_coarse=emb.count())
    exact = similarity.cosine_topk(emb, q, k=5)
    assert (
        full.select("query_id", "vec_id", "rank")
        .exceptAll(exact.select("query_id", "vec_id", "rank"))
        .count()
        == 0
    )


def test_pq_recall_overlaps_pinned_at_sf001(spark):
    """Pin the exact per-query overlap of the registered ann_pq_topk
    configuration against the quantized brute-force top-10 (the oracle's
    literal-TRUE precondition): 10/10, 10/10, 9/10 at sf0.001."""
    from pinterest_data_pipeline_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    books = similarity.train_pq_codebooks(emb, n_codes=64)
    ann = similarity.pq_topk_rerank(emb, q, books, k=10)
    exact = similarity.cosine_topk_quantized(emb, q, k=10).select("query_id", "vec_id")
    ov = {
        r.query_id: r.n
        for r in ann.select("query_id", "vec_id")
        .join(exact, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert ov == {0: 10, 1: 10, 2: 9}


def test_hamming_topk_finds_sign_identical_neighbor(spark):
    """A vector and its tiny perturbation share (almost) every sign bit,
    so binary-quantized top-1 must find it at hamming ~0, while a
    sign-flipped copy sits at the far end (hamming ~dim)."""
    import random

    rng = random.Random(11)
    dim = 64
    base = [rng.gauss(0, 1) for _ in range(dim)]
    near = [v + 0.001 * rng.gauss(0, 1) for v in base]
    anti = [-v for v in base]
    rows = [(0, base), (1, near), (2, anti)] + [
        (i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(3, 40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") == 0)
    out = similarity.hamming_topk(df, q, k=39, dim=dim).collect()
    by_id = {r.vec_id: (r.hamming, r.rank) for r in out}
    assert by_id[1][1] == 1 and by_id[1][0] <= 2
    assert by_id[2][0] >= 60  # sign-flip: nearly every bit differs


def test_ivf_pq_recall_overlaps_pinned_at_sf001(spark):
    """Pin the exact per-query overlap of the registered ann_ivf_pq_topk
    configuration (IVFADC: 4-of-16-cell probe -> 8x64-code ADC shortlist
    of 200 -> exact rerank) against the quantized brute-force top-10:
    4/10, 5/10, 4/10 at sf0.001 — the IVF coarse stage's range (the
    composition cannot beat its pruning), all above the oracle's
    literal-TRUE floor of 2."""
    from pinterest_data_pipeline_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    cent = similarity.train_ivf_centroids(emb, n_cells=16)
    books = similarity.train_pq_codebooks(emb, n_codes=64)
    ann = similarity.ivf_pq_topk(emb, q, cent, books, k=10, n_probe=4, k_coarse=200)
    exact = similarity.cosine_topk_quantized(emb, q, k=10).select("query_id", "vec_id")
    ov = {
        r.query_id: r.n
        for r in ann.select("query_id", "vec_id")
        .join(exact, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert ov == {0: 4, 1: 5, 2: 4}


def test_ivf_pq_full_shortlist_equals_ivf_exact(spark):
    """With the shortlist covering every probed candidate, IVFADC's exact
    rerank must return exactly what IVF-with-exact-rerank returns — the
    ADC stage is then a no-op reordering of the same candidate set."""
    from pinterest_data_pipeline_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    cent = similarity.train_ivf_centroids(emb, n_cells=16)
    books = similarity.train_pq_codebooks(emb, n_codes=64)
    ivfadc = similarity.ivf_pq_topk(
        emb, q, cent, books, k=10, n_probe=4, k_coarse=10**6
    )
    ivf = similarity.ivf_topk(emb, q, cent, k=10, n_probe=4)
    a = {(r.query_id, r.vec_id) for r in ivfadc.collect()}
    b = {(r.query_id, r.vec_id) for r in ivf.collect()}
    assert a == b
