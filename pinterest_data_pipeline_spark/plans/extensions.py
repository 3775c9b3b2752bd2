"""Extension-operator query battery: dedup, similarity, text analysis.

Registers into the same ``QUERIES`` dict as the relational battery. Queries
whose semantics are bit-reproducible in ANSI SQL carry DuckDB oracles
(``oracles.py``); the float-heavy / LSH ops are rows-only checks backed by
pytest assertions (planted duplicates, recall vs brute force).
"""

from __future__ import annotations

import os
from typing import NamedTuple

# module-level so get_type_hints can resolve the postponed ``pd.Series``
# annotations on pandas_udf definitions below
import pandas as pd  # noqa: F401

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup, multimodal, sampling, similarity, text
from ..session import fan_out, load_table, persist_scoped
from ..sources import layout
from .analytics import query


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with scan parallelism restored (single-split parquet)."""
    return fan_out(load_table(spark, sf_dir, "documents"))


# --- text analysis ----------------------------------------------------------


@query
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char counts per document (whitespace tokenization)."""
    docs = load_documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("int").alias("n_chars_measured"),
    ).orderBy("doc_id")


@query
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic marker-word language ID per document."""
    docs = load_documents(spark, sf_dir)
    return docs.select(
        "doc_id", text.lang_id(F.col("text")).alias("predicted_lang")
    ).orderBy("doc_id")


@query
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic per document."""
    docs = load_documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        text.quality_score(F.col("text")).alias("quality"),
        F.round(text.stopword_ratio(F.col("text")), 4).alias("stopword_ratio"),
    ).orderBy("doc_id")


@query
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (cross-engine stable hash)."""
    docs = load_documents(spark, sf_dir)
    return docs.select(
        "doc_id", text.rolling_fingerprint(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


@query
def text_analysis_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four oracle-checked text-analysis operators in one projection.

    One driver slot certifies token counting, language ID, quality scoring,
    rolling-hash fingerprinting, and P1 sentinel-null normalization
    together — they are independent column expressions over the same scan,
    so fusing them is also the efficient plan (one pass, no shuffle). The
    single-operator forms stay registered for focused debugging.
    """
    from ..operators.cleaning import null_sentinel

    docs = load_documents(spark, sf_dir)
    sentinels = ["src0", "src1", "es"]
    return docs.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("int").alias("n_chars_measured"),
        text.lang_id(F.col("text")).alias("predicted_lang"),
        text.quality_score(F.col("text")).alias("quality"),
        F.round(text.stopword_ratio(F.col("text")), 4).alias("stopword_ratio"),
        text.rolling_fingerprint(F.col("text")).alias("fingerprint"),
        null_sentinel(F.col("lang"), sentinels).alias("norm_lang"),
        null_sentinel(F.col("source"), sentinels).alias("norm_source"),
    ).orderBy("doc_id")


@query
def text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-word token budget estimate (rows-only; regex lambda)."""
    docs = load_documents(spark, sf_dir)
    return docs.select(
        "doc_id", text.bpe_ish_token_count(F.col("text")).alias("bpe_tokens")
    ).orderBy("doc_id")


# --- dedup ------------------------------------------------------------------


@query
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup summary: one row per distinct text."""
    docs = load_documents(spark, sf_dir)
    return dedup.exact_dedup_summary(docs, "text", "doc_id").orderBy("keep_id")


@query
def dedup_ngram_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard between consecutive doc ids (the verifier op)."""
    docs = load_documents(spark, sf_dir)
    sets_ = dedup.shingle_sets(docs, "text", "doc_id")
    a = sets_.select(
        F.col("doc_id").alias("id_a"), F.col("shingle_set").alias("shingle_set_a")
    )
    b = sets_.select(
        (F.col("doc_id") - 1).alias("id_a"), F.col("shingle_set").alias("shingle_set_b")
    )
    return (
        dedup.ngram_jaccard_pairs(a.join(b, "id_a"))
        .select("id_a", (F.col("id_a") + 1).alias("id_b"), "jaccard_sim")
        .orderBy("id_a")
    )


@query
def dedup_containment_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram containment (|A∩B|/|A|, both directions) between
    consecutive doc ids — the asymmetric doc-in-doc signal that catches a
    short document embedded in a long one where Jaccard reads ~0. Same
    candidate frame and shingle machinery as the Jaccard verifier; at
    scale the pair source is the MinHash/LSH candidate stream, not
    adjacency.
    """
    docs = load_documents(spark, sf_dir)
    sets_ = dedup.shingle_sets(docs, "text", "doc_id")
    a = sets_.select(
        F.col("doc_id").alias("id_a"), F.col("shingle_set").alias("sa")
    )
    b = sets_.select(
        (F.col("doc_id") - 1).alias("id_a"), F.col("shingle_set").alias("sb")
    )
    return (
        a.join(b, "id_a")
        .select(
            "id_a",
            (F.col("id_a") + 1).alias("id_b"),
            F.round(dedup.containment(F.col("sa"), F.col("sb")), 4).alias(
                "containment_a_in_b"
            ),
            F.round(dedup.containment(F.col("sb"), F.col("sa")), 4).alias(
                "containment_b_in_a"
            ),
        )
        .orderBy("id_a")
    )


@query
def dedup_minhash_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, Jaccard-verified (rows-only check).

    No presentation orderBy: the parity value-hash is order-insensitive,
    and a global sort's range-sampling pass would execute the whole
    candidate-verify lineage a second time (~2× the query).
    """
    docs = load_documents(spark, sf_dir)
    return dedup.minhash_near_duplicates(docs, "text", "doc_id", threshold=0.3)


def _planted_dup_corpus(docs: DataFrame) -> DataFrame:
    """documents plus 50 deterministic exact duplicates (the 50 lowest
    doc_ids re-keyed at +10M) — the shared planting rule of the SimHash
    certification pair (``dedup_simhash_near_duplicates`` /
    ``dedup_simhash_exact_recall``) and their DuckDB duals: the natural
    corpus has zero exact-dup pairs at small SFs, which would let recall
    invariants certify over an empty set."""
    planted = (
        docs.orderBy("doc_id")
        .limit(50)
        .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
    )
    return docs.unionByName(planted)


def _exact_dup_pairs(corpus: DataFrame) -> DataFrame:
    """(id_a < id_b) pairs with byte-identical text (md5 equality)."""
    h = corpus.select(F.md5("text").alias("h"), "doc_id")
    return (
        h.select(F.col("h"), F.col("doc_id").alias("id_a"))
        .join(h.select(F.col("h"), F.col("doc_id").alias("id_b")), "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


@query
def dedup_simhash_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (xxhash64) near-dup certification — BOUND ORACLE (the
    registry's last rows-only entry until it gained this dual).

    The raw pair list cannot carry an exact dual (DuckDB has no
    xxhash64), so the query emits the certifiable invariants instead,
    the ``plans/oracles.py`` bound-oracle pattern: the exact parts are
    data-dependent and recomputed by the dual, the hash-dependent parts
    are in-Spark invariants stated as booleans.

    * ``n_docs`` / ``n_exact_dup_pairs`` — EXACT: corpus size and the
      md5-text-equality pair count after planting 50 deterministic
      duplicates (the ``dedup_simhash_exact_recall`` planting rule — the
      natural corpus has zero exact dups at small SFs, which would make
      containment vacuous).
    * ``exact_recall_ok`` — every exact-dup pair (identical text ⇒
      identical signature ⇒ Hamming 0) appears in the claimed pair set.
    * ``within_radius_ok`` — max claimed Hamming distance <= 10.

    The COMPLETENESS of the pigeonhole candidate machinery (no missed
    pairs at radius <= 10) is certified by the stable-hash twin below
    (oracle-exact end-to-end under an md5-derived hash) and pinned for
    THIS hash by ``test_simhash_xxhash64_pairs_equal_exhaustive_
    hamming_join``; the raw pair-list operator remains
    ``dedup.simhash_near_duplicates``. The pair frame is persisted and
    consumed by both aggregates — the pipeline runs once.
    """
    docs = load_documents(spark, sf_dir).select("doc_id", "text")
    corpus = _planted_dup_corpus(docs)
    found = persist_scoped(
        dedup.simhash_near_duplicates(corpus, "text", "doc_id", max_distance=10),
        "simhash_cert_pairs",
    )
    exact_pairs = _exact_dup_pairs(corpus)
    recall = (
        exact_pairs.join(
            found.select("id_a", "id_b").withColumn("_hit", F.lit(True)),
            ["id_a", "id_b"],
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact_dup_pairs"),
            F.sum(F.when(F.col("_hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_found"),
        )
    )
    radius = found.agg(
        F.coalesce(F.max("hamming"), F.lit(0)).alias("max_h")
    )
    n_docs = corpus.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        n_docs.crossJoin(recall)
        .crossJoin(radius)
        .select(
            "n_docs",
            "n_exact_dup_pairs",
            (F.col("n_found") == F.col("n_exact_dup_pairs")).alias(
                "exact_recall_ok"
            ),
            (F.col("max_h") <= F.lit(10)).alias("within_radius_ok"),
        )
    )


@query
def dedup_simhash_near_duplicates_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups with the cross-engine stable hash — oracle-exact.

    Same multi-index pigeonhole pipeline as ``dedup_simhash_near_duplicates``
    but tokens hash via ``stable_hash64`` (md5-derived, 60 bits), which DuckDB
    can reproduce — and the pigeonhole candidate decomposition is LOSSLESS
    (a pair within distance d must differ <= floor(d/m) in some chunk), so
    the result equals the exhaustive Hamming cross join bit-for-bit: the
    whole SimHash algorithm, not just its plumbing, is parity-checked. The
    xxhash64 variant stays registered as the faster production default.
    """
    from ..operators.text import stable_hash64

    docs = load_documents(spark, sf_dir)
    return dedup.simhash_near_duplicates(
        docs, "text", "doc_id", max_distance=10, n_bits=60, hash_fn=stable_hash64
    )


@query
def dedup_near_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup decision: MinHash pairs -> connected
    components -> (doc, cluster, keep). Iterative label propagation on
    the Spark side; EXACTLY oracled by the recursive-CTE
    transitive closure over the exhaustive >=0.3 Jaccard pair set.
    Unsorted on purpose — see ``dedup_minhash_near_duplicates``."""
    docs = load_documents(spark, sf_dir)
    return dedup.near_duplicate_clusters(docs, "text", "doc_id", threshold=0.3)


# --- sampling / dataset splitting -------------------------------------------


@query
def sample_hash_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-hash train/valid/test split — engine-portable
    membership, verified value-for-value by the DuckDB oracle."""
    docs = load_documents(spark, sf_dir)
    return (
        sampling.hash_split(docs, "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split")
    )


@query
def sample_hash_split_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row split assignment (the auditable artifact of a split)."""
    docs = load_documents(spark, sf_dir)
    return sampling.hash_split(docs, "doc_id").select("doc_id", "split").orderBy("doc_id")


@query
def sample_per_lang_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language cap of 50 docs, chosen by hash order."""
    docs = load_documents(spark, sf_dir)
    return (
        sampling.per_group_sample(docs, "lang", "doc_id", n=50)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@query
def sample_reservoir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size global sample: the 100 docs with smallest md5-derived
    hash priority — reservoir sampling's deterministic, engine-portable,
    distributed twin (TakeOrderedAndProject: per-partition top-k + driver
    heap merge, no global sort; plan-contract pinned with top_k_orders).
    """
    docs = load_documents(spark, sf_dir)
    return (
        sampling.reservoir_sample(docs, "doc_id", k=100)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


@query
def text_utf8_bytes_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document byte/char counts through ``mapInArrow`` — certifies
    the zero-copy Arrow-native UDF surface (pyarrow.compute kernels on
    RecordBatch buffers, no pandas materialization) against a plain SQL
    dual (octet_length / length). The shape a real pipeline uses for
    tokenizer/codec kernels that consume Arrow buffers natively.
    """
    docs = load_documents(spark, sf_dir)
    return text.utf8_byte_stats_arrow(docs).orderBy("doc_id")


@query
def join_null_safe_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): lang keys with
    'en' nulled out on both sides, so the null group must MATCH ITSELF
    (unlike `=`, which drops every null row silently) — the semantic
    corner that decides whether a dedup/enrichment join keyed on an
    optional column loses its unknown-key rows. Spark plans <=> as an
    ordinary hash join on the null-safe key, not a nested loop.
    """
    docs = load_documents(spark, sf_dir)
    a = docs.select(
        F.nullif(F.col("lang"), F.lit("en")).alias("k"),
        F.col("doc_id").alias("id_a"),
    )
    b = docs.select(
        F.nullif(F.col("lang"), F.lit("en")).alias("k"),
        F.col("doc_id").alias("id_b"),
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["k"]))
        .groupBy(a["k"].alias("lang_key"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.col("lang_key").asc_nulls_first())
    )


@query
def sample_weighted_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sample without replacement: 100 docs drawn with
    probability proportional to n_chars (Efraimidis–Spirakis md5-seeded
    priorities) — the "sample by token budget, not by document count"
    draw of LLM data curation. Same TakeOrderedAndProject shape as the
    reservoir sample: per-partition k-heaps, no global sort.
    """
    docs = load_documents(spark, sf_dir)
    return (
        sampling.weighted_sample(docs, "doc_id", "n_chars", k=100)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


@query
def text_ngram_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram vocabulary induction: whitespace bigrams counted over the
    corpus, top-15 per language by frequency (bigram ascending on ties) —
    the vocab/tokenizer-training counting pass of an LLM data pipeline.
    explode -> two partial-agg-friendly groupBys -> WindowGroupLimit
    rank<=15; no UDFs anywhere.
    """
    docs = load_documents(spark, sf_dir)
    # single-space split: the corpus wire format, and the exact dual of
    # DuckDB's string_split(text, ' ')
    toks = F.split(F.col("text"), " ")
    bigrams = F.expr(
        "transform(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),"
        " (x, i) -> concat(x, ' ', element_at(split(text, ' '), i + 2)))"
    )
    counts = (
        docs.filter(F.size(toks) >= 2)
        .select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("bigram"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 15)
        .select("lang", "bigram", "n", F.col("rk").alias("rank"))
        .orderBy("lang", "rank")
    )


@query
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded per-stratum Bernoulli sample, bound-oracle form: realized
    counts depend on Spark's internal sampler, so the query emits the
    exact per-stratum total (cross-engine) plus the invariant
    ``|n_sampled/n_total − 0.5| ≤ 0.15`` per language; the DuckDB dual
    emits the totals with literal TRUE. Rate precision stays pinned by
    pytest on the operator itself."""
    docs = load_documents(spark, sf_dir)
    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    sampled = sampling.stratified_sample(docs, "lang", {lg: 0.5 for lg in langs})
    counts = sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        totals.join(counts, "lang", "left")
        .select(
            "lang",
            "n_total",
            (
                F.abs(
                    F.coalesce(F.col("n_sampled"), F.lit(0)) / F.col("n_total")
                    - 0.5
                )
                <= 0.15
            ).alias("within_tolerance"),
        )
        .orderBy("lang")
    )


# --- similarity search ------------------------------------------------------


def _query_vectors(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < n)


@query
def ann_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-10 by integer-quantized dot product (oracle-exact)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_quantized(
        emb, _query_vectors(spark, sf_dir), k=10
    ).orderBy("query_id", "rank")


@query
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force float cosine top-10 (rows-only; float ulp differences
    across engines make hash comparison unreliable)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, _query_vectors(spark, sf_dir), k=10).orderBy(
        "query_id", "rank"
    )


def _certify_recall(
    emb: DataFrame,
    q: DataFrame,
    ann: DataFrame,
    floor: int = 7,
    exact: DataFrame | None = None,
) -> DataFrame:
    """(query_id, n_returned, recall_ok): overlap of an approximate top-10
    against the engine-exact quantized brute-force top-10, thresholded at
    ``floor`` — the shared certification edge for the ANN family.

    The approximate frame is consumed EXACTLY once: the (queries x 10)-row
    exact set broadcasts into a left join carrying a hit marker, and one
    aggregation computes both n_returned and the overlap — no second
    branch over the ANN pipeline (a prior version referenced it twice and
    paid the whole LSH/IVF twice per run). ``exact`` optionally supplies a
    precomputed (query_id, vec_id) truth set so callers certifying SEVERAL
    operating points of one index (the recall sweep) run the brute-force
    pass once instead of once per floor."""
    if exact is None:
        exact = similarity.cosine_topk_quantized(emb, q, k=10).select(
            "query_id", "vec_id"
        )
    exact = exact.select("query_id", "vec_id").withColumn("_hit", F.lit(1))
    return (
        ann.select("query_id", "vec_id")
        .join(F.broadcast(exact), ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_returned"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap"),
        )
        .select(
            "query_id",
            "n_returned",
            (F.col("n_overlap") >= floor).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


@query
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN top-10, certified: the OR-amplified multi-table
    configuration under an INDEPENDENT plane seed (seed=99 vs the default
    1234 in ann_lsh_multitable_topk), so the pair of green rows certifies
    that the >= 7/10 recall floor is a property of the configuration, not
    of one lucky draw of hyperplanes (observed 8-10/10 per query at every
    test SF for both seeds).

    This entry previously ran the SINGLE-table 8-plane variant, a
    documented recall-collapse regime (0-4/10 on near-orthogonal synthetic
    vectors — AND-only amplification drives per-pair collision probability
    to (1-θ/π)^8 ≈ 0.025 at the corpus's similarity bulk). That negative
    result stays pinned as a pytest study on :func:`similarity.lsh_topk`
    (tests/test_extensions.py::test_lsh_topk_recall_vs_brute_force uses
    the regime where it DOES work: fewer planes + 1-bit multiprobe on a
    corpus with planted twins); it no longer occupies a registered-query
    slot as an uncertifiable configuration.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir)
    ann = similarity.lsh_topk_multitable(emb, q, k=10, dim=64, seed=99)
    return _certify_recall(emb, q, ann)


@query
def ann_lsh_multitable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified multi-table LSH top-10 with recall certification: 16
    independent 3-plane tables push per-pair collision probability to ~99%
    at the corpus's similarity bulk, so the approximate top-10 overlaps
    the exact quantized brute-force top-10 in >= 7 of 10 slots (observed
    9-10 at every test SF with seeded planes). ann_lsh_topk certifies the
    same floor under an independent seed.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir)
    ann = similarity.lsh_topk_multitable(emb, q, k=10, dim=64)
    return _certify_recall(emb, q, ann)


@query
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with recall certification: sample-trained coarse cells
    (seeded, deterministic) + 4-of-16-cell probe + exact re-rank, then the
    approximate top-10 is joined against the engine-exact quantized
    brute-force top-10 and the per-query overlap bound (≥2 of 10) is
    emitted as a boolean the DuckDB dual states as literal TRUE. Exact
    per-dataset overlaps (3-7 of 10 across the test SFs) stay pinned by
    pytest; the parity row certifies the invariant cross-engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir)
    centroids = similarity.train_ivf_centroids(emb, n_cells=16)
    ann = similarity.ivf_topk(emb, q, centroids, k=10, n_probe=4)
    return _certify_recall(emb, q, ann, floor=2)


@query
def ann_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN: top-10 nearest under a metadata
    predicate (label % 2 = 0) — the common production retrieval shape
    ("nearest products in THIS category"). The predicate is pushed into
    the IVF candidate stage: the corpus is filtered BEFORE cell
    assignment and the probe join, so at 100 TB (cell-partitioned index
    layout) the filter rides partition pruning + parquet predicate
    pushdown and the probe scans only eligible vectors. PRE-filtering on
    purpose: POST-filtering an unfiltered top-k returns < k (or zero)
    results whenever the filter is selective — the classic filtered-ANN
    failure this shape avoids.

    Certified two ways per query: recall >= 2/10 against the exact
    brute-force top-10 OF THE FILTERED CORPUS (the same 4-of-16-probe
    floor lineage as ann_ivf_topk; observed overlaps pinned by pytest),
    and filter_ok — every returned neighbor satisfies the predicate
    (vacuous under pre-filtering BY CONSTRUCTION, which is the point).
    Index centroids are trained on the FULL corpus: production indexes
    are built once and queried under many filters.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir)
    pred = F.col("label") % 2 == 0
    filtered = emb.filter(pred)
    centroids = similarity.train_ivf_centroids(emb, n_cells=16)
    ann = similarity.ivf_topk(filtered, q, centroids, k=10, n_probe=4)
    exact = (
        similarity.cosine_topk_quantized(filtered, q, k=10)
        .select("query_id", "vec_id")
        .withColumn("_hit", F.lit(1))
    )
    labels = emb.select("vec_id", "label")
    # ONE consumption of the ANN pipeline: the (queries x k)-row result
    # broadcasts into the labels scan (never the reverse — a data-sized
    # label frame on the build side exhausts driver memory), the exact
    # truth set broadcasts on top, and a single aggregate emits recall
    # AND the filter audit. The previous shape referenced `ann` from two
    # branches and re-executed the whole IVF candidate stage (corpus
    # Arrow kernel included) per run.
    # CONTRACT: n_returned counts labels JOIN ann rows, which
    # equals ann rows only because vec_id is the embeddings table's
    # primary key (TESTDATA.md; one row per vector by construction — the
    # store a real index would enforce). A duplicated vec_id would
    # inflate n_returned and double-feed filter_ok; if this operator is
    # ever pointed at a non-keyed store, dedupe labels on vec_id first.
    fused = (
        labels.join(F.broadcast(ann.select("query_id", "vec_id")), "vec_id")
        .join(F.broadcast(exact), ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_returned"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap"),
            (F.sum((~pred).cast("long")) == 0).alias("filter_ok"),
        )
    )
    return fused.select(
        "query_id",
        "n_returned",
        (F.col("n_overlap") >= 2).alias("recall_ok"),
        "filter_ok",
    ).orderBy("query_id")


@query
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) with recall
    certification: per-subspace codebooks (8 x 64 codes) trained on a
    deterministic driver sample, Arrow-batched corpus encoding to 8
    small codes (16x compression of the 64-dim float vectors),
    JVM-expression ADC scoring against broadcast per-query lookup
    tables, then the deployed-shape exact rerank of the shortlist. The
    approximate top-10 overlaps the engine-exact quantized brute-force
    top-10 in >= 7 of 10 slots (observed 9-10 at every test SF — the
    synthetic near-orthogonal vectors are PQ's worst case, hence the
    recall-sized shortlist; clustered real embeddings shortlist ~1%).
    Completes the vector-compression family: int8 (quantize), MRL
    (truncate), PQ (codebook).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir)
    books = similarity.train_pq_codebooks(emb, n_codes=64)
    ann = similarity.pq_topk_rerank(emb, q, books, k=10)
    return _certify_recall(emb, q, ann, floor=7)


@query
def ann_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized retrieval: sign-pack each 64-dim vector into two
    32-bit words (32x compression) and rank by Hamming distance —
    popcount over XOR, pure codegen integer arithmetic. Unlike the
    LSH/IVF/PQ entries this needs NO recall floor: the whole ranking is
    exact integers, so the DuckDB dual reproduces it bit-for-bit.
    Completes the compression ladder: int8, MRL, PQ, binary.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir)
    return similarity.hamming_topk(emb, q, k=10).orderBy("query_id", "rank")


@query
def embedding_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via OR-amplified LSH + exact verify.

    The synthetic embeddings are near-orthogonal (max pairwise cosine ≈0.51
    at sf0.01), so the threshold targets the top of that distribution — the
    regime where single-table sign-LSH recall collapses (~7%). 32 tables of
    3 planes push per-pair recall to ~99.99%, at the n^(1+rho) candidate
    cost OR-amplification pays near the similarity bulk.

    Oracle-certified against the exhaustive all-pairs dual: the exact-cosine
    verify stage guarantees output ⊆ truth, and with seeded planes the
    candidate set is deterministic — at sf0.01 recall is exhaustive (14/14),
    so the result set equals the oracle's exactly. This is the scale path
    (bucketed self-join, no all-pairs scan); the quadratic
    ``embedding_near_duplicates_exact`` below is the truth-set generator.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_duplicates(
        emb, threshold=0.45, n_planes=3, n_tables=32
    ).orderBy("id_a", "id_b")


@query
def embedding_near_duplicates_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs by blocked BLAS matmul (exact).

    At a moderate threshold no LSH family beats n^(1+rho) candidates, so
    the scale-correct plan accepts the quadratic pair count and pays it at
    BLAS speed: block-pair cogroups, one (bi, dim) @ (dim, bj) matmul per
    Arrow batch, replication factor n_blocks. Exact by construction —
    the DuckDB dual is the literal exhaustive cross join.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_all_pairs_above(emb, threshold=0.45).orderBy(
        "id_a", "id_b"
    )


# --- multimodal -------------------------------------------------------------


@query
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode plumbing over synthesized binary
    payloads (deterministic fake decoder — codecs absent here; rows-only)."""
    docs = load_documents(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.encode(F.col("text"), "utf-8").alias("content")
    )
    return multimodal.extract_image_features(media).orderBy("content_id")


@query
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio twin of the image-feature plumbing (same mapInPandas shape)."""
    docs = load_documents(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.encode(F.col("text"), "utf-8").alias("content")
    )
    return multimodal.extract_audio_features(media).orderBy("content_id")

@query
def text_normalization_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Casefold/punct-strip/whitespace-collapse normalization as a dedup
    pre-pass: distinct raw texts vs distinct normalized texts in one row."""
    docs = load_documents(spark, sf_dir)
    return docs.agg(
        F.countDistinct("text").alias("distinct_raw"),
        F.countDistinct(text.normalize_text(F.col("text"))).alias("distinct_normalized"),
    )


@query
def text_normalized_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document normalized content key (md5 of the canonical form)."""
    docs = load_documents(spark, sf_dir)
    return docs.select(
        "doc_id", F.md5(text.normalize_text(F.col("text"))).alias("norm_key")
    ).orderBy("doc_id")


@query
def text_sentence_split_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF in a LATERAL join: per-document sentence explosion."""
    from ..session import register_views

    register_views(spark, sf_dir)
    spark.udtf.register("split_sentences", text.make_sentence_splitter_udtf())
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence, s.n_words
        FROM documents d, LATERAL split_sentences(d.text) s
        ORDER BY d.doc_id, s.sentence
        """
    )


@query
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction battery (email / phone / SSN).

    The synthetic corpus is PII-free, so the query plants deterministic
    PII derived from ``doc_id`` (every 2nd row an email, 3rd a phone,
    5th an SSN) and then counts + redacts it — the oracle replays the
    same injection, so the hash certifies the regex semantics end to
    end. All JVM-side codegen regex passes: one projection, no shuffle,
    linear at 100 TB.
    """
    docs = load_documents(spark, sf_dir)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" call 555-123-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" ssn 987-65-4321")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    counts = text.pii_counts(F.col("text"))
    return planted.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ssn"].alias("n_ssn"),
        text.redact_pii(F.col("text")).alias("redacted"),
    ).orderBy("doc_id")


@query
def text_repetition_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition / degeneracy signals per document.

    Duplicate word-n-gram fraction (n=2,3), distinct-word ratio, and the
    token-frequency concentration of the most common word — the standard
    boilerplate / looping-generation filters in training-data curation.
    Single projection over one scan; no shuffle.
    """
    docs = load_documents(spark, sf_dir)
    toks = text.tokens(F.col("text"))
    top_word_count = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda w: F.size(F.filter(toks, lambda t: t == w)),
        )
    )
    return docs.select(
        "doc_id",
        F.round(text.duplicate_ngram_fraction(F.col("text"), 2), 4).alias(
            "dup_2gram_frac"
        ),
        F.round(text.duplicate_ngram_fraction(F.col("text"), 3), 4).alias(
            "dup_3gram_frac"
        ),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 4).alias(
            "distinct_word_ratio"
        ),
        F.round(top_word_count / F.size(toks), 4).alias("top_word_frac"),
    ).orderBy("doc_id")


@query
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vector: posexplode -> (label, pos) mean -> ordered
    reassembly. The distributed form of an element-wise vector aggregate —
    the shuffle key is (label, position), so width scales with dim x labels,
    never with corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "component")
    )
    means = exploded.groupBy("label", "pos").agg(
        F.round(F.avg(F.col("component").cast("double")), 6).alias("mean_c")
    )
    return (
        means.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("mean_c")))
                ),
                lambda s: s.mean_c,
            ).alias("centroid")
        )
        .select(
            "label",
            F.size("centroid").alias("dim"),
            F.round(F.aggregate("centroid", F.lit(0.0), lambda a, x: a + x * x), 6).alias(
                "centroid_sq_norm"
            ),
        )
        .orderBy("label")
    )


@query
def pipeline_curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation flow in one composable chain:

    normalize → exact dedup (on normalized content) → MinHash near-dup
    clustering (keep one doc per cluster) → quality floor → deterministic
    train/valid/test split. Output: (doc_id, quality, split) of the
    surviving corpus — what a 100 TB curation job materializes.

    The DuckDB dual reuses each stage's single-operator SQL, so the
    composition is hash-checked; every component operator is also
    individually oracle-checked or pytest-pinned elsewhere, and the
    composition invariants (no dup survives, floor holds, splits total)
    are pytest-asserted.
    """
    from ..operators import sampling
    from ..operators.dedup import exact_dedup, near_duplicate_clusters

    docs = load_documents(spark, sf_dir).withColumn(
        "norm_text", text.normalize_text(F.col("text"))
    )
    exact_unique = exact_dedup(docs, "norm_text", "doc_id")
    keeps = near_duplicate_clusters(
        exact_unique, "norm_text", "doc_id", threshold=0.5
    ).filter(F.col("keep"))
    survivors = exact_unique.join(keeps.select("doc_id"), "doc_id", "left_semi")
    scored = survivors.withColumn("quality", text.quality_score(F.col("text")))
    filtered = scored.filter(F.col("quality") >= 0.2)
    return sampling.hash_split(filtered, "doc_id").select(
        "doc_id", F.round("quality", 4).alias("quality"), "split"
    )


@query
def events_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares trend of event values over time — grouped-map
    ``applyInPandas``: each user's history arrives as ONE Arrow batch and a
    numpy polyfit runs vectorized per group. The escape hatch for per-group
    algorithms with no relational form; the shuffle is the same single
    exchange any groupBy pays (rows-only: float regression cross-engine).
    """
    import pandas as pd

    from ..session import load_table

    events = load_table(spark, sf_dir, "events")

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        t = pdf["ts"].astype("int64") / 1e9
        t = (t - t.min()) / 3600.0  # hours since first event
        if len(pdf) < 2 or t.nunique() < 2:
            slope = 0.0
        else:
            slope = float(np.polyfit(t, pdf["value"], 1)[0])
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(pdf)],
                "value_slope_per_hour": [round(slope, 6)],
            }
        )

    out_schema = "user_id long, n_events long, value_slope_per_hour double"
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(fit, out_schema)
    )


@query
def streaming_availablenow_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible certification of the reference's core streaming
    surface (STREAM:45-232): envelope landing files -> ``readStream`` ->
    envelope parse (S5-S7) -> watermarked dedup (T2) -> checkpointed
    append sink (S8/T3), drained with ``availableNow`` and the sink read
    back. Planted duplicates (every 3rd shipped record emitted twice) make
    the dedup load-bearing: if it ever regressed, the row count would beat
    the oracle's DISTINCT-by-key and the parity row would go red.

    Oracle: the same every-20th-event subset straight off the parquet —
    the round-trip through the wire format and the stream must be lossless.
    """
    from ..streaming import pipeline as streaming_pipeline

    out = streaming_pipeline.availablenow_events_roundtrip(
        spark, sf_dir, _work_dir(sf_dir, "_streaming_row")
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        "ts_us",
        F.round("value", 2).alias("value"),
    ).orderBy("event_id")


# --- training-data layout (packing / chunking / keyword extraction) ---------


@query
def pack_sequences_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: documents concatenated in doc_id order
    and split into 2048-token context windows at token granularity.

    The global prefix sum runs as a two-phase distributed scan (per-block
    running sums + broadcast block offsets — see ``operators/packing.py``),
    never as a single global-order window, so the plan survives 100 TB.
    """
    from ..operators import packing

    docs = load_documents(spark, sf_dir)
    sized = docs.select("doc_id", text.token_count(F.col("text")).alias("n_tokens"))
    return packing.pack_sequences(
        sized, size_col="n_tokens", order_col="doc_id", budget=2048
    ).orderBy("doc_id")


@query
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping character chunks (size 256, stride 192) via
    codegen'd sequence+explode fan-out; rows carry offset, realized length,
    and content digest."""
    from ..operators import packing

    docs = load_documents(spark, sf_dir)
    return packing.chunk_sliding(
        docs, text_col="text", id_col="doc_id", size=256, stride=192
    ).orderBy("doc_id", "chunk_start")


@query
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword scores: document frequency over the FULL
    corpus, term frequency over an audited 1%-of-docs slice (doc_id % 100).

    The TF side joins DF on ``term`` with NO forced broadcast: tf is
    corpus-derived (1% of docs' token groups — unbounded at 100 TB), so the
    broadcast-vs-shuffle choice belongs to AQE's runtime size check; the
    scale-safe default is the term-keyed shuffle join. Both aggregations
    are partial-agg friendly; idf = ln(N/df) with N delivered by a
    broadcast 1-row agg, never a driver round-trip.
    """
    docs = load_documents(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("term"))
    dfreq = (
        toks.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    tf = (
        toks.filter(F.col("doc_id") % 100 == 0)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .filter(F.col("tf") >= 2)
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        dfreq.join(tf, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "doc_freq",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("doc_freq")), 4
            ).alias("tfidf"),
        )
        .orderBy("doc_id", "term")
    )


@query
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: Arrow-batched container probe (duration)
    -> sequence/explode frame timestamps every 5 s. The per-frame decode
    would join back on (content_id, frame_ts_ms); the probe uses the
    deterministic stand-in decoder (codecs absent here), which gives the
    whole pipeline an exact digest-derived SQL dual."""
    docs = load_documents(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    meta = multimodal.extract_video_metadata(media)
    return multimodal.sample_video_frames(meta, every_ms=5000).orderBy(
        "content_id", "frame_ts_ms"
    )


@query
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per near-duplicate cluster: MinHash
    pairs -> connected components -> keep the longest text (doc_id as the
    deterministic tie-break). The keep-best rule is what production dedup
    actually ships — ``keep = cluster min`` is only a placeholder ranking.
    """
    docs = load_documents(spark, sf_dir)
    labeled = dedup.near_duplicate_clusters(docs, "text", "doc_id", threshold=0.3)
    scored = labeled.join(
        docs.select("doc_id", F.length("text").cast("long").alias("quality")),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias(
                "canonical_doc_id"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("quality"))).alias(
                "canonical_len"
            ),
        )
        .orderBy("cluster_id")
    )


@query
def dedup_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: corpus docs sharing a word 5-gram with the
    eval set (every 50th document stands in for a held-out benchmark).

    The eval n-gram table is tiny and *broadcast*; corpus bytes never
    shuffle — the only exchange carries matched (doc_id, ngram) rows into
    the final count. Flags the eval docs themselves (exact leakage) plus
    any near-duplicate that shares one interior n-gram, which is exactly
    the overlap-based decontamination contract.
    """
    docs = load_documents(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    return dedup.ngram_contamination(docs, ev, "text", "doc_id", n=5).orderBy(
        "doc_id"
    )


# --- vector compression, two-stage retrieval, layout ----------------------


def _work_dir(sf_dir: str, name: str) -> str:
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return os.path.join(
        repo_root, "spark-warehouse", name, sf_dir.strip("/").replace("/", "_")
    )


@query
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension symmetric int8 quantization of the embedding store —
    the 4x compression an ANN index applies before sharding at 100 TB.

    Two aggregation passes: per-dimension max-abs (output is dim-bounded,
    so broadcasting it back is safe at any corpus size), then a map-side
    join + projection. Long (vec_id, pos, code) form keeps the oracle
    exact: round-half-away-from-zero over float64 is bit-identical in
    Spark and DuckDB.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.quantize_int8_longform(emb).orderBy("vec_id", "pos")


@query
def embedding_truncate_renormalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension truncation: keep the first 16 of 64
    dims, re-L2-normalize, and report per-vector energy retained
    (||v[:16]||² / ||v||²) plus the renormalized first component — the
    projection an MRL-trained embedding store applies to trade recall for
    a 4x smaller ANN index before sharding. Narrow map-side arithmetic on
    fixed-length arrays: no shuffle, no UDF; both engines left-fold the
    same 16/64-element sums, so the dual is exact under round(6).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    ss = lambda arr: F.aggregate(  # noqa: E731 — local fold shorthand
        arr, F.lit(0.0), lambda acc, x: acc + x * x
    )
    v16 = F.slice(v, 1, 16)
    return (
        emb.select(
            "vec_id",
            F.round(ss(v16) / ss(v), 6).alias("energy_retained_16"),
            F.round(
                F.element_at(v16, 1) / F.sqrt(ss(v16)), 6
            ).alias("first_component_renormed"),
        )
        .orderBy("vec_id")
    )


@query
def ann_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: coarse int-quantized scoring -> top-50
    candidates per query -> exact float cosine rerank -> top-10.

    The production ANN serving shape: the expensive full-precision rerank
    touches only queries x 50 rows, never the corpus. Both stages rank on
    engine-exact values with vec_id tie-breaks, so the composed pipeline
    (including which candidates survive stage 1) is certified by an exact
    DuckDB dual.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.two_stage_rerank(
        emb, _query_vectors(spark, sf_dir), k=10, k_coarse=50
    ).orderBy("query_id", "rank")


@query
def layout_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction round-trip: documents -> 64-file JSON landing
    zone (the reference's flush.size=1 pathology, bounded) -> explicit-
    schema read -> bucket-partitioned parquet with one file per bucket.

    The returned per-bucket digest (md5-derived content hash summed mod a
    prime) certifies the JSON round-trip and compaction were lossless —
    any dropped, duplicated, or corrupted row moves some bucket's digest.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    docs = load_documents(spark, sf_dir).select("doc_id", "text")
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    compacted, _, _ = layout.compact_small_files(
        spark,
        docs,
        _work_dir(sf_dir, "_compaction"),
        bucket_col=(F.col("doc_id") % 4).cast("int"),
        schema=schema,
    )
    return (
        compacted.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.sum(text.stable_hash64(F.col("text")) % F.lit(1_000_000_007)).alias(
                "content_digest"
            ),
        )
        .orderBy("bucket")
    )


@query
def streaming_upsert_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed streaming upsert oracle-checked: events -> wire
    envelopes -> readStream -> foreachBatch MERGE into a parquet table
    keyed by user_id (latest event wins, event-time + event_id order) ->
    final table read back.

    The engine-native equivalent of a Delta streaming MERGE sink; the
    oracle is the per-user row_number()=1 over the same slice, so the row
    goes red if the merge ever keeps a stale record, drops a user, or
    duplicates a key.
    """
    from ..streaming import pipeline as streaming_pipeline

    out = streaming_pipeline.availablenow_upsert_roundtrip(
        spark, sf_dir, _work_dir(sf_dir, "_streaming_upsert")
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("ts_us").alias("last_ts_us"),
        F.round("value", 2).alias("last_value"),
    ).orderBy("user_id")


@query
def streaming_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized view oracle-checked: events in
    two file batches -> update-mode streaming aggregation -> keyed upsert
    sink; the maintained table must equal the oracle's whole-table
    GROUP BY. The 100 TB replacement for nightly full recomputes — each
    trigger touches only the keys the new files changed.
    """
    from ..streaming import pipeline as streaming_pipeline

    out = streaming_pipeline.availablenow_incremental_rollup(
        spark, sf_dir, _work_dir(sf_dir, "_streaming_mv")
    )
    return out.select(
        "day",
        "event_type",
        "event_count",
        F.round(F.col("value_cents") / 100.0, 2).alias("value_sum"),
    ).orderBy("day", "event_type")


@query
def streaming_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_funnel_steps``, certified from the
    driver: events replayed as two event-time-ordered file batches through
    the ``applyInPandasWithState`` funnel operator (O(1) state per user:
    three epoch-nano longs) and the keyed upsert sink; the converged
    per-user first-times table rolls up through the SAME presentation
    edge as the batch funnel, and the oracle is the batch funnel's SQL
    dual — a green row certifies incremental == recompute.
    """
    from ..streaming import pipeline as streaming_pipeline
    from .relational import funnel_steps_rollup

    per_user = streaming_pipeline.availablenow_funnel_steps(
        spark, sf_dir, _work_dir(sf_dir, "_streaming_funnel")
    )
    return funnel_steps_rollup(per_user)


@query
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed daily value per event type: a time-decayed
    rollup (the trending/decayed-popularity metric of feed ranking and
    ops dashboards), EWMA with alpha = 1/2 over a 20-day horizon.

    alpha = 1/2 is chosen deliberately: the weights 2^-k are exact dyadic
    doubles and the weighted sum of integer cents stays under 53 mantissa
    bits, so the float arithmetic is BIT-EXACT in any IEEE engine — a
    decayed aggregate with an exact oracle, no bound needed. Magnitude
    precondition for that exactness: total cents per (event_type, 20-day
    band) x 2^19 must stay under 2^53 (~$170M of value per window);
    beyond it, double rounding makes the sum order-dependent and the
    cross-engine hash could flicker — fold per-day partials in a
    canonical order before dividing if a deployment ever nears that. The decayed
    sum is a (day x day) band self-join on the tiny daily rollup
    (days x types rows, broadcast), never on raw events: at 100 TB the
    decay pass costs days^2 x types trivial rows after one partial-agg
    shuffle of the events.
    """
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.withColumn("day", F.to_date(F.date_trunc("day", F.col("ts"))))
        .groupBy("day", "event_type")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
        )
    )
    a = daily.select(
        F.col("event_type"), F.col("day").alias("day_a")
    ).distinct()
    b = daily.select(
        F.col("event_type"), F.col("day").alias("day_b"), "cents"
    )
    diff = F.datediff(F.col("day_a"), F.col("day_b"))
    return (
        a.join(F.broadcast(b), "event_type")
        .filter((diff >= 0) & (diff <= 19))
        .groupBy("event_type", "day_a")
        .agg(
            F.round(
                F.sum(F.col("cents") * F.pow(F.lit(0.5), diff)) / 100.0, 4
            ).alias("ewma_value")
        )
        .select(F.col("event_type"), F.col("day_a").alias("day"), "ewma_value")
        .orderBy("event_type", "day")
    )


def pattern_match_journeys(events: DataFrame, cap: int = 512) -> DataFrame:
    """Event-sequence pattern matching (the MATCH_RECOGNIZE idiom
    expressed relationally): each user's events collapse to an ordered
    initial-letter string (deterministic (ts, event_id) order) and a
    regex detects the ordered view->click->purchase journey — arbitrary
    sequence patterns for the cost of ONE shuffle on user_id.

    Per-key state is BOUNDED, part of the operator contract: only the
    first ``cap`` events per user (in (ts, event_id) order) enter the
    sequence, selected by a ``row_number`` window BEFORE any collection —
    the window's sort-based shuffle spills to disk under skew, and the
    downstream ``collect_list`` buffer holds at most ``cap`` single-char
    entries per group, so a bot/power-user key with tens of millions of
    events can no longer concentrate one task's memory (the classic
    skewed collect_list failure). Users past the cap complete with
    ``overflowed = true`` and the match evaluated on the capped prefix;
    ``n_events`` stays the TRUE total. The window and the aggregate hash
    on the same key, so Catalyst reuses one exchange. The DuckDB dual is
    the identically-capped ordered string_agg + the same regex.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_all = Window.partitionBy("user_id")
    # n_events BEFORE the rank so the rn <= cap filter sits directly above
    # the row_number window — Catalyst then inserts WindowGroupLimit(cap)
    # and rows past the cap drop before the rank window buffers them
    capped = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("n_events", F.count(F.lit(1)).over(w_all))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
    )
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("ts"),
                F.col("event_id"),
                F.substring("event_type", 1, 1).alias("c"),
            )
        )
    )
    seq = F.array_join(F.transform(ordered, lambda s: s["c"]), "")
    return (
        capped.groupBy("user_id")
        .agg(seq.alias("seq"), F.max("n_events").cast("long").alias("n_events"))
        .select(
            "user_id",
            "n_events",
            F.regexp_like(F.col("seq"), F.lit("v.*c.*p")).alias("converted"),
            (F.col("n_events") > F.lit(cap)).alias("overflowed"),
        )
        .orderBy("user_id")
    )


@query
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped relational MATCH_RECOGNIZE over events: one row per user
    with the true event count, the view->click->purchase match flag on
    the first-512-events prefix, and the overflow marker (false at every
    test SF — max 99 events/user at sf0.1; the cap is the 100 TB
    skew guard, pytest-planted past it). See ``pattern_match_journeys``.
    """
    return pattern_match_journeys(load_table(spark, sf_dir, "events"), cap=512)


@query
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user (ordered by ts with event_id tie-breaks) — the
    user-journey transition matrix behind funnel design and anomaly
    detection. One window pass + one bounded (types x types) aggregate.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


@query
def streaming_cms_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained count-min sketch over events.user_id,
    certified exactly: two availableNow drains maintain the 4x256 cell
    table through update-mode streaming aggregation + the keyed upsert
    sink (CMS cells merge by per-cell addition — precisely what
    aggregation state computes), then the ten heaviest users are point-
    estimated from the STREAMED cells. The oracle rebuilds the identical
    sketch in SQL over the whole table, so a green row certifies
    incremental == recompute bit-for-bit — the sketch twin of
    ``streaming_incremental_rollup``, with state bounded at 1024 keys
    however large the stream.
    """
    from ..operators import sketches
    from ..streaming import pipeline as streaming_pipeline

    cells = streaming_pipeline.availablenow_cms_rollup(
        spark, sf_dir, _work_dir(sf_dir, "_streaming_cms")
    )
    events = load_table(spark, sf_dir, "events")
    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    probes = exact.orderBy(F.desc("exact_count"), F.asc("user_id")).limit(10)
    est = sketches.cms_point_estimates(probes, cells, "user_id", depth=4, width=256)
    return (
        probes.join(est, "user_id")
        .select(
            "user_id",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") >= F.col("exact_count")).alias("overestimates"),
        )
        .orderBy("user_id")
    )


@query
def streaming_view_purchase_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join, oracle-checked:
    the watermarked two-stream attribution join (purchase within 1 hour
    of a view, both sides bounded to horizon + watermark of state) with
    the OUTER rows — views that never converted — emitted once their
    expiry passes the global watermark. Replayed as two event-time-
    ordered batches plus two-sided watermark heartbeats (see
    ``availablenow_attribution_outer``: the global watermark is the MIN
    across both branches, so the heartbeat must advance views AND
    purchases). The oracle is the plain batch LEFT JOIN dual — a green
    row certifies streaming outer emission == batch outer semantics,
    the inner join's dual having been certified by
    ``events_view_purchase_attribution``.
    """
    from ..streaming import pipeline as streaming_pipeline

    res = streaming_pipeline.availablenow_attribution_outer(
        spark, sf_dir, _work_dir(sf_dir, "_streaming_outer_join")
    )
    return res.select(
        "view_id", "purchase_id", "user_id", "lag_seconds", "purchase_value"
    ).orderBy("view_id", "purchase_id")


@query
def csv_roundtrip_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest with explicit schema + PERMISSIVE corrupt-record DLQ:
    documents round-trip through CSV, 7 planted type-violating lines land
    in ``_corrupt_record``, and the one-row summary accounts for every
    line: valid count + content digest must match the source exactly,
    corrupt count must equal the planted 7.

    The schema-checked CSV twin of the JSON envelope DLQ (S1's
    schema.compatibility=NONE landing made explicit): no inference pass,
    malformed rows quarantined instead of silently nulled or dropped.

    The summary aggregates over EVERY schema column deliberately: Spark's
    CSV reader parses only the pruned required schema, so a type violation
    in an unreferenced column would go undetected and the row would pass
    as valid — the corrupt-record contract only covers columns the query
    actually reads. Touching all of them makes the DLQ accounting total.
    """
    import shutil

    work = _work_dir(sf_dir, "_csv_roundtrip")
    if os.path.exists(work):
        shutil.rmtree(work)
    docs = load_documents(spark, sf_dir).select("doc_id", "text", "n_chars")
    # writer/reader options are SYMMETRIC so any text survives the
    # round-trip byte-exact: escape='"' + multiLine=True carries embedded
    # newlines through quoted fields, and the distinct nullValue/emptyValue
    # sentinels keep NULL text and empty-string text distinguishable
    # (default options silently read empties back as NULL). multiLine
    # reads split per-file instead of per-block — fine for a DLQ ingest
    # path whose parallelism is the file count.
    (
        docs.write.mode("overwrite")
        .option("escape", '"')
        .option("nullValue", "\\N")
        .option("emptyValue", '""')
        .csv(work)
    )
    # plant the corruption with a driver-side write: 7 lines of test
    # scaffolding don't justify a Spark job
    with open(os.path.join(work, "part-99999-planted-bad.csv"), "w") as f:
        for i in range(7):
            f.write(f"not_a_number_{i},planted corruption,xx\n")
    read = (
        spark.read.schema(
            "doc_id long, text string, n_chars long, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("multiLine", True)
        .option("escape", '"')
        .option("nullValue", "\\N")
        .option("emptyValue", "")
        .csv(work)
    )
    valid = F.col("_corrupt_record").isNull()
    return read.agg(
        F.sum(F.when(valid, 1).otherwise(0)).cast("long").alias("n_valid"),
        F.sum(F.when(valid, 0).otherwise(1)).cast("long").alias("n_corrupt"),
        F.sum(
            F.when(valid, text.stable_hash64(F.col("text")) % F.lit(1_000_000_007))
        ).alias("content_digest"),
        F.sum(F.when(valid, F.col("n_chars"))).alias("sum_chars"),
        F.max(F.when(valid, F.col("doc_id"))).alias("max_doc_id"),
    )


@query
def sketch_mg_heavy_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters over documents.lang with k=3 counters —
    fewer counters than the 5-language domain, so the per-partition
    decrement path is actually exercised. Certified via the mergeable-
    summaries guarantee: every language with true frequency > n/(k+1)
    MUST appear in the merged summary (in_sketch) with an estimate
    underestimating by at most n/(k+1) (within_bound); the DuckDB dual
    computes the same exact heavy set and states both invariants as
    literal TRUE. The corpus's 'en' share (~40%) clears the 25% threshold
    at every SF, so the certification is never vacuous.
    """
    from ..operators import sketches

    docs = load_documents(spark, sf_dir)
    k = 3
    summary = sketches.misra_gries_summary(docs, "lang", k=k)
    exact = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("exact_count"))
    total = docs.agg(F.count(F.lit(1)).alias("n"))
    heavy = exact.crossJoin(F.broadcast(total)).filter(
        F.col("exact_count") > F.col("n") / (k + 1)
    )
    return (
        heavy.join(
            summary.withColumnRenamed("item", "lang"), "lang", "left"
        )
        .select(
            "lang",
            "exact_count",
            F.col("est_count").isNotNull().alias("in_sketch"),
            (
                (F.col("exact_count") - F.coalesce(F.col("est_count"), F.lit(0))
                 <= F.col("n") / (k + 1))
                & (F.coalesce(F.col("est_count"), F.lit(0))
                   <= F.col("exact_count"))
            ).alias("within_bound"),
        )
        .orderBy("lang")
    )


@query
def sketch_cms_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over lineitem.l_partkey (depth 4 x width 256),
    probing the 10 most-ordered parts. The key domain (thousands of
    parts) far exceeds the 256-bucket width, so collisions are real and
    the min-over-depth actually resolves them. All hashes are
    md5-derived, so the DuckDB dual rebuilds the identical sketch and the
    ESTIMATES themselves certify exactly — no literal-TRUE invariant.
    Scale shape: the cell table is <= 1024 rows regardless of input size
    (map-side partial agg does the compression) and broadcasts into the
    probe join.
    """
    from ..operators import sketches

    li = load_table(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("exact_count"))
    cells = sketches.cms_cells(
        exact, "l_partkey", weight_col="exact_count", depth=4, width=256
    )
    probes = exact.orderBy(F.desc("exact_count"), F.asc("l_partkey")).limit(10)
    est = sketches.cms_point_estimates(probes, cells, "l_partkey", depth=4, width=256)
    return (
        probes.join(est, "l_partkey")
        .select(
            "l_partkey",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") >= F.col("exact_count")).alias("overestimates"),
        )
        .orderBy("l_partkey")
    )


@query
def join_dpp_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: lineitem laid out partitioned by
    l_returnflag, joined to a tiny handling-class dimension filtered on a
    NON-partition attribute — so static pruning can't apply and Catalyst
    must inject a runtime ``dynamicpruningexpression`` into the fact
    scan's PartitionFilters (plan-contract pinned). At 100 TB this is the
    difference between scanning 1 of N partition trees and scanning all
    of them whenever the selective predicate lives on the dimension, the
    canonical star-schema shape.
    """
    work = _work_dir(sf_dir, "_dpp_lineitem")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )
    lineitem.write.partitionBy("l_returnflag").mode("overwrite").parquet(work)
    fact = spark.read.parquet(work)
    dim = spark.createDataFrame(
        [("R", "refund"), ("A", "keep"), ("N", "keep")],
        "returnflag string, handling_class string",
    )
    joined = fact.join(dim, fact.l_returnflag == dim.returnflag).filter(
        dim.handling_class == "refund"
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


@query
def dedup_simhash_exact_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall floor for the xxhash64 SimHash variant, driver-certifiable as
    a POSITIVE assertion: identical texts have identical signatures
    (Hamming 0), so every exact-duplicate pair in the corpus MUST appear in
    the near-dup output. The natural corpus may contain zero exact-dup
    pairs at small SFs (sf0.01 has none), which would let the invariant
    certify via an empty result — the weakest possible green — so the
    query PLANTS 50 deterministic duplicates (the 50 lowest doc_ids,
    re-keyed at +10M) before running simhash. The single output row
    ``(n_expected_pairs, n_found, n_missed)`` then has
    ``n_expected_pairs >= 50`` at every SF; the DuckDB dual computes the
    same pair count and states ``n_found = n_expected, n_missed = 0`` as
    the recall invariant. The pair LIST from simhash stays rows-only
    (bucket hashes are engine-specific) — this certifies the invariant
    that matters without it.
    """
    docs = load_documents(spark, sf_dir).select("doc_id", "text")
    corpus = _planted_dup_corpus(docs)
    found = dedup.simhash_near_duplicates(
        corpus, "text", "doc_id", max_distance=10
    ).select("id_a", "id_b", F.lit(True).alias("_hit"))
    exact_pairs = _exact_dup_pairs(corpus)
    return exact_pairs.join(found, ["id_a", "id_b"], "left").agg(
        F.count(F.lit(1)).cast("long").alias("n_expected_pairs"),
        F.sum(F.when(F.col("_hit"), 1).otherwise(0)).cast("long").alias("n_found"),
        F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missed"),
    )


@query
def pandas_grouped_agg_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG Pandas UDF — the remaining Arrow-vectorized UDF flavor
    (grouped map and mapInPandas are covered elsewhere): a value-weighted
    mean price per order priority, computed as a custom aggregate over
    Arrow batches. Partial aggregation does NOT apply to grouped-agg
    Python UDFs (whole groups ship to the Python worker), which is why
    the core path avoids them — this query documents the API and its
    cost model; the exact SQL dual is sum(xw)/sum(w).

    Inputs are quantized to integer cents before the weighted sum, so the
    pandas-side pairwise summation and the SQL dual's scan-order summation
    are the SAME exact int64 sum — no float sum-order knife-edge, one
    float division + one rounding site on each engine. Series-to-scalar
    type hints are the current pandas_udf spelling (the string
    ``PandasUDFType.GROUPED_AGG`` form is deprecated in Spark 4).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wmean(price: pd.Series, qty: pd.Series) -> float:
        cents = (price * 100).round().astype("int64")
        q = qty.round().astype("int64")
        return float(int((cents * q).sum()) / int(q.sum()) / 100.0)

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).select("o_orderpriority", "l_extendedprice", "l_quantity")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.round(
                wmean(F.col("l_extendedprice"), F.col("l_quantity")), 4
            ).alias("weighted_mean_price")
        )
        .orderBy("o_orderpriority")
    )


@query
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: an old batch (doc_id, text) and an evolved
    batch (+lang, +n_chars) read together with ``mergeSchema`` — the
    lakehouse append-with-new-columns path (the reference's landing zone
    declares ``schema.compatibility=NONE``, IMPL:72, i.e. drift happens;
    this is the read-side contract for surviving it). Old rows surface the
    new columns as NULL; no rewrite of historical files.
    """
    import shutil

    work = _work_dir(sf_dir, "_schema_evo")
    if os.path.exists(work):
        shutil.rmtree(work)
    docs = load_documents(spark, sf_dir)
    v1 = os.path.join(work, "v1")
    v2 = os.path.join(work, "v2")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text").write.parquet(v1)
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", "lang", "n_chars"
    ).write.parquet(v2)
    merged = spark.read.option("mergeSchema", "true").parquet(v1, v2)
    return merged.select("doc_id", "text", "lang", "n_chars").orderBy("doc_id")


@query
def quality_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy table checksum: one order-insensitive digest row over
    orders' stable columns (md5-derived row hash summed mod a prime, plus
    count). The replication-audit primitive — two sides of a copy job
    compare one row instead of the table; any changed/dropped/duplicated
    row moves the digest. Map-side partial agg, no shuffle of row data.
    """
    orders = load_table(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
    )
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(text.stable_hash64(canon) % F.lit(1_000_000_007)).alias("table_digest"),
    )


@query
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: per-document mean log
    probability under the corpus's own unigram distribution — the cheap
    statistical fluency filter (low scores = rare-token noise).

    Two corpus aggregations (term frequencies, total count) feed a
    term-keyed join back onto the token stream — NO forced broadcast of
    the vocabulary (corpus-derived; AQE decides, the tfidf lesson), only
    the 1-row total is broadcast. All arithmetic is double + ln with a
    terminal round(4), far above cross-engine libm ulp differences.
    """
    docs = load_documents(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("term"))
    freqs = toks.groupBy("term").agg(F.count(F.lit(1)).alias("term_count"))
    total = toks.agg(F.count(F.lit(1)).alias("total_count"))
    return (
        toks.join(freqs, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("term_count").cast("double") / F.col("total_count"))),
                4,
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# --- bloom prefilter, KMV sketch, prefix clusters, CDC apply, streaks,
# --- drift -----------------------------------------------------------------


@query
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered selective join, certified bit-for-bit: the
    custkeys holding a 1-URGENT order build a 16384-bit / 3-hash Bloom
    filter (md5-derived, engine-portable); every customer probes it
    map-side via the collected <=512-long word literal. Per market
    segment: customers, bloom passes, true members, false positives, and
    ``n_missed`` — members the filter rejected, which the Bloom superset
    guarantee pins at 0 (the oracle rebuilds the identical filter and
    must agree on every verdict, false positives included).

    The 100 TB story: the filter costs one bounded aggregate over the
    small side, and at scale it drops non-matching big-side rows BEFORE
    the join shuffle — the engine-portable twin of Spark's runtime bloom
    pruning, with the membership check in whole-stage codegen.
    """
    from ..operators import bloom

    m_bits, k_hashes = 16384, 3
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    dense = bloom.bloom_words_literal(
        bloom.bloom_build(urgent, "o_custkey", m_bits, k_hashes), m_bits
    )
    flagged = customer.join(
        F.broadcast(urgent.select(F.col("o_custkey").alias("c_custkey"))
                    .withColumn("is_member", F.lit(True))),
        "c_custkey",
        "left",
    ).select(
        "c_mktsegment",
        F.coalesce("is_member", F.lit(False)).alias("is_member"),
        bloom.bloom_maybe_expr(F.col("c_custkey"), dense, m_bits, k_hashes).alias(
            "bloom_maybe"
        ),
    )
    as_int = lambda c: c.cast("int")  # noqa: E731
    return (
        flagged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(as_int(F.col("bloom_maybe"))).alias("n_bloom_pass"),
            F.sum(as_int(F.col("is_member"))).alias("n_members"),
            F.sum(as_int(F.col("bloom_maybe") & ~F.col("is_member"))).alias(
                "n_false_positives"
            ),
            F.sum(as_int(F.col("is_member") & ~F.col("bloom_maybe"))).alias(
                "n_missed"
            ),
        )
        .orderBy("c_mktsegment")
    )


@query
def sketch_kmv_distinct_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketches with union merge,
    certified EXACTLY: sketches over the two o_orderkey-parity halves of
    orders estimate each half's distinct custkeys, their k-smallest union
    estimates the union's distinct count without re-reading either side,
    and every estimate is an integer-hash-derived value the oracle
    reproduces bit-for-bit (no bound oracle needed — the md5 hash order
    is the same in both engines). Three rows: half_even / half_odd /
    union, each with the sketch estimate and the exact distinct count.
    """
    from ..operators import sketches

    k = 64
    orders = load_table(spark, sf_dir, "orders")
    even = orders.filter(F.col("o_orderkey") % 2 == 0)
    odd = orders.filter(F.col("o_orderkey") % 2 == 1)
    sk_even = sketches.kmv_sketch(even, "o_custkey", k=k)
    sk_odd = sketches.kmv_sketch(odd, "o_custkey", k=k)
    sk_union = sketches.kmv_merge(sk_even, sk_odd, k=k)

    def labeled(name: str, sketch, exact_src) -> DataFrame:
        exact = exact_src.agg(
            F.count_distinct(F.col("o_custkey")).alias("exact_distinct")
        )
        return (
            sketches.kmv_estimate(sketch, k)
            .crossJoin(exact)
            .select(
                F.lit(name).alias("half"),
                "n_sketch",
                "kmv_estimate",
                F.col("exact_distinct").cast("long"),
            )
        )

    return (
        labeled("half_even", sk_even, even)
        .unionByName(labeled("half_odd", sk_odd, odd))
        .unionByName(labeled("union", sk_union, orders))
        .orderBy("half")
    )


@query
def dedup_prefix_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection by shared leading context: documents
    whose first 20 whitespace tokens are identical cluster together (the
    cheap first pass of near-dup mining — identical prefixes catch
    mirrored/templated pages before any shingling). One hash aggregate on
    the prefix string; emits clusters with >1 member as (canonical
    doc_id, cluster size, prefix length). At 100 TB the prefix is a
    20-token key — bounded bytes per row — so the shuffle carries short
    keys, not documents.
    """
    docs = load_documents(spark, sf_dir)
    pref = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 20), " ")
    return (
        docs.select(F.col("doc_id"), pref.alias("prefix"))
        .groupBy("prefix")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
        .select(
            "keep_doc_id", "n_docs", F.length("prefix").cast("long").alias("prefix_chars")
        )
        .orderBy("keep_doc_id")
    )


@query
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application (the consumer half of the snapshot-diff
    pair): orders replay as an ordered per-customer change feed —
    (o_orderdate, o_orderkey) order, status 'F' meaning DELETE, anything
    else an UPSERT of the order's total — and ``apply_changelog``
    materializes the final keyed state: latest op wins, keys whose last
    op deleted them vanish. WindowGroupLimit short-circuits everything
    past rank 1, so per-key state is O(1) however hot the key.
    """
    from ..operators import merge as merge_ops

    orders = load_table(spark, sf_dir, "orders")
    changes = orders.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_totalprice"),
    )
    final = merge_ops.apply_changelog(
        changes, ["o_custkey"], "op", ["o_orderdate", "o_orderkey"]
    )
    return final.select(
        "o_custkey",
        F.round("o_totalprice", 2).alias("last_price"),
        "n_changes",
    ).orderBy("o_custkey")


def user_streaks(events: DataFrame) -> DataFrame:
    """Gaps-and-islands core over any (user_id, ts) frame: distinct
    activity days -> the date-minus-row_number island key -> island
    sizes; per user: active days, streak count, longest streak.
    Module-level so the hot-key stress can drive it on a synthetic bot
    partition, mirroring pattern_match_journeys.

    The per-user window has unbounded-but-SPILLABLE sort state (unlike
    the collect_list pattern-match shape, there is no array
    aggregation state — row_number streams through the sorted
    partition), so a multi-million-day hot key completes; the stress
    test pins that.
    """
    days = events.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "island", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    sizes = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_days")
    )
    return sizes.groupBy("user_id").agg(
        F.sum("streak_days").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("streak_days").alias("longest_streak"),
    )


@query
def events_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive-active-day streaks (the retention/engagement
    metric DAU systems compute). Two aggregates and one window, ALL
    partitioned by user_id — a single key shuffle end to end, no global
    ordering anywhere. Core in :func:`user_streaks`.
    """
    return user_streaks(load_table(spark, sf_dir, "events")).orderBy("user_id")


@query
def quality_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring: the Population Stability Index of
    documents.n_chars between the two md5-hash halves of the corpus
    (reference vs current), binned at 64 chars capped to 9 bins, with
    add-one smoothing so empty bins stay finite. Emits PER-BIN terms —
    integer counts plus one ln each, rounded at a single site — rather
    than a cross-row float total, so no summation-order sensitivity
    exists anywhere (the repo's knife-edge discipline). Identical-corpus
    halves should sit near 0; a shifted ingest shows up as fat positive
    terms in the moved bins. Cost: one map-side bucket + one 9-bin
    aggregate per side.
    """
    from ..operators.sampling import uniform_hash

    n_bins = 9
    docs = load_documents(spark, sf_dir)
    side = (uniform_hash(F.col("doc_id"), "psi") % 2).alias("side")
    bin_ = F.least(F.floor(F.col("n_chars") / 64), F.lit(8)).cast("int").alias("bin")
    counts = (
        docs.select(side, bin_)
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("n_cur"),
        )
    )
    totals = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p = (F.col("n_ref") + 1).cast("double") / (F.col("t_ref") + n_bins)
    q = (F.col("n_cur") + 1).cast("double") / (F.col("t_cur") + n_bins)
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
        )
        .orderBy("bin")
    )


@query
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session assembly certified against batch semantics: the
    30-minute-gap ``session_window`` aggregate maintained across two
    availableNow drains (sessions spanning the batch boundary must merge
    in state) with append-mode exactly-once emission; the oracle is the
    batch gaps-and-islands rewrite with the same half-open >= gap
    boundary, so a green row certifies streaming sessionization ==
    batch sessionization on identical events. Completes the stateful
    streaming roster: rollup, funnel, CMS, stream-stream outer join,
    upsert, and now session windows.
    """
    from ..streaming import pipeline as streaming_pipeline

    out = streaming_pipeline.availablenow_session_rollup(
        spark, sf_dir, _work_dir(sf_dir, "_streaming_sessions")
    )
    return out.select(
        "user_id",
        F.date_format("session_start_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
        F.round(F.col("cents") / 100.0, 2).alias("session_value"),
    ).orderBy("user_id", "session_start")


@query
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the composed production vector index (FAISS ``IVF16,PQ8``
    shape): IVF coarse cells prune the scan to 4-of-16 cells, PQ-ADC
    scores the survivors from 8x64-code lookup tables inside whole-stage
    codegen, and only the 200-row-per-query shortlist touches a
    full-precision vector for the exact rerank. Certified through the
    shared recall edge at the IVF floor (>= 2 of 10 — the composition
    cannot beat its coarse stage on these near-orthogonal synthetic
    vectors; exact per-dataset overlaps pinned by pytest). At 100 TB the
    index artifact is (id, cell, 8 codes) — 16x smaller than the
    vectors — written partitioned by cell so query batches prune
    partitions.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir)
    centroids = similarity.train_ivf_centroids(emb, n_cells=16)
    books = similarity.train_pq_codebooks(emb, n_codes=64)
    ann = similarity.ivf_pq_topk(
        emb, q, centroids, books, k=10, n_probe=4, k_coarse=200
    )
    return _certify_recall(emb, q, ann, floor=2)


@query
def anomaly_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by median absolute deviation — the
    heavy-tail-safe twin of ``anomaly_zscore_events`` (mean/stddev are
    themselves dragged by the outliers they hunt; median/MAD have a 50%
    breakdown point). Per event type: median, MAD, and the count of
    values outside median +/- 3 * 1.4826 * MAD (the normal-consistency
    constant). Exact medians via the percentile/quantile_cont pair the
    engine already certifies; two type-key aggregates + one broadcast
    join back — types are tiny, values never leave their partitions
    twice.
    """
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("absdev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.max("med"), 4).alias("median_value"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(
                (F.col("absdev") > F.lit(4.4478) * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@query
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: 8-token shingles that appear
    in MORE THAN ONE document, ranked by document frequency — the
    template/navigation/licence-text finder that runs before near-dedup
    in web-scale curation (C4/RefinedWeb-style). explode -> one hash
    aggregate; the shuffle carries 8-token keys, doc frequency via
    count_distinct inside the same aggregate. Top 50.
    """
    docs = load_documents(spark, sf_dir)
    n = 8
    grams = F.expr(
        f"transform(slice(split(text, ' '), 1, size(split(text, ' ')) - {n - 1}),"
        f" (x, i) -> array_join(slice(split(text, ' '), i + 1, {n}), ' '))"
    )
    counts = (
        docs.filter(F.size(F.split(F.col("text"), " ")) >= n)
        .select("doc_id", F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(
            F.count_distinct("doc_id").alias("doc_freq"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("doc_freq") > 1)
    )
    return (
        counts.orderBy(F.desc("doc_freq"), F.desc("n_occurrences"), F.asc("ngram"))
        .limit(50)
        .select("ngram", F.col("doc_freq").cast("long"), F.col("n_occurrences").cast("long"))
    )


@query
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode with a DETERMINISTIC tie-break (highest count, then
    smallest value) — the reproducible form of the mode() aggregate,
    whose native implementations are tie-nondeterministic in both
    engines and therefore uncertifiable. count-aggregate + rank=1
    (WindowGroupLimit short-circuit), two partial-agg-friendly shuffles.
    """
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("n"), F.asc("o_orderstatus")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("modal_status"),
            F.col("n").alias("n_modal"),
        )
        .orderBy("o_orderpriority")
    )


@query
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU and rolling 7-day WAU per day — the engagement metrics pair.
    Rolling DISTINCT defeats window frames (distinct doesn't decompose
    over sliding windows), so the scale shape is: collapse events to
    distinct (day, user) pairs FIRST (one partial-agg shuffle — at
    100 TB this is the only pass over raw events), then EXPAND each pair
    to the exactly-7 anchor days it keeps a user active for
    (``explode(sequence(day, day+6))``) and count_distinct per anchor.

    Phrasing the expansion as a band join of the anchor list against the
    pairs compiles to a ``BroadcastNestedLoopJoin`` — D x |pairs| predicate
    evaluations, degrading linearly in the day horizon. The explode form
    emits a constant 7 rows per pair into a plain hash aggregate:
    horizon-independent, no BNLJ, and one shuffle fewer. Anchors with no
    same-day activity drop out in the inner join with DAU, exactly as the
    band join's anchor list did.
    """
    events = load_table(spark, sf_dir, "events")
    pairs = events.select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"), "user_id"
    ).distinct()
    dau = pairs.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    wau = (
        pairs.select(
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("anchor"),
            "user_id",
        )
        .groupBy("anchor")
        .agg(F.count_distinct("user_id").alias("wau_7d"))
    )
    return (
        dau.join(wau, dau["day"] == wau["anchor"])
        .select("day", F.col("dau").cast("long"), F.col("wau_7d").cast("long"))
        .orderBy("day")
    )


@query
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join with a staleness tolerance: each event picks
    the user's latest order on/before it, but matches older than 7 days
    are NULLED — the feature-store point-in-time lookup with a max-age
    guard (stale features are worse than missing ones). Same single
    union + per-key window shuffle as the unbounded as-of; the tolerance
    is a pure post-projection, costing nothing.
    """
    from ..operators.joins import asof_join

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    obs = events.select("event_id", "user_id", F.to_date("ts").alias("obs_date"))
    daily = (
        orders.withColumn("obs_date", F.to_date("o_orderdate"))
        .groupBy("o_custkey", "obs_date")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("day_spend"))
        .withColumn("order_date", F.col("obs_date"))
    )
    out = asof_join(
        obs,
        daily,
        on="obs_date",
        by=("user_id", "o_custkey"),
        value_cols=["order_date", "day_spend"],
    )
    fresh = F.datediff(F.col("obs_date"), F.col("order_date_asof")) <= 7
    return out.select(
        "event_id",
        "user_id",
        "obs_date",
        F.when(fresh, F.col("order_date_asof")).alias("order_date_recent"),
        F.when(fresh, F.col("day_spend_asof")).alias("day_spend_recent"),
    ).orderBy("event_id")


# --- quantile sketch, recall sweep, multi-draw sampling --------------------


@query
def sketch_tdigest_quantile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable t-digest quantile sketch, certified like the HLL merge:
    per-partition digests of l_extendedprice merged
    into one estimate, AND an independent merge tree (4 hash-bucket
    digests merged) — both must land within 0.05 rank error of each
    target quantile and within 0.02 rank of EACH OTHER. The oracle emits
    the exact quantile (the percentile/quantile_cont pair the engine
    already certifies) plus literal TRUE for each bound, so a green row
    certifies the mergeability property cross-engine; exact error
    (<0.01 rank observed) is pinned by pytest.

    Rank-space bounds on purpose: sketch floats never reach the parity
    hash — only exact quantiles (rounded at one site) and booleans.
    """
    from ..operators import sketches

    qs = [0.1, 0.5, 0.9, 0.99]
    lineitem = load_table(spark, sf_dir, "lineitem")
    vals = lineitem.select(F.col("l_extendedprice").cast("double").alias("v"))
    direct = sketches.tdigest_merged_quantiles(
        sketches.tdigest_partials(vals, "v"), qs
    )
    # independent merge tree: 4 deterministic hash buckets digested
    # separately, then merged — a DIFFERENT composition over the same
    # multiset, which is exactly what mergeability promises agrees
    bucketed = vals.withColumn(
        "bucket", (sampling.uniform_hash(F.col("v"), "tdsplit") % 4).cast("int")
    )
    merged = sketches.tdigest_merged_quantiles(
        sketches.tdigest_grouped_partials(bucketed, "bucket", "v").drop("bucket"),
        qs,
    )
    ests = direct.withColumnRenamed("est", "est_direct").join(
        merged.withColumnRenamed("est", "est_merged"), "q"
    )
    frac = (
        vals.crossJoin(F.broadcast(ests))
        .groupBy("q")
        .agg(
            (
                F.sum((F.col("v") <= F.col("est_direct")).cast("long"))
                / F.count(F.lit(1))
            ).alias("frac_direct"),
            (
                F.sum((F.col("v") <= F.col("est_merged")).cast("long"))
                / F.count(F.lit(1))
            ).alias("frac_merged"),
        )
    )
    qs_lit = F.array(*[F.lit(float(x)) for x in qs])
    exact = (
        vals.agg(F.percentile(F.col("v"), qs_lit).alias("p"))
        .select(F.posexplode("p").alias("i", "exact_raw"))
        .select(
            F.element_at(qs_lit, F.col("i") + 1).alias("q"),
            F.round("exact_raw", 2).alias("exact_q"),
        )
    )
    return (
        exact.join(frac, "q")
        .select(
            "q",
            "exact_q",
            (F.abs(F.col("frac_direct") - F.col("q")) <= 0.05).alias(
                "direct_rank_ok"
            ),
            (F.abs(F.col("frac_merged") - F.col("q")) <= 0.05).alias(
                "merged_rank_ok"
            ),
            (F.abs(F.col("frac_direct") - F.col("frac_merged")) <= 0.02).alias(
                "merge_agrees"
            ),
        )
        .orderBy("q")
    )


@query
def agg_tdigest_grouped_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped p95 via the two-level t-digest: values
    are digested MAP-SIDE per (partition, event_type), so the one shuffle
    on the group key carries ~2*delta centroids per partition instead of
    the key's whole value mass — the shape that survives a hot key at
    100 TB where exact grouped percentiles put every value of a key in
    one reducer. Certified in rank space: the digest p95 must sit within
    0.03 rank of 0.95 per group; the oracle emits each group's exact p95
    (quantile_cont dual) + literal TRUE. The exact aggregate here is the
    certification edge, not the operator under test.
    """
    from ..operators import sketches

    events = load_table(spark, sf_dir, "events")
    src = events.select("event_type", F.col("value").cast("double").alias("v"))
    parts = sketches.tdigest_grouped_partials(src, "event_type", "v")
    est = sketches.tdigest_grouped_quantile(parts, "event_type", 0.95)
    return (
        src.join(F.broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.percentile(F.col("v"), F.lit(0.95)), 4).alias("exact_p95"),
            (
                F.abs(
                    F.sum((F.col("v") <= F.col("est")).cast("long"))
                    / F.count(F.lit(1))
                    - 0.95
                )
                <= 0.03
            ).alias("rank_ok"),
        )
        .orderBy("event_type")
    )


@query
def sketch_tdigest_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED t-digest: the sketch twin of
    ``agg_weighted_median_price`` — centroid weights are native to the
    digest, so qty-weighted price quantiles cost the same mergeable
    one-pass sketch as unweighted ones, and this is the shape that
    answers "median price of the shipped VOLUME" at 100 TB without the
    exact operator's per-key sort. Certified both ways per return flag,
    the ``sketch_tdigest_quantile_bounds`` pattern in WEIGHTED rank
    space: the direct digest AND an independent 4-bucket merge tree must
    each land within 0.05 weighted rank of 0.5 against the exact
    weighted median's mass distribution, and within 0.02 of each other
    (mergeability). The emitted price/total are the EXACT operator's
    values (raw parquet double + integer sum) — sketch floats never
    reach the parity hash; exact error is pinned tighter by pytest.
    """
    from ..operators import sketches

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("v"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    direct = sketches.tdigest_grouped_quantile(
        sketches.tdigest_grouped_partials(li, "l_returnflag", "v", weight_col="qty"),
        "l_returnflag",
        0.5,
    ).withColumnRenamed("est", "est_direct")
    # independent merge tree: 4 deterministic hash buckets digested
    # separately per flag, then merged per flag — a different composition
    # over the same weighted multiset (what mergeability promises agrees)
    bucketed = li.withColumn(
        "_fb",
        F.concat_ws(
            "#",
            F.col("l_returnflag"),
            (sampling.uniform_hash(F.col("v"), "tdwsplit") % 4).cast("string"),
        ),
    )
    merged = (
        sketches.tdigest_grouped_quantile(
            sketches.tdigest_grouped_partials(bucketed, "_fb", "v", weight_col="qty")
            .withColumn("l_returnflag", F.split(F.col("_fb"), "#").getItem(0))
            .drop("_fb"),
            "l_returnflag",
            0.5,
        )
    ).withColumnRenamed("est", "est_merged")
    ests = direct.join(merged, "l_returnflag")
    fracs = (
        li.join(F.broadcast(ests), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            (
                F.sum(F.when(F.col("v") <= F.col("est_direct"), F.col("qty")).otherwise(0))
                / F.sum("qty")
            ).alias("frac_direct"),
            (
                F.sum(F.when(F.col("v") <= F.col("est_merged"), F.col("qty")).otherwise(0))
                / F.sum("qty")
            ).alias("frac_merged"),
        )
    )
    # exact weighted median, the reshaped agg_weighted_median_price plan:
    # distinct-price pre-aggregation, then the cumulative-weight window
    pre = li.groupBy("l_returnflag", "v").agg(F.sum("qty").alias("qty"))
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    exact = (
        pre.withColumn("cum", F.sum("qty").over(w_cum))
        .withColumn("tot", F.sum("qty").over(Window.partitionBy("l_returnflag")))
        .filter(2 * F.col("cum") >= F.col("tot"))
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("l_returnflag").orderBy("v")),
        )
        .filter(F.col("rk") == 1)
        .select(
            "l_returnflag",
            F.col("v").alias("weighted_median_price"),
            F.col("tot").alias("total_qty"),
        )
    )
    return (
        exact.join(fracs, "l_returnflag")
        .select(
            "l_returnflag",
            "weighted_median_price",
            "total_qty",
            (F.abs(F.col("frac_direct") - 0.5) <= 0.05).alias("direct_rank_ok"),
            (F.abs(F.col("frac_merged") - 0.5) <= 0.05).alias("merged_rank_ok"),
            (F.abs(F.col("frac_direct") - F.col("frac_merged")) <= 0.02).alias(
                "merge_agrees"
            ),
        )
        .orderBy("l_returnflag")
    )


@query
def ann_ivf_pq_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC recall-vs-probes sweep: the SAME index
    artifacts (centroids + codebooks trained once) queried at n_probe=2
    and n_probe=8, certifying the recall floor at both operating points —
    the accuracy/cost dial a production vector index exposes. Floors are
    per-setting: 2-of-16 cells prunes ~87% of the corpus and pays in
    recall (floor 1; observed 1-7/10 across test SFs), while 8-of-16
    must beat the certified 4-cell floor of 2 (floor 4; observed 6-9).
    Exact per-dataset overlaps pinned by pytest.

    Build-once/query-many made literal: the encoded (id, cell,
    codes) index frame is built and persisted ONCE and both operating
    points read it — the unshared version ran the Arrow encode of the
    whole corpus twice per sweep. Same for the brute-force truth set
    (queries x 10 rows): computed once, certified against twice.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir)
    centroids = similarity.train_ivf_centroids(emb, n_cells=16)
    books = similarity.train_pq_codebooks(emb, n_codes=64)
    encoded = persist_scoped(
        similarity.build_ivf_pq_index(emb, centroids, books),
        "pq_sweep_index",
    )
    lo = similarity.ivf_pq_topk(
        emb, q, centroids, books, k=10, n_probe=2, k_coarse=200,
        encoded=encoded,
    )
    hi = similarity.ivf_pq_topk(
        emb, q, centroids, books, k=10, n_probe=8, k_coarse=200,
        encoded=encoded,
    )
    exact = persist_scoped(
        similarity.cosine_topk_quantized(emb, q, k=10).select(
            "query_id", "vec_id"
        ),
        "pq_sweep_exact",
    )
    rl = _certify_recall(emb, q, lo, floor=1, exact=exact).select(
        "query_id", F.col("recall_ok").alias("recall_lo_ok")
    )
    rh = _certify_recall(emb, q, hi, floor=4, exact=exact).select(
        "query_id",
        F.col("n_returned").alias("n_hi"),
        F.col("recall_ok").alias("recall_hi_ok"),
    )
    return rl.join(rh, "query_id").select(
        "query_id", "n_hi", "recall_lo_ok", "recall_hi_ok"
    ).orderBy("query_id")


@query
def events_rolling_p95_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling trailing-7-day p95 of event values per day, computed the
    way a 100 TB metrics store must: ONE pass builds a t-digest PER DAY
    (map-side, centroids only), each day's digest is explode-expanded to
    the 7 anchor days it contributes to (the WAU trick applied to sketch
    rows — ~200 centroids x 7, data-size-independent), and the per-anchor
    merge + quantile estimate runs over centroid rows, never raw values.
    Rolling quantiles DON'T decompose over sliding windows (same reason
    rolling distinct doesn't); mergeable digests are the standard answer,
    and this query composes the two (rolling windows, t-digest merge).

    Certified rank-space per anchor: the digest p95 must sit within 0.03
    rank of 0.95 of that anchor's exact trailing-window values; the
    oracle emits the exact trailing p95 (quantile_cont over the windowed
    self-join) + literal TRUE. The exact side is the certification edge.
    """
    from ..operators import sketches

    events = load_table(spark, sf_dir, "events")
    src = events.select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        F.col("value").cast("double").alias("v"),
    )
    daily = sketches.tdigest_grouped_partials(src, "day", "v")
    expanded = daily.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("anchor"),
        "mean",
        "weight",
    )
    est = sketches.tdigest_grouped_quantile(expanded, "anchor", 0.95)
    # certification edge: exact trailing p95 + rank of the estimate,
    # via the same explode expansion on raw values (test-SF cost only)
    vals7 = src.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("anchor"),
        "v",
    )
    days = src.select("day").distinct()
    return (
        vals7.join(F.broadcast(est), "anchor")
        .join(
            F.broadcast(days), vals7["anchor"] == days["day"], "leftsemi"
        )  # anchors past the horizon have no same-day activity: drop, as WAU does
        .groupBy("anchor")
        .agg(
            F.count(F.lit(1)).alias("n_window_values"),
            F.round(F.percentile(F.col("v"), F.lit(0.95)), 4).alias("exact_p95"),
            (
                F.abs(
                    F.sum((F.col("v") <= F.col("est")).cast("long"))
                    / F.count(F.lit(1))
                    - 0.95
                )
                <= 0.03
            ).alias("rank_ok"),
        )
        .orderBy("anchor")
    )


@query
def dedup_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs token-Jaccard >= 0.6 via prefix filtering — the
    deterministic production counterpart of MinHash-LSH (no false
    negatives by the pigeonhole theorem, no false positives by
    verification, no recall bound to certify). The oracle recomputes
    every qualifying pair from the shared-token join, so a green row
    proves the prefix filter dropped NOTHING. Candidate volume tracks
    the true-pair count because prefixes hold each document's RAREST
    tokens; the hot tokens thousands of docs share never enter a prefix.
    """
    docs = load_documents(spark, sf_dir)
    return dedup.jaccard_threshold_join(docs, "doc_id", "text", threshold=0.6).orderBy(
        "id_a", "id_b"
    )


@query
def dedup_winnow_shared_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) overlap detection: each document keeps the
    per-window MINIMUM of its 5-token shingle hashes (window 4 — any
    shared verbatim run of >= 8 tokens shares a fingerprint, the
    algorithm's selection guarantee), ubiquitous fingerprints (> 50
    docs — boilerplate carrying no discriminative signal, the standard
    stop-fingerprint drop) are discarded, and pairs sharing >= 3
    fingerprints are reported with their shared count. The exact
    copy-localization complement to the similarity family: Jaccard says
    HOW ALIKE two docs are, winnowing says they share LONG VERBATIM
    RUNS. md5-integer hashes end to end — exact cross-engine dual.
    """
    docs = load_documents(spark, sf_dir)
    fps = text.winnowing_fingerprints(docs, "doc_id", "text", k=5, w=4)
    rare = fps.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).filter(F.col("n_docs") <= 50)
    kept = fps.join(rare.select("fingerprint"), "fingerprint")
    a = kept.select(F.col("doc_id").alias("id_a"), "fingerprint")
    b = kept.select(F.col("doc_id").alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .orderBy("id_a", "id_b")
    )


@query
def streaming_tdigest_daily_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-day quantile monitoring certified against batch
    semantics: the custom stateful t-digest operator
    (``applyInPandasWithState`` holding centroid arrays per day)
    maintained across two availableNow drains must count every value
    exactly and estimate p50/p95 within 0.05 rank of each day's exact
    quantiles (0.05, not tighter: an sf0.001 day holds ~30 values, one
    rank step ~0.03 — the pytest applies the +1/n-aware tight bound). The oracle emits the exact per-day count + p95
    (quantile_cont) + literal TRUE bounds. Completes the incremental-
    sketch pair: CMS cells (algebraic, built-in aggregate state) and now
    quantile digests (non-algebraic, custom state) — the two shapes a
    streaming metrics store needs.
    """
    from ..streaming import pipeline as streaming_pipeline

    digests = streaming_pipeline.availablenow_tdigest_daily(
        spark, sf_dir, _work_dir(sf_dir, "_streaming_tdigest")
    )
    events = load_table(spark, sf_dir, "events")
    src = events.select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        F.col("value").cast("double").alias("v"),
    )
    return (
        src.join(F.broadcast(digests), "day")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.percentile(F.col("v"), F.lit(0.95)), 4).alias("exact_p95"),
            (F.max("n_values") == F.count(F.lit(1))).alias("counts_match"),
            (
                F.abs(
                    F.sum((F.col("v") <= F.col("p50")).cast("long"))
                    / F.count(F.lit(1))
                    - 0.5
                )
                <= 0.05
            ).alias("p50_rank_ok"),
            (
                F.abs(
                    F.sum((F.col("v") <= F.col("p95")).cast("long"))
                    / F.count(F.lit(1))
                    - 0.95
                )
                <= 0.05
            ).alias("p95_rank_ok"),
        )
        .orderBy("day")
    )


@query
def clean_impute_median_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median imputation — the robust missing-value repair of a feature
    pipeline: a deterministic 10% md5-holdout of event values plays the
    missing-sensor role (reproducible in any engine, like the cleaning
    battery's sentinels), and each hole is filled with its event type's
    exact median of the SURVIVING values. Extends the P-series cleaning
    family with the one statistical repair it lacked; at 100 TB the
    median comes from the t-digest the engine already certifies — here
    the exact percentile IS the point, as the oracle edge.

    One type-key aggregate + a broadcast join back: medians are
    |event types| rows. Imputed medians round at one site; surviving
    values pass through bit-identical from the shared parquet source.
    """
    events = load_table(spark, sf_dir, "events")
    holdout = sampling.uniform_hash(F.col("event_id"), "impute") % 10 == 0
    base = events.select(
        "event_id",
        "event_type",
        F.when(~holdout, F.col("value")).alias("v"),
    )
    med = base.groupBy("event_type").agg(
        F.percentile(F.col("v"), F.lit(0.5)).alias("med")
    )
    return (
        base.join(F.broadcast(med), "event_type")
        .select(
            "event_id",
            "event_type",
            F.coalesce(F.col("v"), F.round(F.col("med"), 4)).alias("value_imputed"),
            F.col("v").isNull().alias("was_imputed"),
        )
        .orderBy("event_id")
    )


@query
def events_rolling_wau_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day WAU ESTIMATED from mergeable daily KMV sketches —
    the sketch answer to rolling distinct. The exact rolling WAU re-scans
    every (day, user) pair 7 times; at 100 TB the pre-aggregated form
    keeps ONE k-row sketch per day (k=256 here) and answers any trailing
    window by merging sketches: daily k-smallest user hashes are
    explode-expanded to their 7 anchors (k x 7 rows per day,
    data-size-independent — the WAU trick applied to sketch rows, as the
    t-digest twin does for quantiles), and the per-anchor k-smallest of
    the union IS the window's KMV sketch.

    Everything is md5-integer arithmetic, so unlike HLL the merged
    estimate is bit-reproducible cross-engine: the oracle rebuilds the
    sketches and the parity hash certifies the ESTIMATES exactly, not
    just a bound. The emitted bound (within 15% of exact) documents the
    accuracy contract as data: rse ~ 1/sqrt(k-2) = 6.3% at k=256;
    observed max deviation 9.2% at sf0.1 (1.5 sigma — deterministic per
    dataset, since the hashes are), exact below k actives (sf <= 0.01
    windows all sit under 256, where the sketch IS the distinct set).
    Two WindowGroupLimit rank filters, no UDFs.
    """
    events = load_table(spark, sf_dir, "events")
    k = 256
    pairs = events.select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"), "user_id"
    ).distinct()
    hashes = pairs.select(
        "day", sampling.uniform_hash(F.col("user_id"), "kmvwau").alias("h")
    ).distinct()
    w_day = Window.partitionBy("day").orderBy(F.col("h").asc())
    daily = (
        hashes.withColumn("rk", F.row_number().over(w_day))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )
    expanded = daily.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("anchor"),
        "h",
    ).distinct()  # same user hash may enter via several days of the window
    w_anchor = Window.partitionBy("anchor").orderBy(F.col("h").asc())
    window_sketch = (
        expanded.withColumn("rk", F.row_number().over(w_anchor))
        .filter(F.col("rk") <= k)
    )
    est = window_sketch.groupBy("anchor").agg(
        F.count(F.lit(1)).alias("n_sketch"), F.max("h").alias("h_k")
    )
    kmv = F.when(
        F.col("n_sketch") < k, F.col("n_sketch").cast("double")
    ).otherwise((F.lit(float(k - 1)) * F.lit(4294967296.0)) / F.col("h_k"))
    est = est.select("anchor", F.round(kmv, 4).alias("wau_kmv"))
    exact = (
        pairs.select(
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("anchor"),
            "user_id",
        )
        .groupBy("anchor")
        .agg(F.count_distinct("user_id").alias("wau_exact"))
    )
    days = pairs.select("day").distinct()
    return (
        exact.join(est, "anchor")
        .join(days, exact["anchor"] == days["day"], "leftsemi")
        .select(
            "anchor",
            F.col("wau_exact").cast("long"),
            "wau_kmv",
            (
                F.abs(F.col("wau_kmv") - F.col("wau_exact"))
                <= 0.15 * F.col("wau_exact")
            ).alias("within_bound"),
        )
        .orderBy("anchor")
    )


@query
def sample_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing — the draw a training-data mixer makes:
    fill each language's character budget (here 30k chars per lang) by
    taking documents in deterministic md5-hash order until the budget is
    crossed (the first crossing doc is INCLUDED, so every budget is met
    or the language exhausted). Selection is a pure function of
    (doc_id, salt): re-runs, engines, and re-partitionings take the
    identical corpus slice — the reproducibility contract of a dataset
    card. One shuffle on the group key; the cumulative sum is a per-group
    window over hash order, and rows past the crossing are dropped
    before any further processing.
    """
    docs = load_documents(spark, sf_dir)
    budget = 30_000
    h = sampling.uniform_hash(F.col("doc_id"), "mix")
    w = (
        Window.partitionBy("lang")
        .orderBy(h.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col("n_chars")).over(w)
    return (
        docs.withColumn("cum_chars", cum)
        .filter(F.col("cum_chars") - F.col("n_chars") < budget)
        .select("doc_id", "lang", "n_chars", F.col("cum_chars").cast("long"))
        .orderBy("lang", "cum_chars")
    )


@query
def sample_weighted_multi_draw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language weighted sample without replacement: 20 docs PER LANG
    drawn with probability proportional to n_chars (one Efraimidis– Spirakis
    draw per group, md5-seeded) — the per-source quota draw of a
    training-data mixer, where longer documents should win proportionally
    more of each language's seats than a uniform cap gives them (the
    multi-draw twin of the single-draw weighted sample). One shuffle on the
    group key, WindowGroupLimit capping at rank 20; the draw is exactly
    reproducible in any engine (exact row_number dual).
    """
    docs = load_documents(spark, sf_dir)
    out = sampling.weighted_sample_per_group(
        docs, "lang", "doc_id", "n_chars", n=20
    )
    return out.select(
        "doc_id", "lang", "n_chars", F.col("draw_rank").cast("int").alias("draw_rank")
    ).orderBy("lang", "draw_rank")


# --- set-overlap sketches, sparse cosine, co-occurrence --------------------


@query
def sketch_kmv_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-INTERSECTION / Jaccard estimate between two distinct-user
    sets without holding either set (Beyer et al. 2007): the audience-
    overlap question ("how many customers ordered in BOTH years?") asked
    of two mergeable k-minimum-values sketches. With S the k smallest
    hashes of the union, every member of S that belongs to both sets is
    necessarily in both per-set sketches (it is among the k smallest of
    each set it belongs to), so rho = |S ∩ KMV(A) ∩ KMV(B)| / |S|
    estimates Jaccard and rho * union_estimate the intersection size.
    All integer md5 arithmetic until two float division sites — the
    DuckDB oracle rebuilds the sketches and the estimates certify
    bit-for-bit (the same exact-dual property as
    ``sketch_kmv_distinct_union``; below k the sketches hold the whole
    sets and the estimates are EXACT, which sf0.001 exercises).

    100 TB shape: each side is one distinct + k-heap TakeOrdered pass;
    the overlap math touches only 3k sketch rows. Exact comparison
    columns are computed alongside from the full data (distinct +
    joins) to state the estimator's error as data.
    """
    from ..operators import sketches

    k = 256
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.year("o_orderdate") == 1995)
    b = orders.filter(F.year("o_orderdate") == 1996)
    ska = sketches.kmv_sketch(a, "o_custkey", k=k, salt="kmvov")
    skb = sketches.kmv_sketch(b, "o_custkey", k=k, salt="kmvov")
    sku = sketches.kmv_merge(ska, skb, k=k)

    stats = sku.agg(
        F.count(F.lit(1)).alias("n_union_sketch"), F.max("h").alias("h_k")
    )
    m = sku.join(ska, "h").join(skb, "h").agg(F.count(F.lit(1)).alias("n_both"))
    da = a.select("o_custkey").distinct()
    db = b.select("o_custkey").distinct()
    inter = da.join(db, "o_custkey").agg(F.count(F.lit(1)).alias("inter_exact"))
    union = (
        da.unionByName(db)
        .distinct()
        .agg(F.count(F.lit(1)).alias("union_exact"))
    )

    est_u = F.when(
        F.col("n_union_sketch") < k, F.col("n_union_sketch").cast("double")
    ).otherwise(F.lit(float(k - 1)) * F.lit(4294967296.0) / F.col("h_k"))
    return (
        stats.crossJoin(m)
        .crossJoin(inter)
        .crossJoin(union)
        .select(
            F.col("n_union_sketch").cast("long"),
            F.col("n_both").cast("long"),
            F.round(F.col("n_both") / F.col("n_union_sketch"), 4).alias(
                "jaccard_kmv"
            ),
            F.round(est_u * F.col("n_both") / F.col("n_union_sketch"), 4).alias(
                "inter_kmv"
            ),
            F.round(F.col("inter_exact") / F.col("union_exact"), 4).alias(
                "jaccard_exact"
            ),
            F.col("inter_exact").cast("long"),
            F.col("union_exact").cast("long"),
        )
    )


@query
def text_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-TF cosine similarity join over the document corpus
    (inverted index + stop-term DF pruning,
    :func:`~..operators.similarity.sparse_cosine_pairs`), reported as a
    bounded per-bucket rollup: pairs with cosine >= 0.1 grouped into
    tenth-wide buckets with pair counts and the integer dot-product sum
    — the full pair computation certifies (every pair lands in exactly
    one bucket and contributes its exact integer dot) while the output
    stays O(10) rows regardless of corpus size. Terms are 3-token
    shingles: the synthetic corpus has a ~31-word vocabulary (every word
    is a stop word by any DF measure), so word ORDER is where document
    identity lives — shingling recovers a sparse, prunable term space
    (~16k trigram terms at sf0.01, max DF ~20) exactly as winnowing's
    k-grams do. The corpus pair population is bimodal (template near-dups
    at cosine ~0.9, incidental shingle sharing below 0.2), so the rollup
    certifies both modes.
    """
    from ..operators import similarity

    docs = load_documents(spark, sf_dir)
    pairs = similarity.sparse_cosine_pairs(
        docs, "doc_id", "text", threshold=0.1, max_df=50, ngram=3
    )
    bucket = F.floor(F.col("cosine") * F.lit(10)).cast("int")
    return (
        pairs.groupBy(bucket.alias("cos_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("dot").cast("long").alias("sum_dot"),
        )
        .orderBy("cos_bucket")
    )


@query
def events_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift: pairs of parts appearing in
    the same order, min support 2 orders, top 20 by lift — the
    recommendation / complements miner. The pair explosion is bounded by
    the per-order basket size — STRUCTURALLY, not by data luck: baskets
    above :data:`_BASKET_CAP` distinct parts are excluded whole by
    :func:`_mineable_baskets` (TPC-H baskets are <= 7 items, so the guard
    is a no-op filter here, but one pathological 100k-item basket at
    100 TB would otherwise put O(B^2) pair generation into a single
    task) — so the self-join on the order key fans out O(cap^2) per
    order worst case, never corpus-quadratic; pair counts aggregate on
    wide two-part keys (no hot key),
    item counts are a broadcast-sized dimension, and the grand total
    attaches via the sanctioned single-row crossJoin. lift =
    (c_pair * n_orders) / (c_a * c_b): exact integers into ONE float
    division, rounded at one site, ties broken by the pair key — the
    top-20 cut is total-ordered and engine-reproducible.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # baskets feeds four consumers (totals, item counts, both self-join
    # branches); persist_scoped computes the scan+distinct once per call
    # with a one-generation storage bound (~2 longs/row, tiny vs lineitem)
    baskets = persist_scoped(
        _mineable_baskets(li), "mb_pairs_baskets"
    )
    totals = baskets.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    item = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c_item"))
    # a-priori pruning: pair support <= min(item supports), so an item in
    # fewer than min_support orders cannot appear in ANY qualifying pair —
    # drop it before the self-join (output-invariant candidate reduction,
    # the first level of the classic frequent-itemset lattice prune)
    frequent = baskets.join(
        item.filter(F.col("c_item") >= 2).select("l_partkey"), "l_partkey"
    )
    pairs = (
        frequent.select("l_orderkey", F.col("l_partkey").alias("part_a"))
        .join(
            frequent.select("l_orderkey", F.col("l_partkey").alias("part_b")),
            "l_orderkey",
        )
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("c_pair"))
        .filter(F.col("c_pair") >= 2)
    )
    return (
        pairs.join(
            item.select(
                F.col("l_partkey").alias("part_a"), F.col("c_item").alias("c_a")
            ),
            "part_a",
        )
        .join(
            item.select(
                F.col("l_partkey").alias("part_b"), F.col("c_item").alias("c_b")
            ),
            "part_b",
        )
        .crossJoin(totals)
        .withColumn(
            "lift",
            F.round(
                (F.col("c_pair") * F.col("n_orders")).cast("double")
                / (F.col("c_a") * F.col("c_b")),
                4,
            ),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
        .select(
            "part_a",
            "part_b",
            F.col("c_pair").cast("long"),
            F.col("c_a").cast("long"),
            F.col("c_b").cast("long"),
            "lift",
        )
    )


@query
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sparse random projection of the embedding
    store (64 -> 16 dims, Achlioptas ±1 matrix,
    :func:`~..operators.similarity.jl_project_quantized`) — the
    dimensionality reduction that runs before ANN index sharding at
    100 TB (JL: pairwise distances survive within (1±eps) at
    k = O(log n / eps^2) target dims; the pytest pins the preservation
    empirically). Components quantized to integers first, so every
    projected value is an exact integer dot product in whole-stage
    codegen — no shuffle, no UDF, matrix inlined as plan literals.
    Output: per (label, out position) integer sums of the projected
    components over the whole store plus vector counts — every vector's
    full projection certifies through the aggregate.
    """
    from ..operators import similarity

    # fan_out: the single-file scan would run every interpreted HOF dot
    # on ONE core (no-op on a real multi-file store)
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    proj = similarity.jl_project_quantized(
        emb.select("vec_id", "embedding", "label"),
        id_col="vec_id",
        vec_col="embedding",
    )
    return (
        proj.select("label", F.posexplode("proj").alias("pos", "comp"))
        .groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("comp").cast("long").alias("sum_comp"),
            F.sum(F.abs(F.col("comp"))).cast("long").alias("sum_abs_comp"),
        )
        .orderBy("label", "pos")
    )


@query
def window_global_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL percent_rank of every lineitem price WITHOUT the global
    single-partition window — the CDF / quantile-rank feature transform
    of ML preprocessing, reshaped for scale exactly like the weighted
    median: ``percent_rank() OVER (ORDER BY price)`` moves every row
    through ONE task, so instead aggregate to DISTINCT prices (fully
    parallel, map-side combinable), run the cumulative count via
    :func:`~..operators.ranking.two_phase_running` over $100 price-range
    buckets (the distinct-price domain itself tracks sample
    cardinality until the ~10.4M-value price domain saturates, so even
    the distinct-value window needs the bucketed split — the KS-CDF
    reshape applied here), and hash-join the per-value rank back to
    rows. rank_lt (rows strictly below this price) is exact integer; the
    certification aggregates per return flag with integer rank sums and
    ONE float division site for the mean percent rank.
    """
    from ..operators.ranking import two_phase_running

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    counts = li.groupBy("l_extendedprice").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = two_phase_running(
        counts,
        F.floor(F.col("l_extendedprice") / 100).cast("long"),
        ["l_extendedprice"],
        [("cnt", "sum", "cum")],
        current_row=True,
    ).select(
        "l_extendedprice", (F.col("cum") - F.col("cnt")).alias("rank_lt")
    )
    total = li.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        li.join(ranked, "l_extendedprice")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("rank_lt").cast("long").alias("sum_rank_lt"),
        )
        .crossJoin(total)
        .select(
            "l_returnflag",
            "n_rows",
            "sum_rank_lt",
            F.round(
                F.col("sum_rank_lt")
                / (F.col("n_rows") * (F.col("n_total") - 1)),
                4,
            ).alias("mean_pct_rank"),
        )
        .orderBy("l_returnflag")
    )


@query
def streaming_dedup_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once counts over an at-least-once source, oracle-checked:
    two event-time-ordered file batches with planted replays
    (every fifth event delivered twice) stream through
    ``dropDuplicatesWithinWatermark`` + update-mode counting aggregate +
    keyed upsert sink; the maintained table must equal the oracle's
    batch rollup over DISTINCT events — the streaming-T2 twin the
    roster's pytest covers, promoted to an oracle-checked query.
    """
    from ..streaming import pipeline as streaming_pipeline

    out = streaming_pipeline.availablenow_dedup_rollup(
        spark, sf_dir, _work_dir(sf_dir, "_streaming_dedup")
    )
    return out.select(
        "day", "event_type", F.col("event_count").cast("long")
    ).orderBy("day", "event_type")


_BASKET_CAP = 512


def _mineable_baskets(li: DataFrame, cap: int = _BASKET_CAP) -> DataFrame:
    """Distinct (l_orderkey, l_partkey) basket rows, restricted to baskets
    with at most ``cap`` distinct parts — the max-transaction-length guard
    every basket-mining consumer needs at scale. The pair/triple/graph
    miners fan out O(basket^k) per order key inside ONE task: bounded on
    clean TPC-H data (<= 7 items/order) but a single pathological basket
    (bot cart, ETL glitch) becomes a 10^10-pair straggler at 100 TB — the
    same hot-key class as the pattern-match journeys. Oversized baskets are
    excluded WHOLE (standard practice in frequent-itemset mining: a
    100k-item transaction carries no lift signal), via one SORT-FREE count
    window on the order key — the hot basket costs O(B) to measure and
    drop, never O(B^k) to enumerate. The rule is deterministic and
    mirrored in every consumer's DuckDB dual; a planted hot-basket pytest
    pins both the bound and the exclusion."""
    b = li.select("l_orderkey", "l_partkey").distinct()
    bsz = F.count(F.lit(1)).over(Window.partitionBy("l_orderkey"))
    return b.withColumn("_bsz", bsz).filter(F.col("_bsz") <= cap).drop("_bsz")


def _cooccurrence_edges(li: DataFrame) -> DataFrame:
    """Undirected part co-occurrence edges (a < b): part pairs sharing at
    least 2 distinct orders — the market-basket graph both graph queries
    analyze. One orderkey-keyed self-join over the distinct baskets
    (hot-basket-guarded via :func:`_mineable_baskets`), then a pair-keyed
    support count; support >= 2 bounds edge volume."""
    baskets = _mineable_baskets(li)
    return (
        baskets.select("l_orderkey", F.col("l_partkey").alias("a"))
        .join(
            baskets.select("l_orderkey", F.col("l_partkey").alias("b")),
            "l_orderkey",
        )
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("a", "b")
    )


@query
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-occurrence graph (edges = part pairs sharing >= 2 orders — the
    market-basket graph), via DEGREE-ORIENTED wedge closing (the
    node-iterator++ / "forward" algorithm): every edge points from its
    lower-(degree, id) endpoint to the higher, wedges form by joining
    out-edges at their source, and a wedge is a triangle iff its two
    far endpoints are themselves an oriented edge. Each triangle is
    counted EXACTLY once, and the per-node join fan-out is bounded by
    out-degree <= O(sqrt(m)) under this orientation — the property that
    makes the triple-join survive hub nodes at scale, where the naive
    a<b-keyed join explodes on hot vertices. The orientation key packs
    (degree, node) into one long, so no global rank window is needed.
    Output: one row of exact integers (nodes, edges, wedges, triangles)
    plus the clustering coefficient 3*tri/wedges at one float site.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = _cooccurrence_edges(li)
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionByName(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orientation key: (degree, node) packed into one long — a total
    # order with no data-sized rank window
    key = (F.col("deg") * F.lit(1 << 40) + F.col("n")).alias("okey")
    keyed = deg.select("n", key)
    ek = (
        edges.join(keyed.withColumnRenamed("n", "a").withColumnRenamed("okey", "ka"), "a")
        .join(keyed.withColumnRenamed("n", "b").withColumnRenamed("okey", "kb"), "b")
        .select(
            F.when(F.col("ka") < F.col("kb"), F.col("ka")).otherwise(F.col("kb")).alias("src"),
            F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("dst"),
        )
    )
    wedges_df = (
        ek.alias("x")
        .join(ek.alias("y"), F.col("x.src") == F.col("y.src"))
        .filter(F.col("x.dst") < F.col("y.dst"))
        .select(F.col("x.dst").alias("src"), F.col("y.dst").alias("dst"))
    )
    tri = wedges_df.join(ek, ["src", "dst"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    counts = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # integer end to end: sum deg*(deg-1) (exact long), halve with
        # integral div — no float summation anywhere
        F.expr("sum(deg * (deg - 1)) div 2").alias("n_wedges"),
    )
    return (
        nodes.crossJoin(counts)
        .crossJoin(tri)
        .select(
            F.col("n_nodes").cast("long"),
            F.col("n_edges").cast("long"),
            "n_wedges",
            F.col("n_triangles").cast("long"),
            F.when(
                F.col("n_wedges") > 0,
                F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 4),
            ).otherwise(F.lit(0.0)).alias("clustering_coef"),
        )
    )


@query
def events_attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution with exact integer conservation —
    the marketing-analytics credit split the single-touch
    ``events_view_purchase_attribution`` cannot express: every view by
    the purchasing user in the 24 h before a purchase shares the
    purchase value equally. Equal split in floats drifts under sum
    order, so credit is INTEGER CENTS with a deterministic largest-
    remainder convention: each touch gets ``cents div n``, the LAST
    touch (latest ts, event_id tie-break) absorbs ``cents mod n`` — so
    credits sum to the purchase value EXACTLY, and the oracle certifies
    the whole split bit-for-bit (conservation is pytest-pinned as an
    invariant, not a rounding accident). Shape: one user-keyed hash
    join with the 24 h band as a join filter, one purchase-keyed window
    for (n, rank), one day-keyed aggregate.
    """
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    touched = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") > F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
    )
    w = Window.partitionBy("p_id")
    wr = Window.partitionBy("p_id").orderBy(F.asc("v_ts"), F.asc("v_id"))
    credited = (
        touched.withColumn("n_touches", F.count(F.lit(1)).over(w))
        .withColumn("touch_rank", F.row_number().over(wr))
        .withColumn(
            "credit_cents",
            F.expr("cents div n_touches")
            + F.when(
                F.col("touch_rank") == F.col("n_touches"),
                F.col("cents") % F.col("n_touches"),
            ).otherwise(F.lit(0)),
        )
    )
    return (
        credited.groupBy(F.to_date("v_ts").alias("view_day"))
        .agg(
            F.count(F.lit(1)).alias("n_credited_views"),
            F.count_distinct("p_id").alias("n_purchases_touched"),
            F.sum("credit_cents").cast("long").alias("credit_cents"),
        )
        .select(
            "view_day",
            F.col("n_credited_views").cast("long"),
            F.col("n_purchases_touched").cast("long"),
            F.round(F.col("credit_cents") / 100.0, 2).alias("credited_revenue"),
        )
        .orderBy("view_day")
    )


def _bm25_scored(spark: SparkSession, sf_dir: str, n_query_terms: int = 5):
    """Shared BM25 scoring pipeline (Robertson/Sparck Jones idf, k1=1.2,
    b=0.75) over the documents corpus, query = the ``n_query_terms`` most
    document-frequent terms (the data-derived stand-in for a user query —
    deterministic at every SF).

    Scale shape: document frequency and (N, avgdl) are full-corpus
    aggregates (partial-agg friendly); the query-term frame is
    n_query_terms rows — selected via orderBy+limit (TakeOrderedAndProject,
    no global window) and broadcast into the postings join, so scoring
    touches only postings of query terms (an inverted-index probe, not a
    corpus-wide join). One token-keyed shuffle builds postings; one
    doc-keyed aggregation sums per-term scores.

    Float contract: tf/dl/df/N are exact integers; avgdl is one exact
    integer sum divided once; idf and the per-term score are products of
    bit-identical doubles, so only the per-doc sum across <= n_query_terms
    terms is order-sensitive — rounded at ONE site by the callers.
    """
    k1, b = 1.2, 0.75
    docs = load_documents(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.size(text.tokens(F.col("text"))).cast("long").alias("dl"),
        F.explode(text.tokens(F.col("text"))).alias("term"),
    )
    postings = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    dfreq = (
        toks.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    qterms = dfreq.orderBy(F.desc("doc_freq"), F.asc("term")).limit(n_query_terms)
    stats = docs.select(
        F.size(text.tokens(F.col("text"))).cast("long").alias("dl")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    idf = F.log(
        (F.col("n_docs") - F.col("doc_freq") + F.lit(0.5))
        / (F.col("doc_freq") + F.lit(0.5))
        + F.lit(1.0)
    )
    per_term = (
        postings.join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                idf
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("term_score"),
        )
    )
    return per_term.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        F.round(F.sum("term_score"), 4).alias("bm25"),
    )


@query
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 document retrieval for a 5-term query (the corpus's five
    most document-frequent terms — deterministic at every SF): the lexical
    ranking function production search and RAG retrieval stacks ship, here
    as a pure inverted-index plan (:func:`_bm25_scored`). Top-20 via
    orderBy+limit (TakeOrderedAndProject — no global sort materializes);
    the rank column is numbered AFTER the limit, so the window runs over 20
    rows, not the corpus. Ordering key is the ROUNDED score with doc_id as
    the tie-break (never a raw float sort key).
    """
    scored = _bm25_scored(spark, sf_dir)
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(20)
    w = Window.partitionBy(F.lit(1)).orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "rank", "doc_id", "n_terms_matched", "bm25"
    )


@query
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.'s RRF,
    c=60): the lexical arm is the BM25 top-50 (:func:`_bm25_scored`, the
    five most document-frequent terms as the query), the dense arm the
    integer-quantized cosine top-50 for document 0's embedding
    (:func:`~..operators.similarity.cosine_topk_quantized` — the
    oracle-exact dot product), fused with
    ``rrf = 1/(60+rank_lex) + 1/(60+rank_dense)`` over the FULL OUTER join
    of the two lists — a document present in only one index still scores,
    which is the point of fusion in a corpus where not every document is
    embedded (sf0.1: 5000 docs, 2000 embeddings).

    Scale shape: each arm is an orderBy+limit top-k (TakeOrderedAndProject);
    the fusion joins two <= 50-row frames — driver-independent and
    constant-size regardless of corpus scale. All rank arithmetic is
    integer-derived doubles in fixed expression order (bit-exact
    cross-engine); the fused score is rounded at one site and never used
    raw as a sort key.
    """
    scored = _bm25_scored(spark, sf_dir)
    bm_top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(50)
    w_b = Window.partitionBy(F.lit(1)).orderBy(F.desc("bm25"), F.asc("doc_id"))
    bm_ranks = bm_top.select(
        "doc_id", F.row_number().over(w_b).cast("int").alias("bm25_rank")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    cos_ranks = similarity.cosine_topk_quantized(
        emb, emb.filter(F.col("vec_id") == 0), k=50
    ).select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("cosine_rank"))
    fused = bm_ranks.join(cos_ranks, "doc_id", "full_outer").select(
        "doc_id",
        "bm25_rank",
        "cosine_rank",
        F.round(
            F.coalesce(1.0 / (F.lit(60) + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(60) + F.col("cosine_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    top = fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(20)
    w = Window.partitionBy(F.lit(1)).orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "rank", "doc_id", "bm25_rank", "cosine_rank", "rrf_score"
    )


@query
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-iteration PageRank (damping 0.85) over the part co-occurrence
    graph (:func:`_cooccurrence_edges`, both directions — the undirected
    market-basket graph, so every node has in-edges and there is no
    dangling-mass correction). Top-20 parts by rank.

    Scale shape: each iteration is ONE edge-keyed shuffle join (ranks to
    out-edges on src) plus one dst-keyed partial-agg sum — the standard
    distributed PageRank step; the fixed iteration count keeps the whole
    computation a single lazy plan, and the edge + node frames (support-
    bounded, far smaller than lineitem) are persisted once per call so
    every iteration joins cached frames instead of replaying the basket
    self-join. Nothing here is driver-bound. N arrives as a broadcast
    1-row aggregate, never a driver round-trip.

    Float contract: teleport and damping constants are the same literals in
    both engines (0.15 / 0.85 — never ``1 - d``, whose binary value
    differs from the 0.15 literal); per-node neighbor sums are
    order-sensitive doubles rounded at ONE terminal site (6 dp — after 3
    iterations the cross-engine drift is ~1e-13 on ranks ~1e-3); the sort
    key is the ROUNDED rank with node id as tie-break.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = _cooccurrence_edges(li)
    dir_edges = persist_scoped(
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
            edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        ),
        "pagerank_dir_edges",
    )
    deg = dir_edges.groupBy(F.col("src").alias("n")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    ncnt = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    nodes = persist_scoped(deg.crossJoin(F.broadcast(ncnt)), "pagerank_nodes")
    ranks = nodes.select(
        "n", "deg", "n_nodes", (F.lit(1.0) / F.col("n_nodes")).alias("r")
    )
    for _ in range(3):
        contrib = (
            ranks.select(
                F.col("n").alias("src"), (F.col("r") / F.col("deg")).alias("c")
            )
            .join(dir_edges, "src")
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = nodes.join(
            contrib, nodes["n"] == contrib["dst"], "left"
        ).select(
            nodes["n"],
            nodes["deg"],
            nodes["n_nodes"],
            (
                F.lit(0.15) / F.col("n_nodes")
                + F.lit(0.85) * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("r"),
        )
    scored = ranks.select(
        F.col("n").alias("part_id"),
        F.col("deg").cast("long").alias("degree"),
        F.round(F.col("r"), 6).alias("pagerank"),
    )
    top = scored.orderBy(F.desc("pagerank"), F.asc("part_id")).limit(20)
    w = Window.partitionBy(F.lit(1)).orderBy(F.desc("pagerank"), F.asc("part_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "rank", "part_id", "degree", "pagerank"
    )


@query
def agg_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) binning of order totals — the
    QuantileDiscretizer / feature-bucketing step, as two aggregation
    passes: (1) the 7 inner octile boundaries via exact percentile over
    INTEGER cents, each boundary rounded to an integer ONCE (the one float
    site — Spark's interpolating ``percentile`` and DuckDB's
    ``quantile_cont`` agree bit-for-bit on integer inputs when rounded at
    a single site); (2) every order bucketed by counting boundaries below
    its value (``F.aggregate`` over the broadcast 7-element boundary
    array — pure codegen arithmetic, no UDF) and rolled up. The
    complement of the fixed-width ``agg_histogram_totalprice``: bin edges
    adapt to the distribution, bin populations are near-equal — the shape
    used for salting-bound selection and feature quantization.

    Scale: pass 1 is one exact-percentile aggregate (the same machinery
    the q6 battery certifies); pass 2 is a map-side broadcast probe plus a
    partial-agg groupBy on an 8-value key. No global sort, no window.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    qs = [i / 8.0 for i in range(1, 8)]
    bounds = cents.agg(
        F.transform(
            F.percentile(F.col("cents"), F.array(*[F.lit(q) for q in qs])),
            lambda v: F.round(v).cast("long"),
        ).alias("bnds")
    )
    binned = cents.crossJoin(F.broadcast(bounds)).select(
        "cents",
        (
            F.aggregate(
                F.col("bnds"),
                F.lit(0),
                lambda acc, b: acc
                + F.when(F.col("cents") > b, F.lit(1)).otherwise(F.lit(0)),
            )
            + F.lit(1)
        ).alias("bin_id"),
    )
    return (
        binned.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("cents") / 100.0, 2).alias("bin_min"),
            F.round(F.max("cents") / 100.0, 2).alias("bin_max"),
        )
        .select(F.col("bin_id").cast("int"), "n_orders", "bin_min", "bin_max")
        .orderBy("bin_id")
    )


@query
def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join WITHOUT an equi key, planned as a pure equi-join via a
    bucket index — the scale answer to the classic point-in-interval match
    that a naive formulation plans as a BroadcastNestedLoopJoin. Windows
    (every 97th order opens a 14-day [start, start+14d) campaign window)
    explode to the WEEK buckets they cover (<= 3 each — bounded by interval
    length / bucket width); each shipment carries its single week bucket;
    the week-keyed equi-join + exact containment residual filter finds
    every (shipment, window) pair EXACTLY once (a point has one bucket, so
    no dedup pass). Windows with zero shipments survive via the terminal
    left join.

    Scale shape: both sides shuffle ONLY on the week key (co-partitioned
    equi-join; AQE picks broadcast when the exploded window side is small);
    the residual predicate is a join filter, not a post-join pass. Bucket
    width trades replication (interval_len/width copies) against join
    selectivity — the tuning knob a production interval index exposes.
    Revenue is integer cents divided at one site.
    """
    epoch = F.lit("1970-01-01").cast("date")
    orders = load_table(spark, sf_dir, "orders")
    windows = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("window_id"),
        F.to_date("o_orderdate").alias("lo"),
        F.date_add(F.to_date("o_orderdate"), 14).alias("hi"),
    )
    wk = lambda c: F.floor(F.datediff(c, epoch) / 7)  # noqa: E731
    w_buckets = windows.select(
        "window_id",
        "lo",
        "hi",
        F.explode(F.sequence(wk(F.col("lo")), wk(F.col("hi")))).alias("wkb"),
    )
    points = load_table(spark, sf_dir, "lineitem").select(
        F.to_date("l_shipdate").alias("ship_date"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    ).select(
        "ship_date", "cents", wk(F.col("ship_date")).alias("wkb")
    )
    matched = (
        w_buckets.join(points, "wkb")
        .filter(
            (F.col("ship_date") >= F.col("lo"))
            & (F.col("ship_date") < F.col("hi"))
        )
        .groupBy("window_id")
        .agg(
            F.count(F.lit(1)).alias("n_shipped"),
            F.sum("cents").alias("cents"),
        )
    )
    return (
        windows.join(matched, "window_id", "left")
        .select(
            "window_id",
            F.col("lo").alias("window_start"),
            F.coalesce(F.col("n_shipped"), F.lit(0)).cast("long").alias(
                "n_shipped"
            ),
            F.round(
                F.coalesce(F.col("cents"), F.lit(0)) / 100.0, 2
            ).alias("shipped_value"),
        )
        .orderBy("window_id")
    )


@query
def ml_kmeans_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means (k=3, seeded from vectors 0/1/2)
    over integer-quantized embeddings, with centroids RE-QUANTIZED to the
    same integer grid after every mean update — the quantization that makes
    an iterative clustering algorithm bit-reproducible cross-engine: every
    assignment compares exact integer squared distances, and the one float
    op per update (mean = exact integer sum / count, then one half-away
    round) is identical in Spark and DuckDB.

    Scale shape: vectors live LONG-FORM (vec_id, pos, code) — the same
    representation `quantize_int8_longform` ships; each iteration is (1)
    assignment: a pos-keyed join against the k x dim centroid frame
    (dimension-bounded, ALWAYS broadcastable — never corpus-sized) +
    (vec, cluster)-keyed partial-agg distance sums + a WindowGroupLimit
    argmin, and (2) update: one (cluster, pos)-keyed mean aggregate. No
    driver round-trips; centroid frames are the only state between
    iterations. Output: per-cluster population and exact integer inertia
    after a final assignment pass.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.posexplode(similarity.quantize(F.col("embedding"))).alias(
            "pos", "val"
        ),
    )
    cent = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("cluster_id"),
        "pos",
        F.col("val").alias("code"),
    )

    def assign(centroids: DataFrame) -> DataFrame:
        d2 = (F.col("val") - F.col("code")) * (F.col("val") - F.col("code"))
        dist = (
            vecs.join(F.broadcast(centroids), "pos")
            .groupBy("vec_id", "cluster_id")
            .agg(F.sum(d2).alias("sqdist"))
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.asc("sqdist"), F.asc("cluster_id")
        )
        return (
            dist.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cluster_id", "sqdist")
        )

    for _ in range(2):
        members = assign(cent).select("vec_id", "cluster_id")
        # members is one row per VECTOR — corpus-sized; never let the
        # static planner broadcast it (the sparse-cosine lesson): pin the
        # vec-keyed shuffle join
        cent = (
            vecs.join(members.hint("shuffle_hash"), "vec_id")
            .groupBy("cluster_id", "pos")
            .agg(F.round(F.avg("val")).cast("long").alias("code"))
        )
    final = assign(cent)
    return (
        final.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("sqdist").alias("inertia"),
        )
        .select(
            F.col("cluster_id").cast("long"),
            F.col("n_vectors").cast("long"),
            F.col("inertia").cast("long"),
        )
        .orderBy("cluster_id")
    )


@query
def events_ab_chisquare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with a Pearson chi-square independence test:
    users split into two arms by id parity (the deterministic stand-in for
    an assignment hash), exposure = any view event, conversion = at least
    14 purchases AFTER the user's first view (the threshold sits at the
    corpus's median purchase count, so both outcomes populate at every
    SF); the 2x2 contingency table and
    chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) — one expression over four
    exact integer cells, so the statistic is bit-identical cross-engine
    (rounded at one site regardless), plus the alpha=0.05 decision against
    the 1-df critical value 3.841.

    Scale shape: exposure and conversion are both user-keyed aggregates
    and their join is user-keyed too — one co-partitioned key end to end
    (no per-user collect_list, which would be unbounded state); the 2x2
    rollup is a 4-cell partial agg. The fleet-size-independent output is
    the decision a growth team actually reads off an experiment.
    """
    events = load_table(spark, sf_dir, "events")
    typed = events.filter(F.col("event_type").isin("view", "purchase"))
    exposed = (
        typed.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    conversions = (
        typed.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .join(exposed, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    per_user = exposed.join(conversions, "user_id", "left").select(
        (F.col("user_id") % 2).alias("arm"),
        (F.coalesce(F.col("n_purchases"), F.lit(0)) >= 14).alias("converted"),
    )
    cells = per_user.agg(
        F.sum(
            F.when((F.col("arm") == 0) & F.col("converted"), 1).otherwise(0)
        ).alias("a"),
        F.sum(
            F.when((F.col("arm") == 0) & ~F.col("converted"), 1).otherwise(0)
        ).alias("b"),
        F.sum(
            F.when((F.col("arm") == 1) & F.col("converted"), 1).otherwise(0)
        ).alias("c"),
        F.sum(
            F.when((F.col("arm") == 1) & ~F.col("converted"), 1).otherwise(0)
        ).alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    # num and denom promote to DOUBLE before any product of two
    # corpus-scale counts: num^2 ~ (ad)^2 and the margin product overflow
    # int64 long before 100 TB user counts do — the double propagates
    # left-to-right identically in Spark and DuckDB, keeping the statistic
    # bit-identical cross-engine.
    num = (
        F.col("a").cast("double") * F.col("d")
        - F.col("b").cast("double") * F.col("c")
    )
    denom = (
        (F.col("a") + F.col("b")).cast("double")
        * (F.col("c") + F.col("d"))
        * (F.col("a") + F.col("c"))
        * (F.col("b") + F.col("d"))
    )
    chi2 = F.when(
        denom > 0, (n.cast("double") * num * num) / denom
    )  # a degenerate table (an empty margin) has no defined statistic
    return cells.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("c").cast("long"),
        F.col("d").cast("long"),
        F.round(chi2, 4).alias("chi2"),
        F.coalesce(chi2 > 3.841, F.lit(False)).alias("significant_at_05"),
    )


# --- int64 overflow guard for the pair-statistic family ---------------------
# The rank/pair statistics carry exact-integer moment
# sums whose worst-case magnitudes are polynomial in N — past a per-query
# ceiling, long arithmetic THROWS under Spark 4 ANSI mode. The ceilings are
# worst-case-exact, derived from each query's largest intermediate:
#   spearman      n*sxx <= (4/3)n^4 + O(n^3)  -> n <= ~51k (TPC-H sf1 part
#                 is 200k rows: this is a REAL pre-guard crash, not theory)
#   kendall       n*(n-1) pair total          -> n <= ~3.03e9
#   mann-whitney  tie term sum(t^3 - t) <= n^3 (fully-tied sample) -> ~2.09e6
# (quality_ks_two_sample is exempt by construction: its CDFs divide each
# cumulative count FIRST, so it never forms an integer product.)
# The guard counts the base table on every call (a parquet metadata
# count) and promotes the moment arithmetic to decimal(38,0) — exact to
# 1e38, covering n up to ~3e9 even for the quartic Spearman terms.

_STAT_CEILING_SPEARMAN = 50_000
_STAT_CEILING_KENDALL = 3_000_000_000
_STAT_CEILING_MANN_WHITNEY = 2_000_000


def _stat_sum_type(
    spark: SparkSession, sf_dir: str, table: str, ceiling: int
) -> str:
    """Return the SQL type for a pair-statistic's exact integer sums.

    ``"long"`` below ``ceiling`` rows (the fast codegen path — redundant
    long->long casts are elided by Catalyst, so the guarded plan is
    byte-identical to the unguarded one), ``"decimal(38,0)"`` above it.
    The row count is conservative (the UNFILTERED base table, metadata
    count) so the decision never needs a data scan; promotion a little
    early is exactness at a small cost, never an error.
    """
    if load_table(spark, sf_dir, table).count() <= ceiling:
        return "long"
    return "decimal(38,0)"


@query
def quality_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the price distributions
    of returned ('R') and acknowledged ('A') lineitems — the
    distribution-equality check a drift monitor runs next to PSI
    (:func:`quality_drift_psi`), but nonparametric and binning-free:
    D = max_v |F_R(v) - F_A(v)| over the empirical CDFs, with the
    alpha=0.05 decision D > 1.358 * sqrt((n1+n2)/(n1*n2)).

    Scale shape: ONE pass buckets both samples per distinct price (integer
    cents) — a partial-agg groupBy; the CDF sums then run via
    :func:`~..operators.ranking.two_phase_running` over $100 cent-range
    buckets (the distinct-cents domain tracks sample
    cardinality until the ~10.4M-value price domain saturates, so the old
    unpartitioned window funneled it through ONE task; phase 2's serial
    window sees ~1k bucket rows, phase 3 parallelizes per bucket, and the
    cumulative counts are the same exact longs). Each CDF value is one
    exact integer count divided once (bit-identical doubles cross-engine;
    the integer-product form cum1*n2 would overflow int64 at ~1e10-row
    samples, so the division happens FIRST, identically in both engines);
    the max/abs/sqrt chain is deterministic IEEE arithmetic, rounded at
    one site. Exempt from the :func:`_stat_sum_type` guard BY
    CONSTRUCTION: this query never forms an integer product, so its only
    ceiling is the count itself (int64).
    """
    from ..operators.ranking import two_phase_running
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
    )
    per_value = (
        li.select(
            F.round(F.col("l_extendedprice") * 100).cast("long").alias(
                "cents"
            ),
            "l_returnflag",
        )
        .groupBy("cents")
        .agg(
            F.sum(
                F.when(F.col("l_returnflag") == "A", 1).otherwise(0)
            ).alias("c1"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("c2"),
        )
    )
    totals = per_value.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    cum = two_phase_running(
        per_value,
        F.floor(F.col("cents") / 10000).cast("long"),
        ["cents"],
        [("c1", "sum", "cum1"), ("c2", "sum", "cum2")],
        current_row=True,
    )
    cdf_gap = F.abs(
        F.col("cum1").cast("double") / F.col("n1")
        - F.col("cum2").cast("double") / F.col("n2")
    )
    gaps = cum.crossJoin(F.broadcast(totals)).select(
        "n1", "n2", cdf_gap.alias("gap")
    )
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double")
        / (F.col("n1").cast("double") * F.col("n2"))
    )
    return (
        gaps.groupBy("n1", "n2")
        .agg(F.max("gap").alias("ks_d_raw"))
        .select(
            F.col("n1").cast("long"),
            F.col("n2").cast("long"),
            F.round(F.col("ks_d_raw"), 6).alias("ks_d"),
            (F.col("ks_d_raw") > crit).alias("reject_equality_at_05"),
        )
    )


@query
def clean_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust mean of lineitem prices per return flag: values
    clipped to the group's [p05, p95] before averaging — the outlier
    treatment a feature pipeline applies where trimming would change
    counts. Two grouped aggregates: (1) exact p05/p95 per flag over
    INTEGER cents, each boundary rounded ONCE to an integer (the repo's
    percentile knife-edge discipline); (2) re-aggregate with the clip
    applied — the clipped values are integers, so the group sum is exact
    and the mean is one division at one site, next to the raw mean for
    the outlier-impact readout.

    Scale shape: ONE scan of lineitem — a (flag, cents) partial-agg
    rollup (value-DOMAIN-bounded output) feeds BOTH passes, so the raw
    table is scanned once: the exact percentiles
    come from frequency-weighted ``percentile(cents, p, cnt)`` over the
    rollup (identical by definition to the per-row percentile), and the
    clipped/raw sums re-aggregate the same rollup with cnt weights. The
    boundary frame is group-cardinality-bounded (broadcast join back,
    the impute-median pattern). No window, no sort.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    rollup = li.groupBy("l_returnflag", "cents").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    bounds = rollup.groupBy("l_returnflag").agg(
        F.round(
            F.percentile(F.col("cents"), F.lit(0.05), F.col("cnt"))
        ).cast("long").alias("lo"),
        F.round(
            F.percentile(F.col("cents"), F.lit(0.95), F.col("cnt"))
        ).cast("long").alias("hi"),
    )
    clipped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("cents")))
    return (
        rollup.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum("cnt").alias("n_items"),
            F.max("lo").alias("lo_cents"),
            F.max("hi").alias("hi_cents"),
            F.sum(clipped * F.col("cnt")).alias("clipped_sum"),
            F.sum(F.col("cents") * F.col("cnt")).alias("raw_sum"),
        )
        .select(
            "l_returnflag",
            F.col("n_items").cast("long"),
            (F.col("lo_cents") / 100.0).alias("p05"),
            (F.col("hi_cents") / 100.0).alias("p95"),
            F.round(F.col("clipped_sum") / F.col("n_items") / 100.0, 2).alias(
                "winsorized_mean"
            ),
            F.round(F.col("raw_sum") / F.col("n_items") / 100.0, 2).alias(
                "raw_mean"
            ),
        )
        .orderBy("l_returnflag")
    )


@query
def events_seasonal_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy backtest of the SEASONAL-NAIVE predictor (count
    seven days ago) against the random-walk naive (count one day ago) on
    the daily event series — the MASE readout (mean absolute error scaled
    by the naive baseline's) a pipeline runs before trusting any fancier
    forecaster. Both predictors are day-keyed SELF EQUI-JOINS on day+lag
    (no window, no sort): a day scores only when its lagged day exists, so
    series gaps exclude themselves instead of silently comparing across
    them. Absolute errors are exact integers; the two means and their
    ratio divide in one fixed expression order (bit-identical
    cross-engine), rounded at one site.

    Scale shape: one day-keyed partial-agg rollup (domain-bounded output)
    then two joins on that bounded frame — the heavy lifting is the first
    aggregate's single shuffle; everything after runs on one row per day.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    ref7 = daily.select(
        F.date_add(F.col("day"), 7).alias("day"), F.col("n").alias("n_lag7")
    )
    ref1 = daily.select(
        F.date_add(F.col("day"), 1).alias("day"), F.col("n").alias("n_lag1")
    )
    seasonal = daily.join(ref7, "day").agg(
        F.count(F.lit(1)).alias("n_scored_seasonal"),
        F.sum(F.abs(F.col("n") - F.col("n_lag7"))).alias("sae_seasonal"),
    )
    naive = daily.join(ref1, "day").agg(
        F.count(F.lit(1)).alias("n_scored_naive"),
        F.sum(F.abs(F.col("n") - F.col("n_lag1"))).alias("sae_naive"),
    )
    mase = (
        F.col("sae_seasonal").cast("double") / F.col("n_scored_seasonal")
    ) / (F.col("sae_naive").cast("double") / F.col("n_scored_naive"))
    return seasonal.crossJoin(F.broadcast(naive)).select(
        F.col("n_scored_seasonal").cast("long"),
        F.col("sae_seasonal").cast("long"),
        F.col("n_scored_naive").cast("long"),
        F.col("sae_naive").cast("long"),
        F.round(mase, 4).alias("mase"),
        (mase < 1.0).alias("seasonal_beats_naive"),
    )


@query
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability over the part co-occurrence graph
    (:func:`_cooccurrence_edges`): exact hop distance from the seed (the
    minimum part id in the graph — deterministic at every SF) for every
    node within 3 hops, rolled up per hop with an id-sum checksum. The
    third graph primitive next to counting (triangles) and scoring
    (PageRank): distance labeling — the reachability/expansion question a
    catalog asks of its substitution graph.

    Scale shape: each hop is ONE edge-keyed shuffle join (current frontier
    to out-edges) followed by a node-keyed min-aggregate that both dedups
    the frontier and keeps the SHORTEST distance — the textbook
    distributed BFS step; the seed arrives as a broadcast 1-row aggregate,
    never a driver round-trip. Hop count is fixed (3), so the whole walk
    is one lazy plan; the edge frame (support-bounded, far smaller than
    lineitem) is persisted once per call — each hop joins the cached
    edges instead of replaying the basket self-join per frontier.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = _cooccurrence_edges(li)
    dir_edges = persist_scoped(
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
            edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        ),
        "bfs_dir_edges",
    )
    nodes = dir_edges.select(F.col("src").alias("n")).distinct()
    seed = nodes.agg(F.min("n").alias("n"))
    reached = F.broadcast(seed).select("n", F.lit(0).alias("dist"))
    for _ in range(3):
        expanded = (
            reached.join(dir_edges, reached["n"] == dir_edges["src"])
            .select(
                F.col("dst").alias("n"), (F.col("dist") + 1).alias("dist")
            )
        )
        reached = (
            reached.unionByName(expanded)
            .groupBy("n")
            .agg(F.min("dist").alias("dist"))
        )
    return (
        reached.groupBy("dist")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("n").alias("id_checksum"),
        )
        .select(
            F.col("dist").cast("int").alias("hop"),
            F.col("n_nodes").cast("long"),
            F.col("id_checksum").cast("long"),
        )
        .orderBy("hop")
    )


@query
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per day, NEW users (first ever seen that day)
    and the cumulative distinct-user count to date — the acquisition curve
    read off every growth dashboard, computed without any per-day distinct
    union: first-seen day per user is one user-keyed min-aggregate, the
    daily new-user rollup is day-keyed, and the running total is a
    cumulative window over the DOMAIN-BOUNDED day axis (the repo's
    sanctioned bounded serial window). Exact integers end to end.
    """
    events = load_table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily_new = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        daily_new.withColumn(
            "cumulative_users", F.sum("new_users").over(w)
        )
        .select(
            "day",
            F.col("new_users").cast("long"),
            F.col("cumulative_users").cast("long"),
        )
        .orderBy("day")
    )


@query
def events_market_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets (support >= 2 orders, top 20) — the depth-3
    level of the frequent-itemset lattice above
    :func:`events_market_basket_pairs`, with the CLASSIC Apriori prune
    carried one level up: a triple {a,b,c} can qualify only if its prefix
    pair (a,b) is itself frequent, so the third self-join extends FREQUENT
    PAIR occurrences (a semi-join against the support->=2 pair set) rather
    than all pair occurrences. Enumeration stays basket-bounded — the
    order-key joins fan out O(basket^3) per order, the bound held
    structurally by the :func:`_mineable_baskets` hot-basket guard
    (TPC-H baskets are <= 7 items; the guard exists for the pathological
    basket whose cube would otherwise be a single-task wall), never
    corpus-cubed — and the prune is output-invariant by
    the Apriori theorem (support is anti-monotone on the lattice).

    Top-20 cut total-ordered by (support desc, a, b, c); all integers.
    """
    li = load_table(spark, sf_dir, "lineitem")
    baskets = persist_scoped(
        _mineable_baskets(li), "mb_triples_baskets"
    )
    item = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c_item"))
    # frequent feeds three join branches; pair occurrences feed both the
    # frequent-pair support count and the pruned extension join — persist
    # each once per call (one-generation storage bound per scope)
    frequent = persist_scoped(
        baskets.join(
            item.filter(F.col("c_item") >= 2).select("l_partkey"), "l_partkey"
        ),
        "mb_triples_frequent",
    )
    pair_occ = persist_scoped(
        frequent.select("l_orderkey", F.col("l_partkey").alias("part_a"))
        .join(
            frequent.select("l_orderkey", F.col("l_partkey").alias("part_b")),
            "l_orderkey",
        )
        .filter(F.col("part_a") < F.col("part_b")),
        "mb_triples_pair_occ",
    )
    freq_pairs = (
        pair_occ.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("c_pair"))
        .filter(F.col("c_pair") >= 2)
        .select("part_a", "part_b")
    )
    pruned_occ = pair_occ.join(freq_pairs, ["part_a", "part_b"], "left_semi")
    triples = (
        pruned_occ.join(
            frequent.select("l_orderkey", F.col("l_partkey").alias("part_c")),
            "l_orderkey",
        )
        .filter(F.col("part_b") < F.col("part_c"))
        .groupBy("part_a", "part_b", "part_c")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )
    return (
        triples.orderBy(
            F.desc("support"), F.asc("part_a"), F.asc("part_b"), F.asc("part_c")
        )
        .limit(20)
        .select(
            "part_a",
            "part_b",
            "part_c",
            F.col("support").cast("long"),
        )
    )


@query
def anomaly_cusum_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point detection on the daily event series via CUSUM: the
    running sum of deviations from the global daily mean, whose extreme
    excursion marks the most likely level-shift point. One day-keyed
    rollup (domain-bounded), the mean as a broadcast 1-row aggregate, and
    the cumulative sum over the bounded day axis — a window cumsum is
    SEQUENTIAL by definition, so even its float additions are
    order-identical cross-engine (mean = exact integer sum / count,
    bit-identical). Output: the excursion extremes and where they land,
    tie-broken by day.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = daily.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mean_n"),
        F.count(F.lit(1)).alias("n_days"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cusum = daily.crossJoin(F.broadcast(stats)).withColumn(
        "s", F.sum(F.col("n") - F.col("mean_n")).over(w)
    )
    peak_hi = cusum.orderBy(F.desc(F.round(F.col("s"), 6)), F.asc("day")).limit(1)
    peak_lo = cusum.orderBy(F.asc(F.round(F.col("s"), 6)), F.asc("day")).limit(1)
    hi = peak_hi.select(
        F.col("day").alias("max_cusum_day"),
        F.round(F.col("s"), 4).alias("max_cusum"),
        F.col("n_days").cast("long").alias("n_days"),
    )
    lo = peak_lo.select(
        F.col("day").alias("min_cusum_day"),
        F.round(F.col("s"), 4).alias("min_cusum"),
    )
    return hi.crossJoin(F.broadcast(lo)).select(
        "n_days", "max_cusum_day", "max_cusum", "min_cusum_day", "min_cusum"
    )


@query
def sample_proportional_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional stratified sampling with EXACT integer quotas: a 10%
    customer sample allocated across market segments by the largest-
    remainder method (quota_i = floor(k*size_i/n), the leftover seats
    going to the largest remainders, ties by segment name), then filled
    per stratum by deterministic md5-hash priority — the "build an eval
    set proportional to the population, to the exact row" draw, with the
    same integer-conservation discipline as the attribution and
    token-budget operators (quotas sum to k EXACTLY, no float shares).

    Scale shape: allocation runs on the segment-cardinality-bounded
    size frame (a bounded window over 5 rows); selection is one
    segment-keyed rank window against the broadcast quota frame. Emitted
    as a per-stratum rollup with an id-sum checksum so the oracle
    certifies the exact picked SET, not just counts.
    """
    cust = load_table(spark, sf_dir, "customer")
    sizes = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("stratum_n")
    )
    totals = sizes.agg(
        F.sum("stratum_n").alias("n"),
        (F.sum("stratum_n").cast("long") / F.lit(10)).cast("long").alias("k"),
    )
    alloc = sizes.crossJoin(F.broadcast(totals)).select(
        "c_mktsegment",
        "stratum_n",
        F.expr("k * stratum_n div n").alias("base"),
        ((F.col("k") * F.col("stratum_n")) % F.col("n")).alias("rem"),
        "k",
    )
    w_rem = Window.orderBy(F.desc("rem"), F.asc("c_mktsegment"))
    w_all = Window.partitionBy(F.lit(1))
    quotas = (
        alloc.withColumn("rem_rank", F.row_number().over(w_rem))
        .withColumn("leftover", F.col("k") - F.sum("base").over(w_all))
        .select(
            "c_mktsegment",
            "stratum_n",
            (
                F.col("base")
                + F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
            ).alias("quota"),
        )
    )
    h = sampling.uniform_hash(F.col("c_custkey"), "quota")
    w_pick = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("h"), F.asc("c_custkey")
    )
    picked = (
        cust.select("c_mktsegment", "c_custkey", h.alias("h"))
        .withColumn("rk", F.row_number().over(w_pick))
        .join(F.broadcast(quotas), "c_mktsegment")
        .filter(F.col("rk") <= F.col("quota"))
    )
    return (
        picked.groupBy("c_mktsegment")
        .agg(
            F.max("stratum_n").cast("long").alias("stratum_n"),
            F.max("quota").cast("long").alias("quota"),
            F.count(F.lit(1)).alias("n_picked"),
            F.sum("c_custkey").alias("custkey_checksum"),
        )
        .orderBy("c_mktsegment")
    )


@query
def agg_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration readout: what share of total order revenue
    comes from "whale" customers at or above the p99 per-customer revenue
    boundary — the concentration question behind every skew-handling
    decision (salting bounds, tiered caching, account-level rate limits).
    Defined by the BOUNDARY (revenue >= exact p99), not a top-k cut, so
    ties resolve identically in both engines with no ordering knife-edge.

    Scale shape: one customer-keyed revenue rollup (integer cents), one
    exact-percentile aggregate over it, one broadcast threshold compare +
    re-aggregate — every stage partial-agg friendly; no sort, no window,
    no data-sized single task anywhere (the reshape the weighted-median
    wall taught: never rank the full population when a boundary value
    answers the question).
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_cents"
        )
    )
    threshold = per_cust.agg(
        F.round(F.percentile(F.col("rev_cents"), F.lit(0.99)))
        .cast("long")
        .alias("p99_cents")
    )
    share = F.col("top_cents").cast("double") / F.col("total_cents")
    return (
        per_cust.crossJoin(F.broadcast(threshold))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.max("p99_cents").alias("p99_cents"),
            F.sum(
                F.when(F.col("rev_cents") >= F.col("p99_cents"), 1).otherwise(0)
            ).alias("n_whales"),
            F.sum(
                F.when(
                    F.col("rev_cents") >= F.col("p99_cents"),
                    F.col("rev_cents"),
                ).otherwise(F.lit(0))
            ).alias("top_cents"),
            F.sum("rev_cents").alias("total_cents"),
        )
        .select(
            F.col("n_customers").cast("long"),
            F.round(F.col("p99_cents") / 100.0, 2).alias("p99_revenue"),
            F.col("n_whales").cast("long"),
            F.round(F.col("top_cents") / 100.0, 2).alias("whale_revenue"),
            F.round(F.col("total_cents") / 100.0, 2).alias("total_revenue"),
            F.round(share, 6).alias("whale_share"),
        )
    )


@query
def orc_roundtrip_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip certification — the columnar-format twin of the CSV
    DLQ ingest: orders write to ORC (zlib) and read back with the explicit
    schema, and the one-row summary (count, key checksum, integer-cents
    revenue, date bounds) must match the PARQUET source exactly — the
    oracle reads only the original parquet, so a green row proves the
    round-trip lossless across every column type it touches (int, double,
    string, timestamp). The interop check a lakehouse pays once per
    format before trusting cross-engine handoffs.

    Scale shape: the write is one pass; the read-back summary is a single
    partial-agg scan over the ORC files. Work files live under the repo
    warehouse (per-SF subdir), rebuilt per run.
    """
    import shutil

    work = _work_dir(sf_dir, "_orc_roundtrip")
    if os.path.exists(work):
        shutil.rmtree(work)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    orders.write.mode("overwrite").option("compression", "zlib").orc(work)
    back = spark.read.schema(orders.schema).orc(work)
    return back.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        ),
        F.count_distinct("o_orderstatus").alias("n_statuses"),
        F.min(F.to_date("o_orderdate")).alias("first_day"),
        F.max(F.to_date("o_orderdate")).alias("last_day"),
        F.sum(F.length("o_orderpriority")).cast("long").alias(
            "priority_strlen_sum"
        ),
    )


@query
def anomaly_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot / automation detection by inter-event timing regularity: a
    human's gaps between events vary; a scripted client's barely do. Per
    user with >= 10 events, the coefficient of variation of inter-event
    gaps (seconds), computed EXACTLY from integers: gaps via a user-keyed
    lag, variance as (n*Σx² − (Σx)²)/n² — integer sums in SECONDS (µs²
    would overflow int64), ONE division site, then sqrt/divide (IEEE-
    deterministic both engines). Users under cv 0.1 flag as suspiciously
    regular. The abuse-filtering signal a training-data pipeline applies
    before user-generated text enters a corpus.

    Scale shape: one user-keyed window for the lag (the same single
    exchange sessionization pays), one user-keyed aggregate, one global
    4-cell rollup. No floats until the terminal statistics.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.select("user_id", "ts", "event_id")
        .withColumn(
            "gap_s",
            (
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.lag("ts").over(w))
            )
            / F.lit(1_000_000),
        )
        .filter(F.col("gap_s").isNotNull())
        .select("user_id", F.floor("gap_s").cast("long").alias("gap_s"))
    )
    per_user = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("gap_s").alias("sx"),
            F.sum(F.col("gap_s") * F.col("gap_s")).alias("sxx"),
        )
        .filter((F.col("n") >= 10) & (F.col("sx") > 0))
    )
    mean = F.col("sx").cast("double") / F.col("n")
    var = (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        / (F.col("n") * F.col("n"))
    )
    scored = per_user.select(
        "user_id", (F.sqrt(var) / mean).alias("cv")
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(F.when(F.col("cv") < 0.1, 1).otherwise(0)).alias("n_flagged"),
        F.round(F.min(F.round(F.col("cv"), 6)), 4).alias("min_cv"),
        F.round(F.max(F.round(F.col("cv"), 6)), 4).alias("max_cv"),
    ).select(
        F.col("n_scored").cast("long"),
        F.col("n_flagged").cast("long"),
        "min_cv",
        "max_cv",
    )


@query
def quality_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screening by k-NN agreement (the Confident-Learning-
    style first pass): a vector whose 5 nearest neighbours mostly carry a
    DIFFERENT label is a mislabeling suspect. Neighbours by integer-
    quantized dot product (the engine-exact similarity the ANN family
    certifies), majority by count with ties broken toward agreement; the
    audit runs on a FIXED-SIZE deterministic sample — the 256 vectors
    with smallest md5 priority (the reservoir-sample draw), so the
    broadcast side is bounded BY CONSTRUCTION at any corpus scale (a
    fraction-of-corpus audit would be a data-sized broadcast, the
    mis-broadcast class the k-means fix documents; a full-corpus audit
    is the blocked-GEMM job embedding_near_duplicates ships).

    Scale shape: one corpus scan against the 256-row bounded query set;
    per-batch dot products via ONE exact float64 GEMM (Arrow-batched
    mapInPandas — the q*n interpreted zip_with/aggregate form paid the
    measured ~10x higher-order-function tax) emitting at most 256*(5+1)
    candidate rows per batch regardless of corpus size; the global neighbour
    cut is a WindowGroupLimit rank over those partials; label counts are a
    (vector, label)-keyed partial agg. Output is a one-row rollup plus the
    disagreement rate at one float site.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # bounded by construction: exactly 256 rows leave the cluster
    audited_rows = (
        emb.withColumn("h", sampling.uniform_hash(F.col("vec_id"), "knn_audit"))
        .orderBy(F.asc("h"), F.asc("vec_id"))
        .limit(256)
        .select(
            F.col("vec_id").alias("q_id"),
            similarity.quantize(F.col("embedding")).alias("q_vec"),
            F.col("label").alias("q_label"),
        )
        .collect()
    )
    corpus = emb.select(
        "vec_id", similarity.quantize(F.col("embedding")).alias("c_vec"),
        "label",
    )
    partials = similarity.knn_partial_topk_matmul(
        corpus, audited_rows, k=5,
        extra=1,  # slack for exactly the one self-match filtered below
    ).filter(F.col("vec_id") != F.col("q_id"))
    w = Window.partitionBy("q_id").orderBy(F.desc("dot_q"), F.asc("vec_id"))
    knn = partials.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 5
    )
    votes = knn.groupBy("q_id", "q_label").agg(
        F.sum(
            F.when(F.col("label") == F.col("q_label"), 1).otherwise(0)
        ).alias("agree_votes")
    )
    return votes.agg(
        F.count(F.lit(1)).alias("n_audited"),
        F.sum(F.when(F.col("agree_votes") < 3, 1).otherwise(0)).alias(
            "n_suspect"
        ),
        F.sum("agree_votes").alias("total_agree_votes"),
    ).select(
        F.col("n_audited").cast("long"),
        F.col("n_suspect").cast("long"),
        F.col("total_agree_votes").cast("long"),
        F.round(
            F.col("n_suspect").cast("double") / F.col("n_audited"), 6
        ).alias("suspect_rate"),
    )


@query
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommender / contrastive
    training: for each audited user, 5 popular items they have NEVER
    interacted with — the (user, item) negatives that pair with observed
    positives in a training batch. Both frame sizes are FIXED by
    construction (64 md5-priority users x the 128 most-ordered parts =
    8192 candidates) so the only corpus-sized work is the anti-join
    against the interaction set, which shuffles on the (user, item) pair
    key — exactly the join a 100 TB interaction log supports; negatives
    are chosen by md5 hash priority, so the draw is reproducible across
    engines and runs (no RNG).
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    interactions = (
        orders.select("o_orderkey", "o_custkey")
        .join(li.select("l_orderkey", "l_partkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    users = (
        orders.select("o_custkey")
        .distinct()
        .withColumn("hu", sampling.uniform_hash(F.col("o_custkey"), "neg_u"))
        .orderBy(F.asc("hu"), F.asc("o_custkey"))
        .limit(64)
        .select("o_custkey")
    )
    items = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("l_partkey"))
        .limit(128)
        .select("l_partkey")
    )
    candidates = users.crossJoin(F.broadcast(items))
    negatives = candidates.join(
        interactions, ["o_custkey", "l_partkey"], "left_anti"
    )
    h = sampling.uniform_hash(
        F.concat(
            F.col("o_custkey").cast("string"),
            F.lit(":"),
            F.col("l_partkey").cast("string"),
        ),
        "neg_pick",
    )
    w = Window.partitionBy("o_custkey").orderBy(F.asc("h"), F.asc("l_partkey"))
    return (
        negatives.withColumn("h", h)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "o_custkey", "l_partkey", F.col("rk").cast("int").alias("rank")
        )
        .orderBy("o_custkey", "rank")
    )


@query
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    the maximal stopword-free token runs (split on a stopword-boundary
    regex — RE2 and Java regex agree on this alternation, verified), each
    scored by the sum over its words of degree/frequency, where degree
    counts co-occurring words inside candidates. Top-20 phrases by score
    — the unsupervised keyword miner that needs no corpus-wide IDF pass.

    Scale shape: phrase extraction is a map-side regex split; word stats
    are one word-keyed partial agg over exploded phrase words (vocab-
    bounded output); scoring joins the DISTINCT phrase set (not every
    occurrence) to the word stats and re-aggregates — phrases of <= 3
    words keep the per-phrase float sum at 3 terms (one rounded site);
    the top-20 cut is total-ordered by (rounded score, phrase).
    """
    stop_pat = r"\b(?:the|a|an|of|and|or|to|in|is|it|for|on)\b"
    docs = load_documents(spark, sf_dir)
    occ = (
        docs.select(F.explode(F.split("text", stop_pat)).alias("raw"))
        .select(F.trim(F.col("raw")).alias("phrase"))
        .filter(F.length("phrase") > 0)
        .withColumn("n_words", F.size(F.split("phrase", " ")))
        .filter(F.col("n_words") <= 3)
    )
    wstats = (
        occ.select(F.explode(F.split("phrase", " ")).alias("word"), "n_words")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("n_words").alias("degree"),
        )
    )
    phrases = occ.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occurrences"))
    scored = (
        phrases.select(
            "phrase",
            "n_occurrences",
            F.explode(F.split("phrase", " ")).alias("word"),
        )
        .join(wstats, "word")
        .groupBy("phrase", "n_occurrences")
        .agg(
            F.round(
                F.sum(F.col("degree").cast("double") / F.col("freq")), 4
            ).alias("rake_score")
        )
    )
    top = scored.orderBy(F.desc("rake_score"), F.asc("phrase")).limit(20)
    w = Window.partitionBy(F.lit(1)).orderBy(F.desc("rake_score"), F.asc("phrase"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "rank", "phrase", F.col("n_occurrences").cast("long"), "rake_score"
    )


@query
def join_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO allocation — returns matched against earlier shipments in
    first-in-first-out order (the inventory-aging / cost-basis primitive):
    per part, each returned unit consumes the earliest shipped units not
    yet consumed. The classic imperative loop becomes a SET-BASED plan via
    cumulative-quantity intervals: supply row i covers units
    [cum_{i-1}, cum_i) of its part's shipped total, demand row j covers
    units [cum_{j-1}, cum_j) of the returned total, and FIFO matching is
    EXACTLY the overlap of those integer intervals — a part-keyed
    equi-join with a band filter, matched qty =
    least(hi) − greatest(lo). No loop, no recursion, no window beyond the
    two per-part cumulative sums.

    Scale shape: both cumulative windows partition on the PART key
    (millions of partitions, rows per part bounded by line density — the
    opposite of the weighted-median wall); the join fans out only to
    overlapping pairs per part (FIFO chains give S+D pairs, the band
    filter prunes the rest). All quantities integer end to end.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("qty"),
        F.to_date("l_shipdate").alias("d"),
        "l_returnflag",
    )
    w = Window.partitionBy("l_partkey").orderBy(
        "d", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    supply = (
        li.filter(F.col("l_returnflag") != "R")
        .withColumn("cs", F.sum("qty").over(w))
        .select(
            "l_partkey",
            (F.col("cs") - F.col("qty")).alias("s_lo"),
            F.col("cs").alias("s_hi"),
        )
    )
    demand = (
        li.filter(F.col("l_returnflag") == "R")
        .withColumn("cd", F.sum("qty").over(w))
        .select(
            "l_partkey",
            (F.col("cd") - F.col("qty")).alias("d_lo"),
            F.col("cd").alias("d_hi"),
        )
    )
    matched = (
        supply.join(demand, "l_partkey")
        .filter((F.col("s_lo") < F.col("d_hi")) & (F.col("d_lo") < F.col("s_hi")))
        .select(
            "l_partkey",
            (
                F.least(F.col("s_hi"), F.col("d_hi"))
                - F.greatest(F.col("s_lo"), F.col("d_lo"))
            ).alias("m_qty"),
        )
    )
    totals = li.agg(
        F.sum(F.when(F.col("l_returnflag") == "R", F.col("qty")).otherwise(0)
              ).alias("total_demand"),
        F.sum(F.when(F.col("l_returnflag") != "R", F.col("qty")).otherwise(0)
              ).alias("total_supply"),
    )
    rollup = matched.agg(
        F.count_distinct("l_partkey").alias("n_parts_matched"),
        F.count(F.lit(1)).alias("n_matched_pairs"),
        F.sum("m_qty").alias("matched_qty"),
    )
    return rollup.crossJoin(F.broadcast(totals)).select(
        F.col("n_parts_matched").cast("long"),
        F.col("n_matched_pairs").cast("long"),
        F.col("matched_qty").cast("long"),
        F.col("total_demand").cast("long"),
        (F.col("total_demand") - F.col("matched_qty")).cast("long").alias(
            "unmatched_demand"
        ),
        F.col("total_supply").cast("long"),
    )


# --- statistics, running balance, segmentation, search --------------------


@query
def quality_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-annotator agreement — the label-quality gate a
    training-data pipeline runs before trusting any labeling scheme. Two
    deterministic rule-based "annotators" bucket each document into
    short/medium/long: A trusts the n_chars metadata column (250/400
    boundaries), B measures the text itself by whitespace-separated token
    count via space count (45/70). Kappa corrects raw agreement for
    chance: with N docs, A = agreement count, and E = sum over classes of
    rowTotal*colTotal, kappa = (N*A - E) / (N^2 - E) — the usual
    (po-pe)/(1-pe) with both sides multiplied by N^2, so EVERYTHING is
    exact int64 until one terminal division.

    Scale shape: two CASE projections, one (label_a, label_b) groupBy — a
    9-cell confusion matrix via map-side partial aggregation; the kappa
    algebra runs on the 9 collected-by-aggregate cells. No window, no
    join, no data-sized single task.
    """
    docs = load_documents(spark, sf_dir)
    n_spaces = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    )
    label_a = (
        F.when(F.col("n_chars") < 250, "short")
        .when(F.col("n_chars") < 400, "medium")
        .otherwise("long")
    )
    label_b = (
        F.when(n_spaces < 45, "short")
        .when(n_spaces < 70, "medium")
        .otherwise("long")
    )
    cells = (
        docs.select(label_a.alias("label_a"), label_b.alias("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = (
        cells.agg(
            F.sum("c").alias("n_docs"),
            F.sum(
                F.when(F.col("label_a") == F.col("label_b"), F.col("c"))
                .otherwise(F.lit(0))
            ).alias("n_agree"),
        )
    )
    # chance_weight = sum over CLASSES k of row_k*col_k (E in the kappa
    # identity); marginals computed independently and full-joined so a
    # class one annotator never emits still contributes its zero term.
    rows = cells.groupBy(F.col("label_a").alias("k")).agg(
        F.sum("c").alias("row_tot")
    )
    cols = cells.groupBy(F.col("label_b").alias("k")).agg(
        F.sum("c").alias("col_tot")
    )
    chance = (
        rows.join(cols, "k", "full")
        .agg(
            F.sum(
                F.coalesce(F.col("row_tot"), F.lit(0))
                * F.coalesce(F.col("col_tot"), F.lit(0))
            ).alias("chance_weight")
        )
    )
    return (
        stats.crossJoin(F.broadcast(chance))
        .select(
            F.col("n_docs").cast("long"),
            F.col("n_agree").cast("long"),
            F.col("chance_weight").cast("long"),
            F.round(
                (
                    F.col("n_docs") * F.col("n_agree")
                    - F.col("chance_weight")
                ).cast("double")
                / (
                    F.col("n_docs") * F.col("n_docs")
                    - F.col("chance_weight")
                ).cast("double"),
                6,
            ).alias("kappa"),
        )
    )


@query
def window_clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-at-zero running inventory per part — the stateful recursion
    s_i = max(0, s_{i-1} + delta_i) that naive implementations write as a
    per-key loop, expressed in CLOSED FORM with two windows: with
    p_i = plain cumsum(delta), the clamped balance is
    s_i = p_i - least(0, running_min(p)_i) (each clamping event shifts
    the whole suffix up by exactly the overdraft, so subtracting the
    clamped running minimum replays every clamp at once). Returned units
    ('R') restock, shipped units draw down; a stock-out is a draw row
    whose clamped balance is zero.

    Scale shape: both windows partition on l_partkey (domain-sized
    parallelism, bounded rows per key) and the per-part summary needs no
    per-row output — final balance folds to sum(delta) - least(min(p), 0)
    so the result is one hash aggregate per part. All integers.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        F.to_date("l_shipdate").alias("d"),
        F.when(
            F.col("l_returnflag") == "R", F.col("l_quantity").cast("long")
        )
        .otherwise(-F.col("l_quantity").cast("long"))
        .alias("delta"),
    )
    w = Window.partitionBy("l_partkey").orderBy(
        "d", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = li.withColumn("p", F.sum("delta").over(w)).withColumn(
        "m", F.least(F.min("p").over(w), F.lit(0))
    )
    bal = cum.withColumn("bal", F.col("p") - F.col("m"))
    per_part = bal.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_moves"),
        (F.sum("delta") - F.least(F.min("p"), F.lit(0)))
        .cast("long")
        .alias("final_balance"),
        F.max("bal").cast("long").alias("peak_balance"),
        F.sum(
            F.when(
                (F.col("bal") == 0) & (F.col("delta") < 0), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_stockouts"),
    )
    return per_part.orderBy("l_partkey")


@query
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency / frequency / monetary quartile
    scores, the classic CRM shape. Each per-customer metric is scored 1-4
    against its exact quartile BOUNDARIES (continuous percentiles over
    the population), not a global ntile rank: score = 1 + (m > q1) +
    (m > q2) + (m > q3) (recency inverted — more recent is better). The
    boundary formulation is the scale lesson from the weighted-median
    wall: a global rank needs a data-sized single-task sort, a boundary
    needs one distributed percentile aggregate and a broadcast compare.

    Output: one row per (r,f,m) segment with customer count and total
    monetary — bounded at 64 rows regardless of data size. Monetary in
    integer cents; the terminal division is the only float site.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "mon_cents"
        ),
        F.max(F.to_date("o_orderdate")).alias("last_d"),
    )
    anchor = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("g_max")
    )
    rfm = per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        "freq",
        "mon_cents",
        F.datediff(F.col("g_max"), F.col("last_d")).cast("long").alias(
            "rec_days"
        ),
    )
    bounds = rfm.agg(
        F.percentile(F.col("rec_days"), F.lit(0.25)).alias("r1"),
        F.percentile(F.col("rec_days"), F.lit(0.5)).alias("r2"),
        F.percentile(F.col("rec_days"), F.lit(0.75)).alias("r3"),
        F.percentile(F.col("freq"), F.lit(0.25)).alias("f1"),
        F.percentile(F.col("freq"), F.lit(0.5)).alias("f2"),
        F.percentile(F.col("freq"), F.lit(0.75)).alias("f3"),
        F.percentile(F.col("mon_cents"), F.lit(0.25)).alias("m1"),
        F.percentile(F.col("mon_cents"), F.lit(0.5)).alias("m2"),
        F.percentile(F.col("mon_cents"), F.lit(0.75)).alias("m3"),
    )
    def _score_up(c: str, q1: str, q2: str, q3: str):
        return (
            F.lit(1)
            + F.when(F.col(c) > F.col(q1), 1).otherwise(0)
            + F.when(F.col(c) > F.col(q2), 1).otherwise(0)
            + F.when(F.col(c) > F.col(q3), 1).otherwise(0)
        )

    def _score_down(c: str, q1: str, q2: str, q3: str):
        return (
            F.lit(1)
            + F.when(F.col(c) <= F.col(q3), 1).otherwise(0)
            + F.when(F.col(c) <= F.col(q2), 1).otherwise(0)
            + F.when(F.col(c) <= F.col(q1), 1).otherwise(0)
        )

    scored = rfm.crossJoin(F.broadcast(bounds)).select(
        "o_custkey",
        "mon_cents",
        _score_down("rec_days", "r1", "r2", "r3").alias("r_score"),
        _score_up("freq", "f1", "f2", "f3").alias("f_score"),
        _score_up("mon_cents", "m1", "m2", "m3").alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("mon_cents").alias("seg_cents"),
        )
        .select(
            F.concat_ws(
                "-",
                F.col("r_score").cast("string"),
                F.col("f_score").cast("string"),
                F.col("m_score").cast("string"),
            ).alias("segment"),
            F.col("r_score").cast("int"),
            F.col("f_score").cast("int"),
            F.col("m_score").cast("int"),
            "n_customers",
            F.round(F.col("seg_cents") / 100.0, 2).alias("seg_revenue"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@query
def quality_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rank correlation (tie-averaged) between part size
    and retail price — Pearson on average ranks, the general tied form.
    Ranks never touch a global per-row sort: each column collapses to its
    DISTINCT values (groupBy value + count), a cumulative window over the
    distinct-value table assigns the tie-averaged rank in doubled-integer
    space (2*avgrank = 2*cum_before + cnt + 1, exactly integral), and the
    row-level rank pairing comes back via two value-keyed joins. All five
    moment sums are exact int64; the two variance terms are promoted to
    DOUBLE before their product (their int64 product would overflow) and
    the statistic is one terminal division.

    Scale shape: rank tables are value-DOMAIN sized (the weighted-median
    collapse), the size-rank join is a broadcast (50 distinct sizes), the
    price-rank join shuffles on the value key. The int64 ceiling is
    ENFORCED, not documented: the n*sxx term reaches
    (4/3)n^4, so :func:`_stat_sum_type` counts the part table once and
    promotes every moment sum to exact decimal(38,0) past 50k rows —
    TPC-H sf1 (200k parts) would throw under ANSI long arithmetic
    without it (planted proof: tests/test_round14_ops.py).
    """
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_size").cast("long").alias("x"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("y"),
    )

    def rank2(df: DataFrame, col: str) -> DataFrame:
        # cumulative count via two_phase_running (bucketed split of
        # the distinct-value window, the KS-CDF reshape) —
        # value-range buckets of 1000 keep phase 2 at <=100 rows for
        # both rank columns (sizes collapse to one bucket, price cents
        # to ~10)
        from ..operators.ranking import two_phase_running

        counts = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        return two_phase_running(
            counts,
            F.floor(F.col(col) / 1000).cast("long"),
            [col],
            [("cnt", "sum", "cum")],
            current_row=True,
        ).select(
            col,
            (2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1).alias(
                f"r2_{col}"
            ),
        )

    ranked = part.join(F.broadcast(rank2(part, "x")), "x").join(
        rank2(part, "y"), "y"
    )
    # int64 guard: the n*sxx term reaches (4/3)n^4 —
    # ANSI long arithmetic throws past ~51k rows (TPC-H sf1 part = 200k
    # rows crashes unguarded). t == "long" below the ceiling keeps the
    # plan identical (redundant casts elided); above it every moment sum
    # runs in decimal(38,0), exact to n ~ 3e9 even for the quartic terms.
    t = _stat_sum_type(spark, sf_dir, "part", _STAT_CEILING_SPEARMAN)
    m = ranked.agg(
        F.count(F.lit(1)).cast(t).alias("n"),
        F.sum(F.col("r2_x").cast(t)).alias("sx"),
        F.sum(F.col("r2_y").cast(t)).alias("sy"),
        F.sum(F.col("r2_x").cast(t) * F.col("r2_y").cast(t)).alias("sxy"),
        F.sum(F.col("r2_x").cast(t) * F.col("r2_x").cast(t)).alias("sxx"),
        F.sum(F.col("r2_y").cast(t) * F.col("r2_y").cast(t)).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
        "num"
    )
    d1 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        F.col("n").cast(t),
        num.cast(t),
        d1.cast(t).alias("den_x"),
        d2.cast(t).alias("den_y"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / F.sqrt(
                d1.cast("double") * d2.cast("double")
            ),
            6,
        ).alias("spearman_rho"),
    )


@query
def quality_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals — the classic
    fabricated-data screen. The leading digit comes from the INTEGER
    cents value rendered as a string (integer formatting is bit-identical
    cross-engine; float formatting is not), counts are exact int64, the
    Benford expectation log10(1+1/d) enters as 6-decimal literals, and
    the chi-square contribution (obs - n*exp)^2 / (n*exp) is IEEE-exact
    on both engines given the same literals.

    Scale shape: one projection + 9-key integer count aggregate —
    map-side combine does all the work; the contribution algebra runs on
    9 rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("observed")
    )
    total = digits.agg(F.count(F.lit(1)).cast("long").alias("n"))
    expected = F.create_map(
        *[
            piece
            for d, p in enumerate(
                [
                    0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
                    0.066947, 0.057992, 0.051153, 0.045757,
                ],
                start=1,
            )
            for piece in (F.lit(d), F.lit(p))
        ]
    )
    en = F.col("n") * F.col("expected_share")
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("expected_share", expected[F.col("digit")])
        .select(
            "digit",
            "observed",
            F.round(F.col("observed").cast("double") / F.col("n"), 6).alias(
                "observed_share"
            ),
            F.col("expected_share"),
            F.round(
                (F.col("observed").cast("double") - en)
                * (F.col("observed").cast("double") - en)
                / en,
                6,
            ).alias("chisq_contrib"),
        )
        .orderBy("digit")
    )


@query
def stat_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean order total —
    the one-pass, shuffle-light resampling scheme for cluster-scale data
    (Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
    Google 2012): instead of drawing n rows with replacement per
    replicate, every row gets an independent Poisson(1) weight per
    replicate, so B=50 resamples ride a single scan + explode. Everything
    is deterministic and engine-exact: the Poisson draw compares a
    32-bit md5 hash of (orderkey, replicate) against INTEGER CDF
    thresholds (floor(CDF * 2^32) literals — no float until the terminal
    divisions), replicate means divide two exact int64 sums, and the CI
    is the exact 2.5/97.5 percentile pair over the 50 replicate means.

    Scale shape: explode(×B) → (replicate)-keyed integer sum aggregate —
    map-side partial aggs do all the work, the final stage is B rows.
    ``fan_out`` spreads the B·n md5 evaluations across cores (the
    single-file scan otherwise runs the whole hash stage on ONE split —
    measured 5.3 s -> 0.6 s at sf0.1; a no-op on a real multi-file scan).
    """
    orders = fan_out(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    B = 50
    # floor(CDF(Poisson(1) <= k) * 2^32), k = 0..4; hash above the last
    # threshold -> weight 5 (P ~ 3.7e-3 tail folded into the top bucket).
    TH = [1580030168, 3160060337, 3950075421, 4213413783, 4279248373]
    rep = orders.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(1), F.lit(B))).alias("b"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit("-boot-"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    w = (
        F.when(h < TH[0], 0)
        .when(h < TH[1], 1)
        .when(h < TH[2], 2)
        .when(h < TH[3], 3)
        .when(h < TH[4], 4)
        .otherwise(5)
    )
    means = (
        rep.withColumn("w", w)
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("wsum"),
            F.sum("w").alias("wn"),
        )
        .select(
            (F.col("wsum").cast("double") / F.col("wn").cast("double")).alias(
                "rep_mean"
            )
        )
    )
    base = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").alias("cents_sum"),
    )
    ci = means.agg(
        F.percentile(F.col("rep_mean"), F.lit(0.025)).alias("lo"),
        F.percentile(F.col("rep_mean"), F.lit(0.975)).alias("hi"),
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
    )
    return base.crossJoin(F.broadcast(ci)).select(
        "n_orders",
        "n_replicates",
        F.round(
            F.col("cents_sum").cast("double") / F.col("n_orders") / 100.0, 4
        ).alias("point_mean"),
        F.round(F.col("lo") / 100.0, 4).alias("ci_lo"),
        F.round(F.col("hi") / 100.0, 4).alias("ci_hi"),
    )


@query
def events_daily_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of daily event counts — "is this metric
    growing and how fast", the readout behind every dashboard sparkline.
    x = day index from the type's first day, y = daily count; the least-
    squares slope and intercept come from the five integer moment sums
    with ONE terminal division each (num/den as exact int64 — the same
    all-integer-until-division discipline as the chi-square and KS
    queries).

    Scale shape: daily rollup (map-side combinable), then a per-type
    aggregate over ~days rows; nothing data-sized crosses a single task.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    w0 = Window.partitionBy("event_type")
    xy = daily.withColumn(
        "x", F.datediff(F.col("day"), F.min("day").over(w0)).cast("long")
    )
    m = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    inum = F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("sy").cast("long").alias("total_events"),
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        F.round(num.cast("double") / den.cast("double"), 6).alias(
            "slope_per_day"
        ),
        F.round(inum.cast("double") / den.cast("double"), 6).alias(
            "intercept"
        ),
    ).orderBy("event_type")


@query
def events_autocorrelation_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 autocorrelation of the daily event count per type —
    the seasonality detector (a high lag-7 ACF says "weekly cycle"). The
    mean-centered products are computed in n-SCALED integer space:
    r_k = sum((n*c_i - S)(n*c_{i+k} - S)) / sum((n*c_i - S)^2) — both
    sides of the division exact int64 (multiplying numerator and
    denominator by n^2 clears the rational mean without touching floats).

    Scale shape: daily rollup, per-type lag via a day-keyed self-join of
    the ~days-sized rollup (explicit join rather than a window so the
    rollup shuffles once on (type, day), never a data-sized sort), then a
    per-(type, lag) integer aggregate.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s")
    )
    lags = spark.range(1, 3).select(
        F.when(F.col("id") == 1, 1).otherwise(7).alias("lag")
    )
    shifted = daily.select(
        F.col("event_type").alias("et2"),
        F.col("day").alias("day2"),
        F.col("c").alias("c_lead"),
    )
    paired = (
        daily.crossJoin(F.broadcast(lags))
        .join(
            shifted,
            (F.col("event_type") == F.col("et2"))
            & (F.col("day2") == F.date_add(F.col("day"), F.col("lag"))),
        )
        .select("event_type", "lag", "day", "c", "c_lead")
    )
    dev = paired.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "lag",
        (F.col("n") * F.col("c") - F.col("s")).alias("d0"),
        (F.col("n") * F.col("c_lead") - F.col("s")).alias("d1"),
    )
    den_tab = daily.join(F.broadcast(tot), "event_type").groupBy(
        "event_type"
    ).agg(
        F.sum(
            (F.col("n") * F.col("c") - F.col("s"))
            * (F.col("n") * F.col("c") - F.col("s"))
        ).alias("den")
    )
    return (
        dev.groupBy("event_type", "lag")
        .agg(F.sum(F.col("d0") * F.col("d1")).alias("num"),
             F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .join(F.broadcast(den_tab), "event_type")
        .select(
            "event_type",
            F.col("lag").cast("int"),
            "n_pairs",
            F.col("num").cast("long").alias("acf_num"),
            F.col("den").cast("long").alias("acf_den"),
            F.round(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


@query
def quality_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test — do URGENT and LOW-priority orders
    draw from the same price distribution? The nonparametric complement
    to the KS and chi-square queries: U compares rank sums instead of
    CDF gaps, so it is exact under ties. Tie-averaged ranks live in the
    same DOUBLED-integer space as the Spearman query (2*avgrank =
    2*cum_before + cnt + 1 over the combined sample's DISTINCT values),
    so U1 is held as the exact integer 2*U1 = sum(r2 | group1)
    - 2*n1(n1+1)/2; the tie-corrected normal z-score is assembled from
    five exact integers (n1, n2, n, 2*U1, sum(t^3 - t)) with divisions
    and one sqrt only at the terminal site. The int64 ceiling on the
    cubic tie term is ENFORCED via :func:`_stat_sum_type`:
    decimal(38,0) promotion past 2e6 base rows — the
    fully-tied worst case overflows long at ~2.09e6 rows (planted
    proof: tests/test_round14_ops.py).

    Scale shape: the rank table is value-DOMAIN sized (distinct-value
    collapse), the rank join shuffles on the value key, everything else
    is map-side integer sums.
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            (F.col("o_orderpriority") == "1-URGENT").alias("g1"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
    )
    counts = orders.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    # cumulative count via two_phase_running over $1000 cent-range
    # buckets (bucketed split of the distinct-value window,
    # the KS-CDF reshape; order totals span ~[90k, 60M) cents -> ~600
    # occupied buckets in phase 2)
    from ..operators.ranking import two_phase_running

    rank_tab = two_phase_running(
        counts,
        F.floor(F.col("v") / 100000).cast("long"),
        ["v"],
        [("cnt", "sum", "cum")],
        current_row=True,
    ).select(
        "v",
        (2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1).alias("r2"),
        "cnt",
    )
    # int64 guard: the tie term sum(t^3 - t) reaches
    # n^3 on a fully-tied sample — ANSI long arithmetic throws past
    # ~2.09e6 rows in that worst case; above the (conservative,
    # unfiltered-table) ceiling the tie/rank sums run in decimal(38,0)
    t = _stat_sum_type(spark, sf_dir, "orders", _STAT_CEILING_MANN_WHITNEY)
    cnt_t = F.col("cnt").cast(t)
    tie = rank_tab.agg(
        F.sum(cnt_t * cnt_t * cnt_t - cnt_t).cast(t).alias("tie_sum")
    )
    joined = orders.join(rank_tab.select("v", "r2"), "v")
    m = joined.agg(
        F.sum(F.when(F.col("g1"), 1).otherwise(0)).cast(t).alias("n1"),
        F.sum(F.when(F.col("g1"), 0).otherwise(1)).cast(t).alias("n2"),
        F.sum(F.when(F.col("g1"), F.col("r2").cast(t)).otherwise(
            F.lit(0).cast(t)
        )).alias("r1_x2"),
    )
    u1_x2 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    n = F.col("n1") + F.col("n2")
    u1 = u1_x2.cast("double") / 2.0
    mean_u = F.col("n1").cast("double") * F.col("n2") / 2.0
    var_u = (
        F.col("n1").cast("double") * F.col("n2") / 12.0
    ) * (
        (n + 1).cast("double")
        - F.col("tie_sum").cast("double")
        / (n.cast("double") * (n - 1).cast("double"))
    )
    return m.crossJoin(F.broadcast(tie)).select(
        F.col("n1").cast(t),
        F.col("n2").cast(t),
        u1_x2.cast(t).alias("u1_x2"),
        F.col("tie_sum").cast(t),
        F.round(u1, 1).alias("u1"),
        F.round((u1 - mean_u) / F.sqrt(var_u), 6).alias("z_score"),
    )


@query
def window_rolling_median_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day rolling MEDIAN of daily revenue per order priority —
    the robust moving-centre a spiky daily series needs (a mean window
    chases outlier days; the t-digest family answers the same question
    approximately at stream scale, this is the exact batch form). The
    percentile aggregate runs INSIDE a 7-row window frame — a window
    shape no other registry query exercises.

    Scale shape: the frame operates on the DAILY rollup (day-domain
    rows, 5 partitions), never raw orders; the rollup itself is map-side
    combinable integer cents.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.to_date("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    daily = orders.groupBy("o_orderpriority", "day").agg(
        F.sum("cents").alias("day_cents")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("day").rowsBetween(
        -6, 0
    )
    return (
        daily.withColumn(
            "med", F.percentile(F.col("day_cents"), F.lit(0.5)).over(w)
        )
        .select(
            "o_orderpriority",
            "day",
            F.round(F.col("day_cents") / 100.0, 2).alias("daily_revenue"),
            F.round(F.col("med") / 100.0, 2).alias("rolling_median_7d"),
        )
        .orderBy("o_orderpriority", "day")
    )


@query
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation communities over the part co-occurrence
    graph: every node starts as its own label and three synchronous
    rounds take the min over self + neighbors — after k rounds each
    node holds the smallest part id within k hops, a deterministic
    community assignment (the first k iterations of connected-components
    by min-diffusion; the dedup family runs the converged version, this
    pins the FIXED-ITERATION semantics a bounded-latency batch job uses).
    Output is the community-size histogram plus a label checksum — O(1)
    rows regardless of scale.

    Scale shape: per round ONE edge-keyed shuffle join + node-keyed min
    aggregate (same join profile as the BFS query); rounds are fixed at
    3 so the whole walk is one lazy plan. Unlike the BFS/PageRank twins,
    persisting the edge frame here measured 1.6-3x SLOWER (the label
    frame's per-round union+min-agg lineage loses its whole-subtree
    exchange reuse once an InMemoryRelation splits the plan) — measured
    both directed- and undirected-persist variants at sf0.1; exchange
    reuse wins for this shape, so it deliberately stays unpersisted.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = _cooccurrence_edges(li)
    dir_edges = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    labels = dir_edges.select(F.col("src").alias("n")).distinct().select(
        "n", F.col("n").alias("lbl")
    )
    for _ in range(3):
        pushed = labels.join(
            dir_edges, labels["n"] == dir_edges["src"]
        ).select(F.col("dst").alias("n"), "lbl")
        labels = (
            labels.unionByName(pushed)
            .groupBy("n")
            .agg(F.min("lbl").alias("lbl"))
        )
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy("sz")
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.sum("lbl").alias("label_checksum"),
        )
        .select(
            F.col("sz").cast("long").alias("community_size"),
            F.col("n_communities").cast("long"),
            F.col("label_checksum").cast("long"),
        )
        .orderBy("community_size")
    )


@query
def ml_target_encode_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold leakage-free target encoding — the categorical-feature
    preparation every tabular training pipeline runs: encode a category
    by the mean target of OTHER folds, so a row never sees its own
    target. Fold = md5 hash of the order key mod 5 (deterministic,
    engine-stable); the out-of-fold mean is assembled from integer sums
    ((S_cat - S_cat_fold) / (n_cat - n_cat_fold)) with the division at
    the terminal site. Output: the 5x5 (segment, fold) encoding table a
    trainer would broadcast-join back onto features — O(1) rows.

    Scale shape: ONE (category, fold) integer rollup, then the
    category-level sums arrive by a window over the 25-cell table; no
    data-sized join or sort anywhere.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    rows = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        "c_mktsegment",
        (sampling.uniform_hash(F.col("o_orderkey"), "fold") % 5).alias(
            "fold"
        ),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cells = rows.groupBy("c_mktsegment", "fold").agg(
        F.count(F.lit(1)).alias("n_f"), F.sum("cents").alias("s_f")
    )
    w = Window.partitionBy("c_mktsegment")
    return (
        cells.withColumn("n_cat", F.sum("n_f").over(w))
        .withColumn("s_cat", F.sum("s_f").over(w))
        .select(
            "c_mktsegment",
            F.col("fold").cast("int"),
            F.col("n_f").cast("long").alias("n_in_fold"),
            (F.col("n_cat") - F.col("n_f")).cast("long").alias("n_oof"),
            F.round(
                (F.col("s_cat") - F.col("s_f")).cast("double")
                / (F.col("n_cat") - F.col("n_f")).cast("double")
                / 100.0,
                4,
            ).alias("oof_mean_target"),
        )
        .orderBy("c_mktsegment", "fold")
    )


@query
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of the event value per event type — the
    TWAP/duration-weighted metric for irregularly sampled series (a
    plain mean over-counts bursts; weighting each observation by its
    holding interval until the next event is the standard fix). Values
    quantize to integer hundredths and intervals to integer
    floor-MILLIseconds (micros would overflow the int64 weighted sum at
    scale), so the weighted sum is exact and the average is one
    terminal division; ordering ties break on event_id.

    Scale shape: one per-(type, user) lead window (user-keyed
    parallelism) + map-side integer sums; interval micros bound the
    weight, value cents bound the payload.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
        # interval unit is floor-MILLIseconds: cents * micros summed
        # overflows int64 at large SFs; ms keeps the weighted sum exact
        F.floor(F.unix_micros(F.col("ts")) / 1000).cast("long").alias("ms"),
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    w = Window.partitionBy("event_type", "user_id").orderBy("us", "event_id")
    held = ev.withColumn("next_ms", F.lead("ms").over(w)).filter(
        F.col("next_ms").isNotNull()
    ).select(
        "event_type",
        "v_cents",
        (F.col("next_ms") - F.col("ms")).alias("dt_ms"),
    )
    return (
        held.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.sum("dt_ms").alias("held_ms"),
            F.sum(F.col("v_cents") * F.col("dt_ms")).alias("wsum"),
        )
        .select(
            "event_type",
            "n_intervals",
            F.col("held_ms").cast("long"),
            F.round(
                F.col("wsum").cast("double")
                / F.col("held_ms").cast("double")
                / 100.0,
                6,
            ).alias("time_weighted_avg"),
        )
        .orderBy("event_type")
    )


@query
def events_sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap + duration-cap sessionization — the production rule ("30 min
    idle OR 2 h total ends the session") that plain gap sessionization
    misses: long always-active streams never idle out, so each gap
    session splits again at fixed 2-hour offsets from its start
    (sub-session = floor(elapsed / cap), composable windows, no
    iteration). All arithmetic in integer microseconds.

    Scale shape: two user-keyed windows (gap flag cumsum, then min-start
    over the gap session) + one integer aggregate; same shuffle profile
    as the certified gap sessionizer.
    """
    gap_us = 30 * 60 * 1_000_000
    cap_us = 2 * 60 * 60 * 1_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            (F.col("us") - F.lag("us").over(w)) > gap_us, 1
        ).otherwise(0),
    ).withColumn(
        "sess",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    w_sess = Window.partitionBy("user_id", "sess")
    capped = flagged.withColumn(
        "sub",
        F.floor((F.col("us") - F.min("us").over(w_sess)) / cap_us).cast(
            "long"
        ),
    )
    per_sess = capped.groupBy("user_id", "sess", "sub").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    gap_sessions = per_sess.select("user_id", "sess").distinct()
    return (
        per_sess.agg(
            F.count(F.lit(1)).cast("long").alias("n_capped_sessions"),
            F.max("n_events").cast("long").alias("max_events_per_session"),
            F.sum("n_events").cast("long").alias("n_events_total"),
        )
        .crossJoin(
            F.broadcast(
                gap_sessions.agg(
                    F.count(F.lit(1)).cast("long").alias("n_gap_sessions")
                )
            )
        )
        .select(
            "n_gap_sessions",
            "n_capped_sessions",
            (F.col("n_capped_sessions") - F.col("n_gap_sessions"))
            .cast("long")
            .alias("n_cap_splits"),
            "max_events_per_session",
            "n_events_total",
        )
    )


@query
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search over an inverted index — exact "adjacent
    tokens" matching, the capability BM25's bag-of-words ranking cannot
    express: tokens explode WITH their position, the two phrase terms
    join on (doc, pos+1 = pos), and each phrase reports its matching-doc
    count + id checksum. Positions are 1-based on both engines (Spark
    posexplode is 0-based and shifts by one — the documented
    position-base knife edge).

    Scale shape: the posting join is (doc_id, token)-keyed with the
    phrase terms filtered BEFORE the join (two tiny postings per doc,
    not the full index); output is one row per phrase.
    """
    docs = load_documents(spark, sf_dir)
    phrases = [("order", "key"), ("scan", "column"), ("window", "agg")]
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    first_terms = [p[0] for p in phrases]
    second_terms = [p[1] for p in phrases]
    a = toks.filter(F.col("tok").isin(first_terms)).select(
        "doc_id", "pos", F.col("tok").alias("t1")
    )
    b = toks.filter(F.col("tok").isin(second_terms)).select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("tok").alias("t2")
    )
    pairs = F.broadcast(
        spark.createDataFrame(phrases, "t1 string, t2 string")
    )
    matches = (
        a.join(b, ["doc_id", "pos"])
        .join(pairs, ["t1", "t2"])
        .select(
            F.concat_ws(" ", "t1", "t2").alias("phrase"), "doc_id"
        )
        .distinct()
    )
    return (
        matches.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("doc_checksum"),
        )
        .orderBy("phrase")
    )


# --- bitmap analytics, sweep-line concurrency ------------------------------


@query
def events_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retention from per-day USER BITMAPS — the
    ClickHouse/Doris `groupBitmap` technique re-expressed in pure
    integer SQL: each (day, word) row holds a 63-bit chunk of the
    active-user set (word = user_id div 63, bit = user_id mod 63 — 63-bit words keep the
    shift off the int64 sign bit, which DuckDB rejects as overflow,
    folded with BIT_OR — idempotent, so no pre-distinct pass is
    needed); |active(d) AND active(d+k)| is then SUM(bit_count(a & b))
    over a word-keyed equi-join. Everything before the terminal rate
    division is int64 bit arithmetic — exact cross-engine.

    Scale shape: the bitmap fold shuffles (day, word) keys only —
    63 users per row regardless of event volume, so a 100 TB event log
    collapses to |days| x |users|/64 bitmap rows; the offset join is
    word-keyed (massively parallel) and never touches event rows.
    Output is bounded by calendar days x offsets.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.expr("user_id div 63").cast("long").alias("word"),
        F.expr("shiftleft(1L, CAST(user_id % 63 AS INT))").alias("bit"),
    )
    words = ev.groupBy("day", "word").agg(F.bit_or("bit").alias("bits"))
    active = words.groupBy("day").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("n_active")
    )
    later = words.select(
        F.col("day").alias("day_b"), "word", F.col("bits").alias("bits_b")
    )
    retained = (
        words.withColumn(
            "offset", F.explode(F.array(F.lit(1), F.lit(7)))
        )  # explode, not a 2-row crossJoin: no BNLJ (rolling-WAU precedent)
        .withColumn("day_b", F.date_add("day", F.col("offset")))
        .join(later, ["day_b", "word"])
        .groupBy("day", "offset")
        .agg(
            F.sum(F.bit_count(F.col("bits").bitwiseAND(F.col("bits_b"))))
            .cast("long")
            .alias("n_retained")
        )
    )
    return (
        retained.join(active, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "offset",
            "n_active",
            "n_retained",
            F.round(
                F.col("n_retained").cast("double")
                / F.col("n_active").cast("double"),
                6,
            ).alias("retention_rate"),
        )
        .orderBy("day", "offset")
    )


@query
def events_max_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day via a DISTRIBUTED sweep line:
    each 6-hour-gap user session (the ``events_sessionize_gap``
    definition) contributes +1 at its start and -1 one microsecond past
    its end (closed intervals: a session ending exactly when another
    starts overlaps it); deltas collapse per timestamp BEFORE the
    running sum, so concurrency at a tied instant is the
    post-all-deltas value, never an application-order artifact.

    The classic sweep line is a single global sort — a scale wall. Here
    the cumulative sum splits into (a) a per-day carry-in, a running
    sum over the per-DAY delta totals (one row per calendar day —
    bounded by the calendar, not the data), and (b) a within-day prefix
    sum partitioned by day. Peak(day) = carry + greatest(0, max prefix)
    — the carry alone is live concurrency on [midnight, first delta).
    Days with no session boundary emit no row. All-integer arithmetic.
    """
    gap_us = 6 * 3600 * 1_000_000
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        prev_us.isNull() | (F.unix_micros(F.col("ts")) - prev_us > gap_us), 1
    ).otherwise(0)
    sessions = (
        events.withColumn("is_new", is_new)
        .withColumn(
            "session_seq",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.unix_micros(F.min("ts")).alias("start_us"),
            F.unix_micros(F.max("ts")).alias("end_us"),
        )
    )
    deltas = sessions.select(
        F.col("start_us").alias("us"), F.lit(1).alias("delta")
    ).unionAll(
        sessions.select(
            (F.col("end_us") + 1).alias("us"), F.lit(-1).alias("delta")
        )
    )
    per_ts = deltas.groupBy(
        F.to_date(F.timestamp_micros(F.col("us"))).alias("day"), "us"
    ).agg(
        F.sum("delta").cast("long").alias("d"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("long")
        .alias("starts"),
    )
    day_tot = per_ts.groupBy("day").agg(
        F.sum("d").alias("day_delta"),
        F.sum("starts").alias("sessions_started"),
    )
    wd = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )  # one row per calendar day: bounded, not data-sized
    base = day_tot.withColumn(
        "carry", F.coalesce(F.sum("day_delta").over(wd), F.lit(0)).cast("long")
    )
    wt = Window.partitionBy("day").orderBy("us").rowsBetween(
        Window.unboundedPreceding, 0
    )
    peaks = (
        per_ts.withColumn("run", F.sum("d").over(wt))
        .groupBy("day")
        .agg(F.max("run").cast("long").alias("max_prefix"))
    )
    return (
        peaks.join(base, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (F.col("carry") + F.greatest(F.col("max_prefix"), F.lit(0)))
            .cast("long")
            .alias("peak_concurrency"),
            F.col("carry").alias("day_start_concurrency"),
            F.col("sessions_started").cast("long"),
        )
        .orderBy("day")
    )


@query
def agg_gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer revenue per market segment —
    the inequality readout behind whale-concentration dashboards,
    computed from the rank formula G = (2*SUM(i*x_i) - (n+1)*SUM(x)) /
    (n*SUM(x)) with x ascending.

    The naive rank is one global sort per segment (the
    key-cardinality wall the weighted median was flagged for); here it
    is :func:`~..operators.ranking.two_phase_rank` over fixed $5,000
    revenue-range buckets — the bucket rollup is bounded by the value
    domain, and row_number runs partitioned per (segment, bucket).
    SUM(i*x_i) is tie-order invariant (equal x swap positions freely),
    so no cross-engine tie contract is needed. Revenue in integer
    cents; SUM(i*x) is ~n²·x̄/2 and overflows int64 around 4M customers
    (the 256x probe caught it under ANSI), so it accumulates as
    decimal(38,0) — exact 128-bit, the dual of DuckDB's native HUGEINT
    — and converts to double only inside the terminal Gini expression.
    """
    from ..operators.ranking import two_phase_rank

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rc = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    per_cust = rc.join(
        customer.select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        ),
        "o_custkey",
    )
    ranked = two_phase_rank(
        per_cust,
        bucket=F.expr("cents div 500000"),
        order_cols=["cents", "o_custkey"],
        partition_cols=["c_mktsegment"],
        rank_col="i",
    )
    return (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.sum(
                (F.col("i") * F.col("cents")).cast("decimal(38,0)")
            ).alias("s1"),
        )
        .select(
            "c_mktsegment",
            "n_customers",
            "revenue_cents",
            F.round(
                (
                    2.0 * F.col("s1").cast("double")
                    - (F.col("n_customers").cast("double") + 1.0)
                    * F.col("revenue_cents").cast("double")
                )
                / (
                    F.col("n_customers").cast("double")
                    * F.col("revenue_cents").cast("double")
                ),
                6,
            ).alias("gini"),
        )
        .orderBy("c_mktsegment")
    )


@query
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for each user, the latency from
    their FIRST view to their first purchase at-or-after it, rolled up
    by conversion day as exact median / p90. Counts answer "how many
    convert" (``events_funnel_steps``); this answers "how long does
    conversion take" — the funnel's other axis.

    Latency is an exact integer second count (microsecond difference,
    integer division); the percentile interpolation is the one float
    site, rounded to 4 dp (Spark ``percentile`` == DuckDB
    ``quantile_cont`` under that discipline). Every join and aggregate
    is user-keyed, then day-keyed — no global ordering anywhere.
    """
    events = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    firsts = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("v_us")
    ).filter(F.col("v_us").isNotNull())
    conv = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("p_us"))
        .join(firsts, "user_id")
        .filter(F.col("p_us") >= F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("p_us").alias("p_us"), F.min("v_us").alias("v_us"))
        .select(
            F.to_date(F.timestamp_micros(F.col("p_us"))).alias("day"),
            F.expr("(p_us - v_us) div 1000000").alias("latency_s"),
        )
    )
    return (
        conv.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_conversions"),
            F.round(F.expr("percentile(latency_s, 0.5)"), 4).alias(
                "median_latency_s"
            ),
            F.round(F.expr("percentile(latency_s, 0.9)"), 4).alias(
                "p90_latency_s"
            ),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_conversions",
            "median_latency_s",
            "p90_latency_s",
        )
        .orderBy("day")
    )


@query
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over co-occurring frequent tokens —
    the collocation/phrase-mining statistic (Church & Hanks 1990):
    PMI(x, y) = ln(N * df(x,y) / (df(x) * df(y))) over document
    frequencies. Support thresholds bound everything: only tokens in
    >= 5% of docs pair up (their count is bounded by tokens-per-doc /
    0.05 — document length, not corpus size), and only pairs in >= 2%
    of docs are emitted, so the doc-keyed pair self-join explodes at
    most C(frequent-in-doc, 2) per document.

    All counts are exact int64 (N*df_xy and df_x*df_y each bounded by
    N² << 2^63 for any feasible corpus); the one float site is the
    terminal ln of their ratio, rounded to 6 dp. The corpus size is ONE
    scalar, fetched with the sanctioned bounded collect and inlined as
    a literal — attaching it as a broadcast frame replanned the count
    subtree five times (once per reference).
    """
    docs = load_documents(spark, sf_dir)
    # bounded collect: one scalar — counted on the RAW scan, not the
    # fan_out frame (the count's repartition shuffle was pure overhead;
    # row count is identical by construction)
    n_docs = load_table(spark, sf_dir, "documents").count()
    tok = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
        )
        .filter(F.col("t") != "")
        .distinct()
    )
    df_tok = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    import math

    freq = df_tok.filter(
        F.col("c") >= F.lit(int(math.ceil(n_docs * 0.05)))
    ).select("t", "c")
    ft = tok.join(freq.select("t"), "t")
    a = ft.select(F.col("doc_id"), F.col("t").alias("t1"))
    b = ft.select(F.col("doc_id"), F.col("t").alias("t2"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).cast("long").alias("df_pair"))
        .filter(F.col("df_pair") >= F.lit(int(math.ceil(n_docs * 0.02))))
    )
    cx = freq.select(F.col("t").alias("t1"), F.col("c").alias("df_x"))
    cy = freq.select(F.col("t").alias("t2"), F.col("c").alias("df_y"))
    return (
        pairs.join(cx, "t1")
        .join(cy, "t2")
        .select(
            "t1",
            "t2",
            "df_pair",
            "df_x",
            "df_y",
            F.round(
                F.log(
                    (F.lit(n_docs) * F.col("df_pair")).cast("double")
                    / (F.col("df_x") * F.col("df_y")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy("t1", "t2")
    )


@query
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: each user's first three events (by ts,
    event_id) concatenated into an ordered path string, counted across
    users — the product-analytics "what do people do first" readout.
    Path alphabet bounds the output at |event_type|^3 + shorter-prefix
    paths regardless of corpus size, so no LIMIT (and no float sort
    key) is needed.

    Shape: one user-keyed rank window (WindowGroupLimit prunes to 3
    rows per user before the aggregate), then an ordered in-group
    concat — Spark sorts the collected (rank, type) structs explicitly,
    the dual uses string_agg ORDER BY; both deterministic under ts ties
    via the event_id tiebreak baked into the rank.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "rn", "event_type")
    )
    paths = firsts.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path"),
        F.count(F.lit(1)).cast("long").alias("path_len"),
    )
    return (
        paths.groupBy("path", "path_len")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
    )


@query
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty score: the fraction of a document's
    distinct word trigrams that occur in NO other document — the
    memorization/duplication signal a pretraining curation pass ranks
    on (near-copied boilerplate scores ~0, fresh prose ~1). Uses the
    same ``shingles`` tokenization contract as the dedup family
    (single-space tokens, sub-3-token docs fall back to the whole
    text).

    Shape: shingle explode -> distinct -> one gram-keyed doc-frequency
    aggregate -> gram-keyed join back -> doc-keyed rollup. Exact
    integer counts; novelty is the one terminal division. Never pairs
    documents — corpus-wide uniqueness rides on the gram-keyed
    aggregate, so the heaviest shuffle key is the gram, not a pair.
    """
    docs = load_documents(spark, sf_dir)
    grams = docs.select(
        "doc_id", F.explode(text.shingles(F.col("text"), 3)).alias("g")
    ).distinct()
    gf = grams.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("df"))
    return (
        grams.join(gf, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_unique",
            F.round(
                F.col("n_unique").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@query
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    classic windowed-scan alternative to hash blocking: records sort by
    a content key (first 16 alphanumeric chars of the lowercased text,
    pure ASCII so both engines collate identically), and only records
    within window w=3 of each other in that order become candidate
    pairs, verified here with exact trigram Jaccard >= 0.3.

    The global sort rank is :func:`~..operators.ranking.
    two_phase_rank` over a 2-char key-prefix bucket (alphabet-bounded,
    <= 37^2 occupied buckets) — no data-sized single-task sort.
    Neighborhood pairs are one rank-keyed equi-join (gap 1..2 via a
    2-row explode), and only w-1 pairs per record ever exist, so the
    verify stage is linear in the corpus.
    """
    from ..operators.ranking import two_phase_rank

    docs = load_documents(spark, sf_dir)
    keyed = docs.select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""), 1, 16
        ).alias("sn_key"),
    )
    ranked = two_phase_rank(
        keyed,
        bucket=F.substring("sn_key", 1, 2),
        order_cols=["sn_key", "doc_id"],
        rank_col="r",
    ).select("doc_id", "r")
    pairs = (
        ranked.withColumn(
            "gap", F.explode(F.array(F.lit(1).cast("long"), F.lit(2).cast("long")))
        )  # explode, not a 2-row crossJoin: no BNLJ (rolling-WAU precedent)
        .withColumn("r_b", F.col("r") + F.col("gap"))
        .select(F.col("doc_id").alias("id_a"), "r_b", "gap")
        .join(
            ranked.select(F.col("doc_id").alias("id_b"), F.col("r").alias("r_b")),
            "r_b",
        )
    )
    # persisted: the shingle-set frame feeds BOTH sides of the verify
    # join on DIFFERENT keys (id_a / id_b), so there is no exchange to
    # reuse and the unpersisted shape ran the corpus text->shingle
    # projection twice (interleaved A/B: 1.59 -> 1.38 s warm min,
    # persist won every pair). Scale trade: one cached generation of
    # (doc_id, shingle_set) vs a second full text pass — MEMORY_AND_DISK
    # spills gracefully and the verify stage reads it twice regardless.
    sets_ = persist_scoped(
        dedup.shingle_sets(docs, "text", "doc_id"), "sn_shingle_sets"
    )
    scored = dedup.ngram_jaccard_pairs(
        pairs.join(
            sets_.select(
                F.col("doc_id").alias("id_a"),
                F.col("shingle_set").alias("shingle_set_a"),
            ),
            "id_a",
        ).join(
            sets_.select(
                F.col("doc_id").alias("id_b"),
                F.col("shingle_set").alias("shingle_set_b"),
            ),
            "id_b",
        )
    )
    return (
        scored.filter(F.col("jaccard_sim") >= 0.3)
        .select("id_a", "id_b", "gap", "jaccard_sim")
        .orderBy("id_a", "id_b")
    )


@query
def events_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM 2013): the
    experiment metric Y (second-half spend per user) is adjusted by the
    pre-period covariate X (first-half spend), theta = cov(X,Y)/var(X)
    estimated POOLED across arms so the adjustment is unbiased under
    the null. Arms split on user_id parity like the chi-square query.

    Everything until theta is exact integer-cent sums; the covariance
    numerator n*Sxy - Sx*Sy would overflow int64 at corpus scale, so
    BOTH engines promote each factor to DOUBLE before multiplying (the
    documented promotion discipline) — bit-identical doubles in, same
    IEEE ops, same rounding site out. Pooled moments attach via the
    sanctioned single-row broadcast; per-arm output is 2 rows.
    """
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = (
        events.groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.dayofmonth("ts") <= 15, cents)), F.lit(0)
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(F.dayofmonth("ts") > 15, cents)), F.lit(0)
            ).alias("y"),
        )
        .withColumn("arm", (F.col("user_id") % 2).cast("int"))
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        # sum(x*y) over millions of users outruns int64 (the Gini 256x
        # lesson): exact decimal(38,0) accumulation, double at theta
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    theta = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return (
        per_user.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("x").cast("long").alias("sx_a"),
            F.sum("y").cast("long").alias("sy_a"),
        )
        .crossJoin(F.broadcast(pooled))
        .select(
            "arm",
            "n_users",
            F.round(
                F.col("sy_a").cast("double")
                / F.col("n_users").cast("double")
                / 100.0,
                6,
            ).alias("mean_y"),
            F.round(
                (
                    F.col("sy_a").cast("double")
                    / F.col("n_users").cast("double")
                    - theta
                    * (
                        F.col("sx_a").cast("double")
                        / F.col("n_users").cast("double")
                        - F.col("sx").cast("double") / F.col("n").cast("double")
                    )
                )
                / 100.0,
                6,
            ).alias("mean_y_cuped"),
            F.round(theta, 6).alias("theta"),
        )
        .orderBy("arm")
    )


@query
def events_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily revenue — the median of all
    pairwise slopes (and the median-residual intercept), the
    outlier-resistant twin of ``events_daily_trend_slope``'s OLS: one
    corrupted day moves OLS arbitrarily but shifts a median of ~n²/2
    slopes barely at all.

    The pair join runs on the DAILY rollup — calendar-bounded (30 days
    -> 435 pairs), never on events — so the only data-sized work is the
    day-keyed revenue aggregate. Each slope is one IEEE division of
    exact integer cents by an exact integer day gap, identical in both
    engines; the medians interpolate over those identical doubles and
    round at one site each.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    ).select(
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")).alias("x"),
        "cents",
    )
    a = daily.select(F.col("x").alias("xa"), F.col("cents").alias("ca"))
    b = daily.select(F.col("x").alias("xb"), F.col("cents").alias("cb"))
    slopes = (
        a.join(b, F.col("xa") < F.col("xb"))
        .select(
            (
                (F.col("cb") - F.col("ca")).cast("double")
                / (F.col("xb") - F.col("xa")).cast("double")
            ).alias("slope")
        )
    )
    m = slopes.agg(
        F.expr("percentile(slope, 0.5)").alias("ts_slope"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    resid = daily.crossJoin(F.broadcast(m)).select(
        "ts_slope",
        "n_pairs",
        (
            F.col("cents").cast("double")
            - F.col("ts_slope") * F.col("x").cast("double")
        ).alias("r"),
    )
    return resid.groupBy("ts_slope", "n_pairs").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.expr("percentile(r, 0.5)"), 6).alias("ts_intercept_cents"),
    ).select(
        "n_days",
        "n_pairs",
        F.round(F.col("ts_slope"), 6).alias("ts_slope_cents"),
        "ts_intercept_cents",
    )


@query
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of user lifetime in weeks: duration = first
    to last event; users last seen within a week of the corpus end are
    CENSORED (still alive), others are churn deaths at their final
    week. S(t) = prod_{s<=t} (1 - d_s/n_s) with d (deaths), c
    (censored) and the at-risk n (reverse cumulative of d+c) all exact
    integers.

    The survival product is the one float: exp of the running sum of
    ln(1 - d/n) over the WEEK axis — a calendar-bounded window (weeks
    per month, not users), accumulated in deterministic t-order in both
    engines, with a CASE guard so an all-deaths week yields exactly 0
    instead of ln(0). Corpus end attaches via single-row broadcast.
    """
    events = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    per_user = events.groupBy("user_id").agg(
        F.min(day).alias("f"), F.max(day).alias("l")
    )
    mx = events.agg(F.max(day).alias("mx"))
    pu = per_user.crossJoin(F.broadcast(mx)).select(
        F.expr("datediff(l, f) div 7").alias("t"),
        F.when(F.datediff(F.col("mx"), F.col("l")) < 7, 0)
        .otherwise(1)
        .alias("dead"),
    )
    week = pu.groupBy("t").agg(
        F.sum("dead").cast("long").alias("d"),
        F.sum(1 - F.col("dead")).cast("long").alias("c"),
    )
    w_rev = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = week.withColumn(
        "n", F.sum(F.col("d") + F.col("c")).over(w_rev).cast("long")
    ).withColumn(
        "factor",
        (F.col("n") - F.col("d")).cast("double") / F.col("n").cast("double"),
    )
    return (
        risk.withColumn("minf", F.min("factor").over(w_cum))
        .select(
            "t",
            "n",
            "d",
            "c",
            F.round(
                F.when(F.col("minf") == 0.0, F.lit(0.0)).otherwise(
                    F.exp(F.sum(F.log("factor")).over(w_cum))
                ),
                6,
            ).alias("survival"),
        )
        .orderBy("t")
    )


@query
def streaming_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming daily distinct users via incrementally maintained
    bitmap words — replay-proof by BIT_OR idempotence alone (no dedup
    state; see ``availablenow_bitmap_distinct``). The driven result
    must equal the batch COUNT(DISTINCT user) per day exactly: a green
    row certifies both the incremental bitmap maintenance and the
    replay absorption.
    """
    from ..streaming import pipeline as streaming_pipeline

    out = streaming_pipeline.availablenow_bitmap_distinct(
        spark, sf_dir, _work_dir(sf_dir, "_streaming_bitmap")
    )
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "n_active"
    ).orderBy("day")


@query
def events_rolling_wau_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day WAU, EXACT, from merged daily bitmap words — the
    exact twin of ``events_rolling_wau_kmv``: where KMV merges k-row
    sketches into an estimate, bitmaps merge with BIT_OR into the true
    distinct count. The window explode runs on the COLLAPSED (day,
    word) representation — 7 rows per 63-user word, never per event or
    per (day, user) pair — so the exact rolling distinct costs 63x less
    window traffic than re-scanning pairs, while staying bit-exact.
    Same anchor semantics as the KMV twin (trailing window, anchors
    restricted to active days). Pure integer bit arithmetic end to end.
    """
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        F.to_date("ts").alias("day"),
        F.expr("user_id div 63").cast("long").alias("word"),
        F.expr("shiftleft(1L, CAST(user_id % 63 AS INT))").alias("bit"),
    )
    words = ev.groupBy("day", "word").agg(F.bit_or("bit").alias("bits"))
    expanded = words.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias(
            "anchor"
        ),
        "word",
        "bits",
    )
    rolled = expanded.groupBy("anchor", "word").agg(
        F.bit_or("bits").alias("bits")
    )
    wau = rolled.groupBy("anchor").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("wau_exact")
    )
    days = words.select("day").distinct()
    return (
        wau.join(days, wau["anchor"] == days["day"], "leftsemi")
        .select(
            F.date_format("anchor", "yyyy-MM-dd").alias("day"), "wau_exact"
        )
        .orderBy("day")
    )


@query
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every k-th) sampling in deterministic hash order —
    the classic equal-interval design: documents sort by their md5
    draw, and ranks 1, k+1, 2k+1, ... are kept (k=20 -> an exact 5%
    with guaranteed spacing, no clumping a Bernoulli draw allows).

    The global sample rank is :func:`~..operators.ranking.
    two_phase_rank` over value-range buckets of the 32-bit hash (256
    fixed buckets) — the third consumer of the operator, after Gini and
    sorted-neighborhood. Fully deterministic cross-engine: the md5 draw
    is the engine-shared RNG, ties break on doc_id.
    """
    from ..operators.ranking import two_phase_rank

    docs = load_documents(spark, sf_dir)
    drawn = docs.select(
        "doc_id",
        "lang",
        sampling.uniform_hash(F.col("doc_id"), "systematic").alias("h"),
    )
    ranked = two_phase_rank(
        drawn,
        bucket=F.expr("h div 16777216"),  # 2^32 / 256 fixed ranges
        order_cols=["h", "doc_id"],
        rank_col="rk",
    )
    return (
        ranked.filter((F.col("rk") % 20) == 1)
        .select("doc_id", "lang", "rk")
        .orderBy("rk")
    )


@query
def dedup_weighted_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (multiset) Jaccard between consecutive doc ids: sum of
    per-token MIN term frequencies over sum of per-token MAX — the
    repetition-aware verifier (set Jaccard reads "spam spam spam" and
    "spam" as identical; weighted Jaccard does not). Uses the identity
    SUM(max) = totalA + totalB - SUM(min), so only the INNER token join
    and two per-doc totals are ever computed — no full-outer join, no
    zero-filled token universe. Exact integer counts, one terminal
    division; pairs with no shared token coalesce to 0.
    """
    docs = load_documents(spark, sf_dir)
    tf = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
        )
        .filter(F.col("t") != "")
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    totals = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("total"))
    shared = (
        tf.select(F.col("doc_id").alias("id_a"), "t", F.col("tf").alias("tfa"))
        .join(
            tf.select(
                (F.col("doc_id") - 1).alias("id_a"),
                "t",
                F.col("tf").alias("tfb"),
            ),
            ["id_a", "t"],
        )
        .groupBy("id_a")
        .agg(F.sum(F.least("tfa", "tfb")).cast("long").alias("s_min"))
    )
    pairs = (
        totals.select(F.col("doc_id").alias("id_a"), F.col("total").alias("ta"))
        .join(
            totals.select(
                (F.col("doc_id") - 1).alias("id_a"),
                F.col("total").alias("tb"),
            ),
            "id_a",
        )
        .join(shared, "id_a", "left")
        .withColumn("s_min", F.coalesce(F.col("s_min"), F.lit(0)))
    )
    return pairs.select(
        "id_a",
        (F.col("id_a") + 1).alias("id_b"),
        "s_min",
        F.round(
            F.col("s_min").cast("double")
            / (F.col("ta") + F.col("tb") - F.col("s_min")).cast("double"),
            4,
        ).alias("weighted_jaccard"),
    ).orderBy("id_a")


@query
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the
    gibberish/compression-quality signal (keyboard mash and repeated
    filler score low, natural prose ~4.1 bits-equivalent in nats):
    H = ln(n) - SUM(c*ln(c))/n over exact character counts.

    The float hazard here is SUM order: a hash aggregate adds c*ln(c)
    terms in nondeterministic partition order, and cross-engine drift
    in the last ulp would flip the rounded hash. Instead both engines
    fold the terms in ONE DEFINED ORDER — Spark sorts the collected
    (char, count) structs and folds with ``aggregate``; DuckDB collects
    ``list(cnt ORDER BY ch)`` and folds with ``list_reduce`` — so the
    sum is the identical IEEE sequence. Char alphabets bound the
    per-doc array (~dozens), never document length.
    """
    docs = load_documents(spark, sf_dir)
    counts = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
        )
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("ch", "cnt"))),
            F.lit(0.0),
            lambda acc, x: acc
            + x["cnt"].cast("double") * F.log(x["cnt"].cast("double")),
        ).alias("s"),
    )
    return per_doc.select(
        "doc_id",
        "n",
        "n_distinct_chars",
        F.round(
            F.log(F.col("n").cast("double"))
            - F.col("s") / F.col("n").cast("double"),
            6,
        ).alias("entropy"),
    ).orderBy("doc_id")


@query
def sample_group_split_no_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware train/valid/test split: orders split by their
    CUSTOMER's md5 bucket, so every customer's orders land in one split
    — the leakage rule user-level ML splits require (row-level splits
    put one user's behavior in both train and test). The leakage-free
    property is AUDITED FROM THE DATA, not assumed from the
    construction: the query counts customers appearing in more than one
    split and certifies the count is zero, the expectation-as-data
    pattern of ``quality_expectations_orders``.
    """
    orders = load_table(spark, sf_dir, "orders")
    tagged = sampling.hash_split(orders, "o_custkey", salt="groupsplit")
    per_split = tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count_distinct("o_custkey").cast("long").alias("n_customers"),
    )
    leaked = (
        tagged.select("o_custkey", "split")
        .distinct()
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_splits"))
        .agg(
            F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_leaked")
        )
    )
    return (
        per_split.crossJoin(F.broadcast(leaked))
        .select(
            "split",
            "n_orders",
            "n_customers",
            (F.col("n_leaked") == 0).alias("leakage_free"),
        )
        .orderBy("split")
    )


@query
def events_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event prediction and its IN-SAMPLE
    accuracy — the eval loop on top of ``events_transition_matrix``:
    the model predicts argmax transition (ties break to the
    lexicographically smallest next type, pinned cross-engine), and the
    query scores it against every observed transition. The
    model-fit-then-score composition is one extra broadcast join over
    the |event_type|² transition rollup; the only data-sized passes are
    the lead window (user-keyed) and one count aggregate.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bigrams = (
        events.withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("event_type").alias("cur"), "nxt")
    )
    trans = bigrams.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w_arg = Window.partitionBy("cur").orderBy(F.desc("n"), F.asc("nxt"))
    pred = (
        trans.withColumn("rk", F.row_number().over(w_arg))
        .filter(F.col("rk") == 1)
        .select("cur", F.col("nxt").alias("predicted"))
    )
    return (
        trans.join(F.broadcast(pred), "cur")
        .groupBy("cur", "predicted")
        .agg(
            F.sum("n").cast("long").alias("n_transitions"),
            F.sum(F.when(F.col("nxt") == F.col("predicted"), F.col("n")))
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "cur",
            "predicted",
            "n_transitions",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double")
                / F.col("n_transitions").cast("double"),
                6,
            ).alias("accuracy"),
        )
        .orderBy("cur")
    )


@query
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from three exact regexp counts
    — words (space tokens), sentences (terminal-punctuation runs,
    floored at 1), syllables (vowel-group runs, the standard
    dictionary-free heuristic): 206.835 - 1.015*(W/S) - 84.6*(Y/W).
    The grade-level curation signal alongside ``text_quality_scores``'s
    length/punctuation heuristics. Counts are int64 (RE2 and Java
    agree on these character-class patterns, the cross-engine regex
    contract ``text_rake_keywords`` established); the score is one
    float expression with literal coefficients, rounded once. One scan,
    no shuffle before the per-doc projection.
    """
    docs = load_documents(spark, sf_dir)
    t = F.col("text")
    words = F.size(F.filter(F.split(t, " "), lambda x: x != ""))
    sentences = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)
    )
    syllables = F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+"))
    return (
        docs.select(
            "doc_id",
            words.cast("long").alias("n_words"),
            sentences.cast("long").alias("n_sentences"),
            syllables.cast("long").alias("n_syllables"),
        )
        .filter(F.col("n_words") > 0)
        .select(
            "doc_id",
            "n_words",
            "n_sentences",
            "n_syllables",
            F.round(
                F.lit(206.835)
                - F.lit(1.015)
                * (F.col("n_words").cast("double")
                   / F.col("n_sentences").cast("double"))
                - F.lit(84.6)
                * (F.col("n_syllables").cast("double")
                   / F.col("n_words").cast("double")),
                4,
            ).alias("flesch"),
        )
        .orderBy("doc_id")
    )


@query
def agg_hierarchical_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent across the geography hierarchy: each nation's
    revenue as a share of its REGION's, and each region's as a share of
    GLOBAL — the drill-down presentation ``ROLLUP`` alone can't emit
    (rollup gives the levels; the shares need the child row joined to
    its parent's aggregate). Two broadcast-joined rollup levels plus
    the sanctioned single-row global attach; exact integer cents with
    one rounded division per share column.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    nat_rev = (
        orders.select("o_custkey", cents.alias("cents"))
        .join(
            customer.select(
                F.col("c_custkey").alias("o_custkey"), "c_nationkey"
            ),
            "o_custkey",
        )
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("c_nationkey"),
                    "n_name",
                    "n_regionkey",
                )
            ),
            "c_nationkey",
        )
        .join(
            F.broadcast(
                region.select(
                    F.col("r_regionkey").alias("n_regionkey"), "r_name"
                )
            ),
            "n_regionkey",
        )
        .groupBy("r_name", "n_name")
        .agg(F.sum("cents").cast("long").alias("nation_cents"))
    )
    reg_rev = nat_rev.groupBy("r_name").agg(
        F.sum("nation_cents").cast("long").alias("region_cents")
    )
    glob = reg_rev.agg(F.sum("region_cents").cast("long").alias("global_cents"))
    return (
        nat_rev.join(F.broadcast(reg_rev), "r_name")
        .crossJoin(F.broadcast(glob))
        .select(
            "r_name",
            "n_name",
            "nation_cents",
            F.round(
                F.col("nation_cents").cast("double")
                / F.col("region_cents").cast("double"),
                6,
            ).alias("share_of_region"),
            F.round(
                F.col("region_cents").cast("double")
                / F.col("global_cents").cast("double"),
                6,
            ).alias("region_share_of_global"),
        )
        .orderBy("r_name", "n_name")
    )


@query
def events_decay_score_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed engagement score per user, EXACT: the usual
    sum(value * exp(-lambda*age)) is a float sum in nondeterministic
    order, but with half-life = 1 day the weight 2^(-age_days) is
    DYADIC — scaling by 2^30 makes every term an exact int64
    (cents << (30 - age)), so the decayed sum is one integer aggregate
    divided once at the end. A 30-day horizon bounds the shift (and the
    ranking contribution of anything older is below one scaled cent
    anyway). The reference time is the corpus max day via the
    sanctioned single-row attach.
    """
    events = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    mx = events.agg(F.max(day).alias("mx"))
    scaled = (
        events.crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.datediff(F.col("mx"), day).alias("age"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .filter(F.col("age") <= 30)
        .select(
            "user_id",
            F.expr("cents * shiftleft(1L, CAST(30 - age AS INT))").alias(
                "term"
            ),
        )
    )
    return (
        scaled.groupBy("user_id")
        .agg(F.sum("term").cast("long").alias("score_scaled"))
        .select(
            "user_id",
            F.round(
                F.col("score_scaled").cast("double")
                / F.lit(float(1 << 30))
                / 100.0,
                6,
            ).alias("decay_score"),
        )
        .orderBy("user_id")
    )


@query
def quality_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-charge audit: order pairs with the SAME customer and the
    SAME total, placed within 24 hours of each other — the classic
    financial-data quality check. The synthetic corpus has no natural
    double-charges (near-unique totals), so orders whose md5 lands in a
    1-in-64 bucket get a DETERMINISTIC retry clone (+2 h, offset key) —
    the fuzzy-join planted-typo precedent — and the audit must recover
    exactly that population. The self-join is keyed on (customer,
    amount-in-cents) — candidates exist only where both match, so the
    join fans out by per-(cust, price) multiplicity, not corpus size —
    and the 24-hour band + orderkey ordering prune inside the join.
    Output: one row per suspect pair, exact integers plus the hour gap.
    """
    from ..operators.sampling import uniform_hash

    raw = load_table(spark, sf_dir, "orders")
    retries = raw.filter(
        uniform_hash(F.col("o_orderkey"), "doublecharge") % 64 == 0
    ).select(
        (F.col("o_orderkey") + F.lit(1_000_000_000_000)).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
        (F.col("o_orderdate") + F.expr("INTERVAL 2 HOURS")).alias(
            "o_orderdate"
        ),
    )
    orders = raw.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    ).unionByName(retries)
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.unix_micros(F.col("o_orderdate")).alias("us"),
    )
    a = base.select(
        "o_custkey",
        "cents",
        F.col("o_orderkey").alias("key_a"),
        F.col("us").alias("us_a"),
    )
    b = base.select(
        "o_custkey",
        "cents",
        F.col("o_orderkey").alias("key_b"),
        F.col("us").alias("us_b"),
    )
    return (
        a.join(b, ["o_custkey", "cents"])
        .filter(
            (F.col("key_a") < F.col("key_b"))
            & (F.abs(F.col("us_a") - F.col("us_b")) <= 86_400_000_000)
        )
        .select(
            "o_custkey",
            "cents",
            "key_a",
            "key_b",
            F.expr("abs(us_a - us_b) div 3600000000").alias("hours_apart"),
        )
        .orderBy("o_custkey", "key_a", "key_b")
    )


@query
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-100 corpus tokens: OLS slope of
    ln(frequency) on ln(rank) — natural language sits near -1, and a
    corpus drifting away signals boilerplate floods or tokenizer
    damage. The top-100 selection is a distributed
    TakeOrderedAndProject (count desc, token asc — the top_k_orders
    shape, no vocab-sized window); the rank and all four OLS moment
    sums then fold over the SORTED 100-element array in one defined
    IEEE order on both engines (the ``text_char_entropy`` technique),
    so the fitted slope is hash-exact at the one rounding site.
    """
    docs = load_documents(spark, sf_dir)
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("t"))
        .limit(100)
    )
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("neg_n"), F.col("t"), F.col("n")))
    )
    ranked = counts.select(
        (-F.col("n")).alias("neg_n"), "t", "n"
    ).agg(arr.alias("a"))
    # ranks follow the (count desc, token asc) order == (neg_n, t) asc
    moments = ranked.select(
        F.size("a").cast("long").alias("k"),
        F.aggregate(
            F.transform(
                F.col("a"),
                lambda x, i: F.struct(
                    F.log((i + 1).cast("double")).alias("lx"),
                    F.log(x["n"].cast("double")).alias("ly"),
                ),
            ),
            F.struct(
                F.lit(0.0).alias("sx"),
                F.lit(0.0).alias("sy"),
                F.lit(0.0).alias("sxx"),
                F.lit(0.0).alias("sxy"),
            ),
            lambda acc, e: F.struct(
                (acc["sx"] + e["lx"]).alias("sx"),
                (acc["sy"] + e["ly"]).alias("sy"),
                (acc["sxx"] + e["lx"] * e["lx"]).alias("sxx"),
                (acc["sxy"] + e["lx"] * e["ly"]).alias("sxy"),
            ),
        ).alias("m"),
    )
    k = F.col("k").cast("double")
    return moments.select(
        "k",
        F.round(
            (k * F.col("m.sxy") - F.col("m.sx") * F.col("m.sy"))
            / (k * F.col("m.sxx") - F.col("m.sx") * F.col("m.sx")),
            4,
        ).alias("zipf_slope"),
    )


@query
def events_entry_channel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate by ENTRY channel: each user's first event type
    (ts, event_id order — the acquisition touchpoint) against whether
    they ever purchase — the "which front door converts" readout that
    complements last-touch attribution. One user-keyed aggregate
    computes both the entry struct (min of (ts, event_id, type) — no
    rank window at all) and the purchase flag; the rollup is
    |event_type|-sized. Exact integers, one rounded division.
    """
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(
            F.struct(
                F.col("ts"), F.col("event_id"), F.col("event_type")
            )
        )["event_type"].alias("entry"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    return (
        per_user.groupBy("entry")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("converted").cast("long").alias("n_converted"),
        )
        .select(
            "entry",
            "n_users",
            "n_converted",
            F.round(
                F.col("n_converted").cast("double")
                / F.col("n_users").cast("double"),
                6,
            ).alias("conversion_rate"),
        )
        .orderBy("entry")
    )


def _key_skew(df, table: str, col: str):
    counts = df.groupBy(F.col(col).cast("string").alias("key_value")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    totals = counts.agg(
        F.sum("n").cast("long").alias("total_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    top = counts.orderBy(F.desc("n"), F.asc("key_value")).limit(3)
    return top.crossJoin(F.broadcast(totals)).select(
        F.lit(f"{table}.{col}").alias("join_key"),
        "key_value",
        "n",
        F.round(
            F.col("n").cast("double") / F.col("total_rows").cast("double"), 6
        ).alias("share"),
        F.round(
            F.col("n").cast("double")
            * F.col("n_keys").cast("double")
            / F.col("total_rows").cast("double"),
            4,
        ).alias("skew_vs_mean"),
    )


@query
def quality_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit across the three hottest join columns
    (lineitem.l_orderkey, orders.o_custkey, events.user_id): the top-3
    heaviest key values, their share of the table, and their multiple
    of the mean key load — the diagnostic that decides between a plain
    shuffle join, AQE skew splitting, and the salted-join operator this
    engine already ships (``join_salted_skewed``). Each column costs
    one count aggregate + a distributed top-3 (TakeOrderedAndProject)
    + a single-row totals attach; integer counts, two rounded ratios.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    out = (
        _key_skew(li, "lineitem", "l_orderkey")
        .unionByName(_key_skew(orders, "orders", "o_custkey"))
        .unionByName(_key_skew(events, "events", "user_id"))
    )
    return out.orderBy("join_key", F.desc("n"), "key_value")


@query
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily actives split into NEW (first-ever active day) vs
    RETURNING — the growth-accounting readout on every product
    dashboard. One user-keyed min-day aggregate + one (day, user)
    distinct pass joined on the user key; the day rollup is
    calendar-bounded. Exact integers, one rounded share.
    """
    events = load_table(spark, sf_dir, "events")
    pairs = events.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    firsts = pairs.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        pairs.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            )
            .cast("long")
            .alias("new_users"),
            F.sum(
                F.when(F.col("day") != F.col("first_day"), 1).otherwise(0)
            )
            .cast("long")
            .alias("returning_users"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "new_users",
            "returning_users",
            F.round(
                F.col("new_users").cast("double")
                / (F.col("new_users") + F.col("returning_users")).cast(
                    "double"
                ),
                6,
            ).alias("new_share"),
        )
        .orderBy("day")
    )


def _fd_audit(df, lhs: str, rhs: str):
    per_lhs = df.groupBy(lhs).agg(
        F.count_distinct(rhs).cast("long").alias("n_rhs")
    )
    return per_lhs.agg(
        F.lit(f"{lhs} -> {rhs}").alias("dependency"),
        F.count(F.lit(1)).cast("long").alias("n_lhs_values"),
        F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_violating_lhs"),
        F.max("n_rhs").cast("long").alias("max_rhs_per_lhs"),
    ).select(
        "dependency",
        "n_lhs_values",
        "n_violating_lhs",
        "max_rhs_per_lhs",
        (F.col("n_violating_lhs") == 0).alias("holds"),
    )


@query
def quality_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit over the part catalog — the schema
    profiling pass that validates assumed invariants before they become
    silent join bugs: does p_partkey determine p_name (the PK
    contract), does p_name determine p_brand, does p_brand determine
    p_type? Each candidate FD is one distinct-count aggregate folded to
    a single row (violating LHS values counted, worst fan-out
    reported); findings are data, not assertions. Exact integers only.
    """
    part = load_table(spark, sf_dir, "part")
    return (
        _fd_audit(part, "p_partkey", "p_name")
        .unionByName(_fd_audit(part, "p_name", "p_brand"))
        .unionByName(_fd_audit(part, "p_brand", "p_type"))
        .orderBy("dependency")
    )


@query
def quality_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the marker-word classifier
    (``text_lang_id``) scored against the corpus's declared ``lang``
    label — per (declared, predicted) cell counts plus the per-declared
    recall. The evaluate-a-classifier-at-corpus-scale pattern: one
    scan, a |langs|²-bounded rollup, exact integers and one rounded
    recall per row.
    """
    docs = load_documents(spark, sf_dir)
    pred = docs.select(
        "lang", text.lang_id(F.col("text")).alias("predicted")
    )
    cells = pred.groupBy("lang", "predicted").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    totals = cells.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_lang")
    )
    return (
        cells.join(totals, "lang")
        .select(
            "lang",
            "predicted",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("n_lang").cast("double"), 6
            ).alias("share_of_declared"),
        )
        .orderBy("lang", "predicted")
    )


@query
def pipeline_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "dataset datasheet" rollup a pretraining corpus ships with:
    per (source, lang) — document volume, whitespace-token volume,
    exact-duplicate rate (1 - distinct texts / docs), and mean document
    length. One scan computes the per-cell aggregates; the dup rate
    rides a (cell, text)-keyed distinct pass, never a pair join. Exact
    integers with two rounded ratios; output bounded by
    |sources| x |langs|.
    """
    docs = load_documents(spark, sf_dir)
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
        )
        .cast("long")
        .alias("n_tokens"),
        F.sum(F.length("text")).cast("long").alias("n_chars_total"),
    )
    distinct_texts = (
        docs.select("source", "lang", "text")
        .distinct()
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_distinct_texts"))
    )
    return (
        cells.join(distinct_texts, ["source", "lang"])
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            F.round(
                F.lit(1.0)
                - F.col("n_distinct_texts").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("exact_dup_rate"),
            F.round(
                F.col("n_chars_total").cast("double")
                / F.col("n_docs").cast("double"),
                4,
            ).alias("mean_chars"),
        )
        .orderBy("source", "lang")
    )


@query
def quality_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit of a quasi-identifier release — the k-anonymity /
    l-diversity check a training-data pipeline runs before shipping any
    table keyed by indirect identifiers (Sweeney, "k-Anonymity: a model
    for protecting privacy", 2002): every customer is bucketed by the
    QI tuple (nation, $250 account-balance band) and each QI group is
    scored by size (re-identification: a group of size < k pins a row
    to < k candidates) and by distinct sensitive values (homogeneity:
    a group with l < 2 market segments leaks the segment even without
    re-identification). Output: one row per k in (2, 5, 10) — groups
    below k, rows at risk, risk share — plus the global minimum group
    size and l<2 violation count on every row.

    Exactness: counts and integer floor-bucketing end to end; the only
    float sites are the band division (an integer-valued quotient flips
    floor only when exact — both engines agree) and the rounded risk
    share. Scale shape: one QI-keyed partial-agg groupBy (output
    bounded by the QI DOMAIN, not row count), a 3x explode of that
    domain-bounded frame, and an O(1) rollup. No window, no join, no
    sort until the 3-row presentation edge.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(
            F.round(F.col("c_acctbal") * 100).cast("long") / F.lit(25000)
        )
        .cast("long")
        .alias("bal_band"),
    )
    groups = cust.groupBy("c_nationkey", "bal_band").agg(
        F.count(F.lit(1)).cast("long").alias("grp_n"),
        F.count_distinct("c_mktsegment").cast("long").alias("l_div"),
    )
    exploded = groups.select(
        "grp_n",
        "l_div",
        F.explode(F.array(F.lit(2), F.lit(5), F.lit(10))).alias("k"),
    )
    return (
        exploded.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("grp_n").cast("long").alias("n_rows"),
            F.sum(F.when(F.col("grp_n") < F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("groups_below_k"),
            F.sum(
                F.when(F.col("grp_n") < F.col("k"), F.col("grp_n")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("rows_at_risk"),
            F.min("grp_n").cast("long").alias("min_group_size"),
            F.sum(F.when(F.col("l_div") < 2, 1).otherwise(0))
            .cast("long")
            .alias("l2_violations"),
        )
        .select(
            F.col("k").cast("int"),
            "n_groups",
            "n_rows",
            "groups_below_k",
            "rows_at_risk",
            F.round(
                F.col("rows_at_risk").cast("double")
                / F.col("n_rows").cast("double"),
                6,
            ).alias("risk_share"),
            "min_group_size",
            "l2_violations",
        )
        .orderBy("k")
    )


@query
def quality_simpsons_reversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-reversal (Simpson's paradox) audit: does the pooled
    comparison "urgent orders are larger than non-urgent" FLIP inside
    any customer segment? The confounder screen an analytics pipeline
    runs before trusting a pooled metric. Cohort A = priorities
    1-URGENT/2-HIGH, cohort B = the rest; the comparison mean_A vs
    mean_B is decided WITHOUT division via the integer cross product
    sum_A*n_B <=> sum_B*n_A, accumulated in decimal(38,0) (sum x count
    products outrun int64 at scale; a comparison decided on a rounded
    double could flip on a knife-edge tie), so
    every direction is exact; the displayed means are rounded at the
    one presentation site. Output: one row per segment with both
    cohort sizes, rounded means, the segment direction, the pooled
    direction, and the reversal flag.

    Scale shape: ONE (segment, cohort) integer rollup off the
    orders-customer join (partial-agg friendly, segment-bounded
    output), a segment-level pivot via conditional aggregation, and the
    pooled row attached as a broadcast 1-row aggregate. No window.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("is_a"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    rows = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        "c_mktsegment", "cents", "is_a"
    )

    def _pivot(df, keys):
        # Cast the SUMMAND so the accumulation itself runs in
        # decimal(38,0) — summing in int64 and casting the result can
        # overflow (or throw under ANSI) at 100 TB cohort sizes while the
        # DuckDB oracle's sum(BIGINT) widens to HUGEINT.
        cents_dec = F.col("cents").cast("decimal(38,0)")
        return df.groupBy(*keys).agg(
            F.sum(F.when(F.col("is_a") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("is_a") == 1, cents_dec).otherwise(F.lit(0).cast("decimal(38,0)")))
            .cast("decimal(38,0)")
            .alias("s_a"),
            F.sum(F.when(F.col("is_a") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
            F.sum(F.when(F.col("is_a") == 0, cents_dec).otherwise(F.lit(0).cast("decimal(38,0)")))
            .cast("decimal(38,0)")
            .alias("s_b"),
        )

    direction = F.when(
        F.col("s_a") * F.col("n_b") > F.col("s_b") * F.col("n_a"), F.lit(1)
    ).when(
        F.col("s_a") * F.col("n_b") < F.col("s_b") * F.col("n_a"), F.lit(-1)
    ).otherwise(F.lit(0))
    seg = _pivot(rows, ["c_mktsegment"]).withColumn("seg_dir", direction)
    pooled = (
        _pivot(rows, [])
        .withColumn("pooled_dir", direction)
        .select("pooled_dir")
    )
    return (
        seg.crossJoin(F.broadcast(pooled))
        .select(
            "c_mktsegment",
            "n_a",
            "n_b",
            F.when(
                F.col("n_a") > 0,
                F.round(
                    F.col("s_a").cast("double") / F.col("n_a") / 100.0, 4
                ),
            ).alias("mean_a"),
            F.when(
                F.col("n_b") > 0,
                F.round(
                    F.col("s_b").cast("double") / F.col("n_b") / 100.0, 4
                ),
            ).alias("mean_b"),
            F.col("seg_dir").cast("int"),
            F.col("pooled_dir").cast("int"),
            (F.col("seg_dir") * F.col("pooled_dir") == -1)
            .cast("int")
            .alias("reversed"),
        )
        .orderBy("c_mktsegment")
    )


@query
def search_ndcg_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation of the BM25 retriever: graded nDCG@10
    (Järvelin & Kekäläinen 2002) of the certified BM25 top-10 against a
    deterministic graded relevance label — rel(doc) = how many of the 5
    query terms the document contains (0..5), the label the retrieval
    family's own postings define, so the eval needs no external
    judgments. DCG@10 folds gain/log2(rank+1) in EXPLICIT rank order
    (the defined-order float-fold discipline of text_char_entropy — a
    10-element fold, never an unordered SUM); gains (2^rel - 1) are
    exact integers via shiftleft; the ideal ranking re-sorts ALL matched
    documents by (rel desc, doc_id). One row: DCG, ideal DCG, nDCG,
    matched-corpus size.

    Scale shape: reuses the inverted-index BM25 plan (postings probe,
    never a corpus-wide join); both rankings are orderBy+limit
    TakeOrderedAndProject tops; the folds run over <= 10-row frames and
    every join is a 1-row broadcast.
    """
    scored = _bm25_scored(spark, sf_dir)  # doc_id, n_terms_matched, bm25
    gain = F.expr("shiftleft(1, cast(n_terms_matched as int)) - 1")

    def dcg_of(ranked) -> DataFrame:
        per_rank = ranked.select(
            "rank",
            (
                gain.cast("double")
                / F.log2(F.col("rank").cast("double") + 1.0)
            ).alias("v"),
        )
        return per_rank.agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("rank", "v"))),
                F.lit(0.0),
                lambda acc, x: acc + x["v"],
            ).alias("dcg")
        )

    w_sys = Window.partitionBy(F.lit(1)).orderBy(
        F.desc("bm25"), F.asc("doc_id")
    )
    sys_ranked = (
        scored.orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w_sys))
    )
    w_ideal = Window.partitionBy(F.lit(1)).orderBy(
        F.desc("n_terms_matched"), F.asc("doc_id")
    )
    ideal_ranked = (
        scored.orderBy(F.desc("n_terms_matched"), F.asc("doc_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w_ideal))
    )
    n_matched = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched_docs")
    )
    return (
        dcg_of(sys_ranked)
        .crossJoin(F.broadcast(dcg_of(ideal_ranked).select(F.col("dcg").alias("idcg"))))
        .crossJoin(F.broadcast(n_matched))
        .select(
            F.lit(10).cast("int").alias("k"),
            F.round(F.col("dcg"), 6).alias("dcg_at_k"),
            F.round(F.col("idcg"), 6).alias("idcg_at_k"),
            F.when(
                F.col("idcg") > 0,
                F.round(F.col("dcg") / F.col("idcg"), 6),
            ).alias("ndcg_at_k"),
            "n_matched_docs",
        )
    )


@query
def quality_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit — the eval-integrity check an LLM
    pipeline runs AFTER splitting: an eval (valid/test) document whose
    exact text also appears in train is a leaked answer, inflating eval
    scores without any model improvement. Distinct from the n-gram
    decontamination operator (corpus vs EXTERNAL eval set): this audits
    the pipeline's OWN hash split, where exact-duplicate texts that
    straddle the boundary are the leak. Per eval split: document count,
    leaked-document count, leak share, and the distinct leaked texts.

    Scale shape: one (text)-keyed aggregate pivots per-split counts (the
    shuffle key is the text itself — exactness first; a production run
    at 100 TB keys on sha2(text) with identical counts), then an O(1)
    per-split rollup. No join, no window.
    """
    docs = load_documents(spark, sf_dir).select("doc_id", "text")
    tagged = sampling.hash_split(docs, "doc_id")
    per_text = tagged.groupBy("text").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "valid", 1).otherwise(0))
        .cast("long")
        .alias("n_valid"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )
    leaked = F.col("n_train") > 0
    rows = []
    for split in ("valid", "test"):
        n = F.col(f"n_{split}")
        rows.append(
            per_text.agg(
                F.lit(split).alias("eval_split"),
                F.sum(n).cast("long").alias("n_docs"),
                F.sum(F.when(leaked, n).otherwise(0))
                .cast("long")
                .alias("n_leaked_docs"),
                F.sum(F.when(leaked & (n > 0), 1).otherwise(0))
                .cast("long")
                .alias("n_leaked_texts"),
            )
        )
    out = rows[0].unionByName(rows[1])
    return out.select(
        "eval_split",
        "n_docs",
        "n_leaked_docs",
        F.when(
            F.col("n_docs") > 0,
            F.round(
                F.col("n_leaked_docs").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ),
        ).alias("leak_share"),
        "n_leaked_texts",
    ).orderBy("eval_split")


@query
def dedup_linkage_fs_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage scoring (Fellegi & Sunter, JASA
    1969) — registered entry; delegates to :func:`fs_linkage_weights`
    with the cost-based ``auto`` blocking strategy."""
    return fs_linkage_weights(spark, sf_dir)


def _dir_fingerprint(p: str) -> str:
    """mtime/size fingerprint of a parquet file or directory — the
    incremental-dedup store's cache key (rewriting the data rebuilds)."""
    import os as _os

    try:
        if _os.path.isdir(p):
            parts = []
            for f in sorted(_os.listdir(p)):
                st = _os.stat(_os.path.join(p, f))
                parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
            return "|".join(parts)
        st = _os.stat(p)
        return f"{st.st_size}:{st.st_mtime_ns}"
    except OSError:
        return "absent"


def _cached_store(
    spark, sf_dir: str, name: str, source_file: str, write, params: str = ""
):
    """Fingerprint-cached parquet work-dir store — the shared 'prebuilt
    and amortized' shape of the incremental family (signature store, IVF
    index, cluster table): ``write(path)`` runs only when the source
    parquet's size/mtime fingerprint changed; otherwise the store is
    read back as-is. The fingerprint file starts with '_' so parquet
    readers ignore it.

    ``params`` folds the BUILD PARAMETERS (k, bands, n_cells, threshold,
    centroid seed — whatever shaped the store) into the fingerprint:
    changing an operator default then rebuilds instead of
    silently serving a stale store from the work dir."""
    path = _work_dir(sf_dir, name)
    fp_file = os.path.join(path, "_SOURCE_FINGERPRINT")
    fp = _dir_fingerprint(os.path.join(sf_dir, source_file))
    if params:
        fp = f"{fp}|params={params}"
    cached = False
    try:
        with open(fp_file) as fh:
            cached = fh.read() == fp
    except OSError:
        pass
    if not cached:
        write(path)
        with open(fp_file, "w") as fh:
            fh.write(fp)
    return spark.read.parquet(path)


def fs_linkage_weights(
    spark: SparkSession,
    sf_dir: str,
    strategy: str = "auto",
    fine_block_threshold: float = 96.0,
) -> DataFrame:
    """Fellegi-Sunter record-linkage scoring (Fellegi & Sunter, JASA
    1969) — the probabilistic layer ABOVE the repo's blocking operators
    (sorted-neighborhood, FastSS): candidate part pairs from a
    (brand, size) block are scored per comparison field with
    log2(m/u) agreement / log2((1-m)/(1-u)) disagreement weights, where
    each field's u-probability (chance agreement between RANDOM records)
    is estimated FROM THE DATA as sum(n_v^2)/N^2 over its value
    distribution — exact integer sums, one division — and m is the
    fixed literal 0.9 (its complement written as the literal 0.1, never
    1-m: the float-literal discipline of the PageRank query). Top-20
    pairs by total match weight.

    Blocking is COST-BASED. Two candidate plans:

    - ``coarse``: enumerate every pair inside a (brand, size) block —
      one self-join, zero extra shuffles. Optimal while blocks are
      small: measured 0.65 s vs 1.8 s for the fine plan at sf0.1
      (avg block ~16 rows), because three joins + a pair dedup cost
      more than enumerating 160k trivial pairs.
    - ``fine``: a SECOND blocking pass — three finer blocked
      self-joins (block + adj, block + noun, block + p_type) whose
      post-join routing filters send each pair to its FIRST agreeing
      field, making the union DISJOINT with no pair-dedup shuffle
      (a dropDuplicates variant shuffled every candidate and lost to
      coarse 114 s vs 14 s at a 64x fixed-domain probe). Only pairs
      agreeing on at least one compared field are ever scored (~2.8x
      fewer at sf0.1; each branch scales with u_f * B^2, not B^2).
      This is the plan that survives a fixed block domain at 100 TB,
      where coarse pair volume grows quadratically with block size B.
    - ``auto``: one bounded 1-row stats probe (row count + approximate
      block count — a sanctioned bounded collect: single row, two
      columns) picks coarse when the average block is under
      ``fine_block_threshold`` rows, fine above it. Crossover measured
      on the REAL scoring shape (6 log2 per pair) at sf0.1-derived
      fixed-domain multiplies: B=16 coarse wins 1.06 s vs 1.83 s,
      B=256 fine wins 6.2 s vs 7.5 s, B=1024 fine wins 29 s vs 40 s —
      log-interpolated break-even ~B=90, threshold pinned at 96.

    Fine-path losslessness (runtime-verified, never assumed): every
    pruned pair disagrees on all three fields, and all such pairs share
    the single score s0 = sum_f log2(0.1/(1-u_f)). The top-20 over the
    pruned candidate set equals the top-20 over ALL blocked pairs iff
    (a) 20 candidates exist and the 20th rounded score strictly exceeds
    round(s0, 4), or (b) fewer than 20 candidates exist and the coarse
    blocked-pair total — computed from block SIZES as sum n_b*(n_b-1)/2,
    no enumeration — equals the candidate count (i.e. no all-disagree
    pair exists at all). Either branch failing raises via
    ``raise_error`` instead of silently diverging from the coarse oracle
    (the PPJoin proven-lossless-filter discipline); the guard aggregate
    is evaluated EAGERLY over the persisted top frame before this
    function returns, so no downstream consumer — however
    early-terminating — can skip it. This also subsumes
    the u_f >= 0.9 degenerate case where disagreement outweighs
    agreement: such data simply fails guard (a).
    """
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("adj"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
        "p_type",
    )

    def u_of(col: str) -> DataFrame:
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
    if strategy not in ("auto", "coarse", "fine"):
        raise ValueError(f"unknown blocking strategy: {strategy!r}")
    if strategy == "auto":
        # Planner probe: ONE bounded 1-row collect (repo collect
        # discipline) — row count plus approximate block count over two
        # dictionary-encoded columns. At 100 TB this is a column-pruned
        # linear scan per call, the price of not enumerating B^2 pairs
        # with the wrong plan. Measured ~0.14 s per probe at sf0.1.
        probe = parts.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(
                F.concat_ws("\x1f", "p_brand", "p_size")
            ).alias("blocks"),
        ).first()
        avg_block = probe["n"] / max(probe["blocks"], 1)
        strategy = "fine" if avg_block > fine_block_threshold else "coarse"

    a = parts.alias("a")
    b = parts.alias("b")
    block_cond = (
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey"))
    )
    pair_cols = [
        F.col("a.p_partkey").alias("part_a"),
        F.col("b.p_partkey").alias("part_b"),
        (F.col("a.adj") == F.col("b.adj")).cast("int").alias("agree_adj"),
        (F.col("a.noun") == F.col("b.noun")).cast("int").alias("agree_noun"),
        (F.col("a.p_type") == F.col("b.p_type"))
        .cast("int")
        .alias("agree_p_type"),
    ]

    def agrees(field: str):
        # join-equality semantics for routing: NULL never agrees
        return F.coalesce(
            F.col(f"a.{field}") == F.col(f"b.{field}"), F.lit(False)
        )

    def fine_branch(field: str, not_fields: tuple[str, ...]) -> DataFrame:
        # Second blocking pass: (brand, size, field) — emits only pairs
        # that agree on `field`, so branch volume is u_field * B^2 per
        # coarse block instead of B^2. The not_fields filters make the
        # three branches DISJOINT (a pair is routed to its FIRST
        # agreeing field), so the union needs no pair dedup — a
        # dropDuplicates here shuffled every candidate pair and was 8x
        # slower than coarse at a 64x fixed-domain probe.
        cond = block_cond & (F.col(f"a.{field}") == F.col(f"b.{field}"))
        df = a.join(b, cond)
        for nf in not_fields:
            df = df.filter(~agrees(nf))
        return df.select(*pair_cols)

    if strategy == "coarse":
        candidates = a.join(b, block_cond).select(*pair_cols)
    else:
        candidates = (
            fine_branch("adj", ())
            .unionByName(fine_branch("noun", ("adj",)))
            .unionByName(fine_branch("p_type", ("adj", "noun")))
        )

    def w_of(flag: str, sq: str):
        u = (
            F.col(sq).cast("double")
            / F.col("n_total")
            / F.col("n_total")
        )
        return F.when(
            F.col(flag) == 1, F.log2(F.lit(0.9) / u)
        ).otherwise(F.log2(F.lit(0.1) / (F.lit(1.0) - u)))

    def u_of_col(sq: str):
        return (
            F.col(sq).cast("double")
            / F.col("n_total")
            / F.col("n_total")
        )

    def w_dis(sq: str):
        return F.log2(F.lit(0.1) / (F.lit(1.0) - u_of_col(sq)))

    # If ANY field is globally constant (u == 1), every blocked pair
    # agrees on it, so no all-disagree pair exists and s0 is -inf (the
    # CASE keeps the 1-u division lazy — ANSI would throw on u == 1).
    any_const = (
        (u_of_col("sq_adj") >= 1.0)
        | (u_of_col("sq_noun") >= 1.0)
        | (u_of_col("sq_p_type") >= 1.0)
    )
    scored = candidates.crossJoin(F.broadcast(stats)).select(
        "part_a",
        "part_b",
        "agree_adj",
        "agree_noun",
        "agree_p_type",
        F.round(
            w_of("agree_adj", "sq_adj")
            + w_of("agree_noun", "sq_noun")
            + w_of("agree_p_type", "sq_p_type"),
            4,
        ).alias("match_weight"),
        # The one rounded score every pruned (all-disagree) pair carries.
        F.when(any_const, F.lit(float("-inf")))
        .otherwise(
            F.round(
                w_dis("sq_adj") + w_dis("sq_noun") + w_dis("sq_p_type"), 4
            )
        )
        .alias("_s0"),
    )
    top = scored.orderBy(
        F.desc("match_weight"), F.asc("part_a"), F.asc("part_b")
    ).limit(20)
    if strategy == "fine":
        # The <=20-row top frame feeds BOTH the result and the guard
        # aggregate below; without the persist the expensive blocked
        # self-join is planned twice and nothing pins exchange reuse.
        top = persist_scoped(top, "fs_linkage_top")
    w_rank = Window.partitionBy(F.lit(1)).orderBy(
        F.desc("match_weight"), F.asc("part_a"), F.asc("part_b")
    )
    ranked = top.withColumn(
        "rank", F.row_number().over(w_rank).cast("int")
    ).select(
        "rank",
        "part_a",
        "part_b",
        "agree_adj",
        "agree_noun",
        "agree_p_type",
        "match_weight",
    )
    if strategy == "coarse":
        # Coarse enumerates every blocked pair — exact by construction,
        # no sentinel needed.
        return ranked
    # Coarse blocked-pair total from block SIZES (no pair enumeration):
    # feeds the <20-candidates branch of the losslessness guard.
    coarse_total = (
        parts.groupBy("p_brand", "p_size")
        .agg(F.count(F.lit(1)).alias("n_b"))
        .agg(
            F.sum(F.col("n_b") * (F.col("n_b") - 1) / 2)
            .cast("long")
            .alias("_coarse_pairs")
        )
    )
    # Losslessness sentinel: a 1-row rollup of the persisted (<= 20-row)
    # top frame joined to the block-size pair total; a VIOLATING row
    # survives the filter and its raise_error projection aborts the job.
    # Evaluated EAGERLY below: an unioned-sentinel form
    # let a .limit()/early-terminating consumer satisfy its limit from
    # the ranked child and never evaluate the violation partition —
    # collecting the aggregate here makes the guard unskippable, and the
    # persisted top means the eager action costs one cache read, not a
    # second blocked self-join.
    lossless = (
        (F.col("_n_top") == 20) & (F.col("_min_w") > F.col("_s0"))
    ) | (
        (F.col("_n_top") < 20)
        # sum() over an EMPTY part table is NULL -> coalesce keeps the
        # guard three-valued-logic-proof (NULL would slip the filter)
        & (F.coalesce(F.col("_coarse_pairs"), F.lit(0)) == F.col("_n_top"))
    )
    violation = (
        top.agg(
            F.count(F.lit(1)).alias("_n_top"),
            F.min("match_weight").alias("_min_w"),
            F.min("_s0").alias("_s0"),
        )
        .crossJoin(F.broadcast(coarse_total))
        .filter(~lossless)
        .select(
            F.raise_error(
                "fs_weights fine-blocking not lossless on this data: "
                "an all-disagree pair could enter the top-20; rerun "
                "with the coarse (brand,size) blocked join"
            ).cast("int").alias("rank"),
        )
    )
    violation.collect()  # raises on violation; [] when lossless
    return ranked


def lsh_planner_params(n_hashes: int = 128):
    """(b, r) factorizations of the signature budget with their analytic
    S-curve landmarks: s50 = (1 - 0.5^(1/b))^(1/r) (the similarity where
    the banding scheme fires with probability 1/2) and P(candidate|s) =
    1-(1-s^r)^b at s=0.5/0.7. Pure closed-form math (Leskovec/Rajaraman/
    Ullman, MMDS ch.3) computed ONCE in Python and inlined as literals
    in both engines' plans; s50 additionally carried as the rational
    round(s50*10000)/10000 numerator so the data-side threshold compare
    stays in integers."""
    out = []
    for b in (64, 32, 16, 8, 4, 2):
        r = n_hashes // b
        s50 = (1.0 - 0.5 ** (1.0 / b)) ** (1.0 / r)
        p05 = 1.0 - (1.0 - 0.5**r) ** b
        p07 = 1.0 - (1.0 - 0.7**r) ** b
        out.append(
            {
                "b": b,
                "r": r,
                "s50_num": int(round(s50 * 10000)),
                "s50": round(s50, 6),
                "p_at_05": round(p05, 6),
                "p_at_07": round(p07, 6),
            }
        )
    return out


@query
def dedup_lsh_param_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding planner — the (bands, rows) tuning decision
    behind the near-dedup family, answered with the corpus's OWN
    similarity distribution: for every factorization of a 128-hash
    signature, the analytic S-curve landmarks (s50 threshold, catch
    probability at Jaccard 0.5 / 0.7 — closed-form literals) next to
    the DATA anchor: how many adjacent-pair candidates (the
    weighted-Jaccard verifier's exact pair frame) sit at or above that
    scheme's s50. The planner row an engineer reads to pick b x r
    before a 100 TB dedup run.

    Exactness: the similarity-vs-threshold compare is pure integers —
    jac >= s50 rewritten as 10000*s_min >= s50_num*(union_size) with
    the rational threshold numerator — so the data column carries an
    exact dual; the curve columns are Python-computed literals shared
    verbatim by both engines. Scale shape: the pair frame builds once
    (token inner join, the weighted-jaccard shape); the planner is a
    6-row explode + conditional count rollup.
    """
    docs = load_documents(spark, sf_dir)
    tf = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
        )
        .filter(F.col("t") != "")
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    totals = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("total"))
    shared = (
        tf.select(F.col("doc_id").alias("id_a"), "t", F.col("tf").alias("tfa"))
        .join(
            tf.select(
                (F.col("doc_id") - 1).alias("id_a"),
                "t",
                F.col("tf").alias("tfb"),
            ),
            ["id_a", "t"],
        )
        .groupBy("id_a")
        .agg(F.sum(F.least("tfa", "tfb")).cast("long").alias("s_min"))
    )
    pairs = (
        totals.select(F.col("doc_id").alias("id_a"), F.col("total").alias("ta"))
        .join(
            totals.select(
                (F.col("doc_id") - 1).alias("id_a"),
                F.col("total").alias("tb"),
            ),
            "id_a",
        )
        .join(shared, "id_a", "left")
        .select(
            F.coalesce(F.col("s_min"), F.lit(0)).alias("s_min"),
            (F.col("ta") + F.col("tb") - F.coalesce(F.col("s_min"), F.lit(0)))
            .alias("uni"),
        )
    )
    # 6-row parameter fan-out via explode (Generate), never a small-frame
    # crossJoin — the no-BNLJ plan discipline (rolling-WAU precedent)
    params_arr = F.array(
        *[
            F.struct(
                F.lit(p["b"]).cast("int").alias("b"),
                F.lit(p["r"]).cast("int").alias("r"),
                F.lit(p["s50_num"]).cast("long").alias("s50_num"),
                F.lit(p["s50"]).alias("s50"),
                F.lit(p["p_at_05"]).alias("p_at_05"),
                F.lit(p["p_at_07"]).alias("p_at_07"),
            )
            for p in lsh_planner_params()
        ]
    )
    return (
        pairs.select("s_min", "uni", F.explode(params_arr).alias("p"))
        .select(
            "s_min",
            "uni",
            F.col("p.b").alias("b"),
            F.col("p.r").alias("r"),
            F.col("p.s50_num").alias("s50_num"),
            F.col("p.s50").alias("s50"),
            F.col("p.p_at_05").alias("p_at_05"),
            F.col("p.p_at_07").alias("p_at_07"),
        )
        .groupBy("b", "r", "s50", "p_at_05", "p_at_07")
        .agg(
            F.sum(
                F.when(
                    10000 * F.col("s_min") >= F.col("s50_num") * F.col("uni"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_pairs_targeted"),
            F.count(F.lit(1)).cast("long").alias("n_pairs_scored"),
        )
        .orderBy(F.desc("b"))
    )


@query
def join_spatial_grid_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial neighbor join via grid blocking — the missing SPATIAL
    member of the join family (the reference's geo entity carries
    lat/long, SURVEY §1.1): points within 0.25 degrees are paired by
    equi-joining 0.25-degree grid cells with a 3x3 neighbor-cell
    explode on one side, the canonical spatial blocking that replaces
    the all-pairs distance join (a pair within the threshold can never
    straddle non-adjacent cells when cell size >= threshold, so the
    blocking is LOSSLESS by construction). Coordinates are derived
    deterministically from the customer key (md5-uniform micro-degrees
    over a 10x10-degree window — the engine-portable stand-in for the
    geo table's lat/long), and EVERYTHING is integer: positions in
    micro-degrees, cells by integer division, the planar squared
    distance dlat^2 + dlon^2 against the exact threshold 250000^2.
    Output: the 20 closest pairs plus the total qualifying-pair count.

    Scale shape: one cell-keyed equi join whose fan-out is bounded by
    cell occupancy (9 probe cells per point, never corpus-quadratic;
    the hot-cell adversary and its resolution-based mitigation are
    documented on :func:`~..operators.joins.grid_neighbor_pairs`);
    top-20 via TakeOrderedAndProject on an integer sort key. A real
    deployment swaps the md5 stand-in for stored coordinates and the
    planar metric for haversine at the one distance expression.
    """
    from ..operators import joins as joins_ops

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    span = 10_000_000  # 10 degrees in micro-degrees
    cell = 250_000  # 0.25-degree grid == the distance threshold
    pts = cust.select(
        F.col("c_custkey").alias("key"),
        (sampling.uniform_hash(F.col("c_custkey"), "lat") % span).alias(
            "lat_i"
        ),
        (sampling.uniform_hash(F.col("c_custkey"), "lon") % span).alias(
            "lon_i"
        ),
    )
    pairs = joins_ops.grid_neighbor_pairs(pts, cell)
    total = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs_total"))
    top = pairs.orderBy(
        F.asc("dist2"), F.asc("key_a"), F.asc("key_b")
    ).limit(20)
    w = Window.partitionBy(F.lit(1)).orderBy(
        F.asc("dist2"), F.asc("key_a"), F.asc("key_b")
    )
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .crossJoin(F.broadcast(total))
        .select("rank", "key_a", "key_b", "dist2", "n_pairs_total")
    )


@query
def quality_embedding_proximity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic train/eval contamination audit — the EMBEDDING-level
    complement of :func:`quality_split_contamination` (exact-duplicate
    text catches verbatim leaks; a near-identical eval vector whose
    nearest TRAIN neighbour is suspiciously close signals paraphrase /
    near-duplicate leakage that survives text dedup): hash-split the
    vector store, audit a fixed 256-vector eval sample (the bounded
    md5-priority draw of the knn audit), and for each audited vector
    find its nearest train vector by exact integer-quantized dot via
    the GEMM kernel (k=1). Output: one row of exact counts — audited
    size, train size, suspicious count at the fixed dot threshold
    900000 (~cosine 0.9 at the certified x1000 quantization of
    unit-ish vectors) — plus min/max/mean nearest dots (integer sums,
    one rounded division).

    Scale shape: ONE train-corpus scan against the bounded 256-query
    GEMM (Python->JVM rows stay q*(k+1) per batch); the rollup is a
    1-row aggregate. Same exactness contract as the knn audit:
    quantization Spark-side, every GEMM intermediate an exact integer.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    tagged = sampling.hash_split(emb, "vec_id")
    audited_rows = (
        tagged.filter(F.col("split") != "train")
        .withColumn("h", sampling.uniform_hash(F.col("vec_id"), "proximity"))
        .orderBy(F.asc("h"), F.asc("vec_id"))
        .limit(256)
        .select(
            F.col("vec_id").alias("q_id"),
            similarity.quantize(F.col("embedding")).alias("q_vec"),
            F.col("label").alias("q_label"),
        )
        .collect()
    )
    train = tagged.filter(F.col("split") == "train").select(
        "vec_id", similarity.quantize(F.col("embedding")).alias("c_vec"),
        "label",
    )
    n_train = train.agg(F.count(F.lit(1)).cast("long").alias("n_train"))
    partials = similarity.knn_partial_topk_matmul(
        train, audited_rows, k=1,
        extra=0,  # nothing is filtered post-kernel (train excludes eval ids)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("dot_q"), F.asc("vec_id"))
    nearest = (
        partials.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("q_id", "dot_q")
    )
    # n_train attaches BEFORE the rollup and the rollup groups by it, so
    # a degenerate empty audit sample yields ZERO rows — matching the
    # oracle's GROUP BY nt.n_train over an empty `nearest` (a global
    # agg would emit one all-null row cross-joined with n_train).
    # Grouping on the 1-value broadcast key is partial-agg friendly —
    # same single-row output on real input.
    return (
        nearest.crossJoin(F.broadcast(n_train))
        .groupBy("n_train")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_audited"),
            F.sum(F.when(F.col("dot_q") >= 900000, 1).otherwise(0))
            .cast("long")
            .alias("n_suspicious"),
            F.min("dot_q").cast("long").alias("min_nearest_dot"),
            F.max("dot_q").cast("long").alias("max_nearest_dot"),
            F.when(
                F.count(F.lit(1)) > 0,
                F.round(
                    F.sum("dot_q").cast("double") / F.count(F.lit(1)), 4
                ),
            ).alias("mean_nearest_dot"),
        )
        .select(
            "n_audited",
            "n_train",
            "n_suspicious",
            "min_nearest_dot",
            "max_nearest_dot",
            "mean_nearest_dot",
        )
    )


@query
def ml_kmeans_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality audit (simplified-silhouette style) for the
    quantized k-means — the eval metric the clustering family was
    missing, exactly as nDCG closed the retrieval family: after the same
    two Lloyd iterations as :func:`ml_kmeans_quantized`, every vector
    carries its own-centroid squared distance a2 (cohesion) and its
    second-nearest-centroid squared distance b2 (separation); per
    cluster the audit reports exact integer sums of both, the
    separation ratio sum(b2)/sum(a2) (ONE division — never a per-vector
    float averaged, which would be an unordered float sum), and the
    well-separated share (b2 >= 4*a2, i.e. the runner-up centroid at
    least twice as far — an all-integer compare).

    Scale shape: identical to the kmeans query (dimension-bounded
    broadcast centroid joins, per-vector partial aggs, WindowGroupLimit
    rank<=2); the audit adds no new shuffle class. Integer sums take
    the decimal(38,0) accumulator rule at 100 TB.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.posexplode(similarity.quantize(F.col("embedding"))).alias(
            "pos", "val"
        ),
    )
    cent = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("cluster_id"),
        "pos",
        F.col("val").alias("code"),
    )
    d2 = (F.col("val") - F.col("code")) * (F.col("val") - F.col("code"))

    def distances(centroids: DataFrame) -> DataFrame:
        return (
            vecs.join(F.broadcast(centroids), "pos")
            .groupBy("vec_id", "cluster_id")
            .agg(F.sum(d2).alias("sqdist"))
        )

    w = Window.partitionBy("vec_id").orderBy(
        F.asc("sqdist"), F.asc("cluster_id")
    )
    for _ in range(2):
        members = (
            distances(cent)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cluster_id")
        )
        cent = (
            vecs.join(members.hint("shuffle_hash"), "vec_id")
            .groupBy("cluster_id", "pos")
            .agg(F.round(F.avg("val")).cast("long").alias("code"))
        )
    ranked = distances(cent).withColumn("rn", F.row_number().over(w))
    own = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "cluster_id", F.col("sqdist").alias("a2")
    )
    runner = ranked.filter(F.col("rn") == 2).select(
        "vec_id", F.col("sqdist").alias("b2")
    )
    per_vec = own.join(runner, "vec_id")
    return (
        per_vec.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("a2").cast("long").alias("cohesion_a2"),
            F.sum("b2").cast("long").alias("separation_b2"),
            F.sum(
                F.when(F.col("b2") >= 4 * F.col("a2"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_well_separated"),
        )
        .select(
            F.col("cluster_id").cast("long"),
            "n_vectors",
            "cohesion_a2",
            "separation_b2",
            # a one-member (or fully-degenerate) cluster has zero
            # cohesion; ANSI double division THROWS on zero, so the
            # ratio is guarded to NULL (mirrored in the oracle)
            F.when(
                F.col("cohesion_a2") > 0,
                F.round(
                    F.col("separation_b2").cast("double")
                    / F.col("cohesion_a2").cast("double"),
                    4,
                ),
            ).alias("separation_ratio"),
            "n_well_separated",
            F.round(
                F.col("n_well_separated").cast("double")
                / F.col("n_vectors").cast("double"),
                6,
            ).alias("well_separated_share"),
        )
        .orderBy("cluster_id")
    )


@query
def quality_bigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own Laplace-smoothed
    BIGRAM LM — the word-ORDER-sensitive fluency filter that
    ``text_unigram_logprob`` (a bag-of-words score, blind to token
    order) cannot express: shuffled-token spam keeps its unigram score
    but collapses here, which is why real pipelines grade on a
    conditional LM (Wenzek et al., CCNet 2020 use KenLM; add-1-smoothed
    bigrams are the exact-arithmetic proxy).
    H(d) = -sum_g tf_gd * ln((c2_g + 1) / (c1_first(g) + V)) / n_bigrams_d
    where c2 is the corpus bigram count, c1 the context (first-token)
    count summed over its bigrams, V the corpus unigram vocabulary —
    all exact integers; docs with fewer than 2 tokens have no bigram
    and drop out (mirrored in the dual).

    Float discipline (the ``text_char_entropy`` technique): the only
    nondeterministic-order float reduction — sum over a doc's distinct
    bigrams — folds over the bigram-SORTED collected array in one
    defined IEEE sequence on both engines (Spark ``array_sort`` +
    ``aggregate``, DuckDB ``list(... ORDER BY g)`` + ``list_reduce``);
    each term is the identical expression
    tf::double * ln((c2+1)::double / (c1+V)::double); one rounding site.

    Scale shape: bigrams come from the codegen'd ``shingles`` fast path
    (no interpreted HOF on the corpus path); one (doc, bigram) hash agg,
    bigram- and context-keyed count aggs, two key-partitioned joins, one
    doc-keyed fold whose array is ONE document's distinct bigrams. V
    attaches as a 1-row broadcast. Unsorted on purpose — per-doc output
    is corpus-sized and a final presentation sort's range sampling
    re-executes the lineage (the ``dedup_minhash_near_duplicates``
    rule); the parity hash is order-insensitive.
    """
    docs = load_documents(spark, sf_dir)
    toks = text.tokens(F.col("text"))
    bigrams_arr = F.when(
        F.size(toks) < 2, F.array().cast("array<string>")
    ).otherwise(text.shingles(F.col("text"), 2))
    tfb = persist_scoped(
        docs.select("doc_id", F.explode(bigrams_arr).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("tf")),
        "bigram_logloss_tfb",
    )  # consumed by c2 AND the terms join — persist beats re-exploding
    # merge hints on both LM-count frames: c2/c1 are the DATA-SIZED
    # bigram/context vocabularies — a broadcast of either is the
    # driver-killing misestimate the sparse-cosine term join documented
    # (fixed vocab in THIS corpus keeps them small, but the operator
    # must survive a real growing vocabulary at 100 TB), and a
    # shuffled hash build of a data-sized side OOMs where sort-merge
    # spills (measured on the shared-ngram 256x probe).
    c2 = (
        tfb.groupBy("g")
        .agg(F.sum("tf").cast("long").alias("c2"))
        .hint("merge")
    )
    c1 = (
        c2.groupBy(F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("t1"))
        .agg(F.sum("c2").cast("long").alias("c1"))
        .hint("merge")
    )
    vocab = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("t"))
        .agg(F.count_distinct("t").cast("long").alias("v"))
    )
    terms = (
        tfb.join(c2, "g")
        .withColumn("t1", F.split_part(F.col("g"), F.lit(" "), F.lit(1)))
        .join(c1, "t1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "g",
            "tf",
            (
                F.col("tf").cast("double")
                * F.log(
                    (F.col("c2") + 1).cast("double")
                    / (F.col("c1") + F.col("v")).cast("double")
                )
            ).alias("term"),
        )
    )
    per_doc = terms.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_bigrams"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("g", "term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("s"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "n_distinct_bigrams",
        F.round(
            -F.col("s") / F.col("n_bigrams").cast("double"), 6
        ).alias("xent_nats"),
    )


@query
def dedup_longest_shared_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest shared token span per document pair — the core signal of
    substring-level deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": repeated 50+-token
    spans are memorization fuel even when whole-doc near-dup checks
    pass). Candidate pairs come from shared 8-gram windows; consecutive
    matching windows on one (pair, position-offset) diagonal chain into
    spans via the gaps-and-islands trick, so a run of L matching
    windows certifies a shared span of L+7 tokens. Top-20 pairs by
    longest span (integers end to end — no float site at all).

    Scale shape: the 8-gram explode is linear in corpus tokens; a
    df <= 50 frequency cap bounds each gram's join fan-out (the PPJoin
    prefix-filter discipline — boilerplate grams shared by the whole
    corpus would otherwise join quadratically; the cap is part of the
    operator's definition and both engines apply it). The diagonal
    windows partition on (pair, diag) — parallel, bounded by one
    document's window count. No global window, no cross join.
    """
    docs = load_documents(spark, sf_dir)
    toks = text.tokens(F.col("text"))
    grams_arr = F.when(
        F.size(toks) < 8, F.array().cast("array<string>")
    ).otherwise(text.shingles(F.col("text"), 8))
    grams = persist_scoped(
        docs.select(
            "doc_id", F.posexplode(grams_arr).alias("pos0", "g")
        ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "g"),
        "shared_ngram_grams",
    )  # consumed by the df rollup AND both join sides — persist beats
    # re-running the shingle explode four times
    # merge hint: `rare` is the DATA-SIZED gram vocabulary. The
    # planner's post-aggregate stats underestimate it and pick a
    # broadcast whose build DIED on spark.driver.maxResultSize at the
    # 256x probe (the text_sparse_cosine_pairs / JL-projection lesson);
    # a shuffle_hash hint then OOM'd the per-partition hash-map build
    # at the same scale. Sort-merge is the join that spills.
    rare = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= 50)
        .select("g")
        .hint("merge")
    )
    kept = persist_scoped(grams.join(rare, "g"), "shared_ngram_kept")
    a = kept.select(
        F.col("g"), F.col("doc_id").alias("id_a"), F.col("pos").alias("pa")
    )
    b = kept.select(
        F.col("g"), F.col("doc_id").alias("id_b"), F.col("pos").alias("pb")
    )
    # merge hint: the planner statically broadcast `kept` (BuildRight)
    # for this self-join — same data-sized misestimate as the rare
    # frame; kept is every rare-gram occurrence and grows with the
    # corpus, so the candidate join must be the spilling one too.
    pairs = (
        a.join(b.hint("merge"), "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w_diag = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = pairs.withColumn(
        "grp", F.col("pa") - F.row_number().over(w_diag)
    )
    spans = runs.groupBy("id_a", "id_b", "diag", "grp").agg(
        (F.count(F.lit(1)) + 7).cast("long").alias("span_tokens")
    )
    summary = spans.groupBy("id_a", "id_b").agg(
        F.max("span_tokens").alias("longest_span_tokens")
    )
    counts = pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_windows")
    )
    return (
        summary.join(counts, ["id_a", "id_b"])
        .orderBy(
            F.desc("longest_span_tokens"), F.asc("id_a"), F.asc("id_b")
        )
        .limit(20)
    )


# --- rank correlation, divergence, diff-in-differences, mix weights ---------


@query
def quality_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b rank correlation between part size and retail
    price — the concordant/discordant-pair statistic that complements
    :func:`quality_spearman_corr` (a different estimator with a
    different plan: Spearman ranks rows, Kendall counts ORDERED PAIRS).
    The naive formulation is an O(N^2) self-join over rows; here both
    variables collapse to their bounded VALUE GRID first (50 sizes x
    ~100 $1 price buckets), and every pair count folds over grid
    CELLS: concordant = sum over cell pairs dominating in both
    coordinates of n_a * n_b, discordant the anti-dominating sum, tie
    terms from the per-axis marginals — exact integers end-to-end,
    N(N-1)/2 pairs accounted exactly, one double conversion at the
    terminal tau = (C - D) / sqrt((n0 - t_x) * (n0 - t_y)).

    Scale shape: one hash aggregate to the grid (output bounded by the
    value domain, the weighted-median collapse), then all pair math on
    the ~650-cell broadcast grid (a BroadcastNestedLoopJoin over cells,
    never rows). The int64 ceiling is ENFORCED:
    pair totals reach n*(n-1), so :func:`_stat_sum_type` promotes the
    grid arithmetic to exact decimal(38,0) past 3e9 rows; the halvings
    are exact integer/decimal ops, never a double (which silently
    rounds past 2^53).
    """
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_size").cast("long").alias("x"),
        F.floor(
            F.round(F.col("p_retailprice") * 100).cast("long") / 100
        ).cast("long").alias("y"),
    )
    # int64 guard: n*(n-1) pair totals overflow long
    # past ~3.03e9 rows; above the ceiling all pair/tie arithmetic runs
    # in decimal(38,0) (the grid is ~650 cells, so the decimal tax is
    # confined to a broadcast-sized frame)
    t = _stat_sum_type(spark, sf_dir, "part", _STAT_CEILING_KENDALL)
    # ONE data pass: everything downstream (pair sums, marginal ties,
    # the total) derives from the persisted bounded grid — without the
    # persist each consumer branch re-plans the full part scan
    grid = persist_scoped(
        part.groupBy("x", "y").agg(
            F.count(F.lit(1)).cast("long").alias("n_c")
        ),
        "kendall_grid",
    )
    a = grid.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"),
        F.col("n_c").alias("na"),
    )
    b = grid.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"),
        F.col("n_c").alias("nb"),
    )
    # one cell-pair join scans x-dominance once; concordant/discordant
    # split inside the aggregate (ya<yb vs ya>yb)
    pair_sums = (
        a.join(F.broadcast(b), F.col("xa") < F.col("xb"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ya") < F.col("yb"),
                        F.col("na").cast(t) * F.col("nb").cast(t),
                    )
                ),
                F.lit(0).cast(t),
            ).cast(t).alias("n_concordant"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ya") > F.col("yb"),
                        F.col("na").cast(t) * F.col("nb").cast(t),
                    )
                ),
                F.lit(0).cast(t),
            ).cast(t).alias("n_discordant"),
        )
    )
    totals = grid.agg(F.sum(F.col("n_c").cast(t)).alias("n"))

    def half_even(col):
        # exact halving of an even non-negative value in type t: the old
        # `/ 2` ran through a DOUBLE, which silently rounds past 2^53
        # (~1.3e8 rows) even inside the long regime; shiftright is exact
        # long arithmetic, decimal division by 2 of an even decimal(38,0)
        # is exact by construction
        if t == "long":
            return F.shiftright(col.cast("long"), 1)
        return (col / 2).cast(t)

    tie_pairs = half_even(F.col("t").cast(t) * (F.col("t").cast(t) - 1))
    ties_x = (
        grid.groupBy("x").agg(F.sum("n_c").cast("long").alias("t"))
        .agg(F.sum(tie_pairs).cast(t).alias("ties_x_pairs"))
    )
    ties_y = (
        grid.groupBy("y").agg(F.sum("n_c").cast("long").alias("t"))
        .agg(F.sum(tie_pairs).cast(t).alias("ties_y_pairs"))
    )
    joined = (
        totals.crossJoin(F.broadcast(pair_sums))
        .crossJoin(F.broadcast(ties_x))
        .crossJoin(F.broadcast(ties_y))
        .withColumn(
            "n_pairs",
            half_even(F.col("n") * (F.col("n") - F.lit(1).cast(t))),
        )
    )
    denom_x = (F.col("n_pairs") - F.col("ties_x_pairs")).cast("double")
    denom_y = (F.col("n_pairs") - F.col("ties_y_pairs")).cast("double")
    return joined.select(
        "n",
        "n_pairs",
        "n_concordant",
        "n_discordant",
        "ties_x_pairs",
        "ties_y_pairs",
        F.when(
            (denom_x > 0) & (denom_y > 0),
            F.round(
                (F.col("n_concordant") - F.col("n_discordant")).cast("double")
                / F.sqrt(denom_x * denom_y),
                6,
            ),
        ).alias("tau_b"),
    )


@query
def quality_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's token distribution
    against the pooled corpus distribution — the symmetric, bounded
    [0, ln 2] drift readout a training-data mixer grades candidate
    sources with (PSI, :func:`quality_drift_psi`, is its numeric-column
    sibling; this is the categorical/token form over a different
    design: per-source vs pooled, not half vs half).

    The distribution support is the top-50 corpus tokens plus an OTHER
    bucket carrying the exact remainder mass, so every token of every
    source is accounted while the per-source fold stays BOUNDED (51
    terms): the ``text_char_entropy`` defined-order discipline — both
    engines fold the bucket-sorted (c_source, c_corpus) array in one
    IEEE sequence, p/q/m derived inside the fold from exact integer
    counts, zero-count sides contribute their analytic 0, one rounding
    site. Top-50 selection is a TakeOrderedAndProject (count desc,
    token asc), never a vocab-sized window.

    Scale shape: one (source, token) hash aggregate joined to the
    broadcast top-50 set; OTHER mass = exact per-source total minus the
    per-source top-50 sum (integers); sources x 51 buckets is
    domain-bounded everywhere past the first aggregate.
    """
    docs = load_documents(spark, sf_dir)
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("t")
    ).filter(F.col("t") != "")
    # ONE token explode + hash aggregate; the corpus counts, per-source
    # totals, and grand total are all rollups of this persisted frame —
    # without it every branch re-explodes the full corpus
    src_counts = persist_scoped(
        toks.groupBy("source", "t").agg(
            F.count(F.lit(1)).cast("long").alias("c_src")
        ),
        "js_divergence_src_counts",
    )
    corpus_counts = src_counts.groupBy("t").agg(
        F.sum("c_src").cast("long").alias("c_corpus")
    )
    top = corpus_counts.orderBy(
        F.desc("c_corpus"), F.asc("t")
    ).limit(50).withColumnRenamed("t", "bucket")
    src_top = (
        src_counts.join(
            F.broadcast(top), src_counts["t"] == top["bucket"], "inner"
        )
        .select("source", "bucket", "c_src", "c_corpus")
    )
    src_totals = src_counts.groupBy("source").agg(
        F.sum("c_src").cast("long").alias("n_src")
    )
    corpus_total = src_counts.agg(
        F.sum("c_src").cast("long").alias("n_corpus")
    )
    # dense (source x top-50) support: zero-count cells still carry
    # corpus mass, so the fold must see them
    dense_top = (
        src_totals.select("source")
        .crossJoin(F.broadcast(top))
        .join(src_top, ["source", "bucket", "c_corpus"], "left")
        .select(
            "source",
            "bucket",
            F.coalesce(F.col("c_src"), F.lit(0)).alias("c_src"),
            "c_corpus",
        )
    )
    top_corpus_sum = top.agg(
        F.sum("c_corpus").cast("long").alias("top_c_corpus")
    )
    src_top_sums = dense_top.groupBy("source").agg(
        F.sum("c_src").cast("long").alias("top_c_src")
    )
    other = (
        src_totals.join(src_top_sums, "source")
        .crossJoin(F.broadcast(top_corpus_sum))
        .crossJoin(F.broadcast(corpus_total))
        .select(
            "source",
            F.lit("\x00OTHER").alias("bucket"),
            (F.col("n_src") - F.col("top_c_src")).alias("c_src"),
            (F.col("n_corpus") - F.col("top_c_corpus")).alias("c_corpus"),
        )
    )
    cells = dense_top.select("source", "bucket", "c_src", "c_corpus").unionByName(
        other
    )
    # per-cell JS term: a deterministic scalar from exact integers
    # (identical doubles in, same IEEE ops) — only the SUM is order-
    # sensitive, and it folds over the bucket-sorted bounded array
    with_totals = (
        cells.join(src_totals, "source")
        .crossJoin(F.broadcast(corpus_total))
    )
    p = F.col("c_src").cast("double") / F.col("n_src").cast("double")
    q = F.col("c_corpus").cast("double") / F.col("n_corpus").cast("double")
    term = (
        F.when(
            F.col("c_src") > 0,
            0.5 * p * F.log(2.0 * p / (p + q)),
        ).otherwise(F.lit(0.0))
        + F.when(
            F.col("c_corpus") > 0,
            0.5 * q * F.log(2.0 * q / (p + q)),
        ).otherwise(F.lit(0.0))
    )
    terms = with_totals.select(
        "source", "n_src", "bucket", term.alias("term")
    )
    folded = terms.groupBy("source", "n_src").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("bucket", "term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("_js_raw"),
    )
    return folded.select(
        "source",
        F.col("n_src").alias("n_tokens"),
        F.round(F.col("_js_raw"), 6).alias("js_vs_corpus"),
    ).orderBy("source")


@query
def events_diff_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout over the events stream — the
    quasi-experimental contrast (treat - control) of (post - pre) spend
    that :func:`events_cuped_adjusted` (covariate adjustment) and
    :func:`events_ab_chisquare` (independence test) don't express: DiD
    is the estimator a team reaches for when assignment wasn't
    randomized and a parallel-trends baseline must difference out. Same
    assignment discipline as its siblings (arms on user parity, pre =
    day-of-month <= 15, post after), per-user spend in exact integer
    cents.

    SE via the user-level delta d = post - pre: per-arm variance from
    exact sums with the documented decimal(38,0) accumulation (sum of
    d^2 outruns int64 at corpus scale) and DOUBLE promotion of each
    factor before multiplying; se = sqrt(v1/n1 + v0/n0), t = DiD / se —
    one rounding site per output column.

    Scale shape: one user-keyed hash aggregate, a 2-cell rollup, a
    1-row output. Nothing downstream of the first aggregate scales with
    the data.
    """
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = (
        events.groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.dayofmonth("ts") <= 15, cents)), F.lit(0)
            ).alias("pre"),
            F.coalesce(
                F.sum(F.when(F.dayofmonth("ts") > 15, cents)), F.lit(0)
            ).alias("post"),
        )
        .withColumn("arm", (F.col("user_id") % 2).cast("int"))
        .withColumn("d", F.col("post") - F.col("pre"))
    )
    # both arms fold in ONE conditional aggregate — a per-arm groupBy
    # followed by filter+crossJoin plans the user-keyed aggregate twice
    def arm_agg(arm: int, expr, name: str):
        return F.sum(F.when(F.col("arm") == arm, expr)).alias(name)

    row = per_user.agg(
        arm_agg(1, F.lit(1), "n_treat_raw"),
        arm_agg(1, F.col("d"), "sd_t"),
        arm_agg(1, (F.col("d") * F.col("d")).cast("decimal(38,0)"), "sdd_t"),
        arm_agg(0, F.lit(1), "n_control_raw"),
        arm_agg(0, F.col("d"), "sd_c"),
        arm_agg(0, (F.col("d") * F.col("d")).cast("decimal(38,0)"), "sdd_c"),
    ).select(
        F.col("n_treat_raw").cast("long").alias("n_treat"),
        F.col("sd_t").cast("long").alias("sd_t"),
        "sdd_t",
        F.col("n_control_raw").cast("long").alias("n_control"),
        F.col("sd_c").cast("long").alias("sd_c"),
        "sdd_c",
    )

    def var_of(n: str, sd: str, sdd: str):
        nd = F.col(n).cast("double")
        return (
            nd * F.col(sdd).cast("double")
            - F.col(sd).cast("double") * F.col(sd).cast("double")
        ) / (nd * (nd - 1.0))

    mean_t = F.col("sd_t").cast("double") / F.col("n_treat").cast("double")
    mean_c = F.col("sd_c").cast("double") / F.col("n_control").cast("double")
    did = mean_t - mean_c
    se = F.sqrt(
        var_of("n_treat", "sd_t", "sdd_t") / F.col("n_treat").cast("double")
        + var_of("n_control", "sd_c", "sdd_c")
        / F.col("n_control").cast("double")
    )
    return row.select(
        "n_treat",
        "n_control",
        F.round(mean_t / 100.0, 6).alias("mean_delta_treat"),
        F.round(mean_c / 100.0, 6).alias("mean_delta_control"),
        F.round(did / 100.0, 6).alias("did_estimate"),
        F.round(se / 100.0, 6).alias("se"),
        # degenerate zero-variance cells -> se == 0: the t-statistic is
        # undefined and ANSI division would THROW, so it is guarded to
        # NULL (the kendall_tau / kmeans-separation discipline)
        F.when(se > 0, F.round(did / se, 6)).alias("t_stat"),
    )


@query
def sample_temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing weights — the multilingual /
    multi-source sampling-rate calculation of mT5/CC-mix pipelines:
    w_s proportional to n_s^alpha with alpha = 0.5, which upsamples
    small sources and downsamples dominant ones relative to their
    proportional share. Distinct from
    :func:`sample_token_budget_mix` (a greedy per-language document
    FILL to a budget): this computes the per-source sampling WEIGHTS a
    mixer would draw with, plus the boost factor over proportional
    sampling.

    Exactness: token counts are exact integers; n^0.5 is ``sqrt`` —
    IEEE-754 requires it correctly rounded, so both engines produce the
    bit-identical double (unlike exp/ln, no libm drift surface). The
    normalizer Z = sum of sqrt terms folds over the source-sorted
    bounded array in one defined order (the ``text_char_entropy``
    technique); every output column rounds once from raw doubles.

    Scale shape: one (source) hash aggregate over exploded tokens (the
    token explode collapses map-side), a bounded-domain fold, a
    |sources|-row output.
    """
    docs = load_documents(spark, sf_dir)
    per_source = persist_scoped(
        docs.select(
            "source",
            F.size(F.split(F.trim(F.col("text")), " +")).cast("long").alias(
                "n_toks"
            ),
        )
        .groupBy("source")
        .agg(F.sum("n_toks").cast("long").alias("n_tokens")),
        # bounded |sources| rows; both the normalizer fold and the
        # output branch consume it — one corpus scan, not two
        "temperature_mix_per_source",
    )
    z = per_source.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "n_tokens"))),
            F.lit(0.0),
            lambda acc, x: acc + F.sqrt(x["n_tokens"].cast("double")),
        ).alias("z"),
    )
    out = per_source.crossJoin(F.broadcast(z))
    w = F.sqrt(F.col("n_tokens").cast("double")) / F.col("z")
    share = (
        F.col("n_tokens").cast("double") / F.col("total_tokens").cast("double")
    )
    return out.select(
        "source",
        "n_tokens",
        F.round(share, 6).alias("share_proportional"),
        F.round(w, 6).alias("weight_t05"),
        F.round(w / share, 6).alias("boost"),
    ).orderBy("source")


@query
def agg_pearson_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the four lineitem
    numeric measures (quantity, price, discount, tax) from ONE pass of
    exact moment sums — the product-moment complement to
    :func:`quality_spearman_corr` (rank correlation, two variables,
    rank-table plan; this is linear correlation, six pairs, a single
    15-sum hash aggregate and zero joins).

    Exactness: all four measures are integers (quantity; price cents;
    discount and tax in percent points), every square/cross product is
    accumulated as decimal(38,0) (price-cents squares outrun int64
    before sf0.1 — the Gini 256x lesson), and each correlation promotes
    each FACTOR to double before multiplying (the
    ``events_cuped_adjusted`` promotion discipline), one rounding site
    per pair. r = (n*Sab - Sa*Sb) / (sqrt(n*Saa - Sa^2) *
    sqrt(n*Sbb - Sb^2)) — the denominator multiplies the two sqrt'd
    halves because their decimal product would overflow 38 digits.

    Scale shape: one partial-agg-friendly scan aggregate; the 6-row
    matrix explode is driver-trivial. At any scale this is the
    all-columns-profile pass a feature-engineering pipeline runs before
    modeling.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
        F.round(F.col("l_tax") * 100).cast("long").alias("t"),
    )
    cols = ["q", "p", "d", "t"]
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i, a in enumerate(cols):
        aggs.append(F.sum(a).cast("long").alias(f"s_{a}"))
        for b_ in cols[i:]:
            aggs.append(
                F.sum(
                    (F.col(a) * F.col(b_)).cast("decimal(38,0)")
                ).alias(f"s_{a}{b_}")
            )
    moments = li.agg(*aggs)
    names = {"q": "quantity", "p": "price", "d": "discount", "t": "tax"}

    def corr(a: str, b_: str):
        nd = F.col("n").cast("double")
        num = nd * F.col(f"s_{a}{b_}").cast("double") - F.col(
            f"s_{a}"
        ).cast("double") * F.col(f"s_{b_}").cast("double")
        den_a = F.sqrt(
            nd * F.col(f"s_{a}{a}").cast("double")
            - F.col(f"s_{a}").cast("double") * F.col(f"s_{a}").cast("double")
        )
        den_b = F.sqrt(
            nd * F.col(f"s_{b_}{b_}").cast("double")
            - F.col(f"s_{b_}").cast("double") * F.col(f"s_{b_}").cast("double")
        )
        return F.round(num / (den_a * den_b), 6)

    pairs = [
        (a, b_) for i, a in enumerate(cols) for b_ in cols[i + 1 :]
    ]
    structs = [
        F.struct(
            F.lit(names[a]).alias("col_a"),
            F.lit(names[b_]).alias("col_b"),
            corr(a, b_).alias("pearson_r"),
        )
        for a, b_ in pairs
    ]
    return (
        moments.select(
            "n", F.explode(F.array(*structs)).alias("s")
        )
        .select("n", "s.col_a", "s.col_b", "s.pearson_r")
        .orderBy("col_a", "col_b")
    )


# --- incremental stores: dedup, IVF upsert, clusters, sketches --------------
#
# Every query of this family replays one arrival against a prebuilt store:
# the store covers the rows whose id is not 0 mod 10, the arriving batch
# is the rest. A store shared by several queries has one owner below, the
# only code that names its work dir; a store one query uses is defined in
# that query. The owner fixes the store's whole definition (split, build
# parameters, schema, ``_cached_store`` key), so two queries can never
# build different bytes under one key.


def _arrival_split(df: DataFrame, id_col: str) -> tuple[DataFrame, DataFrame]:
    """(store rows, arriving batch): ``id % 10 != 0`` and ``id % 10 == 0``."""
    is_batch = F.pmod(F.col(id_col), F.lit(10)) == 0
    return df.filter(~is_batch), df.filter(is_batch)


def _stream_arrivals(df: DataFrame, id_col: str) -> list[DataFrame]:
    """The arriving batch as two stream arrivals, ``id % 20 == 0`` first."""
    return [df.filter(F.pmod(F.col(id_col), F.lit(20)) == r) for r in (0, 10)]


class _Store(NamedTuple):
    """A prebuilt store as its owner hands it out."""

    frame: DataFrame  # the store, read back from its work dir
    path: str  # the work dir
    rows: DataFrame  # the source rows the store covers
    batch: DataFrame  # the arriving rows it does not cover
    centroids: list[list[float]] | None = None  # IVF only: the cells' centroids


def _ivf_cell_index(spark: SparkSession, sf_dir: str) -> _Store:
    """The IVF index of ``embeddings``: 16 cells trained on the store rows
    (a 512-row driver k-means, re-derived per call; production persists
    the centroids beside the index), every store row assigned to its
    nearest cell, written ``partitionBy("cell")`` with its schema summary
    (``schema=v1`` in the key rebuilds indexes written without one)."""
    old, batch = _arrival_split(load_table(spark, sf_dir, "embeddings"), "vec_id")
    centroids = similarity.train_ivf_centroids(old, n_cells=16)
    frame = _cached_store(
        spark, sf_dir, "_ivf_cell_index", "embeddings.parquet",
        lambda path: layout.write_partitioned(
            similarity.ivf_assign_cells(old, centroids), path, ["cell"]
        ),
        params="n_cells=16,schema=v1",
    ).select("vec_id", "embedding", "cell")
    return _Store(
        frame, _work_dir(sf_dir, "_ivf_cell_index"), old, batch, centroids
    )


def _incr_sig_store(spark: SparkSession, sf_dir: str) -> _Store:
    """MinHash signatures (3-shingles, k=32) of the store documents."""
    store_docs, batch = _arrival_split(load_documents(spark, sf_dir), "doc_id")
    frame = _cached_store(
        spark, sf_dir, "_incr_sig_store", "documents.parquet",
        lambda path: dedup.minhash_signatures(store_docs, "text", "doc_id")
        .write.mode("overwrite").parquet(path),
        params="shingle_n=3,k=32",
    )
    return _Store(frame, _work_dir(sf_dir, "_incr_sig_store"), store_docs, batch)


_KMV_K = 64  # the KMV store's sketch size


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))


def _incr_kmv_store(spark: SparkSession, sf_dir: str) -> _Store:
    """The ``_KMV_K``-row KMV sketch of the store documents' tokens."""
    from ..operators import sketches

    store_docs, batch = _arrival_split(load_documents(spark, sf_dir), "doc_id")
    frame = _cached_store(
        spark, sf_dir, "_incr_kmv_store", "documents.parquet",
        lambda path: sketches.kmv_sketch(_tokens(store_docs), "token", k=_KMV_K)
        .write.mode("overwrite").parquet(path),
        params=f"k={_KMV_K}",
    )
    return _Store(frame, _work_dir(sf_dir, "_incr_kmv_store"), store_docs, batch)


def _kmv_stage(stage: str, sketch: DataFrame, docs: DataFrame) -> DataFrame:
    """(stage, n_sketch, kmv_estimate, exact_distinct): a KMV sketch's
    estimate beside the exact distinct-token count of ``docs``."""
    from ..operators import sketches

    exact = _tokens(docs).agg(F.count_distinct("token").alias("exact_distinct"))
    return (
        sketches.kmv_estimate(sketch, _KMV_K)
        .crossJoin(exact)
        .select(
            F.lit(stage).alias("stage"),
            "n_sketch",
            "kmv_estimate",
            F.col("exact_distinct").cast("long"),
        )
    )


def _copy_store(src: str, sf_dir: str, name: str) -> str:
    """A fresh file-copy of the store at ``src`` in work dir ``name``, for a
    query that rewrites it (production rewrites in place)."""
    import shutil

    work = _work_dir(sf_dir, name)
    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(src, work)
    return work


def _lossless(
    got: DataFrame, want: DataFrame, cols: list[str], name: str, *aggs
) -> DataFrame:
    """One row: ``name`` is TRUE iff ``got`` and ``want`` hold the same
    number of rows and the same sum of ``pmod(xxhash64(cols), 1e9+7)`` —
    no row dropped, duplicated or changed in ``cols``. Two empty frames
    match (their sums are both NULL). ``aggs`` ride the same aggregate
    over ``got`` and follow ``name`` as columns."""
    d = F.sum(F.pmod(F.xxhash64(*cols), F.lit(1_000_000_007)))
    got_digest = got.agg(F.count(F.lit(1)).alias("n"), d.alias("d"), *aggs)
    want_digest = want.agg(F.count(F.lit(1)).alias("n2"), d.alias("d2"))
    return got_digest.crossJoin(want_digest).select(
        ((F.col("n") == F.col("n2")) & F.col("d").eqNullSafe(F.col("d2"))).alias(
            name
        ),
        *got_digest.columns[2:],
    )


def _certified_ivf_search(
    spark: SparkSession,
    sf_dir: str,
    index: DataFrame,
    centroids: list[list[float]],
) -> DataFrame:
    """(query_id, n_returned, recall_ok, exact_top1) for a 4-of-16-probe
    top-10 search of ``index``: recall >= 2/10 per query against the exact
    quantized-cosine top-10 over all of ``embeddings``, plus the exact
    nearest neighbour, which the DuckDB duals recompute by brute force.
    The exact frame is persisted so the recall join and the top-1
    projection share one brute-force pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir)
    ann = similarity.ivf_search_index(index, q, centroids, k=10, n_probe=4)
    exact = persist_scoped(
        similarity.cosine_topk_quantized(emb, q, k=10), "ivf_certify_exact"
    )
    top1 = exact.filter(F.col("rank") == 1).select(
        "query_id", F.col("vec_id").alias("exact_top1")
    )
    return _certify_recall(
        emb, q, ann, floor=2, exact=exact.select("query_id", "vec_id")
    ).join(top1, "query_id")


@query
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-shard incremental near-dedup: screen a
    NEW document batch (doc_id % 10 == 0, ~10% of the corpus) against a
    PERSISTED MinHash signature store covering the other 90%, without
    recomputing the corpus — the production arrival shape of the
    reference's append-only landing zone (implementation_details.md:71
    flush.size=1; batch notebook reads the accumulating prefix,
    pintrest_batch_data_transformation.py:65-67).

    The store is written to (and read back from) a parquet work dir so
    the incremental phase consumes EXACTLY what production would: a
    signature table on disk, text reachable only through a targeted
    semi-join. Decisions are the single-pass greedy policy: drop iff a
    verified (exact Jaccard >= 0.3) partner exists in the store or
    earlier in the batch. The exhaustive DuckDB dual recomputes every
    batch-involving pair from scratch — incremental == full is the
    parity-checked contract (the LSH recall argument is the
    ``dedup_minhash_near_duplicates`` oracle's: this corpus' true pairs
    are >=0.9 Jaccard, where 8x4 banding misses <2e-4).

    Scale shape: signature/shingle work is O(batch); the store
    contributes one broadcast-probed scan (batch bucket keys broadcast
    into the store side — the store NEVER shuffles) and a semi-join
    text fetch for candidate partners only. Cost tracks the batch, not
    the corpus (measured by probing a 64x larger store).
    """
    # the store is PREBUILT in production and amortized over every
    # arriving batch, so the build is fingerprint-cached: only the first
    # run at a given corpus pays it, and a changed corpus rebuilds
    sigs = _incr_sig_store(spark, sf_dir)
    decisions, _delta = dedup.incremental_minhash_dedup(
        sigs.batch, sigs.frame, sigs.rows, "text", "doc_id", threshold=0.3
    )
    # no presentation sort: one row per batch doc, value-hash is
    # order-insensitive, and a global sort would re-execute the verify
    return decisions


@query
def ann_ivf_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance (the ANN twin of
    ``dedup_incremental_batch``): a NEW vector batch (vec_id % 10 == 0)
    joins a PREBUILT cell-partitioned IVF index covering the other 90%
    WITHOUT retraining — the batch assigns to the stored centroids
    (O(batch), FAISS IVF.add semantics) and unions in as an index delta;
    queries probe the merged index.

    The index is written once ``partitionBy("cell")`` to a
    fingerprint-cached parquet work dir, so the probe join reads the
    production layout: the query batch's probed cells broadcast into the
    scan and dynamic partition pruning drops the unprobed cell
    partitions (plan-pinned by pytest). Centroids re-derive
    deterministically (hash-stable sample, fixed seed) — production
    persists them beside the index; the recompute here is a 512-row
    driver k-means.

    Certified like the IVF family: recall >= 2/10 per query against the
    exact full-corpus top-10 (4-of-16-probe floor lineage), n_returned
    derived. The sharper contract — merged-index search EQUALS a
    from-scratch rebuild with the same centroids, bit-for-bit, and a
    planted batch twin IS retrieved from the delta — is pinned by
    pytest (computing it here would double-execute the pipeline, as
    ``ann_ivf_filtered_topk`` would if it referenced its ANN frame twice).

    The row also carries ``exact_top1`` — the
    exact quantized-cosine nearest neighbor over the FULL (old ∪ batch)
    corpus — which the DuckDB dual RECOMPUTES by brute force, so the
    certification row is data-dependent on the merged corpus (the
    brute-force-expressible part of the contract), not shape-only. The
    exact frame is persisted and consumed by both the top-1 projection
    and the recall join — one brute-force pass, not two.
    """
    idx = _ivf_cell_index(spark, sf_dir)
    delta = similarity.ivf_assign_cells(idx.batch, idx.centroids)
    merged = idx.frame.unionByName(delta)
    return _certified_ivf_search(
        spark, sf_dir, merged, idx.centroids
    ).orderBy("query_id")


@query
def ann_ivf_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index COMPACTION — the OPTIMIZE lifecycle step after the
    ``IVF.add`` upsert (``ann_ivf_incremental_upsert``): ``IVF.add``-style
    appends leave each cell partition as per-batch file fragments (the
    reference's ``flush.size=1`` landing pathology,
    implementation_details.md:71, replayed on the vector index), and probe
    cost then scales with fragments, not data.
    :func:`~..sources.layout.compact_partitions` merges delta to base with
    cell rebalance, rewriting ONLY fragmented cells.

    Per run: the fingerprint-cached base index is file-copied to a work
    dir (scaffolding — production compacts in place), the batch delta is
    appended DELIBERATELY fragmented (8-way round-robin, so every cell
    gains small files), and the operator compacts. Certification:

    * ``compaction_lossless`` — (count, content-digest) of the compacted
      index equals base ∪ delta, so no row was dropped/duplicated/
      cell-moved (in-Spark invariant, TRUE in the dual).
    * ``files_reduced_ok`` — the fragment count strictly dropped.
    * search columns — probing the COMPACTED index answers like the
      IVF family: recall >= 2/10 vs the exact top-10 and ``exact_top1``
      recomputed by brute force in the DuckDB dual (data-dependent).

    Bit-for-bit search equality vs the uncompacted merged index and the
    untouched-cell no-rewrite contract are pytest-pinned.
    """
    idx = _ivf_cell_index(spark, sf_dir)
    work = _copy_store(idx.path, sf_dir, "_ivf_compact")
    # persisted: the delta's Arrow assign kernel feeds BOTH the fragmented
    # append and the losslessness digest — Python stages are the case
    # where persist beats AQE reuse
    delta = persist_scoped(
        similarity.ivf_assign_cells(idx.batch, idx.centroids), "compact_delta"
    )
    (
        delta.repartition(8)
        .write.mode("append").partitionBy("cell").parquet(work)
    )
    compacted, n_before, n_after, _ = layout.compact_partitions(
        spark, work, ["cell"], "vec_id", 4096
    )
    cols = ["vec_id", "cell"]
    lossless = _lossless(
        compacted,
        idx.frame.select(cols).unionByName(delta.select(cols)),
        cols,
        "compaction_lossless",
    )
    return (
        _certified_ivf_search(spark, sf_dir, compacted, idx.centroids)
        .crossJoin(lossless)
        .withColumn("files_reduced_ok", F.lit(n_after < n_before))
        .orderBy("query_id")
    )


@query
def dedup_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup CLUSTER maintenance — the third store of the
    incremental family (signature store, IVF index, cluster table): a
    new batch's verified pairs merge into the persisted cluster table
    via :func:`~..operators.dedup.incremental_cluster_update` (root
    contraction + connected components on the contracted batch graph
    only), and the output must equal ``dedup_near_duplicate_clusters``'s
    full recompute EXACTLY — same (doc_id, cluster_id, keep) rows, same
    min-id canonical labels — so the DuckDB dual is literally the full
    query's recursive-CTE closure: incremental == full is the
    parity-checked contract, not a pytest-only claim.

    Both stores are fingerprint-cached parquet (signatures shared with
    ``dedup_incremental_batch``; the cluster table built once from
    store-only pairs). The timed arrival path is O(batch + touched):
    batch signatures, broadcast-probed store scan, candidate verify,
    contracted CC, one broadcast-remap scan of the cluster table.
    """
    sigs = _incr_sig_store(spark, sf_dir)
    clusters = _cached_store(
        spark, sf_dir, "_incr_cluster_store", "documents.parquet",
        lambda path: dedup.cluster_pairs(
            dedup.minhash_near_duplicates(
                sigs.rows, "text", "doc_id", threshold=0.3
            ).select("id_a", "id_b")
        ).write.mode("overwrite").parquet(path),
        params="threshold=0.3,shingle_n=3,k=32,bands=8",
    )
    batch_sigs = persist_scoped(
        dedup.minhash_signatures(sigs.batch, "text", "doc_id"),
        "incr_cc_batch_sigs",
    )
    new_pairs = dedup.incremental_verified_pairs(
        sigs.batch, batch_sigs, sigs.frame, sigs.rows,
        "text", "doc_id", threshold=0.3,
    ).select(F.col("bid").alias("id_a"), F.col("oid").alias("id_b"))
    updated = dedup.incremental_cluster_update(clusters, new_pairs)
    return (
        load_documents(spark, sf_dir).select("doc_id")
        .join(
            updated.withColumnRenamed("member_id", "doc_id"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )


@query
def sketch_incremental_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental vocabulary monitoring — the SKETCH member of the
    incremental-store family: a persisted 64-row KMV sketch of the store
    corpus's distinct tokens absorbs a new batch by sketch MERGE (k
    smallest of the hash union), so the store corpus is never re-read on
    arrival — the arrival path is O(batch tokens) plus a 64-row store
    read. KMV is closed under union (the k smallest of A∪B lie in the
    union of each side's k smallest), so the merged sketch equals a
    from-scratch sketch of the full corpus BIT-FOR-BIT — and the DuckDB
    dual computes the merged row FROM THE FULL TOKEN SET, making
    incremental == full the parity-checked contract (the
    ``dedup_incremental_clusters`` discipline, sketch edition).

    Output: (stage batch/merged/store, n_sketch, kmv_estimate,
    exact_distinct) — the exact counts are the certification side, as in
    ``sketch_kmv_distinct_union``; production drops them.
    """
    from ..operators import sketches

    store = _incr_kmv_store(spark, sf_dir)
    batch_sketch = sketches.kmv_sketch(_tokens(store.batch), "token", k=_KMV_K)
    merged = sketches.kmv_merge(store.frame, batch_sketch, k=_KMV_K)
    return (
        _kmv_stage("batch", batch_sketch, store.batch)
        .unionByName(_kmv_stage("merged", merged, load_documents(spark, sf_dir)))
        .unionByName(_kmv_stage("store", store.frame, store.rows))
        .orderBy("stage")
    )


@query
def sketch_incremental_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental QUANTILE monitoring — the t-digest member of the
    incremental-store family: a persisted per-day
    t-digest centroid store absorbs an arriving day-slice by sketch
    MERGE, so historical days are never re-read on arrival — the
    arrival path is O(batch) partials plus a bounded centroid-store
    read (<= partitions x ~2*delta rows per day).

    The day split is deterministic and SQL-expressible: days whose
    epoch-day number is ≡ 0 (mod 10) play the arriving batch; the other
    ~90% of days are the store. t-digest is closed under merge within
    the documented rank bound (Dunning & Ertl; the
    ``sketch_tdigest_quantile_bounds`` lineage), so the parity-checked
    contract is rank-space: per target quantile the MERGED
    (store ∪ batch partials) estimate must sit within 0.05 rank of q on
    the FULL corpus, and within 0.02 rank of a from-scratch digest of
    the whole corpus — incremental == full as data, the
    ``dedup_incremental_clusters`` discipline in the sketch's native
    tolerance. The oracle emits the exact quantiles (quantile_cont
    dual) + literal TRUE per bound; exact ranks are the certification
    side, computed over the corpus like every bound-oracle sketch row.
    """
    from ..operators import sketches

    qs = [0.1, 0.5, 0.9]
    events = load_table(spark, sf_dir, "events")
    vals = events.select(
        F.to_date("ts").alias("day"),
        F.col("value").cast("double").alias("v"),
    )
    is_batch_day = F.pmod(F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")), F.lit(10)) == 0
    batch = vals.filter(is_batch_day)
    store_vals = vals.filter(~is_batch_day)
    store = _cached_store(
        spark, sf_dir, "_incr_tdigest_store", "events.parquet",
        lambda path: sketches.tdigest_grouped_partials(store_vals, "day", "v")
        .write.mode("overwrite").parquet(path),
        params="delta=100,group=day",
    )
    batch_partials = sketches.tdigest_grouped_partials(batch, "day", "v")
    merged_est = sketches.tdigest_merged_quantiles(
        store.drop("day").unionByName(batch_partials.drop("day")), qs
    )
    scratch_est = sketches.tdigest_merged_quantiles(
        sketches.tdigest_partials(vals.select("v"), "v"), qs
    )
    ests = merged_est.withColumnRenamed("est", "est_merged").join(
        scratch_est.withColumnRenamed("est", "est_scratch"), "q"
    )
    frac = (
        vals.crossJoin(F.broadcast(ests))
        .groupBy("q")
        .agg(
            (
                F.sum((F.col("v") <= F.col("est_merged")).cast("long"))
                / F.count(F.lit(1))
            ).alias("frac_merged"),
            (
                F.sum((F.col("v") <= F.col("est_scratch")).cast("long"))
                / F.count(F.lit(1))
            ).alias("frac_scratch"),
        )
    )
    qs_lit = F.array(*[F.lit(float(x)) for x in qs])
    exact = (
        vals.agg(F.percentile(F.col("v"), qs_lit).alias("p"))
        .select(F.posexplode("p").alias("i", "exact_raw"))
        .select(
            F.element_at(qs_lit, F.col("i") + 1).alias("q"),
            F.round("exact_raw", 2).alias("exact_q"),
        )
    )
    return (
        exact.join(frac, "q")
        .select(
            "q",
            "exact_q",
            (F.abs(F.col("frac_merged") - F.col("q")) <= 0.05).alias(
                "merged_rank_ok"
            ),
            (F.abs(F.col("frac_merged") - F.col("frac_scratch")) <= 0.02).alias(
                "incremental_agrees"
            ),
        )
        .orderBy("q")
    )


@query
def embedding_store_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-store DRIFT monitor between snapshots — the retrain
    trigger that completes the IVF index lifecycle (the upsert absorbs
    batches without retraining; compaction merges the files; THIS
    decides when the stored centroids are stale): per-dimension mean
    shift between the store snapshot and the arriving batch, ranked.

    Exact cross-engine by the quantized-moments discipline
    (``cosine_topk_quantized`` lineage): each component integer-quantizes
    to round(v*1000), so per-dimension sums are exact integers on both
    engines, each mean is ONE division, and the shift is rounded at one
    site. Output: top-10 dimensions by |mean shift| (ties by dim) with
    the per-dim store/batch means and a z-like normalized shift — the
    statistic a production monitor thresholds to schedule retraining.

    Scale shape: one posexplode + hash aggregate per side, (dim)-bounded
    output (64 rows before top-10), no joins on data-sized frames.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    scored = _embedding_drift_scored(emb)
    return scored.orderBy(F.desc("abs_shift"), "dim").limit(10)


def _embedding_drift_scored(emb: DataFrame) -> DataFrame:
    """Per-dimension drift statistics between the store (vec_id%10!=0)
    and batch (vec_id%10==0) snapshots — the shared scoring core of
    ``embedding_store_drift`` (the monitor) and
    ``ann_ivf_drift_gated_retrain`` (the policy that acts on it). One
    posexplode + hash aggregate per side; all emitted floats derive from
    exact integer moments and round at one site each."""
    store = emb.filter(F.pmod(F.col("vec_id"), F.lit(10)) != 0)
    batch = emb.filter(F.pmod(F.col("vec_id"), F.lit(10)) == 0)

    def moments(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.select(
                F.posexplode(similarity.quantize(F.col("embedding"))).alias(
                    "dim", "qv"
                )
            )
            .groupBy("dim")
            .agg(
                F.count(F.lit(1)).alias(f"n_{tag}"),
                F.sum("qv").alias(f"s_{tag}"),
                F.sum(F.col("qv") * F.col("qv")).alias(f"ss_{tag}"),
            )
        )

    joined = moments(store, "store").join(moments(batch, "batch"), "dim")
    # exact integer moments -> double at the last step; one rounding site
    # per emitted float. var uses the store's population variance in
    # quantized units; shift_z = |mean_b - mean_s| / sqrt(var_s / n_b).
    mean_s = F.col("s_store") / F.col("n_store")
    mean_b = F.col("s_batch") / F.col("n_batch")
    var_s = F.col("ss_store") / F.col("n_store") - mean_s * mean_s
    return joined.select(
        "dim",
        F.round(mean_s / 1000.0, 6).alias("mean_store"),
        F.round(mean_b / 1000.0, 6).alias("mean_batch"),
        F.round(F.abs(mean_b - mean_s) / 1000.0, 6).alias("abs_shift"),
        # a constant store dimension has zero variance: the z-statistic
        # is undefined there, NULL — never an ANSI divide-by-zero (the
        # planted-dimension pytest caught exactly this; the DiD lesson)
        F.when(
            var_s > 0,
            F.round(
                F.abs(mean_b - mean_s) / F.sqrt(var_s / F.col("n_batch")),
                4,
            ),
        ).alias("shift_z"),
    )


@query
def dedup_incremental_batch_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-shard incremental dedup against the PARTITIONED bucket-store
    layout — the scan-pruning promise in ``incremental_minhash_dedup``'s
    docstring made real (the IVF cell-index discipline applied to the
    signature store): the store persists as
    :func:`~..operators.dedup.band_bucket_store` rows written
    ``partitionBy("band", "bh_part")``, the arrival probe's broadcast
    join keys include the partition columns, and dynamic partition
    pruning drops every (band, bh_part) directory the batch's bucket
    keys don't touch — the O(touched buckets) arrival scan, versus the
    signature-store variant's full store projection per arrival.

    Decisions are IDENTICAL to ``dedup_incremental_batch`` by
    construction (same buckets, same candidates, same verify), so the
    DuckDB dual is the same exhaustive recompute — layout must never
    change answers, parity-checked. The pruning is STATIC —
    the batch's touched (band, bh_part) set (bounded by the partition
    domain) collects once and filters the scan at planning time
    (``PartitionFilters``, pytest-pinned) — rather than runtime DPP,
    whose raw-lineage requirement would re-run the batch signature pass
    per plan branch.

    REGIME (documented honestly, the embedding-all-pairs precedent):
    pruning is selective when the batch's bucket keys touch a small
    fraction of the bands x n_parts directories — the SMALL-ARRIVAL
    shape (streaming / per-shard landing, the reference's
    message-at-a-time sink). A batch with more bucket keys than
    partitions touches everything; the signature-store variant is the
    right call there. Probe at 16x store / 10-doc batch / n_parts=64:
    full-scan 2.54 s vs DPP 2.11 s min even at local scan sizes where
    the store projection is only a few MB; the gap is O(store) vs
    O(touched dirs) by construction.
    """
    store_docs, batch = _arrival_split(load_documents(spark, sf_dir), "doc_id")
    _cached_store(
        spark, sf_dir, "_incr_bucket_store", "documents.parquet",
        lambda path: dedup.write_bucket_store(
            dedup.minhash_signatures(store_docs, "text", "doc_id"),
            "doc_id", path,
        ),
        params=f"shingle_n=3,k=32,bands=8,parts={dedup.BUCKET_STORE_PARTS}"
        ",meta=v3",
    )
    # layout metadata travels WITH the store: the probe's
    # bh_part modulus comes from the sidecar, never a guessed argument.
    # refresh=False: this store is mutated ONLY through Spark writes
    # (the _cached_store rebuild), which self-invalidate the listing
    # cache — the refresh would re-list 128 leaves per arrival (~1.1 s,
    # measured) for nothing
    store_buckets, meta = dedup.open_bucket_store(
        spark, _work_dir(sf_dir, "_incr_bucket_store"), refresh=False
    )
    decisions, _delta = dedup.incremental_minhash_dedup(
        batch, None, store_docs, "text", "doc_id", threshold=0.3,
        store_buckets=store_buckets, store_parts=meta["n_parts"],
        k=meta["k"], bands=meta["bands"],
    )
    return decisions


@query
def sketch_incremental_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental heavy-hitter monitoring — the Misra-Gries member of
    the incremental-store family (next to KMV and t-digest): a persisted
    <= k-counter MG summary of the store corpus's languages absorbs an
    arriving batch by SUMMARY MERGE (union-add + one shrink,
    :func:`~..operators.sketches.mg_merge`), so the store corpus is
    never re-read on arrival — O(batch) mapInPandas partials plus a
    <= k-row store read.

    Mergeable-Summaries guarantee (Agarwal et al. 2012): the merged
    summary's total decrement stays <= n_total/(k+1), the SAME bound a
    from-scratch pass carries — incremental == full in the sketch's
    native tolerance, stated as data per heavy item: every language
    with true frequency > n/(k+1) must appear in the merged summary
    (``in_merged``) with an estimate within the bound
    (``merged_within_bound``), and the from-scratch summary must agree
    (``scratch_within_bound``). The DuckDB dual computes the exact
    heavy set (data-dependent) + literal TRUE per invariant — the
    ``sketch_mg_heavy_langs`` certification, store edition.
    """
    from ..operators import sketches

    k = 3
    docs = load_documents(spark, sf_dir)
    store_docs, batch = _arrival_split(docs, "doc_id")
    store_summary = _cached_store(
        spark, sf_dir, "_incr_mg_store", "documents.parquet",
        lambda path: sketches.mg_merge(
            [sketches.misra_gries_summary(store_docs, "lang", k=k)], k
        ).write.mode("overwrite").parquet(path),
        params=f"k={k},item=lang",
    )
    merged = sketches.mg_merge(
        [store_summary, sketches.misra_gries_summary(batch, "lang", k=k)], k
    )
    scratch = sketches.mg_merge(
        [sketches.misra_gries_summary(docs, "lang", k=k)], k
    )
    exact = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("exact_count"))
    total = docs.agg(F.count(F.lit(1)).alias("n"))
    heavy = exact.crossJoin(F.broadcast(total)).filter(
        F.col("exact_count") > F.col("n") / (k + 1)
    )

    def bound(est_col: str) -> F.Column:
        est = F.coalesce(F.col(est_col), F.lit(0))
        return (F.col("exact_count") - est <= F.col("n") / (k + 1)) & (
            est <= F.col("exact_count")
        )

    return (
        heavy.join(
            merged.select(
                F.col("item").alias("lang"),
                F.col("est_count").alias("est_merged"),
            ),
            "lang",
            "left",
        )
        .join(
            scratch.select(
                F.col("item").alias("lang"),
                F.col("est_count").alias("est_scratch"),
            ),
            "lang",
            "left",
        )
        .select(
            "lang",
            "exact_count",
            F.col("est_merged").isNotNull().alias("in_merged"),
            bound("est_merged").alias("merged_within_bound"),
            bound("est_scratch").alias("scratch_within_bound"),
        )
        .orderBy("lang")
    )


@query
def ann_rerank_label_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-boosted RERANK stage — the post-ANN step every production
    retrieval pipeline runs (business rules / metadata affinity folded
    into the similarity order before serving): a top-50 shortlist by
    quantized cosine, re-scored as ``dot_q + 200000 * (candidate label
    == query label)`` (a 0.2-cosine-equivalent bonus in integer
    quantized units), top-10 served.

    EXACT dual end-to-end: shortlist and rerank are pure integer
    arithmetic (the ``cosine_topk_quantized`` discipline), ties broken
    by vec_id at both stages, so DuckDB reproduces the full two-stage
    order bit-for-bit — unlike the recall-floor ANN entries, this one's
    final ORDER is parity-checked.

    Scale shape: the shortlist is the certifiable stand-in for any
    coarse stage (IVF/PQ/LSH swap in transparently — the rerank only
    sees (query_id, vec_id, dot_q) rows); the rerank itself touches
    50 rows per query, label lookup is a semi-bounded join on the
    shortlist, never the corpus.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir)
    shortlist = similarity.cosine_topk_quantized(emb, q, k=50)
    labeled = (
        shortlist.join(emb.select("vec_id", "label"), "vec_id")
        .join(
            F.broadcast(
                q.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("label").alias("query_label"),
                )
            ),
            "query_id",
        )
        .withColumn(
            "boosted_score",
            F.col("dot_q")
            + F.when(F.col("label") == F.col("query_label"), 200000).otherwise(0),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("boosted_score"), F.asc("vec_id")
    )
    return (
        labeled.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select(
            "query_id",
            "vec_id",
            "boosted_score",
            F.col("rk").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


@query
def ann_ivf_centroid_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-triggered centroid RETRAIN + touched-cells index MIGRATION —
    the last verb of the IVF lifecycle: the ``IVF.add`` upsert
    (``ann_ivf_incremental_upsert``) absorbs batches without retraining,
    ``ann_ivf_index_compaction`` merges their files,
    ``embedding_store_drift`` computes the retrain trigger; THIS executes
    the retrain the trigger schedules, without a full re-index.

    Per run: the fingerprint-cached base index (store vectors, stale
    store-trained centroids) is file-copied to a work dir (scaffolding —
    production migrates in place), the batch delta appends assigned with
    the SAME stale centroids (the drifted state the retrain cures), new
    centroids train on the FULL store ∪ batch corpus and are
    :func:`~..operators.similarity.align_centroids`-matched to the old
    cell ids so only genuinely-moved vectors migrate, and
    :func:`~..operators.similarity.ivf_retrain_migrate` rewrites exactly
    the cells whose membership changed (O(touched), crash-recoverable
    aside-and-swap; Delta ``OPTIMIZE``-commit mapping in
    :func:`~..sources.layout.swap_dir`). Certification:

    * ``migration_lossless`` — (count, vec_id-digest) of the migrated
      index equals the full corpus: no vector dropped or duplicated by
      the move (in-Spark invariant, TRUE in the dual).
    * ``migrated_assign_ok`` — zero rows whose stored cell differs from
      the nearest NEW centroid; together with losslessness this is
      exactly "migrated index == from-scratch rebuild with the new
      centroids" stated as data (the rowset equality itself, plus the
      untouched-cell no-rewrite mtime contract and migration-cost-tracks-
      moved-vectors, are pytest-pinned — file layout is outside SQL).
    * search columns — probing the MIGRATED index with the NEW centroids
      answers like the IVF family: recall >= 2/10 vs the exact top-10
      (4-of-16-probe floor lineage) and ``exact_top1`` recomputed by
      brute force in the DuckDB dual (data-dependent).
    """
    idx = _ivf_cell_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    work = _copy_store(idx.path, sf_dir, "_ivf_retrain")
    similarity.ivf_assign_cells(idx.batch, idx.centroids).write.mode(
        "append"
    ).partitionBy("cell").parquet(work)
    new_centroids = similarity.align_centroids(
        idx.centroids, similarity.train_ivf_centroids(emb, n_cells=16)
    )
    migrated, _n_moved, _n_touched = similarity.ivf_retrain_migrate(
        spark, work, new_centroids
    )

    # ONE aggregate pass over the migrated index yields BOTH certification
    # sides, so the index is scanned once: the losslessness digest (count +
    # vec_id hash-sum) and the zero-misassignment check (stored cell ==
    # nearest NEW centroid by the Arrow assignment kernel).
    assign1 = similarity.nearest_cells_pandas(new_centroids, 1)
    cert = _lossless(
        migrated.select(
            "vec_id",
            (F.col("cell").cast("int") != assign1(F.col("embedding"))[0])
            .cast("long")
            .alias("bad"),
        ),
        emb,
        ["vec_id"],
        "migration_lossless",
        (F.sum("bad") == 0).alias("migrated_assign_ok"),
    )
    return (
        _certified_ivf_search(spark, sf_dir, migrated, new_centroids)
        .crossJoin(cert)
        .orderBy("query_id")
    )


@query
def dedup_incremental_stream_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-driven incremental dedup store maintenance: the signature
    store absorbs arrivals through the engine's
    OWN streaming runtime — a file-source ``readStream`` with one
    landing file per arrival and ``maxFilesPerTrigger=1``, so arrival k
    is exactly micro-batch k — instead of the batch calls
    ``dedup_incremental_batch`` and ``dedup_incremental_batch_pruned``
    drive. Each trigger dedups its documents against the store
    AS OF the previous trigger (store ∪ kept arrivals < k) and appends
    kept signatures + documents as batch-id-named delta directories
    (``incremental_dedup_store_sink``'s replay-idempotent layout; the
    Delta ``txnAppId`` analogue).

    Two deterministic arrivals: docs with doc_id % 20 == 0 land first,
    doc_id % 20 == 10 second (together the familiar %10 == 0 batch
    population). The DuckDB dual recomputes the full SEQUENTIAL
    semantics from scratch — arrival 1 greedy vs store ∪ earlier-in-
    arrival-1; arrival 2 greedy vs store ∪ KEPT arrival-1 (a store
    partner now: its signatures were appended) ∪ earlier-in-arrival-2 —
    so the parity check certifies that the stream-maintained store answers
    exactly like the from-scratch recompute at every arrival point.
    Stream-built store == sequential-batch-built store and
    restart/replay idempotency are pytest-pinned (checkpoint surgery is
    outside SQL).
    """
    from ..streaming import pipeline as streaming_pipeline

    sigs = _incr_sig_store(spark, sf_dir)
    out = streaming_pipeline.availablenow_incremental_dedup_roundtrip(
        spark, sf_dir, _work_dir(sf_dir, "_stream_dedup_store"),
        sigs.frame, sigs.rows,
        _stream_arrivals(load_documents(spark, sf_dir), "doc_id"),
    )
    return out.select(
        "doc_id", "arrival", "action", "n_store_matches",
        "n_prior_batch_matches", "best_match_id", "best_jaccard",
    ).orderBy("doc_id")


@query
def dedup_bucket_store_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-store COMPACTION — the OPTIMIZE lifecycle step for the
    signature store: ``store_delta`` appends land
    one fragment per touched ``(band, bh_part)`` leaf per arrival, so
    over N arrivals the DPP probe's O(touched dirs) scan degrades to
    O(touched dirs x N fragments) — the reference's ``flush.size=1``
    landing pathology (implementation_details.md:71) replayed on the
    bucket store, cured with the same touched-partitions discipline
    ``ann_ivf_index_compaction`` applies to IVF cells.

    Per run: the fingerprint-cached BASE store (docs with
    ``doc_id % 10 NOT IN (0, 9)``) is file-copied to a work dir, the
    ``% 10 == 9`` shard's bucket rows append DELIBERATELY fragmented
    (8-way round-robin — every leaf gains small files), and
    :func:`~..sources.layout.compact_partitions` rewrites only the
    fragmented leaves. The compacted store then holds exactly the
    ``% 10 != 0`` corpus's buckets, so batch decisions against it must
    be IDENTICAL to ``dedup_incremental_batch``'s — the same exhaustive
    recompute dual certifies that compaction (like layout) never
    changes answers. ``compaction_lossless`` (row count + content
    digest of compacted == base ∪ delta) and ``files_reduced_ok`` ride
    along as in-Spark invariants (TRUE in the dual); the fragment
    ceiling, untouched-leaf mtime preservation, and crash-recovery
    sweep are pytest-pinned (file layout is outside SQL).
    """
    store_docs, batch = _arrival_split(load_documents(spark, sf_dir), "doc_id")
    base_docs = store_docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) != 9)
    base_path = _work_dir(sf_dir, "_incr_bucket_store_base")
    # n_parts=4 here (32 leaves, vs the pruned query's 16): the
    # compaction discipline is layout-width-independent, decisions are
    # layout-free (same exhaustive dual), and the narrower store cuts
    # the certification's filesystem churn ~4x — the sidecar carries the
    # width so the probe stays correct by construction
    _cached_store(
        spark, sf_dir, "_incr_bucket_store_base", "documents.parquet",
        lambda path: dedup.write_bucket_store(
            dedup.minhash_signatures(base_docs, "text", "doc_id"),
            "doc_id", path, n_parts=4,
        ),
        params="shingle_n=3,k=32,bands=8,parts=4"
        ",split=mod10-not-0-9,meta=v3",
    )
    work = _copy_store(base_path, sf_dir, "_bucket_compact")
    # layout params come from the copied store's sidecar —
    # the delta MUST bucket with the same k/bands/n_parts as the base
    _, meta = dedup.open_bucket_store(spark, work)
    # persisted: the delta's signature pass feeds BOTH the fragmented
    # append and the losslessness digest — one minhash pass, not two
    delta = persist_scoped(
        dedup.band_bucket_store(
            dedup.minhash_signatures(
                store_docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 9),
                "text", "doc_id",
            ),
            "doc_id", k=meta["k"], bands=meta["bands"],
            n_parts=meta["n_parts"],
        ),
        "bucket_compact_delta",
    )
    # 4-way round-robin still fragments EVERY leaf (the pathology under
    # test) at roughly half the small-file count of the initial 8-way
    delta.repartition(4).write.mode("append").partitionBy(
        "band", "bh_part"
    ).parquet(work)
    compacted, n_before, n_after, _ = layout.compact_partitions(
        spark, work, ["band", "bh_part"], "doc_id", 65536
    )
    cols = ["band", "bh_part", "band_hash", "doc_id"]
    lossless = _lossless(
        compacted,
        spark.read.parquet(base_path).select(cols).unionByName(delta.select(cols)),
        cols,
        "compaction_lossless",
    )
    decisions, _delta = dedup.incremental_minhash_dedup(
        batch, None, store_docs, "text", "doc_id", threshold=0.3,
        store_buckets=compacted, store_parts=meta["n_parts"],
        k=meta["k"], bands=meta["bands"],
    )
    return (
        decisions.crossJoin(lossless)
        .withColumn("files_reduced_ok", F.lit(n_after < n_before))
        .orderBy("doc_id")
    )


@query
def ann_ivf_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-driven IVF index maintenance (the ANN member of the
    streaming arrival paths): vector arrivals reach the index through the
    engine's OWN streaming runtime — a file-source ``readStream`` with one
    landing file per arrival and ``maxFilesPerTrigger=1`` (arrival k ==
    micro-batch k) — instead of the batch call
    ``ann_ivf_incremental_upsert`` drives. Each trigger assigns its vectors
    to the FIXED stored centroids (O(batch) Arrow kernel, FAISS ``IVF.add``
    — no retrain, no store read) and lands a cell-partitioned,
    batch-id-named delta directory (``ivf_stream_upsert_sink``'s
    replay-idempotent layout). Search probes base ∪ stream deltas; the
    compactor and the retrain-migrate pick the deltas up on schedule — the
    arrival verb of the same lifecycle.

    Certified like the IVF family (recall >= 2/10, ``exact_top1``
    recomputed by brute force in the DuckDB dual), plus
    ``delta_lossless`` — (count, vec_id-digest) of the stream-built
    delta equals the arrival population: no vector dropped or duplicated
    by the streaming path (in-Spark invariant, TRUE in the dual).
    Stream-built delta == batch ``ivf_assign_cells`` rowset and
    restart/replay idempotency are pytest-pinned.
    """
    from ..streaming import pipeline as streaming_pipeline

    idx = _ivf_cell_index(spark, sf_dir)
    arrivals = _stream_arrivals(load_table(spark, sf_dir, "embeddings"), "vec_id")
    delta = streaming_pipeline.availablenow_ivf_upsert_roundtrip(
        spark, _work_dir(sf_dir, "_ivf_stream_upsert"), arrivals, idx.centroids
    ).select("vec_id", "embedding", F.col("cell").cast("int").alias("cell"))
    lossless = _lossless(delta, idx.batch, ["vec_id"], "delta_lossless")
    return (
        _certified_ivf_search(
            spark, sf_dir, idx.frame.unionByName(delta), idx.centroids
        )
        .crossJoin(lossless)
        .orderBy("query_id")
    )


@query
def sketch_kmv_stream_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-driven KMV vocabulary monitoring (the sketch member of the
    streaming arrival paths): document arrivals merge into the persisted KMV
    sketch through the engine's own streaming runtime (file == micro-
    batch), versioned per batch so replay is exact
    (``kmv_stream_merge_sink``). KMV is closed under union, so each
    stream-maintained version must equal the from-scratch sketch of
    store ∪ arrivals-so-far BIT-FOR-BIT — the DuckDB dual recomputes
    every stage from the full token set (the ``sketch_incremental_kmv``
    contract, arrival-at-a-time): stage ``arrival1`` certifies the
    sketch after the first micro-batch (store ∪ doc_id % 20 == 0),
    ``arrival2`` after the second (the full corpus). Stream-built ==
    sequential-batch-merge equality and replay idempotency are
    pytest-pinned.
    """
    from ..streaming import pipeline as streaming_pipeline

    store = _incr_kmv_store(spark, sf_dir)
    docs = load_documents(spark, sf_dir)
    arrivals = _stream_arrivals(docs, "doc_id")
    versions = streaming_pipeline.availablenow_kmv_merge_roundtrip(
        spark, _work_dir(sf_dir, "_kmv_stream"), store.frame, arrivals,
        "text", _KMV_K,
    )
    return (
        _kmv_stage(
            "arrival1", versions[0], store.rows.unionByName(arrivals[0])
        )
        .unionByName(_kmv_stage("arrival2", versions[1], docs))
        .orderBy("stage")
    )


@query
def ann_ivf_drift_gated_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-GATED retrain policy — the decision wire between the drift
    monitor and the migration: ``embedding_store_drift`` computes the
    per-dimension shift statistic; THIS query thresholds it and fires
    ``ivf_retrain_migrate`` only when the gate trips, exactly the
    production loop the monitor's docstring promises ("THIS decides when
    the stored centroids are stale").

    Both branches are exercised every run with thresholds DERIVED from
    the observed statistic (the gate's data-dependence lives in
    ``max_shift_z``, emitted exactly): ``gate_high`` (threshold =
    2 x max_shift_z) must NOT trigger — the index keeps the stale
    centroids, and ``index_matches_rebuild`` certifies it equals
    store ∪ batch assigned under the OLD centroids (nothing moved,
    nothing rewritten — mtime-pinned by pytest); ``gate_low``
    (threshold = max_shift_z / 2) must trigger — centroids retrain on
    the full corpus, align to the old ids, migrate touched cells only,
    and the same boolean certifies equality with a from-scratch rebuild
    under the NEW centroids. ``max_shift_z`` is the max of the monitor's
    rounded z over all dims — recomputed exactly by the DuckDB dual from
    integer moments (the quantized-moments discipline).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # bounded collect: one row (the gate statistic)
    max_z = (
        _embedding_drift_scored(emb)
        .agg(F.max("shift_z").alias("mz"))
        .collect()[0]["mz"]
    )
    idx = _ivf_cell_index(spark, sf_dir)
    # one batch-assignment pass, not one per gate: both branches append
    # the IDENTICAL (id, vec, cell) arrival rows, so score the batch
    # against the stored centroids once and let the second append read
    # the cache (same rows land in both work dirs byte-for-byte)
    batch_assigned = persist_scoped(
        similarity.ivf_assign_cells(idx.batch, idx.centroids),
        "gated_batch_assign",
    )
    out = None
    for tag, threshold in (
        ("gate_high", (max_z or 0.0) * 2 + 1.0),
        ("gate_low", (max_z or 0.0) / 2),
    ):
        work = _copy_store(idx.path, sf_dir, f"_ivf_gated_{tag}")
        batch_assigned.write.mode("append").partitionBy("cell").parquet(work)
        triggered = max_z is not None and max_z >= threshold
        if triggered:
            expect = similarity.align_centroids(
                idx.centroids,
                similarity.train_ivf_centroids(emb, n_cells=16),
            )
            similarity.ivf_retrain_migrate(spark, work, expect)
        else:
            expect = idx.centroids
        match = _lossless(
            layout.open_partitions(spark, work, ["cell"]),
            similarity.ivf_assign_cells(emb, expect),
            ["vec_id", "cell"],
            "index_matches_rebuild",
        )
        row = match.select(
            F.lit(tag).alias("gate"),
            F.lit(bool(triggered)).alias("triggered"),
            F.lit(max_z).cast("double").alias("max_shift_z"),
            "index_matches_rebuild",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("gate")
