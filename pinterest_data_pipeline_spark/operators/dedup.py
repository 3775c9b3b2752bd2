"""Deduplication operators for LLM training-data pipelines.

Four families, all expressed with DataFrame built-ins (no Python UDFs):

* **Exact**: content-hash groupBy. One shuffle on the hash — at 100 TB the
  shuffle carries only (hash, id), never the document bytes.
* **MinHash + LSH**: shingle -> k-minhash signature -> banded bucket join.
  Candidate generation is an equi-join on (band, band_hash) — a plain hash
  shuffle Catalyst/AQE handles — followed by exact Jaccard verification on
  the candidates only. Cost is O(candidates), not O(n²).
* **SimHash**: 64-bit bitstring signature; pigeonhole chunk join bounds the
  candidate set for small Hamming radii.
* **N-gram Jaccard**: the exact verifier, usable standalone on any pair set.

Reference has only full-row ``dropDuplicates()`` (SURVEY.md §2.4 A6); these
are the north-star extensions (BASELINE.json) built on the same shuffle
machinery.
"""

from __future__ import annotations

import random as _random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import persist_scoped
from ..sources import layout
from .text import shingles, stable_hash64

# Row cap for the incremental family's BATCH-side broadcast hints (a forced
# broadcast of a data-sized frame exhausts driver memory): the family's
# pitch is "cost tracks the batch", but a day's landing at 100 TB scale is
# not always broadcast-sized. Every batch-derived frame the operators below
# force through the driver is COUNTED first (the self-enforcing pattern of
# ranking.BROADCAST_BUCKET_LIMIT, same 1M-row value: ~tens of MB of (long,
# long) rows) and above the cap the join degrades to sort-merge — the join
# that spills — instead of a multi-GB broadcast. The STORE side remains
# contractually never-broadcast regardless (plan-pinned).
BATCH_BROADCAST_CAP = 1_000_000


def _guarded_broadcast(df: DataFrame, n_rows: int, cap: int) -> DataFrame:
    """Broadcast hint iff the already-counted frame is under ``cap`` rows;
    otherwise a sort-merge hint (a plain shuffle join — both sides spill)."""
    return F.broadcast(df) if n_rows <= cap else df.hint("merge")


# --- exact dedup ------------------------------------------------------------


def content_key(c: Column) -> Column:
    """Deterministic content hash (md5 hex) of a text/binary column."""
    return F.md5(c)


def exact_dedup_summary(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct content: kept id (min), duplicate count."""
    return (
        df.select(F.col(id_col), content_key(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("copy_count"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly the min-id row per distinct content (stable winner).

    Implemented as groupBy + semi-join rather than a window so the heavy
    payload columns never enter the shuffle: only (hash, id) pairs move.
    """
    winners = exact_dedup_summary(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(winners, id_col, "left_semi")


# --- n-gram Jaccard ---------------------------------------------------------


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array columns (set semantics)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def containment(a: Column, b: Column) -> Column:
    """Asymmetric containment |A ∩ B| / |A| of two array columns.

    The doc-in-doc signal Jaccard misses: a short document fully embedded
    in a long one has containment(short, long) = 1 while Jaccard ~
    |short|/|long| → 0 — which is why quote/boilerplate/eval-contamination
    detection keys on containment, not Jaccard (the same asymmetry n-gram
    decontamination exploits one-sidedly)."""
    inter = F.size(F.array_intersect(a, b))
    return F.when(F.size(a) > 0, inter / F.size(a)).otherwise(F.lit(0.0))


def shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, distinct shingle array) — the input to MinHash and Jaccard."""
    return df.select(
        F.col(id_col), F.array_distinct(shingles(F.col(text_col), n)).alias("shingle_set")
    )


def ngram_jaccard_pairs(
    pairs: DataFrame, left_shingles: str = "shingle_set_a", right_shingles: str = "shingle_set_b"
) -> DataFrame:
    """Score a candidate-pair frame with exact n-gram Jaccard."""
    return pairs.withColumn(
        "jaccard_sim", F.round(jaccard(F.col(left_shingles), F.col(right_shingles)), 4)
    )


# --- MinHash + LSH ----------------------------------------------------------


# Fixed affine-permutation parameters (odd multiplier, additive constant).
# Permutation j of a shingle hash is ``(a_j*(h & 0xFFFFFFFF) + b_j) mod P`` —
# pure integer codegen, no per-permutation string hashing. The modular
# reduction is what makes the k lanes INDEPENDENT pseudorandom orderings:
# without it, ``a*h + b`` with a > 0 is monotonic in h, so every lane's min
# lands on the same argmin shingle and the signature degenerates to k=1
# MinHash (observed: ~10% missed-pair rate on 0.9-Jaccard near-dups).
# The hash is masked to 32 bits and a_j < 2^30 so ``a*h + b`` stays under
# 2^62 — no 64-bit overflow (Spark 4 ANSI mode raises rather than wraps).
# P = 2^31 - 1 (Mersenne prime); per-permutation collision probability for
# distinct shingles is ~2^-31 — irrelevant to MinHash estimates. Parameters
# are generated once at import from a fixed-seed PRNG (deterministic).
_rng = _random.Random(0x5EED)
_MERSENNE_P = (1 << 31) - 1
_PERMS: list[tuple[int, int]] = [
    (_rng.randrange(1, 2**30) | 1, _rng.randrange(0, 2**30)) for _ in range(128)
]
_MASK32 = (1 << 32) - 1


def _minhash_aggs(k: int) -> list[Column]:
    """The k MIN(perm(h)) aggregates over column ``h``, as SQL text.

    One ``F.expr`` parse per aggregate instead of a py4j round trip per
    Column node (for k=32 about 40 ms vs 0.2-0.3 s through the Column API
    on a 4-vCPU host), cheap enough to build fresh for every plan; SQL
    text holds no JVM references, so nothing outlives the query."""
    return [
        F.expr(f"min(pmod({a} * h + {b}, {_MERSENNE_P})) AS mh{j}")
        for j, (a, b) in enumerate(_PERMS[:k])
    ]


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int = 3, k: int = 32
) -> DataFrame:
    """(id, mh0..mh{k-1}) MinHash signature columns via a single hash-agg.

    Formulated as explode -> groupBy(id).agg(k × MIN(a_j*h+b_j)) so the whole
    signature computation is one WholeStageCodegen hash aggregate with
    map-side partial aggregation: each shingle string is hashed exactly once,
    every permutation is two integer ops, and at 100 TB the shuffle carries
    one partially aggregated row per (partition, doc) — never the shingles.

    ``df`` is used as given: fan a narrow source scan out first
    (:func:`~..session.fan_out`), as ``load_documents`` does.
    """
    sets_ = shingle_sets(df, text_col, id_col, shingle_n)
    hashes = sets_.select(
        F.col(id_col), F.explode("shingle_set").alias("shingle")
    ).select(id_col, F.xxhash64("shingle").bitwiseAND(F.lit(_MASK32)).alias("h"))
    return hashes.groupBy(id_col).agg(*_minhash_aggs(k))


def minhash_lsh_candidates(
    sigs: DataFrame, id_col: str, k: int = 32, bands: int = 8
) -> DataFrame:
    """Banded LSH over signature columns (``mh0..mh{k-1}``): hash each band
    of k/bands rows with one variadic ``xxhash64`` call, explode to
    (band, band_hash) buckets, self-join. Returns distinct (id_a, id_b)
    candidate pairs, id_a < id_b.

    The self-join is a plain equi-join on the bucket key: Catalyst plans a
    shuffled hash join; AQE splits skewed buckets (a hot bucket = a common
    band pattern) automatically.
    """
    banded = sigs.select(
        F.col(id_col), F.explode(_band_bucket_array(k, bands)).alias("bucket")
    ).select(id_col, "bucket.band", "bucket.band_hash")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates + exact-Jaccard verify.

    Output: (id_a, id_b, jaccard_sim) for verified near-duplicate pairs.

    Verification recomputes shingle sets only for documents that appear in a
    candidate pair (semi-join pushdown): the full corpus is scanned exactly
    twice (signature pass + candidate-subset pass) and the exact Jaccard runs
    on O(candidates) rows, not O(n) — the property that keeps this viable at
    100 TB, where materializing every shingle set would rival the corpus size.
    """
    sigs = minhash_signatures(df, text_col, id_col, shingle_n, k)
    # The candidate-pair set is consumed by three plan branches (verify join
    # + both halves of the id union); persisting it pins the result of the
    # signature+banding stages instead of recomputing that lineage per
    # branch. It is O(candidate pairs) — tiny relative to the corpus.
    # persist_scoped bounds the cache at one generation across repeat calls.
    cands = persist_scoped(
        minhash_lsh_candidates(sigs, id_col, k, bands), "minhash_cands"
    )
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets_ = shingle_sets(df.join(cand_ids, id_col, "left_semi"), text_col, id_col, shingle_n)
    scored = (
        cands.join(
            sets_.select(F.col(id_col).alias("id_a"), F.col("shingle_set").alias("shingle_set_a")),
            "id_a",
        )
        .join(
            sets_.select(F.col(id_col).alias("id_b"), F.col("shingle_set").alias("shingle_set_b")),
            "id_b",
        )
        .withColumn(
            "jaccard_sim",
            F.round(jaccard(F.col("shingle_set_a"), F.col("shingle_set_b")), 4),
        )
    )
    return scored.filter(F.col("jaccard_sim") >= threshold).select(
        "id_a", "id_b", "jaccard_sim"
    )


# --- cross-shard incremental dedup -------------------------------------------


def _band_bucket_array(k: int, bands: int) -> Column:
    """The banded (band, band_hash) struct-array over the ``mh*``
    signature columns, built as one SQL expression (see
    :func:`_minhash_aggs`)."""
    rows_per_band = k // bands
    structs = ", ".join(
        f"named_struct('band', {bi}, 'band_hash', xxhash64("
        + ", ".join(f"mh{bi * rows_per_band + r}" for r in range(rows_per_band))
        + "))"
        for bi in range(bands)
    )
    return F.expr(f"array({structs})")


def band_buckets(sigs: DataFrame, id_col: str, k: int = 32, bands: int = 8) -> DataFrame:
    """(id, band, band_hash) LSH bucket rows derived from a signature
    frame (``mh0..mh{k-1}``) — k integers per document, never the text.
    This is the persisted-store schema for incremental dedup: buckets
    re-derive from signatures with two integer ops, so the store holds
    ONLY signatures and stays layout-free."""
    return sigs.select(
        F.col(id_col), F.explode(_band_bucket_array(k, bands)).alias("bucket")
    ).select(id_col, "bucket.band", "bucket.band_hash")


BUCKET_STORE_PARTS = 16  # bh_part partitions per band in the bucket-store layout


def band_bucket_store(
    sigs: DataFrame,
    id_col: str,
    k: int = 32,
    bands: int = 8,
    n_parts: int = BUCKET_STORE_PARTS,
) -> DataFrame:
    """``(band, bh_part, band_hash, id)`` — the PARTITIONED-LAYOUT store
    schema for incremental dedup: bucket rows carry a coarse
    ``bh_part = pmod(band_hash, n_parts)`` so the store parquet can be
    written ``partitionBy("band", "bh_part")`` and the arrival probe's
    broadcast join injects dynamic partition pruning — the scan reads
    only the (band, bh_part) directories the batch's bucket keys touch,
    never the whole store (the IVF cell-index discipline applied to the
    signature store, the layout incremental_minhash_dedup's docstring
    describes)."""
    return band_buckets(sigs, id_col, k, bands).withColumn(
        "bh_part", F.pmod(F.col("band_hash"), F.lit(n_parts)).cast("int")
    )


BUCKET_STORE_META = "_BUCKET_STORE_META"


def write_bucket_store(
    sigs: DataFrame,
    id_col: str,
    path: str,
    k: int = 32,
    bands: int = 8,
    n_parts: int = BUCKET_STORE_PARTS,
) -> None:
    """Build and persist the partitioned bucket store WITH its layout
    metadata sidecar: the arrival probe's ``bh_part``
    derivation must use the n_parts the store was BUILT with — a
    mismatch raises no error, the probe's pmod simply never matches the
    store's partition values and candidates (hence dedup decisions)
    silently vanish. Persisting ``{n_parts, k, bands}`` in a
    ``_BUCKET_STORE_META`` sidecar (underscore prefix: parquet readers
    ignore it) and reading it back via :func:`open_bucket_store` makes
    the layout travel with the store instead of being re-guessed at
    every call site. The schema travels the same way
    (:func:`~..sources.layout.write_partitioned`), so a store built from
    no documents still opens."""
    import json as _json
    import os as _os

    layout.write_partitioned(
        band_bucket_store(sigs, id_col, k, bands, n_parts).repartition(
            "band", "bh_part"
        ),
        path,
        ["band", "bh_part"],
    )
    with open(_os.path.join(path, BUCKET_STORE_META), "w") as fh:
        _json.dump({"n_parts": n_parts, "k": k, "bands": bands}, fh)


def open_bucket_store(
    spark, store_path: str, refresh: bool = True
) -> tuple[DataFrame, dict]:
    """Open a partitioned bucket store for the arrival probe: crash-
    recovery sweep, then the frame plus the layout metadata the store
    was built with (``{n_parts, k, bands}`` — feed these to
    ``incremental_minhash_dedup``'s ``store_parts``/``k``/``bands`` so
    the probe's bucket derivation matches the store's by construction).
    A store without the sidecar fails loudly here instead of silently
    dropping candidates downstream.

    ``refresh=False`` skips the listing-cache refresh — measured ~1.1 s
    per open on a 128-leaf store. Safe ONLY when the store is mutated
    exclusively through Spark writes (which self-invalidate the cache);
    any caller that copytree/renames the directory must keep the
    default."""
    import json as _json
    import os as _os

    meta_file = _os.path.join(store_path, BUCKET_STORE_META)
    try:
        with open(meta_file) as fh:
            meta = _json.load(fh)
    except OSError as e:
        raise FileNotFoundError(
            f"bucket store at {store_path} has no {BUCKET_STORE_META} "
            "sidecar — rebuild it with write_bucket_store; probing with "
            "a guessed n_parts silently drops candidates on mismatch"
        ) from e
    return layout.open_partitions(
        spark, store_path, ["band", "bh_part"], refresh=refresh
    ), meta


def incremental_candidates(
    batch_sigs: DataFrame,
    store_sigs: DataFrame | None,
    id_col: str,
    k: int = 32,
    bands: int = 8,
    batch_broadcast_cap: int = BATCH_BROADCAST_CAP,
    store_buckets: DataFrame | None = None,
    store_parts: int = BUCKET_STORE_PARTS,
) -> DataFrame:
    """LSH candidate pairs for a batch against a signature store:
    ``(bid, oid, partner_in_store)``.

    Direction contract (a data-sized broadcast exhausts driver memory, so
    the direction is structural): the BATCH bucket frame broadcasts into the
    store scan — the store side NEVER shuffles and is never the broadcast
    side (plan-contract-pinned by tests/test_round14_ops.py). Batch-internal
    candidates keep only earlier-id partners (the greedy policy).

    The batch-side broadcast is itself SIZE-GUARDED:
    the bucket frame is persisted (it feeds the store probe AND both
    sides of the batch-internal self-join) and counted once; above
    ``batch_broadcast_cap`` rows the store probe degrades to a sort-merge
    join — at that point the arrival batch is a corpus in its own right
    and a shuffle is the honest cost.

    Two store layouts: ``store_sigs`` (signature rows; buckets re-derive
    per arrival — one full store projection) or ``store_buckets`` (a
    prebuilt :func:`band_bucket_store` frame, parquet-partitioned by
    ``(band, bh_part)``; the batch's touched ``(band, bh_part)`` set —
    bounded by the partition DOMAIN, ``bands x store_parts`` values, by
    construction — is collected once and applied as a STATIC partition
    filter on the store scan, so untouched directories are pruned at
    planning time — the O(touched buckets) arrival scan).

    Static vs dynamic pruning: runtime DPP injected by the broadcast
    probe would require the batch lineage to stay RAW (Spark's cache
    substitution swaps any plan-equivalent subtree for an InMemoryRelation
    and the DPP rule then drops the pruning subquery — measured), and
    raw lineage re-runs the batch's shingle+minhash pass once per plan
    branch (~4x per arrival). The touched-partition list is tiny by
    construction, so collecting it on the driver and filtering the scan
    statically keeps the same O(touched dirs) guarantee — visible as
    ``PartitionFilters`` in the scan, pinned by pytest — while letting
    the batch signature frame persist like every other path (one
    minhash pass per arrival). Decisions are unchanged: the filter
    keeps exactly the partitions whose keys the probe join could
    match."""
    if store_buckets is not None:
        bbuckets = persist_scoped(
            band_buckets(batch_sigs, id_col, k, bands), "incr_bbuckets"
        )
        probe = bbuckets.select(
            F.col(id_col).alias("bid"), "band", "band_hash"
        ).withColumn(
            "bh_part", F.pmod(F.col("band_hash"), F.lit(store_parts)).cast("int")
        )
        # ONE bounded action materializes the persisted bucket frame and
        # yields both the broadcast-guard row count (sum of group sizes)
        # and the touched-partition set: distinct (band, bh_part) over
        # the batch is at most bands x store_parts values (the partition
        # domain), never O(batch) — the IVF probe's "touched cells"
        # discipline
        per_leaf = (
            probe.groupBy("band", "bh_part")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        n_bucket_rows = sum(r["n"] for r in per_leaf)
        touched = sorted((r["band"], r["bh_part"]) for r in per_leaf)
        combo = F.col("band") * F.lit(store_parts) + F.col("bh_part")
        sbuckets = store_buckets.filter(
            combo.isin([b * store_parts + p for b, p in touched])
        )
        store_keys = ["band", "bh_part", "band_hash"]
    else:
        bbuckets = persist_scoped(
            band_buckets(batch_sigs, id_col, k, bands), "incr_bbuckets"
        )
        n_bucket_rows = bbuckets.count()
        sbuckets = band_buckets(store_sigs, id_col, k, bands)
        probe = bbuckets.select(F.col(id_col).alias("bid"), "band", "band_hash")
        store_keys = ["band", "band_hash"]
    cand_store = (
        sbuckets.join(
            _guarded_broadcast(probe, n_bucket_rows, batch_broadcast_cap),
            store_keys,
        )
        .select("bid", F.col(id_col).alias("oid"))
        .distinct()
        .withColumn("partner_in_store", F.lit(True))
    )
    ba = bbuckets.select(F.col(id_col).alias("bid"), "band", "band_hash")
    bb = bbuckets.select(F.col(id_col).alias("oid"), "band", "band_hash")
    cand_batch = (
        ba.join(bb, ["band", "band_hash"])
        .filter(F.col("oid") < F.col("bid"))
        .select("bid", "oid")
        .distinct()
        .withColumn("partner_in_store", F.lit(False))
    )
    return cand_store.unionByName(cand_batch)


def incremental_verified_pairs(
    batch: DataFrame,
    batch_sigs: DataFrame,
    store_sigs: DataFrame | None,
    store_docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    batch_broadcast_cap: int = BATCH_BROADCAST_CAP,
    store_buckets: DataFrame | None = None,
    store_parts: int = BUCKET_STORE_PARTS,
) -> DataFrame:
    """Exact-Jaccard-verified near-dup pairs involving a batch:
    ``(bid, oid, partner_in_store, j)`` with ``j >= threshold``.

    Candidates via :func:`incremental_candidates` (persisted: consumed by
    the fetch semi-joins AND the verify join); verification recomputes
    shingles for the batch plus the candidate-touched store docs ONLY
    (semi-join-targeted fetch). Shared verify stage of the incremental
    family: the dedup decision operator and the incremental cluster
    maintenance both consume this frame."""
    cands = persist_scoped(
        incremental_candidates(
            batch_sigs, store_sigs, id_col, k, bands, batch_broadcast_cap,
            store_buckets=store_buckets, store_parts=store_parts,
        ),
        "incr_cands",
    )
    batch_sets = shingle_sets(batch, text_col, id_col, shingle_n)
    store_cand_ids = cands.filter("partner_in_store").select(
        F.col("oid").alias(id_col)
    ).distinct()
    store_sets = shingle_sets(
        store_docs.join(store_cand_ids, id_col, "left_semi"),
        text_col,
        id_col,
        shingle_n,
    )
    partner_sets = store_sets.unionByName(
        batch_sets.join(
            cands.filter(~F.col("partner_in_store"))
            .select(F.col("oid").alias(id_col))
            .distinct(),
            id_col,
            "left_semi",
        )
    )
    return (
        cands.join(
            batch_sets.select(
                F.col(id_col).alias("bid"),
                F.col("shingle_set").alias("set_b"),
            ),
            "bid",
        )
        .join(
            partner_sets.select(
                F.col(id_col).alias("oid"), F.col("shingle_set").alias("set_o")
            ),
            "oid",
        )
        .withColumn("j", F.round(jaccard(F.col("set_b"), F.col("set_o")), 4))
        .filter(F.col("j") >= threshold)
    )


def incremental_minhash_dedup(
    batch: DataFrame,
    store_sigs: DataFrame | None,
    store_docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    batch_broadcast_cap: int = BATCH_BROADCAST_CAP,
    store_buckets: DataFrame | None = None,
    store_parts: int = BUCKET_STORE_PARTS,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW document batch against a persisted signature store
    WITHOUT recomputing the corpus — the production arrival shape the
    reference's append-only landing zone implies (flush.size=1 S3 sink,
    implementation_details.md:71: data arrives message-at-a-time and
    accumulates; re-mining the whole corpus per batch is the O(corpus)
    anti-pattern this operator replaces with O(batch + touched)).

    Returns ``(decisions, store_delta)``:

    * ``decisions`` — one row per batch document: ``(id, action,
      n_store_matches, n_prior_batch_matches, best_match_id,
      best_jaccard)``. The policy is single-pass greedy (the standard
      incremental rule): a batch doc DROPS iff it has a verified
      near-dup partner in the store, or a verified partner EARLIER in
      the batch (smaller id). Chained within-batch transitivity is
      deliberately out of scope — cluster-exact dedup is
      :func:`cluster_pairs`' job over the accumulated pair stream.
    * ``store_delta`` — the KEPT batch docs in the probed store's OWN
      layout (signature rows, or bucket rows when ``store_buckets`` is
      given), the append that advances the store to the next batch.

    Scale shape: signatures/shingles compute for the BATCH only; the
    store side contributes one scan of its signature table probed by a
    size-guarded BROADCAST of the batch's bucket keys (no store shuffle
    while the batch is broadcast-sized; past ``batch_broadcast_cap`` the
    probe degrades to a sort-merge join — see
    :func:`incremental_candidates`; with the store parquet laid out by
    band_hash the scan prunes too), plus a semi-join-targeted text fetch
    for the candidate store docs only. Verification is exact Jaccard on
    O(candidates) rows — identical to the full pipeline's verify stage,
    so incremental == full-recompute restricted to batch-involving
    pairs (pinned by pytest and the exhaustive DuckDB dual).
    """
    # persisted in BOTH store layouts because of the static pruning:
    # the probe's partition filter no longer depends on runtime DPP, so
    # the batch signature pass runs once per arrival (see
    # incremental_candidates' pruning note)
    batch_sigs = persist_scoped(
        minhash_signatures(batch, text_col, id_col, shingle_n, k),
        "incr_batch_sigs",
    )
    scored = incremental_verified_pairs(
        batch, batch_sigs, store_sigs, store_docs,
        text_col, id_col, shingle_n, k, bands, threshold,
        batch_broadcast_cap, store_buckets=store_buckets,
        store_parts=store_parts,
    )
    # best displacing partner: max jaccard, ties to the SMALLEST partner
    # id — struct max over (j, -oid) is one aggregate, engine-exact on
    # the rounded jaccard
    matches = scored.groupBy("bid").agg(
        F.sum(F.col("partner_in_store").cast("long")).alias("n_store_matches"),
        F.sum((~F.col("partner_in_store")).cast("long")).alias(
            "n_prior_batch_matches"
        ),
        F.max(F.struct(F.col("j"), (-F.col("oid")).alias("noid"))).alias("best"),
    )
    decisions = (
        batch.select(F.col(id_col))
        .join(matches.withColumnRenamed("bid", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("best").isNull(), "keep").otherwise("drop").alias(
                "action"
            ),
            F.coalesce("n_store_matches", F.lit(0)).alias("n_store_matches"),
            F.coalesce("n_prior_batch_matches", F.lit(0)).alias(
                "n_prior_batch_matches"
            ),
            (-F.col("best.noid")).alias("best_match_id"),
            F.col("best.j").alias("best_jaccard"),
        )
    )
    kept_sigs = batch_sigs.join(
        decisions.filter(F.col("action") == "keep").select(id_col),
        id_col,
        "left_semi",
    )
    # the delta matches the layout it just probed: signature rows for a
    # signature store, (band, bh_part, band_hash, id) bucket rows for a
    # partitioned bucket store — either way `delta.write.mode("append")`
    # (partitionBy("band", "bh_part") for the bucket layout) advances
    # the store to the next batch without a schema mismatch
    store_delta = (
        kept_sigs
        if store_buckets is None
        else band_bucket_store(kept_sigs, id_col, k, bands, store_parts)
    )
    return decisions, store_delta


# --- near-dup clustering (connected components) -----------------------------


def _arrow_union_find(edges) -> list[tuple[int, int]]:
    """Driver-side min-label union-find over a collected (id_a, id_b)
    Arrow table: ``(member_id, cluster_id)`` rows.

    The caller bounds the table (the self-enforcing count-gate
    discipline) — it arrives as TWO ARROW INT64 COLUMNS (~16 MB at the
    1M-pair cap), never Row objects. Union always points the larger root at the
    smaller, so every final ``find`` is the component MINIMUM — exactly
    the converged min-diffusion label.

    NULL endpoints (nullable bigint passes the caller's dtype gate) get
    the distributed branch's semantics exactly: SQL equi-joins
    never match a NULL key, so in the iterative branch a NULL node keeps
    its own NULL label and never links its partner to anything — the
    non-NULL partner still appears (as a singleton, unless a clean pair
    connects it). Here that means: skip the union for any pair with a
    NULL side, still register the non-NULL side, and emit one
    (NULL, NULL) row iff any NULL endpoint was seen (``distinct`` over
    edge sources collapses all NULLs to one node there).
    """
    labels, saw_null = _union_find_min(
        edges.column("id_a").to_pylist(), edges.column("id_b").to_pylist()
    )
    out = list(labels.items())
    if saw_null:
        out.append((None, None))
    return out


def _union_find_min(col_a: list, col_b: list) -> tuple[dict, bool]:
    """Union-find core over two parallel endpoint lists: returns
    ``({member: component_min}, saw_null)``. Pairs with a NULL side are
    skipped (the non-NULL side still registers as a member) — the SQL
    equi-join semantics of the distributed branch."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    saw_null = False
    for a, b in zip(col_a, col_b):
        if a is None or b is None:
            saw_null = True
            if a is not None:
                parent.setdefault(a, a)
            if b is not None:
                parent.setdefault(b, b)
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {m: find(m) for m in parent}, saw_null


def _driver_cluster_update(
    spark, clusters: DataFrame, pairs_tbl, batch_broadcast_cap: int
) -> DataFrame:
    """Under-cap body of :func:`incremental_cluster_update`: the batch
    pair columns are already collected (bounded by the caller's gate);
    contraction, union-find, remap and fresh-label computation all run
    driver-side, with ONE distributed job — the root lookup against the
    corpus-scale clusters table, probed by a broadcast LocalRelation of
    the endpoint set. Semantics identical to the distributed shape
    (pytest-pinned): NULL/self pairs drop out of the contracted graph
    exactly as the old join+filter dropped them, a NULL endpoint yields
    the one (NULL, NULL) row, and non-root endpoints label through the
    contracted component or themselves."""
    import pyarrow as pa

    col_a = pairs_tbl.column("id_a").to_pylist()
    col_b = pairs_tbl.column("id_b").to_pylist()
    n_pairs = pairs_tbl.num_rows
    saw_null = any(x is None for x in col_a) or any(x is None for x in col_b)
    endpoints = sorted(
        {x for x in col_a if x is not None} | {x for x in col_b if x is not None}
    )

    def bguard(df: DataFrame) -> DataFrame:
        return _guarded_broadcast(df, 2 * n_pairs, batch_broadcast_cap)

    ids_local = spark.createDataFrame(
        pa.table({"_e": pa.array(endpoints, type=pa.int64())})
    )
    # the ONLY distributed job: root lookup, clusters scanned once
    roots_tbl = (
        clusters.join(bguard(ids_local), clusters["member_id"] == F.col("_e"))
        .select(F.col("_e"), F.col("cluster_id").alias("_r"))
        .toArrow()
    )
    root = dict(
        zip(roots_tbl.column("_e").to_pylist(), roots_tbl.column("_r").to_pylist())
    )
    # contract endpoints to their existing roots; drop NULL and self pairs
    # (the old distributed filter's semantics), then min-label union-find
    ca, cb = [], []
    for a, b in zip(col_a, col_b):
        if a is None or b is None:
            continue
        x, y = root.get(a, a), root.get(b, b)
        if x != y:
            ca.append(x)
            cb.append(y)
    labels, _ = _union_find_min(ca, cb)
    sub = spark.createDataFrame(
        pa.table(
            {
                "member_id": pa.array(list(labels), type=pa.int64()),
                "cluster_id": pa.array(list(labels.values()), type=pa.int64()),
            }
        )
    )
    # old members remap through the root-change map (keyed on their old
    # label: only old ROOTS appear as keys — new ids can never collide
    # with an old label because ids are globally unique)
    remap = sub.select(
        F.col("member_id").alias("cluster_id"),
        F.col("cluster_id").alias("_new"),
    )
    updated_old = clusters.join(bguard(remap), "cluster_id", "left").select(
        "member_id",
        F.coalesce("_new", F.col("cluster_id")).alias("cluster_id"),
    )
    # endpoints with no existing cluster row (batch docs, old singletons)
    # take their contracted label; isolated ones keep themselves; a NULL
    # endpoint keeps its NULL label as one row
    fresh_rows = [
        (e, labels.get(e, e)) for e in endpoints if e not in root
    ] + ([(None, None)] if saw_null else [])
    fresh = spark.createDataFrame(
        fresh_rows or [], "member_id long, cluster_id long"
    )
    return updated_old.unionByName(fresh)


def cluster_pairs(
    pairs: DataFrame,
    max_iters: int = 20,
    reliable: bool = False,
    checkpoint_dir: str | None = None,
    driver_cc_cap: int = 1_000_000,
) -> DataFrame:
    """Connected components over (id_a, id_b) near-dup pairs.

    Returns (member_id, cluster_id) with cluster_id = min member id.
    Iterative min-label propagation WITH POINTER DOUBLING: each
    round every node adopts the smallest label among itself, its
    neighbors' labels, and — the shortcut — its own label's label
    (``label(label(v))``). Plain diffusion moves the minimum one hop per
    round (O(diameter) rounds: a 64-chain needs 63); the shortcut
    contracts label chains exponentially, so convergence is O(log
    diameter) rounds — the Shiloach-Vishkin/large-star contraction idea
    expressed as one extra equi-join per round, with the SAME fixpoint:
    labels only decrease, every label is a component member's id, and
    any non-min fixpoint would leave a cross edge whose smaller side
    relabels its neighbor next round. Pinned by the deep-chain pytest
    (round count) and the driver-vs-distributed equality tests (labels).
    The loop is driver-side control flow over distributed joins — the
    standard Spark shape for iterative algorithms.

    ONE action per iteration: the convergence flag is computed in the same
    ``max(_changed)`` aggregate that materializes the round's non-eager
    checkpoint, instead of a separate label-diff job — the old two-jobs-
    per-round shape doubled scheduler round-trips (up to 20 extra at
    ``max_iters``), pure overhead on a large cluster. The checkpoint
    truncates lineage so the plan does not deepen per round.

    ``reliable=True`` switches ``localCheckpoint`` (executor block storage
    — NOT fault-tolerant: a lost executor drops cached label blocks and
    kills the algorithm mid-flight) to a ``checkpoint()`` against the
    fault-tolerant checkpoint dir, the right trade on a preemptible
    1000-executor cluster; pass ``checkpoint_dir`` or pre-set one via
    ``sc.setCheckpointDir``. Reliable checkpoints recompute the plan once
    more when writing files — the documented 2-jobs-per-round durability
    tax, opt-in only.

    Under ``driver_cc_cap`` PAIRS (one self-enforcing bounded gate:
    ``limit(cap+1)`` collected as Arrow, so gate and collect are a single
    action and nothing is persisted) the components solve by driver
    union-find instead — the
    same shape :func:`incremental_cluster_update` runs on
    contracted batch graphs: one bounded Arrow collect plus a linear
    pass beats O(diameter) rounds of join+checkpoint+action scheduling
    whenever the pair set is driver-sized (at sf0.1
    the converged loop spent ~2.7 s of pure per-round job overhead on
    256 pairs). Labels are identical by construction (union-by-min ==
    converged min-diffusion; pytest-pinned against the distributed
    branch) and the cap keeps the collect ~16 MB, so 100 TB pair sets
    take the iterative branch unchanged. ``reliable=True`` skips the
    driver branch: that flag asks for the fault-tolerant distributed
    shape explicitly. Long ids only (the repo-wide id contract); any
    other id type takes the distributed branch.
    """
    if (
        not reliable
        and driver_cc_cap > 0
        and dict(pairs.dtypes).get("id_a") == "bigint"
        and dict(pairs.dtypes).get("id_b") == "bigint"
    ):
        # The count gate and the pair collect fold into ONE bounded action —
        # limit(cap+1).toArrow() IS the gate (cap+1 rows back == over cap)
        # and, under the cap, already holds the two int64 columns the
        # union-find needs, so no persisted input generation exists at all.
        # Over the cap the distributed loop below re-reads the raw pair
        # lineage once into the ONLY cached generation (`cluster_edges`), so
        # no second, redundant persisted copy of the input stays alive for
        # the whole loop on exactly the largest graphs.
        limited = pairs.select("id_a", "id_b").limit(driver_cc_cap + 1).toArrow()
        if limited.num_rows <= driver_cc_cap:
            return pairs.sparkSession.createDataFrame(
                _arrow_union_find(limited), "member_id long, cluster_id long"
            )
    if reliable:
        sc = pairs.sparkSession.sparkContext
        if checkpoint_dir is not None:
            sc.setCheckpointDir(checkpoint_dir)
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "reliable=True needs a checkpoint dir: pass checkpoint_dir= "
                "or call sc.setCheckpointDir first"
            )

    def ckpt(df: DataFrame) -> DataFrame:
        # non-eager: the materializing action is the convergence aggregate
        return df.checkpoint(eager=False) if reliable else df.localCheckpoint(
            eager=False
        )

    # both directions from ONE scan of the pair lineage (a two-arm union
    # would run the LSH join + verify behind `pairs` once per arm)
    edges = persist_scoped(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct(),
        "cluster_edges",
    )
    labels = ckpt(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # pointer doubling: look up the CURRENT label's own label in the
        # same (checkpointed, materialized) label table — label(label(v))
        # ≤ label(v) by the monotone invariant, so F.least keeps the
        # fixpoint argument intact while chain depth halves per round
        shortcut = labels.select(
            F.col("node").alias("_sn"), F.col("label").alias("_sl")
        )
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("l1"),
            )
        )
        new_labels = ckpt(
            stepped.join(shortcut, stepped.l1 == F.col("_sn"), "left")
            .select(
                "node",
                F.least(
                    F.col("l1"), F.coalesce(F.col("_sl"), F.col("l1"))
                ).alias("label"),
                "old_label",
            )
            .select(
                "node",
                "label",
                (F.col("label") < F.col("old_label")).alias("_changed"),
            )
        )
        # single action: materializes the checkpoint AND returns the flag
        changed = new_labels.agg(F.max("_changed")).first()[0]
        labels = new_labels.drop("_changed")
        if not changed:
            break
    return labels.select(
        F.col("node").alias("member_id"), F.col("label").alias("cluster_id")
    )


def incremental_cluster_update(
    clusters: DataFrame,
    new_pairs: DataFrame,
    max_iters: int = 20,
    driver_cc_cap: int = 1_000_000,
    batch_broadcast_cap: int = BATCH_BROADCAST_CAP,
) -> DataFrame:
    """Merge a batch of new near-dup pairs into an existing
    ``(member_id, cluster_id)`` table WITHOUT re-clustering the corpus
    graph — the third store of the incremental family (signature store,
    ANN index, cluster table).

    Contraction argument (why incremental == full): every existing
    component is connectivity-equivalent to its star (member -> root),
    and each root is its component's MINIMUM id (the canonical-label
    invariant ``cluster_pairs`` maintains), so connected components over
    the CONTRACTED new edges — endpoints replaced by their existing
    roots where known — produce exactly the labels a full recompute
    over (old pairs UNION new pairs) would. Pinned by pytest and by the
    registered query's recompute-from-scratch DuckDB dual.

    Scale shape: the corpus-scale clusters table is only SCANNED (root
    lookup probed by the endpoint set; final remap against the root-change
    map — the table itself never shuffles while the batch is
    broadcast-sized); the connected components run on the contracted batch
    graph only, O(new pairs), never the corpus. ONE self-enforcing bounded
    action guards everything: at or under ``driver_cc_cap`` PAIRS the gate
    IS the collect — ``limit(cap+1)`` as Arrow (two int64 columns, ~16 MB at
    the default cap), one materialization of the pair lineage — and
    contraction, union-find, remap and fresh labels then run driver-side
    with a single distributed root-lookup job
    (:func:`_driver_cluster_update`); every driver structure is bounded by
    the gate — endpoints and remap rows <= 2*n_pairs, contracted edges <=
    n_pairs. Past ``batch_broadcast_cap`` the batch-side broadcasts degrade
    to sort-merge joins, and above ``driver_cc_cap`` the whole update
    degrades to the persisted distributed shape ending in
    :func:`cluster_pairs` (same min-label answers, pinned by pytest).
    Returns (member_id, cluster_id) covering all old members plus the
    new-pair endpoints.
    """
    new_pairs = new_pairs.select("id_a", "id_b")
    spark = new_pairs.sparkSession
    dts = dict(new_pairs.dtypes)
    if (
        driver_cc_cap > 0
        and dts.get("id_a") == "bigint"
        and dts.get("id_b") == "bigint"
    ):
        # The count gate and the pair collect fold into
        # ONE bounded action — `limit(cap+1).toArrow()` materializes the
        # expensive verified-pairs lineage exactly once AND is the gate
        # (cap+1 rows back == over cap, fall through to the distributed
        # shape). Under the cap the whole contraction then runs driver-
        # side on the collected columns: root lookup is the only
        # remaining distributed job (clusters scan probed by a broadcast
        # LocalRelation of the endpoints), and sub/remap/fresh become
        # LocalRelations — no persisted generation, no cache scans, and
        # the returned plan is one clusters scan + one bounded broadcast
        # join + a local union. (Old shape: persist + count job, then a
        # contracted-graph join/distinct collect job, then remap/fresh
        # plans re-reading the cache.) Labels are pinned identical to
        # the distributed branch by the equality pytests.
        limited = new_pairs.limit(driver_cc_cap + 1).toArrow()
        if limited.num_rows <= driver_cc_cap:
            return _driver_cluster_update(
                spark, clusters, limited, batch_broadcast_cap
            )
    new_pairs = persist_scoped(new_pairs, "incr_cc_pairs")
    # the guard's ONE bounded-size probe (also materializes the pair
    # lineage once — ids/contracted/fresh all read the cache)
    n_pairs = new_pairs.count()

    def bguard(df: DataFrame) -> DataFrame:
        return _guarded_broadcast(df, 2 * n_pairs, batch_broadcast_cap)

    ids = (
        new_pairs.select(F.col("id_a").alias("_e"))
        .union(new_pairs.select(F.col("id_b")))
        .distinct()
    )
    # root lookup: broadcast the endpoint set into the clusters scan
    roots = persist_scoped(
        clusters.join(
            bguard(ids),
            clusters["member_id"] == ids["_e"],
        ).select(F.col("_e"), F.col("cluster_id").alias("_r")),
        "incr_cc_roots",
    )
    ra = roots.select(F.col("_e").alias("id_a"), F.col("_r").alias("_ra"))
    rb = roots.select(F.col("_e").alias("id_b"), F.col("_r").alias("_rb"))
    contracted = (
        new_pairs.join(bguard(ra), "id_a", "left")
        .join(bguard(rb), "id_b", "left")
        .select(
            F.coalesce("_ra", F.col("id_a")).alias("id_a"),
            F.coalesce("_rb", F.col("id_b")).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    # cluster_pairs re-gates on the ACTUAL contracted-edge count (<=
    # n_pairs), so a contraction that shrinks the batch graph under the
    # caller's cap solves driver-side, and a caller that pinned
    # driver_cc_cap=0 stays fully distributed. Its distributed loop reads
    # the contracted graph once per round, hence the persist.
    sub = persist_scoped(
        cluster_pairs(
            persist_scoped(contracted, "incr_cc_contracted"), max_iters,
            driver_cc_cap=driver_cc_cap,
        ),
        "incr_cc_sub",
    )
    # old members remap through the root-change map (keyed on their old
    # label: only old ROOTS appear as keys — new ids can never collide
    # with an old label because ids are globally unique)
    remap = sub.select(
        F.col("member_id").alias("cluster_id"),
        F.col("cluster_id").alias("_new"),
    )
    updated_old = clusters.join(bguard(remap), "cluster_id", "left").select(
        "member_id",
        F.coalesce("_new", F.col("cluster_id")).alias("cluster_id"),
    )
    # endpoints with no existing cluster row (batch docs, old singletons)
    # take their contracted label; isolated ones keep themselves
    fresh = (
        ids.join(bguard(roots.select("_e")), "_e", "left_anti")
        .select(F.col("_e").alias("member_id"))
        .join(sub, "member_id", "left")
        .select(
            "member_id",
            F.coalesce("cluster_id", "member_id").alias("cluster_id"),
        )
    )
    return updated_old.unionByName(fresh)


def near_duplicate_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    **minhash_kwargs,
) -> DataFrame:
    """Full near-dedup decision: MinHash pairs -> components -> keep/drop.

    Output: (id, cluster_id, keep) for every document, keep = (id ==
    cluster minimum) — singletons keep themselves. This is the end-to-end
    training-data dedup primitive: ``df.join(result.filter("keep"),
    id)`` is the deduplicated corpus.
    """
    pairs = minhash_near_duplicates(df, text_col, id_col, threshold=threshold, **minhash_kwargs)
    comps = cluster_pairs(pairs)
    all_ids = df.select(F.col(id_col).alias("member_id"))
    labeled = (
        all_ids.join(comps, "member_id", "left")
        .select(
            F.col("member_id").alias(id_col),
            F.coalesce("cluster_id", "member_id").alias("cluster_id"),
        )
        .withColumn("keep", F.col(id_col) == F.col("cluster_id"))
    )
    return labeled


# --- SimHash ----------------------------------------------------------------


# 4 × 16-bit accumulator lanes per 64-bit sum: bit positions b, b+16, b+32,
# b+48 of each token hash land in separate lanes of aggregate s_b.
_LANE_MASK = 0x0001_0001_0001_0001


def _simhash_lane_sums() -> list[Column]:
    """The 16 SIMD-lane vote aggregates over column ``h``, as SQL text
    (see :func:`_minhash_aggs`)."""
    return [
        F.expr(f"sum(shiftrightunsigned(h, {b}) & {_LANE_MASK}) AS s{b}")
        for b in range(16)
    ]


def _simhash_packed(n_bits: int, lanes: int) -> Column:
    """The bit-vote repack over ``s0..s15``/``n``: OR of one CASE per
    signature bit, parsed from one SQL string (about 1 ms on a 4-vCPU
    host) instead of ~300 py4j-built Column ops (0.5-1 s)."""
    terms = ["0L"]
    for b in range(16):
        for k in range(lanes):
            bit = b + 16 * k
            if bit >= n_bits:
                continue
            # Bit 63 is the sign bit: its set-value is MIN_LONG, not 1<<63.
            bit_val = (1 << bit) if bit < 63 else -(1 << 63)
            terms.append(
                f"CASE WHEN (shiftrightunsigned(s{b}, {16 * k}) & 65535) * 2 > n "
                f"THEN {bit_val}L ELSE 0L END"
            )
    return F.expr(" | ".join(terms))


def simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_bits: int = 64,
    hash_fn=None,
) -> DataFrame:
    """(id, simhash) with the signature packed into one 64-bit long.

    Explode tokens -> one codegen'd hash aggregate -> OR the winning bits
    into a single long. Everything stays in WholeStageCodegen; the shuffle
    key is the doc id — the same partitioning any downstream per-doc op
    reuses. Packing into a long (vs a bitstring) makes the downstream
    Hamming check a two-instruction expression (``bit_count(a XOR b)``)
    instead of per-character array work.

    The vote stage is SIMD-in-a-register: ``sum((h >>> b) & 0x0001000100010001)``
    accumulates the set-bit counts of bit positions b, b+16, b+32, b+48 in
    four independent 16-bit lanes of one long — 16 branch-free integer
    aggregates instead of 64 conditional ±1 sums (a 4× cut in aggregate
    work; the ±1 vote sum equals ``2*s - n``, so "vote > 0" is ``2s > n``).
    The token explode is capped at 32,000 tokens/document: the bound keeps
    the packed sum provably inside a signed long (32000 × 2^48 lane weight
    < 2^63 — Spark 4 ANSI mode throws on overflow rather than wrapping)
    and each 16-bit lane far from saturation. SimHashing a 32k-token
    prefix of a pathological document is standard practice and leaves
    near-dup semantics unchanged.

    ``df`` is used as given: fan a narrow source scan out first
    (:func:`~..session.fan_out`), as ``load_documents`` does.
    """
    if n_bits > 64:  # explicit raise: survives `python -O`, unlike assert
        raise ValueError("simhash packs into a single 64-bit long")
    lanes = (n_bits + 15) // 16  # 16-bit-spaced bit groups needed
    hash_fn = hash_fn or (lambda c: F.xxhash64(c))
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.slice(F.split(F.col(text_col), " "), 1, 32000)
        ).alias("token"),
    ).withColumn("h", hash_fn(F.col("token")))
    votes = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"), *_simhash_lane_sums()
    )
    return votes.select(
        F.col(id_col), _simhash_packed(n_bits, lanes).alias("simhash")
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures: bit_count(a XOR b)."""
    return F.bit_count(a.bitwiseXOR(b))


def _hamming_ball_masks(width: int, radius: int) -> list[int]:
    """All XOR masks of ``width`` bits with popcount <= radius."""
    from itertools import combinations

    masks = [0]
    for k in range(1, radius + 1):
        for bits in combinations(range(width), k):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_distance: int = 3,
    n_bits: int = 64,
    n_chunks: int | None = None,
    hash_fn=None,
) -> DataFrame:
    """Near-dups by SimHash: multi-index Hamming search + exact verify.

    Pigeonhole over ``m`` chunks: a pair within ``max_distance`` differs by
    at most ``floor(d/m)`` bits in SOME chunk (else total > d). Candidate
    generation probes each document's chunk values against every mask of
    popcount <= floor(d/m) (Norouzi et al., "Fast Search in Hamming Space
    with Multi-Index Hashing") and equi-joins on (chunk, value).

    The chunk count trades probe-side blowup (LINEAR: n × m × |ball|)
    against candidate blowup (QUADRATIC: collisions within 2^chunk_bits
    buckets). Radius-0 with d+1 chunks — the naive pigeonhole — needs only
    64/(d+1)-bit chunks, whose tiny value space degenerates toward a
    self-cross-join as d grows; at d=10 that is a 20M-pair candidate set
    on a 5k-doc corpus. Four 16-bit chunks with radius d//4 <= 2 cost 137
    probes/chunk but collide in a 65536-value space — ~10× fewer
    candidates, and the gap widens with corpus size, which is what matters
    at 100 TB. Defaults pick radius 0 for d < 4 (probing buys nothing),
    the 4-chunk probe index for 4 <= d < 12, and radius-0 d+1 chunks
    beyond (probe ball C(16, d//4) would explode).

    The mask table rides a broadcast join (4 × |ball| rows) — no probe
    expression blowup; the Hamming verify (``bit_count(XOR)``) runs BEFORE
    the pair-dedup so the final distinct shuffles only surviving pairs.
    """
    radius = 0
    if n_chunks is None:
        if 4 <= max_distance < 12 and n_bits % 4 == 0:
            n_chunks, radius = 4, max_distance // 4
        else:
            n_chunks = min(max_distance + 1, n_bits)
    base_len, rem = divmod(n_bits, n_chunks)
    bounds = []
    start = 0
    for i in range(n_chunks):
        ln = base_len + (1 if i < rem else 0)
        bounds.append((i, start, ln))
        start += ln
    # Both sides of the candidate self-join (and the probe expansion) read
    # the chunked signatures; persisting pins the signature hash-agg — the
    # pipeline's expensive stage — to one execution instead of one per join
    # branch. Size is O(docs × n_chunks) longs, trivial next to the corpus.
    sigs = simhash(df, text_col, id_col, n_bits, hash_fn=hash_fn)
    chunked = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned(F.col("simhash"), s)
                        .bitwiseAND(F.lit((1 << ln) - 1))
                        .alias("chunk_val"),
                    )
                    for i, s, ln in bounds
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk_idx", "c.chunk_val")
    chunked = persist_scoped(chunked, "simhash_chunks")
    if radius > 0:
        spark = df.sparkSession
        mask_rows = [
            (i, m) for i, _, ln in bounds for m in _hamming_ball_masks(ln, radius)
        ]
        masks = spark.createDataFrame(mask_rows, "chunk_idx int, probe_mask long")
        probe_side = chunked.join(F.broadcast(masks), "chunk_idx").select(
            F.col(id_col),
            F.col("simhash"),
            "chunk_idx",
            F.col("chunk_val").bitwiseXOR(F.col("probe_mask")).alias("chunk_val"),
        )
    else:
        probe_side = chunked
    a = probe_side.alias("a")
    b = chunked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .distinct()
    )


# --- benchmark decontamination ----------------------------------------------


def _distinct_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, tok): each document's distinct whitespace tokens, exploded."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    )


def jaccard_prefix_candidates(
    df: DataFrame, id_col: str, text_col: str, threshold: float
) -> DataFrame:
    """PPJoin candidate stage of :func:`jaccard_threshold_join`, exposed
    so tests can assert the candidate-volume bounds directly (hot-token
    stress): (id_a, id_b) pairs sharing >= 1 rarity-ordered prefix token
    AND passing the length filter ``t*|A| <= |B| <= |A|/t``. Every pair
    with Jaccard >= t is here (no false negatives by theorem); anything
    else is noise the verification join removes.
    """
    toks = _distinct_tokens(df, id_col, text_col)
    sizes = toks.groupBy("_id").agg(F.count(F.lit(1)).alias("sz"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("_id").orderBy(F.asc("df"), F.asc("tok"))
    ranked = (
        toks.join(freq, "tok")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, "_id")
    )
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)) + 1
    ).select("_id", "tok", "sz")
    return (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .filter(F.col("a._id") < F.col("b._id"))
        .filter(
            F.col("b.sz").between(
                F.ceil(F.lit(threshold) * F.col("a.sz") - F.lit(1e-9)),
                F.floor(F.col("a.sz") / F.lit(threshold) + F.lit(1e-9)),
            )
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def jaccard_threshold_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT all-pairs token-Jaccard >= threshold via prefix filtering
    (Chaudhuri/Ganti/Kaushik 2006; the PPJoin candidate rule) — the
    exact production counterpart of MinHash-LSH: no false negatives BY
    THEOREM, no false positives BY VERIFICATION, no probabilistic bound.

    The pigeonhole rule: order each document's distinct tokens by global
    rarity (frequency asc, token asc — one total order corpus-wide), and
    keep only the first ``|d| - ceil(t * |d|) + 1`` as its PREFIX. Two
    sets with Jaccard >= t must overlap in >= t/(1+t)·(|A|+|B|) tokens,
    so they cannot avoid sharing a prefix token — candidates are pairs
    sharing at least one, everything else is provably below threshold.
    Rarity ordering makes prefixes collide rarely (the hot token a
    thousand docs share is almost never in a prefix), which is the whole
    economy: candidate volume tracks the true-pair count, not the
    quadratic all-pairs count.

    Shapes at 100 TB: two explode + hash-aggregate passes (token
    frequency, per-doc ordering), a candidate self-join keyed on rare
    prefix tokens with PPJoin's LENGTH filter applied at the candidate
    stage (Jaccard >= t forces ``t*|A| <= |B| <= |A|/t``, so every
    size-mismatched pair dies before the verification join touches full
    token lists), and one verification join computing exact |A∩B| by
    counting shared tokens per candidate pair. Every shuffle is keyed
    on tokens or pair ids; nothing is quadratic in the corpus.

    Float hardening: the prefix length and size band use a 1e-9 epsilon
    on the ``ceil``/``floor`` so a float rounding ABOVE an exact integer
    boundary can only lengthen the prefix / widen the band — extra
    candidates, never a missed pair (the verification join is exact
    either way).

    Returns (id_a, id_b, jaccard) for id_a < id_b, jaccard rounded at
    this single site (one integer division per pair — cross-engine
    exact).
    """
    toks = _distinct_tokens(df, id_col, text_col)
    sizes = toks.groupBy("_id").agg(F.count(F.lit(1)).alias("sz"))
    cands = jaccard_prefix_candidates(df, id_col, text_col, threshold)
    ta = toks.select(F.col("_id").alias("id_a"), "tok")
    tb = toks.select(F.col("_id").alias("id_b"), "tok")
    inter = (
        cands.join(ta, "id_a")
        .join(tb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def ngram_contamination(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Flag corpus documents sharing any word ``n``-gram with an eval set.

    Test-set decontamination, the curation step that keeps benchmark text
    out of training data (the n-gram-overlap method used for public-corpus
    decontamination). Returns one row per contaminated document:
    ``(id_col, n_shared_ngrams)`` where the count is over DISTINCT corpus
    n-grams that also occur anywhere in the eval set.

    Shape at 100 TB: the eval side (benchmarks, ~MBs) aggregates to a
    distinct n-gram table that is *broadcast*; the corpus side is a single
    scan -> shingle projection -> explode, joined map-side with zero
    shuffle of corpus bytes. Only matched (id, ngram) rows — a tiny
    fraction — reach the final groupBy shuffle. No O(corpus x eval) pair
    set ever materializes.
    """
    ev = (
        eval_docs.select(
            F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("ngram")
        )
        .distinct()
    )
    corp = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("ngram"),
    )
    return (
        corp.join(F.broadcast(ev), "ngram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )
