"""Frequency-sketch operators: Misra-Gries heavy hitters, count-min sketch.

The streaming/distributed classic for "top items without a full groupBy":
each partition maintains at most ``k`` counters (Misra & Gries 1982); the
per-partition summaries merge by per-item addition (Agarwal et al.,
"Mergeable Summaries", PODS 2012). The merged estimate underestimates the
true count by at most ``n/(k+1)`` (n = total rows), so every item with
true frequency above ``n/(k+1)`` is GUARANTEED present in the merged
summary — the candidate-superset property the certification query pins.

Why this exists next to an exact ``groupBy(item).count()``: at 100 TB with
a high-cardinality item domain (URLs, n-grams, user agents) the exact
aggregate shuffles one row per distinct item; the MG summary ships at most
``k`` rows per partition — constant-size map-side state, no skew exposure —
and the usual pattern is MG candidates -> one cheap exact-count semi-join
to finalize. Here the item pass itself is vectorized per Arrow batch
(pandas ``value_counts`` merged into the counter dict, then one
quantile-select decrement instead of row-at-a-time decrements), keeping
the Python path batch-shaped.
"""

from __future__ import annotations

import bisect
import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _shrink(counters: dict, k: int) -> None:
    """Reduce to <= k counters: subtract the (len-k)-th smallest count from
    every counter and drop the non-positive ones. Exactly k+1-or-more items
    lose that amount or die, so every unit of per-item decrement removes
    >= k+1 units of total weight — the invariant behind the n/(k+1) bound.
    """
    if len(counters) <= k:
        return
    counts = sorted(counters.values())
    v = counts[len(counters) - k - 1]
    for item in list(counters):
        nxt = counters[item] - v
        if nxt > 0:
            counters[item] = nxt
        else:
            del counters[item]


def _merge_batch(counters: dict, batch_counts, k: int) -> int:
    """Merge one Arrow batch's full ``value_counts`` into the counter dict,
    then prune ONCE — the Mergeable-Summaries merge step (union-add two
    summaries, one shrink back to <= k counters). Each shrink's per-item
    decrement still removes >= k+1 units of total weight, so the summed
    decrement — and hence the underestimate — stays <= n/(k+1) no matter
    how the stream is batched. Returns the number of shrink passes (0 or
    1), pinned by pytest so the per-item-insertion shrink regression
    cannot silently return.
    """
    for item, cnt in batch_counts.items():
        counters[item] = counters.get(item, 0) + int(cnt)
    if len(counters) <= k:
        return 0
    _shrink(counters, k)
    return 1


def misra_gries_summary(df: DataFrame, item_col: str, k: int = 8) -> DataFrame:
    """Merged Misra-Gries summary: (item, est_count), at most k rows per
    input partition before the merge, estimates underestimating true
    counts by at most n/(k+1) in total.

    NULL items are ignored (they are not frequency candidates). The result
    is a candidate SUPERSET for heavy hitters: filter/verify with an exact
    count of just the candidates when exact values matter. The per-batch
    pass is vectorized: pandas ``value_counts`` merges into the dict in
    one sweep with a SINGLE sort-based shrink per batch (O(batch +
    k log k)), not one shrink per distinct item.
    """
    item_type = df.schema[item_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("item", item_type),
            T.StructField("est_count", T.LongType()),
        ]
    )

    def summarize(batches):
        counters: dict = {}
        for pdf in batches:
            _merge_batch(counters, pdf[item_col].value_counts(dropna=True), k)
        if counters:
            yield pd.DataFrame(
                {"item": list(counters), "est_count": list(counters.values())}
            )

    partials = df.select(item_col).mapInPandas(summarize, schema=out_schema)
    return partials.groupBy("item").agg(F.sum("est_count").alias("est_count"))


# --- count-min sketch -------------------------------------------------------
#
# Cormode & Muthukrishnan 2005, expressed ENTIRELY as DataFrame relational
# algebra — no UDFs, no driver state. The sketch is a (depth x width) cell
# table built with one hash-partitioned aggregate; point estimates are the
# min over depth cells. Hashes are md5-derived (same uniform_hash family as
# sampling), so the construction is bit-reproducible in any engine and the
# estimates carry an EXACT SQL dual — no literal-TRUE invariant oracles.
#
# 100 TB posture: the cell table is depth*width rows no matter how many
# input rows feed it (partial aggregation does the compression map-side),
# it merges across corpora by cell-wise addition, and it broadcasts for
# the probe join. est >= exact always; est <= exact + 2n/width w.h.p.


def cms_bucket(c, row_idx: int, width: int, salt: str = "cms"):
    """Bucket of ``c`` in hash row ``row_idx``: md5-derived, engine-portable.

    DuckDB dual: ``CAST(('0x' || substring(md5(v::VARCHAR || salt || i), 1, 8))
    AS UBIGINT) % width``.
    """
    salted = F.concat(c.cast("string"), F.lit(salt), F.lit(str(row_idx)))
    h = F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("long")
    return (h % width).cast("int")


def cms_cells(
    df: DataFrame,
    item_col: str,
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 256,
    salt: str = "cms",
) -> DataFrame:
    """Count-min cell table: (row_idx, bucket, cell_count), <= depth*width rows.

    Each input row adds its weight (1 if ``weight_col`` is None) to one
    bucket per hash row. Compiles to explode + one hash aggregate whose
    grouping domain is depth*width cells — partial aggregation collapses
    the stream map-side, so the shuffle carries at most depth*width rows
    per task regardless of input size. Sketches over disjoint corpora
    merge by summing cell_count per (row_idx, bucket).
    """
    wcol = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    entries = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row_idx"),
                    cms_bucket(F.col(item_col), i, width, salt).alias("bucket"),
                )
                for i in range(depth)
            ]
        )
    ).alias("cell")
    return (
        df.select(entries, wcol.alias("w"))
        .groupBy("cell.row_idx", "cell.bucket")
        .agg(F.sum("w").alias("cell_count"))
    )


def cms_point_estimates(
    probes: DataFrame,
    cells: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 256,
    salt: str = "cms",
) -> DataFrame:
    """Point-frequency estimate per probe item: min over its depth cells.

    The cell table is broadcast (it is <= depth*width rows by
    construction), so probing is a map-side join — no shuffle of the probe
    side beyond its own final aggregate.
    """
    keyed = probes.select(
        F.col(item_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_idx"),
                        cms_bucket(F.col(item_col), i, width, salt).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("cell"),
    ).select(item_col, "cell.row_idx", "cell.bucket")
    return (
        keyed.join(F.broadcast(cells), ["row_idx", "bucket"], "inner")
        .groupBy(item_col)
        .agg(F.min("cell_count").alias("cms_estimate"))
    )


# --- KMV (k-minimum-values) distinct sketch ---------------------------------
#
# Bar-Yossef et al. 2002 / Beyer et al. 2007: keep the k smallest hash
# values of the distinct items; the k-th smallest U_(k) estimates the
# distinct count as (k-1) / (U_(k) / 2^32). Sketches over arbitrary
# corpora MERGE by "union hashes, keep k smallest" — which also gives
# distinct counts of UNIONS without re-reading either side, the property
# HLL shares but with an exactly-reproducible integer construction: the
# hash is the repo's md5-derived uniform_hash, so sketch contents and the
# estimate are bit-identical in any engine (exact DuckDB dual, no bound
# oracle needed).
#
# 100 TB posture: orderBy(h).limit(k) compiles to TakeOrderedAndProject —
# per-partition k-heaps merged on the driver, no global sort, sketch size
# k rows forever.


def kmv_sketch(df: DataFrame, item_col: str, k: int = 64, salt: str = "kmv") -> DataFrame:
    """The k smallest md5-derived hash values over DISTINCT items: one
    column ``h`` (long in [0, 2^32)), at most k rows.

    NULL items are ignored (consistent with ``misra_gries_summary``) —
    load-bearing, not cosmetic: md5(NULL) is NULL in both engines, and
    an un-filtered NULL hash would sort FIRST in Spark's ascending order
    but LAST in DuckDB's, silently poisoning the k-smallest set with a
    cross-engine divergence.
    """
    salted = F.concat(F.col(item_col).cast("string"), F.lit(salt))
    h = F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("long")
    return (
        df.filter(F.col(item_col).isNotNull())
        .select(h.alias("h"))
        .distinct()
        .orderBy(F.col("h").asc())
        .limit(k)
    )


# --- t-digest mergeable quantile sketch -------------------------------------
#
# Dunning & Ertl 2019 ("Computing extremely accurate quantiles using
# t-digests"), the MERGING-digest variant: a digest is a sorted list of
# (mean, weight) centroids whose sizes are capped by the k1 scale function
# k1(q) = (delta / 2pi) * asin(2q - 1) — fine centroids at the tails, coarse
# in the middle, so tail quantiles (p95/p99) keep high resolution at a fixed
# <= ~2*delta centroid budget. It completes the sketch family next to HLL
# (distinct), CMS (frequency), KMV (distinct-exact-dual), and MG (heavy
# hitters): the 100 TB answer to "exact percentile needs every value in one
# partition".
#
# Distributed shape: one ``mapInPandas`` pass builds a <= ~2*delta-centroid
# digest PER PARTITION (constant state per task, buffered compress —
# values are never globally sorted and never leave their partition), then
# digests MERGE by concatenating centroid lists and re-compressing: a few
# hundred rows per partition into one tiny aggregate. Merging is
# associative in rank-error terms (the bound below is preserved under any
# merge tree), which is what makes pre-aggregated rollups composable —
# the property ``sketch_tdigest_quantile_bounds`` certifies and the
# pytest mergeability test pins.
#
# Determinism: compression is a pure function of the sorted centroid
# multiset (the merge pass sorts by (mean, weight) first), so any merge
# order yields the same digest; per-partition digests depend only on the
# partition's row order (stable parquet scans). The certification query
# emits only cross-engine-exact values (exact quantiles) plus rank-space
# bound booleans, so parity hashes never see a sketch-dependent float.


def _k1(q: float, delta: float) -> float:
    return delta / (2.0 * math.pi) * math.asin(max(-1.0, min(1.0, 2.0 * q - 1.0)))


def _k1_inv(k: float, delta: float) -> float:
    return (math.sin(max(-delta / 4.0, min(delta / 4.0, k)) * 2.0 * math.pi / delta) + 1.0) / 2.0


def tdigest_compress(
    pairs: list[tuple[float, float]], delta: float = 100.0
) -> list[tuple[float, float]]:
    """One merging-digest compression pass: sorted (mean, weight) pairs in,
    <= ~2*delta centroids out, each centroid spanning at most one unit of
    the k1 scale function.

    Pure function of the input MULTISET (sorts internally), so repeated
    compression and any merge order converge to the same digest.
    """
    if not pairs:
        return []
    pairs = sorted(pairs)
    total = float(sum(w for _, w in pairs))
    out: list[tuple[float, float]] = []
    cur_m, cur_w = pairs[0]
    emitted = 0.0
    q_limit = _k1_inv(_k1(0.0, delta) + 1.0, delta)
    for m, w in pairs[1:]:
        q = (emitted + cur_w + w) / total
        if q <= q_limit:
            cur_w += w
            cur_m += (m - cur_m) * (w / cur_w)
        else:
            out.append((cur_m, cur_w))
            emitted += cur_w
            q_limit = _k1_inv(_k1(emitted / total, delta) + 1.0, delta)
            cur_m, cur_w = m, w
    out.append((cur_m, cur_w))
    return out


def tdigest_quantile(pairs: list[tuple[float, float]], q: float) -> float:
    """Quantile estimate from a digest: linear interpolation between
    centroid midpoints in cumulative-weight space (Dunning 2019 §2.9)."""
    if not pairs:
        return float("nan")
    pairs = sorted(pairs)
    if len(pairs) == 1:
        return pairs[0][0]
    total = sum(w for _, w in pairs)
    target = q * total
    mids: list[float] = []
    cum = 0.0
    for m, w in pairs:
        mids.append(cum + w / 2.0)
        cum += w
    if target <= mids[0]:
        return pairs[0][0]
    if target >= mids[-1]:
        return pairs[-1][0]
    i = bisect.bisect_right(mids, target) - 1
    frac = (target - mids[i]) / (mids[i + 1] - mids[i])
    return pairs[i][0] + frac * (pairs[i + 1][0] - pairs[i][0])


_TDIGEST_BUFFER = 4096


def tdigest_partials(
    df: DataFrame, value_col: str, delta: float = 100.0, weight_col: str | None = None
) -> DataFrame:
    """Per-partition t-digest centroids: (mean double, weight double) rows,
    <= ~2*delta per input partition.

    Buffered construction: raw values accumulate to ``_TDIGEST_BUFFER``
    then fold into the running centroid list with one compression pass —
    per-task memory is O(delta + buffer) regardless of partition size,
    and nothing is globally sorted. NULLs are ignored (not rank mass),
    matching the other sketches.

    ``weight_col`` makes the digest WEIGHTED (each row contributes
    ``weight`` units of rank mass, e.g. qty-weighted price quantiles) —
    centroid weights are native to the t-digest, so the sketch algebra is
    unchanged; rows with NULL or non-positive weight carry no rank mass
    and are dropped, mirroring the NULL-value rule.
    """
    schema = T.StructType(
        [
            T.StructField("mean", T.DoubleType()),
            T.StructField("weight", T.DoubleType()),
        ]
    )

    def digest(batches):
        centroids: list[tuple[float, float]] = []
        buf: list[tuple[float, float]] = []
        for pdf in batches:
            if weight_col is None:
                vals = pdf[value_col].dropna()
                buf.extend((float(v), 1.0) for v in vals)
            else:
                sub = pdf.dropna(subset=[value_col, weight_col])
                buf.extend(
                    (float(v), float(w))
                    for v, w in zip(sub[value_col], sub[weight_col])
                    if w > 0
                )
            if len(buf) >= _TDIGEST_BUFFER:
                centroids = tdigest_compress(centroids + buf, delta)
                buf = []
        if buf:
            centroids = tdigest_compress(centroids + buf, delta)
        if centroids:
            yield pd.DataFrame(
                {"mean": [m for m, _ in centroids], "weight": [w for _, w in centroids]}
            )

    cols = [value_col] if weight_col is None else [value_col, weight_col]
    return df.select(*cols).mapInPandas(digest, schema=schema)


def tdigest_grouped_partials(
    df: DataFrame,
    group_col: str,
    value_col: str,
    delta: float = 100.0,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-(partition, group) t-digest centroids: (group, mean, weight).

    The two-level grouped-percentile shape for skewed keys at 100 TB: the
    full value stream is digested map-side (state = groups-per-partition
    x ~2*delta centroids), so the ONE shuffle on the group key carries
    centroids, not values — a hot key ships a few hundred rows per
    partition instead of its entire value mass, which is the whole
    difference between p95-per-key working and one reducer dying.

    ``weight_col``: weighted digests per group (see
    :func:`tdigest_partials`) — NULL/non-positive weights carry no mass.
    """
    schema = T.StructType(
        [
            T.StructField(group_col, df.schema[group_col].dataType),
            T.StructField("mean", T.DoubleType()),
            T.StructField("weight", T.DoubleType()),
        ]
    )

    def digest(batches):
        state: dict = {}
        for pdf in batches:
            # dropna=False: NULL group keys are real groups (the exact
            # Spark/DuckDB sides keep them); only NULL VALUES are dropped.
            sub_cols = [value_col] if weight_col is None else [value_col, weight_col]
            for g, sub in pdf.dropna(subset=sub_cols).groupby(
                group_col, dropna=False
            ):
                centroids, buf = state.get(g, ([], []))
                if weight_col is None:
                    buf = buf + [(float(v), 1.0) for v in sub[value_col]]
                else:
                    buf = buf + [
                        (float(v), float(w))
                        for v, w in zip(sub[value_col], sub[weight_col])
                        if w > 0
                    ]
                if len(buf) >= _TDIGEST_BUFFER:
                    centroids = tdigest_compress(centroids + buf, delta)
                    buf = []
                state[g] = (centroids, buf)
        rows = {group_col: [], "mean": [], "weight": []}
        for g, (centroids, buf) in state.items():
            if buf:
                centroids = tdigest_compress(centroids + buf, delta)
            for m, w in centroids:
                rows[group_col].append(g)
                rows["mean"].append(m)
                rows["weight"].append(w)
        if rows["mean"]:
            yield pd.DataFrame(rows)

    cols = [group_col, value_col] + ([] if weight_col is None else [weight_col])
    return df.select(*cols).mapInPandas(digest, schema=schema)


def tdigest_merged_quantiles(
    partials: DataFrame, qs: list[float], delta: float = 100.0
) -> DataFrame:
    """Merge a centroid frame into ONE digest and estimate each quantile:
    (q double, est double) rows.

    The input is <= partitions x ~2*delta rows by construction, so the
    single-group shuffle is a few kilobytes at any corpus size.
    """
    schema = T.StructType(
        [T.StructField("q", T.DoubleType()), T.StructField("est", T.DoubleType())]
    )

    def merge(_key, pdf):
        pairs = list(zip(pdf["mean"].astype(float), pdf["weight"].astype(float)))
        digest = tdigest_compress(pairs, delta)
        return pd.DataFrame(
            {"q": qs, "est": [tdigest_quantile(digest, q) for q in qs]}
        )

    return (
        partials.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(merge, schema=schema)
    )


def tdigest_grouped_quantile(
    partials: DataFrame, group_col: str, q: float, delta: float = 100.0
) -> DataFrame:
    """Merge per-group centroids and estimate one quantile per group:
    (group, est) rows — the reduce side of ``tdigest_grouped_partials``."""
    schema = T.StructType(
        [
            T.StructField(group_col, partials.schema[group_col].dataType),
            T.StructField("est", T.DoubleType()),
        ]
    )

    def merge(key, pdf):
        pairs = list(zip(pdf["mean"].astype(float), pdf["weight"].astype(float)))
        digest = tdigest_compress(pairs, delta)
        return pd.DataFrame({group_col: [key[0]], "est": [tdigest_quantile(digest, q)]})

    return partials.groupBy(group_col).applyInPandas(merge, schema=schema)


def kmv_merge(*sketches: DataFrame, k: int = 64) -> DataFrame:
    """Union KMV sketches: distinct hashes, keep the k smallest — a valid
    KMV sketch of the UNION of the underlying sets."""
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.distinct().orderBy(F.col("h").asc()).limit(k)


def kmv_estimate(sketch: DataFrame, k: int) -> DataFrame:
    """Distinct-count estimate from a KMV sketch: one row, columns
    (n_sketch, kmv_estimate).

    If the sketch holds fewer than k hashes the set was smaller than k and
    the count is EXACT (= n_sketch); otherwise (k-1) * 2^32 / h_(k) — one
    float division from integers, rounded at this single site, so the
    value is reproducible cross-engine.
    """
    agg = sketch.agg(
        F.count(F.lit(1)).alias("n_sketch"), F.max("h").alias("h_k")
    )
    est = F.when(F.col("n_sketch") < k, F.col("n_sketch").cast("double")).otherwise(
        (F.lit(float(k - 1)) * F.lit(4294967296.0)) / F.col("h_k")
    )
    return agg.select("n_sketch", F.round(est, 4).alias("kmv_estimate"))


def mg_merge(summaries: list[DataFrame], k: int) -> DataFrame:
    """Merge Misra-Gries summaries into ONE <= k-counter summary — the
    Mergeable-Summaries merge step (Agarwal et al.): union-add the
    counter sets, then one shrink back to k counters. Each shrink's
    per-item decrement removes >= k+1 units of total weight, so the
    merged summary underestimates true counts by at most n_total/(k+1) —
    the same bound a from-scratch pass over the union would carry, which
    is what makes an INCREMENTAL store refresh sound: merging an arrival
    batch's summary into a persisted store summary never re-reads the
    store corpus.

    Inputs are (item, est_count) frames, each bounded (<= k counters per
    contributing partition); the union is collected to the driver for
    the exact rank-based shrink — bounded by construction, never
    data-sized.
    """
    if not summaries:
        raise ValueError("mg_merge needs at least one summary frame")
    first = summaries[0]
    merged = first
    for s in summaries[1:]:
        merged = merged.unionByName(s)
    agg = merged.groupBy("item").agg(F.sum("est_count").alias("est_count"))
    counters = {r["item"]: r["est_count"] for r in agg.collect()}
    _shrink(counters, k)
    spark = first.sparkSession
    item_type = first.schema["item"].dataType
    out_schema = T.StructType(
        [
            T.StructField("item", item_type),
            T.StructField("est_count", T.LongType()),
        ]
    )
    return spark.createDataFrame(
        [(i, int(c)) for i, c in counters.items()] or [], out_schema
    )
