"""Distributed exact ranking without a data-sized single-task sort.

The naive exact rank — ``row_number() OVER (ORDER BY value)`` or a per-key
variant whose key cardinality is small — funnels every row of a partition
through one task (the scale wall the weighted median hit).
``two_phase_rank`` splits it:

1. rows hash into coarse BUCKETS of the sort key (a value-range or
   key-prefix expression whose occupied-bucket count is bounded by the
   VALUE DOMAIN — cents ranges, 2-char prefixes — not the data);
2. per-(partition, bucket) counts roll up and a window over that SMALL
   rollup turns them into bucket rank offsets;
3. ``row_number`` runs partitioned per (partition, bucket), and the
   global rank is ``offset + in-bucket row number``.

Phase-2's window is the only unpartitioned (or key-partitioned) sort and
it touches one row per occupied bucket. Residual skew is bounded by the
largest single bucket, tunable via the bucket expression's granularity.

Used by ``agg_gini_customer_revenue`` (value-range buckets) and
``dedup_sorted_neighborhood`` (key-prefix buckets); at 64x data the
split cut wall time 5.2x for gini and 7.2x for sorted_neighborhood.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import persist_scoped

# Self-enforcing broadcast bound for the bucket-offset frame: the offset
# rows are narrow (partition keys + _bkt + long offsets), so 1M rows is
# ~32-64 MB broadcast — comfortably driver-safe — while anything growing
# with the data blows past it immediately. Above the bound the join degrades
# to sort-merge (the join that SPILLS, where a forced broadcast of a
# data-sized frame exhausts driver memory), so a caller whose bucket
# expression turns out to be data-sized gets a slower-but-correct plan
# instead of a driver OOM.
BROADCAST_BUCKET_LIMIT = 1_000_000


def two_phase_rank(
    df: DataFrame,
    bucket: Column,
    order_cols: list[str],
    partition_cols: list[str] | None = None,
    rank_col: str = "r",
) -> DataFrame:
    """Append a dense 1-based global rank computed in two phases.

    ``bucket`` must be monotone in the sort order: every value in bucket
    b sorts before every value in bucket b+1 (true for value-range
    divisions and sort-key prefixes). ``order_cols`` breaks ties within
    a bucket; include a unique id for a deterministic rank, or rely on
    rank-sum invariance (e.g. Gini's SUM(i*x)) when ties may permute.
    """
    part = list(partition_cols or [])
    b = df.withColumn("_bkt", bucket)
    per_b = b.groupBy(*part, "_bkt").agg(
        F.count(F.lit(1)).cast("long").alias("_n_b")
    )
    wb = (
        Window.partitionBy(*part) if part else Window.partitionBy()
    ).orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = per_b.withColumn(
        "_off", F.coalesce(F.sum("_n_b").over(wb), F.lit(0)).cast("long")
    ).select(*part, "_bkt", "_off")
    wi = Window.partitionBy(*part, "_bkt").orderBy(*order_cols)
    return (
        _nullsafe_bucket_join(b, offs, part)
        .withColumn(rank_col, F.col("_off") + F.row_number().over(wi))
        .drop("_bkt", "_off", "_n_b")
    )


def _nullsafe_bucket_join(b: DataFrame, offs: DataFrame, part: list[str]) -> DataFrame:
    """Join the data side to the bucket-offset frame NULL-SAFELY.

    A plain equi-join on ``_bkt`` silently DROPS rows whose bucket is NULL
    (a NULL sort value buckets to NULL) — no registered consumer feeds NULL
    sort keys, but the helper must not lose rows (the NULL-contract tests
    pin this). NULLs sort FIRST in both the naive window and the bucket
    windows, so with a null-safe equality the NULL bucket is simply the
    first bucket and every offset stays correct.

    CONTRACT, SELF-ENFORCING: callers should bound the occupied
    bucket count by the VALUE DOMAIN of their bucket expression (cents
    ranges, 2-char prefixes), never by data size — the broadcast is what
    makes phase 3 shuffle-free. But "the planner's post-agg estimate
    WILL eventually lie" cuts both ways for forced hints (a 256x-data
    probe exhausted driver memory on exactly this shape), so the helper no
    longer trusts the contract blindly: ``offs`` is persisted (it is the
    phase-1 aggregate — the join consumes the same cached frame, so the
    extra action re-reads cache, not lineage) and COUNTED, and above
    ``BROADCAST_BUCKET_LIMIT`` the join degrades to sort-merge instead
    of broadcasting a data-sized frame through the driver.
    """
    keys = part + ["_bkt"]
    renamed = offs
    for k in keys:
        renamed = renamed.withColumnRenamed(k, f"_o_{k}")
    renamed = persist_scoped(renamed, "ranking_bucket_offsets")
    n_buckets = renamed.count()
    side = (
        F.broadcast(renamed)
        if n_buckets <= BROADCAST_BUCKET_LIMIT
        else renamed.hint("merge")
    )
    # Measured trade (sf0.1, warm mins): forced-broadcast-no-guard
    # gini 0.62 / spearman 0.69; this guard 1.10 / 1.07; no-hint-AQE
    # 0.94 / 0.95. The +0.3-0.45 s is the serialized count job — local
    # bench noise at cluster scale — and the AQE alternative, though
    # locally cheaper, shuffles the FULL DATA SIDE before its runtime
    # conversion (petabyte I/O at 100 TB), so the guarded forced
    # broadcast is the scale-correct posture.
    cond = None
    for k in keys:
        c = b[k].eqNullSafe(renamed[f"_o_{k}"])
        cond = c if cond is None else cond & c
    return b.join(side, cond).drop(
        *[f"_o_{k}" for k in keys]
    )


def two_phase_running(
    df: DataFrame,
    bucket: Column,
    order_cols: list[str],
    specs: list[tuple[str, str, str]],
    partition_cols: list[str] | None = None,
    current_row: bool = True,
) -> DataFrame:
    """Append running aggregates (cumulative SUM / MAX over the sort
    order) computed in the same two phases as :func:`two_phase_rank` — the
    reshape for ``SUM/MAX(x) OVER (ORDER BY v)`` when the ordered domain is
    value-bounded but still large enough that one window task is a 100x wall
    (the skyline cumulative-max and the KS CDF sums are windows of this
    class).

    ``specs`` is ``[(src_col, fn, out_col)]`` with ``fn`` in
    {"sum", "max"}; ``bucket`` must be monotone in ``order_cols`` (value
    ranges). ``current_row=True`` ends the frame at CURRENT ROW (CDF
    semantics); ``False`` at the preceding row (strict "best so far",
    matching ``rowsBetween(unboundedPreceding, -1)``).

    Semantics match the naive global window EXACTLY, including NULLs: a
    running sum/max is NULL iff its frame is empty (the first row under a
    strict frame) or every framed value is NULL — coalescing that to 0 would
    silently diverge from ``SUM() OVER`` on the empty strict frame. Sum
    sources must be integral types (byte/short/int/long) — outputs are
    normalized to long, and a double/decimal source would silently truncate,
    so it is rejected loudly here.

    Phase-2's serial window touches one row per occupied bucket; the
    per-bucket phase-3 windows run in parallel with skew bounded by the
    largest bucket (tunable via bucket granularity). Sums stay exact
    integers: offsets and in-bucket partials are the same longs the
    single window would accumulate, added once.
    """
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    for s, fn, _ in specs:
        if fn not in ("sum", "max"):
            raise ValueError(f"unsupported running fn: {fn!r}")
        if fn == "sum":
            dt = df.schema[s].dataType
            if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
                raise ValueError(
                    f"two_phase_running sum source {s!r} has type {dt}; "
                    "only integral types are supported (outputs are "
                    "long) — cast or rescale at the call site"
                )
    part = list(partition_cols or [])
    b = df.withColumn("_bkt", bucket)
    per_b = b.groupBy(*part, "_bkt").agg(
        *[
            (F.sum(s) if fn == "sum" else F.max(s)).alias(f"_p_{out}")
            for s, fn, out in specs
        ]
    )
    wb = (
        Window.partitionBy(*part) if part else Window.partitionBy()
    ).orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = per_b.select(
        *part,
        "_bkt",
        *[
            # uncoalesced: NULL means "no preceding bucket / all framed
            # values NULL", which must propagate into the combine below
            (
                F.sum(f"_p_{out}").over(wb).cast("long")
                if fn == "sum"
                else F.max(f"_p_{out}").over(wb)
            ).alias(f"_off_{out}")
            for _, fn, out in specs
        ],
    )
    end = 0 if current_row else -1
    wi = (
        Window.partitionBy(*part, "_bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    out = _nullsafe_bucket_join(b, offs, part)
    for s, fn, o in specs:
        if fn == "sum":
            # SUM() OVER semantics: NULL iff both the in-bucket frame
            # and every preceding bucket contribute nothing; otherwise
            # NULL halves count as 0 (SUM skips NULLs)
            in_b = F.sum(s).over(wi).cast("long")
            off = F.col(f"_off_{o}")
            out = out.withColumn(
                o,
                F.when(
                    in_b.isNull() & off.isNull(), F.lit(None).cast("long")
                ).otherwise(
                    F.coalesce(in_b, F.lit(0)) + F.coalesce(off, F.lit(0))
                ),
            )
        else:
            # greatest() skips NULLs; NULL only when no preceding value
            # exists anywhere (first row under a strict frame)
            out = out.withColumn(
                o, F.greatest(F.max(s).over(wi), F.col(f"_off_{o}"))
            )
    return out.drop("_bkt", *[f"_off_{o}" for _, _, o in specs])
