"""Sampling / dataset-splitting operators for training-data pipelines.

A 100 TB corpus is never consumed whole: it is split (train/valid/test),
stratified (per-language, per-source quotas), and subsampled (per-group
caps against domination by one crawl). Three primitives cover those, all
shuffle-free or single-shuffle:

* **Deterministic hash split** — membership is a pure function of the row id
  (md5-derived uniform hash), so the split is stable across runs, engines,
  cluster sizes, and row order: the property that makes a train/test split
  reproducible and leak-free forever. No shuffle at all — a narrow projection
  + filter, trivially parallel at any scale.
* **Stratified sample** — per-stratum Bernoulli fractions via ``sampleBy``
  (seeded, map-side, no shuffle). Rates are exact-in-expectation, not exact
  counts — the scale-friendly trade every distributed sampler makes.
* **Per-group deterministic top-n** — cap each group's row count, choosing
  survivors by hash order (not arrival order, which is nondeterministic in a
  distributed scan). One shuffle on the group key; ``WindowGroupLimit``
  short-circuits rows past rank n before the final filter.

The hash is md5-based (not ``xxhash64``) on purpose: md5 exists in every
engine (DuckDB oracle, Trino, Snowflake …), making split membership portable
and auditable outside Spark.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BUCKETS = 10_000


def uniform_hash(c: Column, salt: str = "") -> Column:
    """Uniform 32-bit integer from any column, stable across engines.

    First 8 hex chars of md5(value || salt) as a long. DuckDB dual:
    ``CAST(('0x' || substring(md5(v || salt), 1, 8)) AS UBIGINT)``.
    """
    salted = F.concat(c.cast("string"), F.lit(salt))
    return F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("long")


def split_bucket(c: Column, salt: str = "split") -> Column:
    """Hash bucket in [0, BUCKETS) — the unit of split assignment."""
    return uniform_hash(c, salt) % BUCKETS


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Tag each row with a deterministic split name ('train'/'valid'/...).

    ``weights`` maps split name -> fraction (must sum to ≤ 1; any remainder
    falls into the last split). Membership depends only on (id, salt):
    re-running on a re-partitioned, re-ordered, or incrementally-grown corpus
    never moves an existing row between splits.
    """
    weights = weights or {"train": 0.8, "valid": 0.1, "test": 0.1}
    bucket = split_bucket(F.col(id_col), salt)
    expr = None
    hi = 0
    names = list(weights)
    for name in names[:-1]:
        hi += int(weights[name] * BUCKETS)
        cond = bucket < hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sample (seeded ``sampleBy``; map-side, no shuffle).

    Deterministic for a fixed partitioning of the input; NOT portable across
    engines (Spark's internal sampler) — checked by pytest rate assertions,
    not a SQL oracle.
    """
    return df.sampleBy(strata_col, fractions, seed)


def per_group_sample(
    df: DataFrame, group_col: str, id_col: str, n: int, salt: str = "cap"
) -> DataFrame:
    """Keep a deterministic cap of n rows per group, chosen by hash order.

    Survivors are the n smallest ``uniform_hash(id)`` per group (ties broken
    by id) — a uniform random-but-reproducible subset, independent of scan
    order. Compiles to one shuffle on the group key with the
    ``WindowGroupLimit`` short-circuit dropping rows past rank n early.
    """
    h = uniform_hash(F.col(id_col), salt)
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n)
        .drop("sample_rank")
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
) -> DataFrame:
    """Weighted random sample without replacement of k rows, deterministic.

    Efraimidis–Spirakis A-ES priorities: each row gets key u^(1/w) for a
    uniform u and weight w, and the k largest keys win — exactly weighted
    sampling without replacement. u is md5-derived (``uniform_hash``), so
    the draw is reproducible across runs, engines, partitionings, and row
    orders; NULL and non-positive weights are clamped to 1.0 (an A-ES
    precondition — and NULL must be coalesced EXPLICITLY: under
    three-valued logic ``when(w <= 0, ...)`` passes NULL through to the
    key, silently un-sampling those rows) — fractional
    weights in (0, 1) are honored as written. We compare ln(u)/w (monotone in u^(1/w), numerically safer
    near u^tiny ≈ 1), u = (h+1)/2^32 ∈ (0, 1].

    Distributed shape is identical to ``reservoir_sample``:
    ``orderBy(key).limit(k)`` compiles to ``TakeOrderedAndProject`` — each
    partition keeps a local k-heap and the driver merges heaps, no global
    sort, no sequential state, no skew exposure. The selection key is NOT
    emitted: the only cross-engine float sensitivity is the k-th/k+1-th
    boundary, where a libm ulp flip would need two independent md5-derived
    keys within ~1e-16 relative — vanishing, and far inside the repo's
    knife-edge budget for emitted values (which stay integer/string here).
    """
    w = F.coalesce(F.col(weight_col).cast("double"), F.lit(1.0))
    w = F.when(w <= 0, F.lit(1.0)).otherwise(w)
    u = (uniform_hash(F.col(id_col), salt) + F.lit(1)).cast("double") / F.lit(
        4294967296.0
    )
    key = F.log(u) / w
    return df.orderBy(key.desc(), F.col(id_col).asc()).limit(k)


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    n: int,
    salt: str = "wgroup",
) -> DataFrame:
    """k-per-group weighted sample without replacement, deterministic
    (the multi-draw twin of ``weighted_sample``).

    One Efraimidis–Spirakis draw PER GROUP: within each group the n rows
    with the largest A-ES priority ln(u)/w survive — an exact weighted
    without-replacement sample of that group. This is the quota shape a
    training-data mixer needs (per-language / per-source caps where
    longer or higher-quality documents should win proportionally more
    seats than a uniform cap gives them), which neither ``weighted_sample``
    (one global draw) nor ``per_group_sample`` (uniform within group)
    expresses.

    u is md5-derived as in ``weighted_sample`` so the draw is exactly
    reproducible cross-engine (row_number over the same key in any SQL
    dialect); NULL/non-positive weights clamp to 1.0 the same way.

    Distributed shape: ONE shuffle on the group key; the rank filter sits
    directly on the row_number window, so ``WindowGroupLimit`` discards
    rows past rank n before the filter — per-group state is an n-heap, no
    global sort, no skew beyond the group key itself.
    """
    w = F.coalesce(F.col(weight_col).cast("double"), F.lit(1.0))
    w = F.when(w <= 0, F.lit(1.0)).otherwise(w)
    u = (uniform_hash(F.col(id_col), salt) + F.lit(1)).cast("double") / F.lit(
        4294967296.0
    )
    key = F.log(u) / w
    win = Window.partitionBy(group_col).orderBy(key.desc(), F.col(id_col).asc())
    return (
        df.withColumn("draw_rank", F.row_number().over(win))
        .filter(F.col("draw_rank") <= n)
    )


def reservoir_sample(df: DataFrame, id_col: str, k: int, salt: str = "reservoir") -> DataFrame:
    """Fixed-size global sample of k rows: the k smallest ``uniform_hash(id)``
    (ties broken by id).

    Distributionally a uniform k-subset like classic reservoir sampling,
    but deterministic, engine-portable (md5 hash order), and embarrassingly
    distributed: ``orderBy(hash).limit(k)`` compiles to
    ``TakeOrderedAndProject`` — each partition keeps only its local top-k
    and the driver merges k-sized heaps, so there is no global sort, no
    sequential reservoir state, and no skew exposure at any corpus size.
    """
    h = uniform_hash(F.col(id_col), salt)
    return df.orderBy(h.asc(), F.col(id_col).asc()).limit(k)
