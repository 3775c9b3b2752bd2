"""Second relational battery: subqueries, scalar-function suites, TPC-H classics.

Widens SURVEY.md §2.12 coverage beyond the reference's own surface:

* **Subquery forms** (EXISTS / IN / scalar / correlated) via the SQL entry
  path (S9) — these exercise Catalyst's subquery rewrite + decorrelation
  rules (``RewritePredicateSubquery`` turns EXISTS/IN into left-semi joins;
  correlated scalar subqueries decorrelate to an aggregate + join), so at
  100 TB they run as ordinary shuffled/broadcast joins, never per-row probes.
* **Date / string scalar-function suites** — one narrow oracle-checked
  projection each, pinning cross-engine semantics (1-based ``split_part``,
  Spark ``dayofweek`` = DuckDB ``dayofweek``+1, ISO ``weekofyear``).
* **TPC-H-shaped classics** (Q1/Q3/Q5 adapted to the test-data schema) — the
  canonical scan-heavy aggregate, mid-join top-k, and 6-way join workloads;
  their plans must show pushed filters, broadcast dims, and partial
  aggregation.

Every query has a DuckDB oracle dual in ``oracles.py`` (same name).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.merge import merge_into
from ..session import load_table, persist_scoped, register_views
from .analytics import query

# ===========================================================================
# Subquery forms (Catalyst decorrelation; reference has none — SURVEY §2.12)
# ===========================================================================


@query
def subquery_exists_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join: customers with at least one URGENT order.

    Catalyst's RewritePredicateSubquery plans this as a semi join on
    c_custkey — a single shuffle (or broadcast if orders aggregates small),
    not a per-row probe.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
        )
        ORDER BY c_custkey
        """
    )


@query
def subquery_in_heavy_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (subquery) → left-semi join: parts ever shipped with quantity > 45."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, p_brand
        FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
        ORDER BY p_partkey
        """
    )


@query
def subquery_scalar_above_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: parts priced above the global average.

    Plans as a single-row broadcast (SubqueryExec) feeding a pushed filter;
    the average is rounded to 4 dp in both duals so the comparison boundary
    is bit-identical across engines.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, round(p_retailprice, 2) AS retail_price
        FROM part
        WHERE p_retailprice > (SELECT round(avg(p_retailprice), 4) FROM part)
        ORDER BY p_partkey
        """
    )


@query
def subquery_correlated_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: suppliers above their nation's average
    balance. Catalyst decorrelates to (per-nation aggregate) ⋈ supplier —
    one partial+final agg and one join, no nested-loop re-execution.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT s_suppkey, s_nationkey, round(s_acctbal, 2) AS acctbal
        FROM supplier s
        WHERE s_acctbal > (
            SELECT round(avg(s2.s_acctbal), 4)
            FROM supplier s2
            WHERE s2.s_nationkey = s.s_nationkey
        )
        ORDER BY s_suppkey
        """
    )


@query
def join_lateral_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI LATERAL subquery with correlated ORDER BY + LIMIT: each
    nation's top-3 customers by account balance. Catalyst decorrelates
    the per-row subquery into ``WindowGroupLimit`` + one broadcast join —
    no nested-loop re-execution, no cartesian product (plan-contract
    pinned) — so the "top-N per outer row" idiom costs one shuffle at
    any scale. DuckDB runs the identical LATERAL text.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM nation n,
        LATERAL (
            SELECT c_name, round(c_acctbal, 2) AS c_acctbal FROM customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name LIMIT 3
        ) c
        ORDER BY n_name, c_acctbal DESC, c_name
        """
    )


@query
def recursive_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4 recursive CTE): walk each sampled
    customer's orders in date order, carrying a running total along the
    chain — an inherently sequential per-entity recursion Spark executes
    as iterated joins against the previous frontier. The recursion is
    acyclic (successor = next row_number) and depth-bounded in the join
    condition (pos <= 5), so the frontier shrinks monotonically; DuckDB
    runs the IDENTICAL text and per-step round(2) keeps the float chain
    bit-reproducible across engines. For unbounded-depth graph closure
    the iterative-DataFrame form (``dedup.cluster_pairs``) remains the
    scale path; this pins the ANSI recursive surface itself.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE ordered AS (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ) AS pos
          FROM orders WHERE o_custkey % 10 = 0
        ), walk AS (
          SELECT o_custkey, pos, o_orderkey,
                 round(o_totalprice, 2) AS running_total
          FROM ordered WHERE pos = 1
          UNION ALL
          SELECT o.o_custkey, o.pos, o.o_orderkey,
                 round(w.running_total + o.o_totalprice, 2)
          FROM walk w
          JOIN ordered o
            ON o.o_custkey = w.o_custkey AND o.pos = w.pos + 1 AND o.pos <= 5
        )
        SELECT o_custkey, pos, o_orderkey, running_total FROM walk
        ORDER BY o_custkey, pos
        """
    )


# ===========================================================================
# Scalar-function suites (F-series breadth; all codegen'd built-ins)
# ===========================================================================


@query
def scalar_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic battery over orders: add/diff/trunc/last_day/extract.

    Cross-engine notes pinned here: Spark ``dayofweek`` is 1=Sunday..7 while
    DuckDB's is 0=Sunday..6 (oracle adds 1); ``weekofyear`` is ISO in both.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_add(F.col("o_orderdate"), 30).alias("due_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate")).alias(
            "days_to_epoch_end"
        ),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.last_day(F.col("o_orderdate")).alias("month_end"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.dayofweek("o_orderdate").alias("order_dow"),
        F.weekofyear("o_orderdate").alias("order_week"),
    )  # unsorted: order-insensitive compare; sort sampling would rescan


@query
def scalar_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function battery over part: case/slice/pad/split/regex/edit
    distance — all JVM built-ins with exact DuckDB equivalents."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.lpad("p_brand", 12, "*").alias("brand_padded"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.translate("p_type", "AEIOU", "aeiou").alias("type_translated"),
        F.regexp_extract("p_brand", r"(\d+)", 1).alias("brand_num"),
        F.levenshtein("p_brand", F.lit("Brand#11")).alias("brand_edit_dist"),
        F.length("p_name").alias("name_len"),
    )  # unsorted: order-insensitive compare; sort sampling would rescan


@query
def scalar_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-function battery over part, completing the scalar trio (date,
    string, math): abs/ceil/floor/pow/sqrt/exp/log10/mod/sign/greatest/
    least — all JVM built-ins; transcendentals round(6), far above libm
    ulp differences between engines."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.round(F.abs(F.col("p_retailprice") - 1500.0), 2).alias("abs_delta"),
        F.ceil(F.col("p_retailprice") / 100.0).alias("price_ceil"),
        F.floor(F.col("p_retailprice") / 100.0).alias("price_floor"),
        F.pow(F.col("p_size").cast("double"), 2).alias("size_sq"),
        F.round(F.sqrt(F.col("p_size").cast("double")), 6).alias("size_sqrt"),
        F.round(F.exp(F.col("p_size") / 100.0), 6).alias("size_exp"),
        F.round(F.log10(F.col("p_size").cast("double")), 6).alias("size_log10"),
        (F.col("p_size") % 7).alias("size_mod7"),
        F.signum(F.col("p_retailprice") - 1500.0).alias("price_sign"),
        F.greatest(F.col("p_size"), F.lit(25)).alias("size_hi"),
        F.least(F.col("p_size"), F.lit(25)).alias("size_lo"),
    )  # unsorted: order-insensitive compare, like the string battery


# ===========================================================================
# MERGE / upsert (engine-native Delta MERGE INTO — operators/merge.py)
# ===========================================================================


@query
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO orders: double the price of every 10th order (update),
    insert shifted-key copies of every (10k+5)th (insert), keep the rest.

    The source carries only (key, price): updates preserve the target's
    other columns; inserts leave them NULL — Delta MERGE column semantics.
    """
    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
    )
    inserts = orders.filter(F.col("o_orderkey") % 10 == 5).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit(1.0).alias("o_totalprice"),
    )
    merged = merge_into(orders, updates.unionByName(inserts), keys=["o_orderkey"])
    # unsorted: order-insensitive compare; a global sort's sampling pass
    # would execute the full-outer join twice
    return merged.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
        "o_orderstatus",
    )


@query
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two full snapshots of orders: a
    simulated next-day dump deletes every 101st key, bumps every 97th
    key's price by 10.00, and inserts shifted-key copies of every 103rd;
    ``snapshot_diff`` (operators/merge.py) recovers exactly that change
    feed from the two snapshots via one full-outer key join — the
    warehouse-export CDC path for sources without a native change feed.
    The price delta is an exact-in-double addition, so both engines agree
    bit-for-bit.
    """
    from ..operators.merge import snapshot_diff

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    key = F.col("o_orderkey")
    survivors = base.filter(key % 101 != 0)
    updated = survivors.withColumn(
        "o_totalprice",
        F.when(key % 97 == 0, F.col("o_totalprice") + 10.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    inserts = base.filter(key % 103 == 0).select(
        (key + 20_000_000).alias("o_orderkey"), "o_totalprice"
    )
    new_snap = updated.unionByName(inserts)
    diff = snapshot_diff(base, new_snap, ["o_orderkey"], ["o_totalprice"])
    return diff.select(
        "o_orderkey",
        "change_type",
        F.round("old_o_totalprice", 2).alias("old_price"),
        F.round("new_o_totalprice", 2).alias("new_price"),
    ).orderBy("o_orderkey")


# ===========================================================================
# TPC-H classics adapted to the test-data schema
# ===========================================================================


@query
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: full-scan filter + 6-aggregate rollup per flag/status.

    The canonical partial-aggregation workload: the scan filter pushes to
    parquet, and the map-side partial agg reduces ~600k rows to 6 groups
    before the (tiny) shuffle — the plan every 100 TB aggregate wants.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + revenue agg + deterministic top-10.

    Orders/lineitem date filters push below the join; the LIMIT compiles to
    TakeOrderedAndProject so only 10 rows per partition survive the final
    exchange. o_orderkey in the sort key makes the cut deterministic.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15").cast("timestamp")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, customer.c_custkey == orders.o_custkey)
        .filter(F.col("o_orderdate") < cutoff)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(10)
    )


@query
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join (2 broadcast dims) with the local-supplier
    equality (c_nationkey = s_nationkey) applied as a post-join filter.

    region/nation broadcast; customer/orders/lineitem/supplier shuffle on
    their join keys. AQE picks broadcast for supplier too at small SF —
    at 100 TB it degrades gracefully to shuffled hash joins.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(
            supplier,
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# ===========================================================================
# Stream-stream interval join — batch dual (streaming/pipeline.py)
# ===========================================================================


@query
def events_view_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases within 1 hour of a same-user view (interval join dual).

    Batch dual of ``streaming.attributed_conversions``: identical code path
    (watermarks no-op on batch), oracle-checked against a DuckDB band join.
    """
    from ..streaming.pipeline import attributed_conversions

    events = load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view")
    purchases = events.filter(F.col("event_type") == "purchase")
    # unsorted: sort sampling would re-run the interval join
    return attributed_conversions(views, purchases)


@query
def scd2_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history from three synthetic snapshot dates.

    v1 (2020-01-01): every customer's segment; v2 (2020-06-01): every third
    customer re-segmented; v3 (2021-01-01): identical re-observation of v2 —
    which must COLLAPSE into v2's interval, proving change-point detection.
    """
    from ..operators.merge import scd2_history

    customer = load_table(spark, sf_dir, "customer")
    v1 = customer.select(
        "c_custkey", "c_mktsegment", F.lit("2020-01-01").cast("date").alias("snap_ts")
    )
    changed = customer.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.concat(F.lit("NEW-"), F.col("c_mktsegment")).alias("c_mktsegment"),
    )
    v2 = changed.withColumn("snap_ts", F.lit("2020-06-01").cast("date"))
    v3 = changed.withColumn("snap_ts", F.lit("2021-01-01").cast("date"))
    snapshots = v1.unionByName(v2).unionByName(v3)
    return scd2_history(
        snapshots, "c_custkey", "snap_ts", ["c_mktsegment"]
    ).orderBy("c_custkey", "valid_from")


@query
def cdc_scd2_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC -> SCD2 composition check: replaying a
    change feed reproduces the dimension history. Three full snapshots
    (base segments; a NEW- re-segmentation of every third customer; an
    attribute-identical re-observation) flow through BOTH halves of the
    CDC machinery:

    * PRODUCE: ``snapshot_diff`` between consecutive snapshots emits the
      insert/update feed (the v3 re-observation emits NOTHING — diffs of
      identical snapshots are empty, the same collapse scd2_history
      performs on re-observed versions);
    * CONSUME: the concatenated feed replays through
      ``apply_changelog`` (latest op per key wins) to reconstruct the
      final state, while the raw version rows build the interval table
      via ``scd2_history`` whose current (valid_to IS NULL) slice is the
      direct answer.

    Emitted per customer: the REPLAYED current segment, the direct
    history's current interval start, and ``paths_agree`` — the
    null-safe equality of the two paths' segments. The oracle states the
    expected state in closed form, so a green row certifies feed
    production, feed application, and interval construction against
    each other AND against the ground truth. Scale: two key-partitioned
    full-outer joins (the diffs), one key window each for replay and
    history — every shuffle on c_custkey.
    """
    from ..operators.merge import apply_changelog, scd2_history, snapshot_diff

    customer = load_table(spark, sf_dir, "customer")
    s1 = customer.select("c_custkey", "c_mktsegment")
    s2 = customer.select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(F.lit("NEW-"), F.col("c_mktsegment")),
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    s3 = s2
    t1, t2, t3 = "2020-01-01", "2020-06-01", "2021-01-01"
    # PRODUCE the feed: initial load as inserts, then diff each snapshot
    # against its predecessor (insert/update/delete ops; v2->v3 is empty)
    feed_cols = ["c_custkey", "op", "ts", "c_mktsegment"]
    cl1 = s1.select(
        "c_custkey",
        F.lit("I").alias("op"),
        F.lit(t1).cast("date").alias("ts"),
        "c_mktsegment",
    )

    def to_ops(diff: DataFrame, ts: str) -> DataFrame:
        return diff.select(
            "c_custkey",
            F.when(F.col("change_type") == "delete", "D")
            .when(F.col("change_type") == "insert", "I")
            .otherwise("U")
            .alias("op"),
            F.lit(ts).cast("date").alias("ts"),
            F.col("new_c_mktsegment").alias("c_mktsegment"),
        )

    feed = (
        cl1.select(*feed_cols)
        .unionByName(to_ops(snapshot_diff(s1, s2, ["c_custkey"]), t2))
        .unionByName(to_ops(snapshot_diff(s2, s3, ["c_custkey"]), t3))
    )
    # CONSUME: latest op per key wins -> reconstructed current state
    replayed = apply_changelog(feed, ["c_custkey"], "op", ["ts"]).select(
        "c_custkey", F.col("c_mktsegment").alias("segment_replayed")
    )
    # DIRECT: interval table from the raw version rows; current slice
    versions = (
        s1.withColumn("snap_ts", F.lit(t1).cast("date"))
        .unionByName(s2.withColumn("snap_ts", F.lit(t2).cast("date")))
        .unionByName(s3.withColumn("snap_ts", F.lit(t3).cast("date")))
    )
    current = (
        scd2_history(versions, "c_custkey", "snap_ts", ["c_mktsegment"])
        .filter(F.col("is_current"))
        .select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment_direct"),
            F.col("valid_from").alias("current_since"),
        )
    )
    return (
        replayed.join(current, "c_custkey")
        .select(
            "c_custkey",
            F.col("segment_replayed").alias("current_segment"),
            "current_since",
            F.col("segment_replayed")
            .eqNullSafe(F.col("segment_direct"))
            .alias("paths_agree"),
        )
        .orderBy("c_custkey")
    )


@query
def agg_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median: the midpoint price of the shipped VOLUME
    (l_extendedprice weighted by l_quantity) per return flag — "half the
    quantity shipped cost less than this", which an unweighted median
    cannot say. No engine has a weighted percentile aggregate; the
    relational form is a per-key cumulative-weight window and the first
    row where 2*cum >= total (lower weighted median — all integer
    comparisons, so the dual is exact and the emitted price is a raw
    parquet double).

    Scale: the cumulative window runs over DISTINCT (key, price) pairs,
    not rows — a fully-parallel map-side-combinable ``groupBy(key,
    price)`` collapses the row volume first, so the single-task per-key
    sort is bounded by the price DOMAIN (TPC-H: ~130k distinct prices vs
    millions of rows per flag; at 100 TB the domain stays fixed while
    rows grow 1000x). The emitted price is invariant to the collapse:
    the first row where 2*cum >= tot has the same price whether ties
    are walked row-by-row or in one collapsed step. The t-digest family
    is the sketch path (centroid weights are native), this is the exact
    one. The crossing filter sits directly under row_number, so
    WindowGroupLimit short-circuits the rank.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            "l_extendedprice",
            F.col("l_quantity").cast("long").alias("qty"),
        )
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(F.sum("qty").alias("qty"))
    )
    order = [F.col("l_extendedprice")]
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("l_returnflag")
    crossed = (
        li.withColumn("cum", F.sum("qty").over(w_cum))
        .withColumn("tot", F.sum("qty").over(w_tot))
        .filter(2 * F.col("cum") >= F.col("tot"))
    )
    w_rank = Window.partitionBy("l_returnflag").orderBy(*order)
    return (
        crossed.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") == 1)
        .select(
            "l_returnflag",
            F.col("l_extendedprice").alias("weighted_median_price"),
            F.col("tot").alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


@query
def scd2_asof_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the SCD2 history: every customer's segment AS OF
    2020-08-15 — after the v2 re-segmentation, before the (collapsed) v3
    re-observation — under the half-open ``[valid_from, valid_to)``
    contract. Re-segmented customers must read their NEW- version,
    everyone else their original; a date before v1 would return nothing.
    The read is a pure filter over the history (pushdown-eligible at a
    real lakehouse table); the oracle rebuilds history + filter in SQL.
    """
    from ..operators.merge import scd2_asof, scd2_history

    customer = load_table(spark, sf_dir, "customer")
    v1 = customer.select(
        "c_custkey", "c_mktsegment", F.lit("2020-01-01").cast("date").alias("snap_ts")
    )
    changed = customer.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.concat(F.lit("NEW-"), F.col("c_mktsegment")).alias("c_mktsegment"),
    )
    v2 = changed.withColumn("snap_ts", F.lit("2020-06-01").cast("date"))
    v3 = changed.withColumn("snap_ts", F.lit("2021-01-01").cast("date"))
    history = scd2_history(
        v1.unionByName(v2).unionByName(v3), "c_custkey", "snap_ts", ["c_mktsegment"]
    )
    import datetime

    return (
        scd2_asof(history, datetime.date(2020, 8, 15))
        .select("c_custkey", "c_mktsegment", "valid_from")
        .orderBy("c_custkey")
    )


# ===========================================================================
# Mergeable sketches (Spark 4 Datasketches HLL) — the 100 TB pre-aggregation
# pattern: store tiny per-partition sketches, answer distinct-counts over any
# partition union by register-wise merge, never rescanning the raw data.
# ===========================================================================


@query
def sketch_hll_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch distinct estimate, bound-oracle form: sketch values are
    engine-specific, so the query emits the exact count plus the invariant
    ``abs(estimate − exact) ≤ 0.05·exact`` (>3σ at default lgConfigK=12);
    the DuckDB dual emits exact + literal TRUE, so the parity value-hash
    certifies the sketch error bound."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey")).alias("hll_estimate"),
            F.countDistinct("l_partkey").alias("exact_distinct"),
        )
        .select(
            "l_returnflag",
            "exact_distinct",
            (
                F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
                <= 0.05 * F.col("exact_distinct")
            ).alias("within_bound"),
        )
        .orderBy("l_returnflag")
    )


@query
def sketch_hll_merge_equals_direct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merging per-month user sketches must estimate the same cardinality
    as sketching the whole corpus directly — the mergeability property
    pre-aggregated rollups depend on. Bound-oracle form: one row carrying
    the exact distinct-user count (cross-engine) plus the invariant —
    merged, direct, and each other all within 2% (>> the ~0.8% rse at
    lgConfigK=12) — as a boolean the DuckDB dual emits as literal TRUE.

    NOT asserted: bit-exact merged == direct. That holds only while
    sketches stay in sparse/exact mode (small cardinalities); once a
    sketch promotes to dense HLL, union-of-monthlies and one-shot
    accumulation can settle different registers (observed at sf0.1:
    merged 1499 vs direct 1494 vs exact 1500 — both in bound, not equal).
    """
    events = load_table(spark, sf_dir, "events")
    monthly = events.groupBy(F.date_trunc("month", "ts").alias("month")).agg(
        F.hll_sketch_agg("user_id").alias("sketch")
    )
    merged = monthly.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("merged_estimate")
    )
    direct = events.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_estimate"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    tol = 0.02 * F.col("exact_users")
    return merged.crossJoin(direct).select(
        "exact_users",
        (
            (F.abs(F.col("merged_estimate") - F.col("exact_users")) <= tol)
            & (F.abs(F.col("direct_estimate") - F.col("exact_users")) <= tol)
            & (F.abs(F.col("merged_estimate") - F.col("direct_estimate")) <= tol)
        ).alias("merge_within_bound"),
    )


# ===========================================================================
# Semi-structured data via VARIANT (Spark 4) — the modern path for schema-
# drifting JSON: parse once into a binary-encoded variant, extract typed
# fields at query time with no up-front StructType (contrast S6 from_json).
# ===========================================================================


@query
def json_variant_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed field extraction from a VARIANT-parsed JSON props column."""
    events = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return events.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_value"),
    )  # unsorted: order-insensitive compare; sort sampling would re-parse


@query
def json_variant_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a variant-extracted field: avg/max k per event type."""
    events = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# ===========================================================================
# Time-series resample + gap-fill — spine generation (sequence/explode) +
# left join + forward-fill window (last ignoreNulls). The standard shape for
# regularizing event data before modeling; per-key windows keep it parallel.
# ===========================================================================


@query
def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type value series with gaps forward-filled.

    Spine = sequence(min_hour, max_hour) × event types (tiny broadcast
    cross join); forward fill = last(ignorenulls) over an unbounded-
    preceding frame PARTITIONED BY TYPE — per-key windows, so the sort
    parallelizes across keys at scale (never a single global order).
    """
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("h")
    )
    types = events.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    filled = grid.join(hourly, ["h", "event_type"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.round(
            F.coalesce(F.last("v", ignorenulls=True).over(w), F.lit(0.0)), 4
        ).alias("value_ffill"),
        F.col("v").isNull().alias("was_gap"),
    ).orderBy("event_type", "hour")


# ===========================================================================
# Data-quality expectations (operators/quality.py) — single-pass gate
# ===========================================================================


@query
def quality_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite over orders, evaluated in one agg pass."""
    from ..operators import quality as Q

    orders = load_table(spark, sf_dir, "orders")
    return Q.run_checks(
        orders,
        [
            Q.not_null("o_orderkey"),
            Q.unique("o_orderkey"),
            Q.not_null("o_custkey"),
            Q.in_range("o_totalprice", 0.0, 1_000_000.0),
            Q.accepted_values("o_orderstatus", ["O", "F", "P"]),
            Q.row_count_at_least(100),
        ],
    ).orderBy("check_name")


# ===========================================================================
# Grouped anomaly flagging: per-group z-score outliers via one window pass
# ===========================================================================


@query
def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value is >3 sigma from their type's mean (z-score over
    a per-type window — parallel across groups, no driver statistics)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    mu = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    z = (F.col("value") - mu) / sd
    return (
        events.withColumn("zscore", F.round(z, 4))
        .filter(F.abs(F.col("zscore")) > 3)
        .select("event_id", "event_type", F.round("value", 4).alias("value"), "zscore")
    )


@query
def quality_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table FK checks via anti-join counts (orphans must be 0).

    Anti joins are the scalable form: no row-by-row lookups, one shuffle
    per FK edge, and AQE broadcasts the smaller parent side when it fits.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    li_orphans = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
    ).count()
    ord_orphans = orders.join(
        customer, orders.o_custkey == customer.c_custkey, "left_anti"
    ).count()
    return spark.createDataFrame(
        [
            ("lineitem.l_orderkey -> orders", float(li_orphans), li_orphans == 0),
            ("orders.o_custkey -> customer", float(ord_orphans), ord_orphans == 0),
        ],
        "fk_edge string, orphans double, passed boolean",
    ).orderBy("fk_edge")


@query
def array_hof_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over embeddings: transform / filter /
    aggregate / array_max / slice-of-sorted — the HOF surface in one query."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    v = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x), 4
        ).alias("sq_norm"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
        F.round(F.array_max(v), 4).alias("max_component"),
        F.round(
            F.element_at(F.array_sort(v), -2), 4
        ).alias("second_largest"),
    ).orderBy("vec_id")


# ===========================================================================
# TPC-H Q10 / Q18 shapes — returned-item ranking and the big-subquery
# semi-join (two more canonical multi-join workloads for the bench)
# ===========================================================================


@query
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: revenue lost to returns per customer in a quarter, top 20."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .filter(F.col("l_returnflag") == "R")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: orders whose total quantity exceeds a threshold — a
    semi-join against an aggregated subquery (big-group filter), then
    detail re-join. The aggregate runs once; the filter is a semi join."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("total_price"),
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
        .limit(100)
    )


@query
def join_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity-resolution join: distinct part names within 3 edits."""
    from ..operators.joins import fuzzy_self_join

    part = load_table(spark, sf_dir, "part")
    return fuzzy_self_join(part, "p_name", max_distance=3).orderBy(
        "val_a", "val_b"
    )


@query
def tpch_q12_priority_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: CASE-inside-SUM — conditional counts in one grouped pass
    (high- vs low-priority orders per line status)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_priority_count"),
        )
        .orderBy("l_linestatus")
    )


@query
def tpch_q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: conditional-revenue ratio — two aggregates over one scan,
    combined into a single percentage (PROMO parts share of revenue)."""
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .agg(
            F.round(100 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue_pct")
        )
    )


@query
def tpch_q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: OR-of-ANDs join predicate — Catalyst extracts the common
    conjuncts (the equi-join key) so the disjunction never forces a
    nested-loop join; the residual OR evaluates post-join."""
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cond = (
        ((F.col("p_brand") == "Brand#11") & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#22") & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#33") & F.col("l_quantity").between(20, 40))
    )
    return (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
    )


# ===========================================================================
# Extended TPC-H battery: Q2/Q4/Q6/Q7/Q8/Q9/Q13/Q15/Q16/Q17/Q20/
# Q21/Q22 adapted to the test-data schema (no partsupp, no commit/receipt
# dates, no c_phone — adaptations noted per query). With
# Q1/Q3/Q5/Q10/Q12/Q14/Q18/Q19 and the Q11 adaptation (shipped
# value standing in for partsupp stock value) this covers ALL 22 shapes.
#
# Queries whose essence is subquery structure run through the SQL entry
# path (S9) with ONE ANSI text shared verbatim by Spark and the DuckDB
# oracle; scan/join/agg shapes use the DataFrame API with a separate dual.
# ===========================================================================

TPCH_Q4_SQL = """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
"""


@query
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: correlated EXISTS -> left-semi join. Lateness adapted to
    shipdate > orderdate + 60 days (schema has no commit/receipt dates)."""
    register_views(spark, sf_dir)
    return spark.sql(TPCH_Q4_SQL)


@query
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: pure scan + tight multi-predicate filter + one global agg —
    the pushdown benchmark (no join, no grouping)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@query
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: two-nation trade volume — the double nation-dim join with a
    disjunctive pair predicate, grouped by (supp_nation, cust_nation, year)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(
            pair
            & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: one nation's share of a region's revenue for one part type,
    per order year — conditional aggregation over a 6-way join."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cnation = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    snation = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(part, lineitem.l_partkey == part.p_partkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(cnation), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(snation), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(region), F.col("c_rkey") == F.col("r_regionkey"))
        .filter((F.col("r_name") == "ASIA") & (F.col("p_type") == "ECONOMY"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_2", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query
def tpch_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit per supplier nation per year over a part-name LIKE
    filter. Profit adapted to extprice*(1-discount) (no ps_supplycost)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(part, lineitem.l_partkey == part.p_partkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("p_name").contains("red"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


@query
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: outer join + per-key count + histogram of the counts
    (two cascaded aggregations, NULL-preserving)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders,
            (customer.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


TPCH_Q15_SQL = """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
"""


@query
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: CTE revenue view + uncorrelated scalar-max subquery
    (ties kept, exactly the view-based original)."""
    register_views(spark, sf_dir)
    return spark.sql(TPCH_Q15_SQL)


@query
def tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct-supplier counts per (brand, type) with exclusion
    predicates. Supplier-part pairs come from shipment history (lineitem)
    rather than the absent partsupp catalogue."""
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        part.join(lineitem, part.p_partkey == lineitem.l_partkey)
        .filter(
            (F.col("p_brand") != "Brand#5")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
        )
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type")
    )


TPCH_Q17_SQL = """
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#13'
      AND l.l_quantity < (
          SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey
      )
"""


@query
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: correlated scalar-average subquery -> decorrelated
    aggregate join (small-quantity order revenue)."""
    register_views(spark, sf_dir)
    return spark.sql(TPCH_Q17_SQL)


TPCH_Q20_SQL = """
    SELECT s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'red%'
          AND l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l.l_suppkey
        HAVING sum(l.l_quantity) > 300
    )
    ORDER BY s.s_name
"""


@query
def tpch_q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: IN over a grouped-HAVING subquery (suppliers who moved
    serious volume of a part-name prefix). Volume from lineitem history
    (no partsupp availability to compare against)."""
    register_views(spark, sf_dir)
    return spark.sql(TPCH_Q20_SQL)


TPCH_Q21_SQL = """
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
"""


@query
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: EXISTS + NOT EXISTS against the same fact — the sole-late-
    supplier query. Lateness adapted to shipdate > orderdate + 90 days."""
    register_views(spark, sf_dir)
    return spark.sql(TPCH_Q21_SQL)


TPCH_Q22_SQL = """
    SELECT n.n_name, count(*) AS numcust, round(sum(c.c_acctbal), 2) AS totacctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > (
        SELECT avg(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0.0
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01'
    )
    GROUP BY n.n_name
    ORDER BY n.n_name
"""


@query
def tpch_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: scalar-average threshold + NOT EXISTS anti join. Adapted:
    nation replaces phone country codes, 'no recent orders' replaces 'no
    orders' (every synthetic customer has ancient history)."""
    register_views(spark, sf_dir)
    return spark.sql(TPCH_Q22_SQL)


TPCH_Q2_SQL = """
    WITH offers AS (
        SELECT p.p_type, s.s_suppkey, s.s_name,
               round(avg(l.l_extendedprice / l.l_quantity), 4) AS unit_price
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_regionkey = 3
        GROUP BY p.p_type, s.s_suppkey, s.s_name
    )
    SELECT o.p_type, o.s_suppkey, o.s_name, o.unit_price
    FROM offers o
    WHERE o.unit_price = (
        SELECT min(o2.unit_price) FROM offers o2 WHERE o2.p_type = o.p_type
    )
    ORDER BY o.p_type, o.s_suppkey
"""


@query
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: correlated min over a derived offer table — which EUROPE
    (regionkey 3) supplier offers each part type cheapest. Unit price from
    shipment history replaces ps_supplycost."""
    register_views(spark, sf_dir)
    return spark.sql(TPCH_Q2_SQL)


TPCH_Q11_SQL = """
    WITH stock AS (
        SELECT l.l_partkey AS ps_partkey,
               round(sum(l.l_extendedprice), 2) AS stock_value
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_nationkey = 7
        GROUP BY l.l_partkey
    )
    SELECT ps_partkey, stock_value
    FROM stock
    WHERE stock_value > (SELECT sum(stock_value) * 0.001 FROM stock)
    ORDER BY stock_value DESC, ps_partkey
"""


@query
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape (the last of the 22): per-part value concentration within
    one nation's suppliers, kept only when it exceeds a fraction of that
    nation's TOTAL value — a grouped aggregate HAVING against a scalar
    aggregate over the same derived table.

    Adaptation: the test-data schema has no partsupp, so ps_supplycost *
    ps_availqty is replaced by shipped value (sum of l_extendedprice) per
    (part, nation-7-supplier) — same join tree (partsupp->supplier->nation
    becomes lineitem->supplier->nation), same two-level aggregate structure,
    same fractional-threshold semantics.

    DataFrame (not the shared-SQL path) on purpose: planning
    ``TPCH_Q11_SQL`` directly makes Spark expand the ``stock`` CTE twice —
    two full lineitem scans, one for the groups and one inside the scalar
    subquery. Here the grouped frame is computed ONCE (``persist_scoped``),
    the global threshold is a 1-row aggregate over it, and the HAVING is a
    broadcast of that row — at 100 TB that's one fact scan instead of two.
    The DuckDB oracle still runs the shared ANSI text (``TPCH_Q11_SQL``),
    which CTE-materializes ``stock`` once, so both engines agree.
    """
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") == 7)
    stock = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("stock_value"))
    )
    stock = persist_scoped(stock, "tpch_q11_stock")
    threshold = stock.agg((F.sum("stock_value") * 0.001).alias("__thresh"))
    return (
        stock.join(F.broadcast(threshold))
        .filter(F.col("stock_value") > F.col("__thresh"))
        .select("ps_partkey", "stock_value")
        .orderBy(F.desc("stock_value"), "ps_partkey")
    )


# ===========================================================================
# Interpolating resample, time-range window frames,
# bucketed co-located joins
# ===========================================================================


@query
def events_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type value series with gaps LINEARLY INTERPOLATED between
    the surrounding observed hours (the numeric companion to
    ``events_resample_ffill``; leading/trailing gaps clamp to the nearest
    observation).

    Same scale shape as the ffill variant: spine × types is a tiny
    broadcast cross join, and both direction-scans are windows PARTITIONED
    BY TYPE, so the sort parallelizes across keys — never a global order.

    Numeric contract: observations are scaled to exact integer 1e-4 units
    at the single rounding site, the interpolation is exact long
    arithmetic (``prev4*(m-k) + next4*k`` over second offsets), and the
    final value is rounded to 1e-4 units with INTEGER round-half-away
    (``(2|num|+den) div (2 den)``) before an exact ``/10000.0`` — no
    float rounding anywhere. Float round(4) is structurally unsafe here:
    linear interpolation of 4-decimal observations lands EXACTLY on
    decimal ties (e.g. 850700/80000 = 10.63375) that have no binary
    representation, and Spark's BigDecimal-exact rounding disagrees with
    DuckDB's float-multiply rounding on which side such doubles fall
    (caught by the sf0.001 sweep).
    """
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.round(F.sum("value") * 10000).cast("long").alias("v4"))
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("h")
    )
    types = events.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    filled = grid.join(hourly, ["h", "event_type"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("v4").isNotNull(), F.col("h"))
    prev_v4 = F.last("v4", ignorenulls=True).over(wb)
    prev_h = F.last(obs_h, ignorenulls=True).over(wb)
    next_v4 = F.first("v4", ignorenulls=True).over(wf)
    next_h = F.first(obs_h, ignorenulls=True).over(wf)
    k = F.unix_timestamp("h") - F.unix_timestamp(prev_h)
    m = F.unix_timestamp(next_h) - F.unix_timestamp(prev_h)
    num = prev_v4 * (m - k) + next_v4 * k
    mag = F.expr(
        "(2 * abs(_num) + _den) div (2 * _den)"
    )
    interp_e4 = (
        F.when(prev_v4.isNull(), next_v4)
        .when(next_v4.isNull(), prev_v4)
        .when(m == 0, F.col("v4"))
        .otherwise(
            F.when(num < 0, -mag).otherwise(mag)
        )
    )
    return (
        filled.withColumn("_num", num)
        .withColumn("_den", m)
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            (interp_e4 / 10000.0).alias("value_interp"),
            F.col("v4").isNull().alias("was_gap"),
        )
        .orderBy("event_type", "hour")
    )


@query
def window_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 90-day revenue per customer: a value-based RANGE frame over
    the order-date day number (RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
    — the frame the ROWS-based batteries cannot express, since customers
    order at irregular intervals.

    The 1%-customer filter sits on the base table, so partition pruning
    and the window both see only the audited keys; windows partition by
    customer, so no global sort.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 100 == 0
    )
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-90, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        F.col("o_orderdate").cast("string").alias("order_date"),
        day.cast("long").alias("day_num"),
        F.round("o_totalprice", 2).alias("order_price"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_90d_revenue"),
        F.count(F.lit(1)).over(w).alias("trailing_90d_orders"),
    ).orderBy("o_custkey", "day_num")


@query
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketed tables: orders and
    customer are both written bucketed (8 buckets, sorted) on the join key,
    so the SortMergeJoin reads bucket i against bucket i with NO Exchange
    on either side — the physical property a 100 TB fact⋈fact join lives
    or dies by (pre-shuffling once at write time instead of per query).

    The bucketed copies are materialized once per (sf, session) into the
    warehouse; re-runs reuse them. The result itself is a plain revenue
    rollup, so the DuckDB oracle runs the same SQL on the raw views — the
    bucket layout must be semantically invisible. The no-Exchange property
    is pinned by tests/test_plan_contracts.py.
    """
    import shutil

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")

    def _materialize(table: str, source: str, key: str) -> None:
        if spark.catalog.tableExists(table):
            return
        # A fresh session forgets the in-memory catalog but the files
        # survive; saveAsTable refuses a pre-existing managed location, so
        # clear the stale copy and rewrite (idempotent: same input data).
        stale = os.path.join(warehouse, table)
        if os.path.exists(stale):
            shutil.rmtree(stale)
        (
            load_table(spark, sf_dir, source)
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(table)
        )

    t_orders, t_cust = f"orders_bkt_{tag}", f"customer_bkt_{tag}"
    _materialize(t_orders, "orders", "o_custkey")
    _materialize(t_cust, "customer", "c_custkey")
    o = spark.table(t_orders)
    c = spark.table(t_cust)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


@query
def agg_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram of order totals: 12 equal-width 50k bins with
    the overflow clamped into the top bin. Pure arithmetic binning
    (floor((x-lo)/width)) — one partial-agg-friendly groupBy, exact in
    both engines, no width_bucket dependency; the standard first look at
    any numeric distribution before choosing salting/partition bounds."""
    orders = load_table(spark, sf_dir, "orders")
    width, nbins = 50_000.0, 12
    bin_id = F.least(
        F.floor(F.col("o_totalprice") / width).cast("int"), F.lit(nbins - 1)
    )
    return (
        orders.groupBy(bin_id.alias("bin_id"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("bin_min"),
            F.round(F.max("o_totalprice"), 2).alias("bin_max"),
        )
        .orderBy("bin_id")
    )


@query
def quality_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of orders in ONE aggregation pass: rows,
    nulls, distinct cardinality, numeric bounds — the ingest-time profiling
    step a training-data pipeline runs on every new source. One scan
    regardless of column count (single agg + unpivot; the DISTINCTs ride
    one Expand)."""
    from ..operators.quality import profile_columns

    orders = load_table(spark, sf_dir, "orders")
    return profile_columns(
        orders,
        numeric_cols=["o_orderkey", "o_custkey", "o_totalprice"],
        other_cols=["o_orderstatus", "o_orderpriority", "o_orderdate"],
    ).orderBy("column_name")


@query
def join_salted_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join: lineitem's join key is salted and the orders side
    replicated 8x, scattering any hot key over 8 reducers — the manual
    fallback for join skew AQE cannot split (e.g. when the skewed side
    feeds a window next). Result must be IDENTICAL to the plain join,
    which is exactly what the oracle asserts.
    """
    from ..operators.skew import salted_join

    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = salted_join(
        lineitem, orders, on=("l_orderkey", "o_orderkey"), n_salts=8
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@query
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-step funnel (view -> click -> purchase): per user,
    each step counts only if it happens strictly after the previous
    step's first occurrence; output is the per-step user count plus
    conversion from step 1.

    The scalable shape: one aggregation per user computing first-view,
    first-click-after-view, first-purchase-after-that via conditional
    min-timestamps — no self-joins, no per-step scans; the whole funnel
    is ONE groupBy(user) pass then a tiny rollup.
    """
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    # strict ordering: each step's time is conditional on the prior step
    ordered = (
        events.join(per_user.select("user_id", "t_view"), "user_id")
        .groupBy("user_id")
        .agg(
            F.min("t_view").alias("t_view"),
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).alias("t_click"),
        )
    )
    full = (
        events.join(ordered, "user_id")
        .groupBy("user_id")
        .agg(
            F.min("t_view").alias("t_view"),
            F.min("t_click").alias("t_click"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).alias("t_purchase"),
        )
    )
    return funnel_steps_rollup(full)


def funnel_steps_rollup(per_user: DataFrame) -> DataFrame:
    """(t_view, t_click, t_purchase) per user -> the 3-row funnel summary.

    Shared presentation edge between the batch funnel above and the
    streaming twin (streaming/pipeline.py ``availablenow_funnel_steps``),
    so stream-vs-batch parity is a statement about the per-user first-time
    computation, not about two rollup implementations.
    """
    counts = per_user.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(F.when(F.col("t_click").isNotNull(), 1)).alias("n_click"),
        F.count(F.when(F.col("t_purchase").isNotNull(), 1)).alias("n_purchase"),
    )
    steps = F.array(
        F.struct(F.lit(1).alias("step"), F.lit("view").alias("step_name"), F.col("n_view").alias("n_users")),
        F.struct(F.lit(2).alias("step"), F.lit("click_after_view").alias("step_name"), F.col("n_click").alias("n_users")),
        F.struct(F.lit(3).alias("step"), F.lit("purchase_after_click").alias("step_name"), F.col("n_purchase").alias("n_users")),
    )
    return (
        counts.select(F.explode(steps).alias("s"), "n_view")
        .select(
            "s.step",
            "s.step_name",
            "s.n_users",
            F.round(F.col("s.n_users") / F.col("n_view"), 4).alias("conversion_from_step1"),
        )
        .orderBy("step")
    )


@query
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, counted
    as retained in each later week they are active; output is the classic
    (cohort_week, week_offset, n_active, retention_rate) matrix.

    Two aggregations: first-seen per user (groupBy user), then the cohort
    matrix (groupBy cohort, offset) — both partial-agg friendly; the only
    join is user -> first_seen, which AQE broadcasts when cohort
    cardinality allows.
    """
    events = load_table(spark, sf_dir, "events")
    week = lambda c: F.date_trunc("week", c)  # noqa: E731
    first_seen = events.groupBy("user_id").agg(
        week(F.min("ts")).alias("cohort_week")
    )
    active = (
        events.select("user_id", week(F.col("ts")).alias("active_week"))
        .distinct()
        .join(first_seen, "user_id")
    )
    offset = (
        F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
    ).cast("int")
    matrix = (
        active.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            offset.alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    cohort_size = matrix.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return (
        matrix.join(cohort_size, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            F.round(F.col("n_active") / F.col("cohort_size"), 4).alias(
                "retention_rate"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


@query
def events_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user is idle
    longer than 6 hours; per-session rollup (events, bounds, value).

    The lag/cumulative-sum formulation — the batch twin of the streaming
    ``session_window`` aggregate (events_session_window), and the shape
    clickstream sessionization actually ships: both windows partition by
    user_id, so the whole plan is one hash exchange on the user key and
    in-partition sorts; no global ordering anywhere. Ties on ts break by
    event_id in both engines, keeping session numbering deterministic.
    """
    gap_us = 6 * 3600 * 1_000_000
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        prev_us.isNull() | (F.unix_micros(F.col("ts")) - prev_us > gap_us), 1
    ).otherwise(0)
    numbered = events.withColumn("is_new", is_new).withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        numbered.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_end_us"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .orderBy("user_id", "session_seq")
    )


@query
def join_fuzzy_deletion_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spelling-variant entity resolution at edit distance 1 via FastSS
    deletion neighborhoods (:func:`~..operators.joins.
    deletion_neighborhood_join`) — the exact, candidate-bounded twin of
    the length-blocked ``join_fuzzy_part_names``: candidates arise only
    from actual shared deletion variants, so the join scales with true
    near-matches instead of the length histogram. The corpus is the
    distinct part names plus DETERMINISTIC planted typos (names whose
    md5 lands in a 1-in-8 bucket get a trailing 'x' variant — the
    SKU-typo population an entity-resolution pass exists to catch);
    the oracle finds every pair by length-filtered brute force, so the
    hash match PROVES the neighborhood index lossless at d <= 1.
    """
    from ..operators.joins import deletion_neighborhood_join
    from ..operators.sampling import uniform_hash

    part = load_table(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("name")).distinct()
    bucket = uniform_hash(F.col("name"), "typo") % 8
    typos = names.filter(bucket == 0).select(
        F.concat(F.col("name"), F.lit("x")).alias("name")
    )
    corpus = names.unionByName(typos).distinct()
    return deletion_neighborhood_join(corpus, "name").orderBy(
        "val_a", "val_b"
    )


@query
def scd2_temporal_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-SCD2 temporal join — the warehouse pattern behind every
    "metric by attribute AS OF the event" readout: each order joins the
    customer-segment version valid AT ITS ORDER DATE (equi-key on
    custkey + half-open [valid_from, valid_to) containment — the same
    convention ``scd2_asof_segments`` pins: an order ON the change
    instant reads the NEW version). Dimension history: v1 1990-01-01
    (every customer), v2 1997-01-01 (every third re-segmented — mid
    order range, so both versions receive facts), v3 1999-01-01
    identical re-observation (must collapse, proving the join never
    double-matches). Physical shape: hash join on the key with the
    interval predicate as a join filter; revenue accumulates as integer
    cents, divided back at one site.
    """
    from ..operators.merge import scd2_history

    customer = load_table(spark, sf_dir, "customer")
    v1 = customer.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1990-01-01").cast("date").alias("snap_ts"),
    )
    changed = customer.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.concat(F.lit("NEW-"), F.col("c_mktsegment")).alias("c_mktsegment"),
    )
    v2 = changed.withColumn("snap_ts", F.lit("1997-01-01").cast("date"))
    v3 = changed.withColumn("snap_ts", F.lit("1999-01-01").cast("date"))
    hist = scd2_history(
        v1.unionByName(v2).unionByName(v3),
        "c_custkey",
        "snap_ts",
        ["c_mktsegment"],
    )
    dim = hist.select(
        "c_custkey",
        "c_mktsegment",
        "valid_from",
        F.coalesce(
            F.col("valid_to"), F.lit("9999-12-31").cast("date")
        ).alias("valid_to"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("order_date"), "o_totalprice"
    )
    joined = orders.join(
        dim,
        (orders["o_custkey"] == dim["c_custkey"])
        & (F.col("order_date") >= F.col("valid_from"))
        & (F.col("order_date") < F.col("valid_to")),
    )
    return (
        joined.groupBy(
            "c_mktsegment", F.year("order_date").alias("order_year")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
        )
        .select(
            "c_mktsegment",
            "order_year",
            F.col("n_orders").cast("long"),
            F.round(F.col("revenue_cents") / 100.0, 2).alias("revenue"),
        )
        .orderBy("c_mktsegment", "order_year")
    )


@query
def agg_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline (non-dominated frontier) of parts on (minimize
    retail price, maximize size) — the multi-objective shortlist query
    (BNL/skyline operator of the classic literature), reshaped for scale
    like the percent-rank transform: collapse to one candidate per price
    (same-price smaller sizes are strictly dominated, so
    ``groupBy(price).max(size)`` is a lossless, fully parallel
    pre-filter), then a cumulative max over the DISTINCT-price domain
    keeps exactly the points whose size strictly exceeds every cheaper
    point's best — the textbook sort-based skyline, with dominance
    proven by the oracle's independent NOT-EXISTS formulation rather
    than mirrored construction. A final join counts the parts sitting
    ON each frontier point.

    The running max is :func:`~..operators.ranking.two_phase_running` over
    $1 price-range buckets (a plain ``Window.orderBy(price)`` funnels the
    whole distinct-price domain — which tracks part cardinality until the
    value domain saturates — through ONE task); phase 2's serial window sees
    one row per occupied dollar bucket, phase 3 parallelizes per bucket.
    """
    from ..operators.ranking import two_phase_running

    part = load_table(spark, sf_dir, "part")
    pts = part.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("size")
    )
    sky = (
        two_phase_running(
            pts,
            F.floor(F.col("price")).cast("long"),
            ["price"],
            [("size", "max", "best_prev")],
            current_row=False,
        )
        .filter(F.col("best_prev").isNull() | (F.col("size") > F.col("best_prev")))
        .select("price", "size")
    )
    return (
        sky.join(
            part,
            (sky["price"] == part["p_retailprice"])
            & (sky["size"] == part["p_size"]),
        )
        .groupBy("price", "size")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .select("price", F.col("size").cast("int"), F.col("n_parts").cast("long"))
        .orderBy("price")
    )
