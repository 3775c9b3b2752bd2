"""Oracle-checked analytical query battery over the shared testdata.

Each function takes ``(spark, sf_dir)`` and returns a DataFrame; each has an
ANSI-SQL dual in ``oracles.py`` that DuckDB runs over the identical parquet.
The nine ``q*`` queries are structural analogues of the reference's analytical
battery (SURVEY.md §2.8, reference sites
``databricks_notebooks/pintrest_batch_data_transformation.py:176-484``) mapped
onto the TPC-H-ish schema: pin→part/lineitem, geo→nation (country ~ nation),
user→customer/supplier.

Design rules for every query here:

* Declarative DataFrame chains only — Catalyst does pushdown/pruning/join
  selection; small dims (region/nation) get an explicit ``broadcast`` hint.
* Every computed column is aliased identically to the oracle SQL (the parity
  check hash-compares by sorted column name).
* Float aggregates are rounded to a fixed scale in BOTH duals so the
  order-insensitive value-hash is stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.cleaning import age_group, normalize_nulls, parse_human_count, strip_save_location_prefix
from ..session import load_table, register_views

# name -> callable(spark, sf_dir) -> DataFrame; __spark_entry__.queries() re-exports this.
QUERIES: dict = {}


def query(fn):
    """Register a query callable under its function name."""
    QUERIES[fn.__name__] = fn
    return fn


# ---------------------------------------------------------------------------
# Q1 — most popular part brand per nation
# Analogue of reference Q1 "most popular category per country" (BATCH:176-202):
# join → groupBy count → RANK() per partition → rank=1 filter → order.
# RANK (not ROW_NUMBER) so ties all survive, matching reference semantics.
# ---------------------------------------------------------------------------
@query
def q1_top_brand_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")

    counts = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(part, lineitem.l_partkey == part.p_partkey)
        .groupBy("n_name", "p_brand")
        .agg(F.count(F.lit(1)).alias("brand_count"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("brand_count"))
    return (
        counts.withColumn("ranking", F.rank().over(w))
        .filter(F.col("ranking") == 1)
        .select("n_name", "p_brand", "brand_count")
        .orderBy(F.desc("brand_count"), F.asc("n_name"), F.asc("p_brand"))
    )


# ---------------------------------------------------------------------------
# Q2 — orders per brand per year (BATCH:211-239 analogue)
# year-extract + BETWEEN filter + two-key count, intended single-level agg.
# ---------------------------------------------------------------------------
@query
def q2_orders_per_brand_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(part, lineitem.l_partkey == part.p_partkey)
        .withColumn("order_year", F.year("o_orderdate"))
        .filter(F.col("order_year").between(1995, 1998))
        .groupBy("order_year", "p_brand")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy(F.desc("order_year"), F.asc("p_brand"))
    )


# ---------------------------------------------------------------------------
# Q3 — top supplier per nation by account balance (BATCH:248-274 analogue)
# RANK over value-ordered partition; rank=1 keeps ties; trailing MAX group.
# ---------------------------------------------------------------------------
@query
def q3_top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("s_acctbal"))
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select("n_name", "s_name", "s_acctbal")
        .withColumn("ranking", F.rank().over(w))
        .filter(F.col("ranking") == 1)
        .groupBy("n_name", "s_name")
        .agg(F.round(F.max("s_acctbal"), 2).alias("top_acctbal"))
        .orderBy("top_acctbal")
    )


# ---------------------------------------------------------------------------
# Q4 — nation whose top supplier has the highest balance (BATCH:283-310
# analogue): global top-1 via orderBy desc + LIMIT 1 → TakeOrderedAndProject.
# Tie-break on n_name keeps the answer deterministic cross-engine.
# ---------------------------------------------------------------------------
@query
def q4_nation_with_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        q3_top_supplier_per_nation(spark, sf_dir)
        .select("n_name", "top_acctbal")
        .orderBy(F.desc("top_acctbal"), F.asc("n_name"))
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Q5 — most popular market segment per balance band (BATCH:323-343 analogue)
# CASE bucketing (the reference's age_group) + two-key count.
# ---------------------------------------------------------------------------
def _balance_band(c):
    """CASE bucketing structurally identical to the reference age buckets."""
    return (
        F.when((c >= 0) & (c < 2500), "0-2.5k")
        .when((c >= 2500) & (c < 5000), "2.5k-5k")
        .when((c >= 5000) & (c < 7500), "5k-7.5k")
        .when(c >= 7500, "7.5k+")
        .otherwise(F.lit("negative"))
    )


@query
def q5_top_segment_per_balance_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.withColumn("balance_band", _balance_band(F.col("c_acctbal")))
        .groupBy("balance_band", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("customer_count"))
        .orderBy(F.desc("customer_count"), F.asc("balance_band"), F.asc("c_mktsegment"))
    )


# ---------------------------------------------------------------------------
# Q6 — median account balance per balance band (BATCH:353-378 analogue)
# Exact PERCENTILE grouped; round(4) keeps the cross-engine hash stable.
# ---------------------------------------------------------------------------
@query
def q6_median_acctbal_per_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.withColumn("balance_band", _balance_band(F.col("c_acctbal")))
        .groupBy("balance_band")
        .agg(F.round(F.percentile("c_acctbal", F.lit(0.5)), 4).alias("median_acctbal"))
        .orderBy(F.desc("median_acctbal"))
    )


# ---------------------------------------------------------------------------
# Q7 — orders per year (BATCH:388-406 analogue, intended n not n²)
# ---------------------------------------------------------------------------
@query
def q7_orders_per_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("order_year", F.year("o_orderdate"))
        .filter(F.col("order_year").between(1995, 2000))
        .groupBy("order_year")
        .agg(F.count(F.lit(1)).alias("number_orders"))
        .orderBy("order_year")
    )


# ---------------------------------------------------------------------------
# Q8 — median order price by order year (BATCH:415-438 analogue, grouped
# percentile instead of the reference's window-then-dedup).
# ---------------------------------------------------------------------------
@query
def q8_median_price_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("order_year", F.year("o_orderdate"))
        .filter(F.col("order_year").between(1995, 2000))
        .groupBy("order_year")
        .agg(F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"))
        .orderBy("order_year")
    )


# ---------------------------------------------------------------------------
# Q9 — median order price by year × priority (BATCH:447-484 analogue,
# composite grouping keys incl. the CASE-derived band).
# ---------------------------------------------------------------------------
@query
def q9_median_price_by_year_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("order_year", F.year("o_orderdate"))
        .filter(F.col("order_year").between(1995, 2000))
        .groupBy("order_year", "o_orderpriority")
        .agg(F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"))
        .orderBy("order_year", "o_orderpriority")
    )


# ===========================================================================
# Cleaning operators exercised over testdata (P1-P11, F1-F6 — SURVEY §2.2/2.7)
# The pin/geo/user-shaped fixtures live in unit tests; these queries prove
# the same operators against the DuckDB oracle on its own tables.
# ===========================================================================
@query
def clean_normalize_nulls_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 with a custom sentinel list: src0/src1 and ''.* -> NULL."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return normalize_nulls(docs, sentinels=["src0", "src1", "es"]).orderBy("doc_id")


@query
def clean_parse_human_count_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4 intended semantics over synthesized k/M-suffixed strings."""
    part = load_table(spark, sf_dir, "part")
    fc = (
        F.when(F.col("p_size") < 20, F.concat(F.col("p_size").cast("string"), F.lit("k")))
        .when(F.col("p_size") < 40, F.concat(F.col("p_size").cast("string"), F.lit("M")))
        .otherwise(F.col("p_size").cast("string"))
    )
    return (
        part.withColumn("raw_count", fc)
        .select("p_partkey", "raw_count", parse_human_count(F.col("raw_count")).alias("parsed_count"))
        .orderBy("p_partkey")
    )


@query
def clean_strip_prefix_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 strict semantics (leading space survives) over synthesized prefixes."""
    part = load_table(spark, sf_dir, "part")
    loc = F.concat(F.lit("Local save in /data/"), F.col("p_type"))
    return part.select(
        "p_partkey",
        strip_save_location_prefix(loc).alias("save_location"),
    ).orderBy("p_partkey")


@query
def clean_part_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 (prefix strip) + P3/P4 (k/M human-count parse) fused in one
    projection over part — one driver slot certifies both cleaning ops;
    the single-operator forms stay registered for focused debugging."""
    part = load_table(spark, sf_dir, "part")
    fc = (
        F.when(F.col("p_size") < 20, F.concat(F.col("p_size").cast("string"), F.lit("k")))
        .when(F.col("p_size") < 40, F.concat(F.col("p_size").cast("string"), F.lit("M")))
        .otherwise(F.col("p_size").cast("string"))
    )
    loc = F.concat(F.lit("Local save in /data/"), F.col("p_type"))
    return (
        part.withColumn("raw_count", fc)
        .select(
            "p_partkey",
            strip_save_location_prefix(loc).alias("save_location"),
            "raw_count",
            parse_human_count(F.col("raw_count")).alias("parsed_count"),
        )
        .orderBy("p_partkey")
    )


@query
def clean_age_group_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 age bucketing on a derived pseudo-age, grouped count per bucket."""
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.withColumn("pseudo_age", (F.col("c_custkey") % 80).cast("int"))
        .withColumn("age_bucket", age_group(F.col("pseudo_age")))
        .groupBy("age_bucket")
        .agg(F.count(F.lit(1)).alias("customer_count"))
        .orderBy("age_bucket")
    )


@query
def clean_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F5/F6 + string/math scalars in one projection (no shuffle)."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        F.trim(F.concat(F.lit("  "), F.col("n_name"), F.lit(" "))).alias("trimmed_name"),
        F.concat(F.col("n_name"), F.lit(" "), F.col("n_regionkey").cast("string")).alias(
            "name_region"
        ),
        F.upper(F.col("n_name")).alias("upper_name"),
        F.lower(F.col("n_name")).alias("lower_name"),
        F.substring(F.col("n_name"), 1, 3).alias("name_prefix"),
        F.length(F.col("n_name")).alias("name_len"),
        F.abs(F.col("n_nationkey") - 12).alias("abs_diff"),
        F.coalesce(F.nullif(F.col("n_name"), F.col("n_name")), F.lit("fallback")).alias(
            "coalesced"
        ),
    ).orderBy("n_nationkey")


@query
def clean_distinct_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: projection + full-row distinct (the dedup shuffle)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.select("l_returnflag", "l_linestatus").distinct().orderBy(
        "l_returnflag", "l_linestatus"
    )


# ===========================================================================
# Window-function suite beyond the reference's RANK (SURVEY §2.12 extensions):
# row_number / lag / lead / ntile / explicit frame running sum.
# ===========================================================================
@query
def window_order_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            F.row_number().over(w).alias("order_seq"),
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .orderBy("o_orderkey")
    )


@query
def window_analytics_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full window-function surface in one pass: sequencing (row_number,
    lag, lead, ntile over order time), ranking/distribution (dense_rank,
    percent_rank, cume_dist over price), value extraction over an explicit
    full frame (first/last/nth_value), and a running-sum frame. Both window
    specs share the o_custkey partition key, so Catalyst plans ONE exchange
    and two in-partition sorts — certifying ten operators for the cost of a
    single shuffle at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    wd = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrun = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(wd).alias("order_seq"),
        F.lag("o_totalprice").over(wd).alias("prev_price"),
        F.lead("o_totalprice").over(wd).alias("next_price"),
        F.ntile(4).over(wd).alias("quartile"),
        F.round(F.sum("o_totalprice").over(wrun), 2).alias("running_total"),
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.round(F.percent_rank().over(w), 6).alias("price_pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("price_cume_dist"),
        F.first("o_orderkey").over(wf).alias("cheapest_key"),
        F.last("o_orderkey").over(wf).alias("priciest_key"),
        F.nth_value("o_orderkey", 2).over(wf).alias("second_cheapest_key"),
    ).orderBy("o_orderkey")


@query
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ROWS frame: cumulative revenue per customer over order time."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    ).orderBy("o_orderkey")


# ===========================================================================
# Set operators + semi/anti joins (SURVEY §2.12; dedup building blocks).
# ===========================================================================
@query
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) then EXCEPT — expressed via the SQL entry path (S9)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_acctbal < 0
        ORDER BY c_custkey
        """
    )


@query
def set_ops_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers that placed both high- and low-priced orders."""
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 50000).select("o_custkey")
    lo = orders.filter(F.col("o_totalprice") < 5000).select("o_custkey")
    return hi.intersect(lo).orderBy("o_custkey")


@query
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers having orders, counted per segment."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("customer_count"))
        .orderBy("c_mktsegment")
    )


@query
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no orders at all."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


@query
def join_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with COALESCE over the null side."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    return (
        customer.join(per_cust, customer.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("n"), F.lit(0)).alias("order_count"),
        )
        .orderBy("c_custkey")
    )


# ===========================================================================
# Grouping sets / rollup / cube / pivot (SURVEY §2.12).
# ===========================================================================
@query
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("customer_count"))
        .orderBy("r_name", "n_name")
    )


@query
def agg_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    )


@query
def agg_pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list (never let pivot scan for values)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_extendedprice"), 2))
        .orderBy("l_returnflag")
    )


@query
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.countDistinct("l_suppkey").alias("distinct_suppliers"),
        )
        .orderBy("l_returnflag")
    )


@query
def agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg/stddev + exact distinct counts in one grouped pass
    (the fused form lets one driver slot certify the whole A-family;
    ``agg_count_distinct`` remains as the focused variant)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("stddev_price"),
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.countDistinct("l_suppkey").alias("distinct_suppliers"),
        )
        .orderBy("l_returnflag")
    )


# ===========================================================================
# Nested data: explode / JSON parse (S6 analogue) / date bucketing (F5/F6).
# ===========================================================================
@query
def explode_document_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split -> explode -> groupBy token: the classic UDTF-shaped pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("token_count"))
        .filter(F.col("token_count") >= 10)
        .orderBy(F.desc("token_count"), F.asc("token"))
    )


@query
def json_extract_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: from_json with explicit schema over the props JSON column."""
    events = load_table(spark, sf_dir, "events")
    parsed = events.withColumn(
        "props_struct", F.from_json(F.col("props"), "k INT")
    )
    # no final orderBy: the parity compare is order-insensitive and the
    # range-sort sampling pass would re-run the scan+parse lineage (~2x)
    return parsed.select("event_id", F.col("props_struct.k").alias("prop_k")).filter(
        F.col("prop_k").isNotNull()
    )


@query
def events_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc day + count + avg(value): the batch dual of a daily rollup."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn("day", F.to_date(F.date_trunc("day", F.col("ts"))))
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


@query
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.window 6h tumbling buckets — batch dual of the streaming windowed agg.

    Spark aligns windows to the epoch; 6h divides a day so the buckets match
    DuckDB's midnight-aligned time_bucket.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "event_count",
        )
        .orderBy("window_start", "event_type")
    )


@query
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.window 6h/3h sliding buckets: each event lands in exactly two
    overlapping windows. Streaming twin: ``streaming.windowed_event_counts``
    with the same (duration, slide)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "event_count",
        )
        .orderBy("window_start", "event_type")
    )


@query
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window per user, 30-minute inactivity gap.

    Session semantics: an event at exactly ``last_ts + gap`` starts a NEW
    session (Spark's session window is the half-open [start, last+gap)); the
    DuckDB oracle encodes the same boundary with ``diff >= gap`` in its
    gaps-and-islands rewrite. The heavy lifting is one shuffle on user_id —
    the session assembly itself is a streaming-capable stateful operator,
    not a window-function sort.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start")
    )


@query
def join_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the user's latest order on/before it.

    Backward as-of via the union + per-key window formulation
    (``operators.joins.asof_join``): one shuffle on the key, no
    inequality-join explosion. Right side pre-aggregated to one row per
    (custkey, day) so the match is deterministic; DuckDB's native ASOF JOIN
    is the oracle.
    """
    from ..operators.joins import asof_join

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    obs = events.select(
        "event_id", "user_id", F.to_date("ts").alias("obs_date")
    )
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
    return out.orderBy("event_id")


@query
def join_asof_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each event picks the user's NEXT order on/after
    it — the attribution direction (what did this event lead to), the
    mirror of the point-in-time lookup. Same union + per-key window plan
    (one shuffle, no inequality explosion); DuckDB's ASOF JOIN with <= is
    the oracle."""
    from ..operators.joins import asof_join

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    obs = events.select(
        "event_id", "user_id", F.to_date("ts").alias("obs_date")
    )
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
        suffix="_next",
        direction="forward",
    )
    return out.orderBy("event_id")


@query
def join_range_ship_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: lineitems shipped within 90 days of their order's date.

    Equi-key (orderkey) + band predicate — planned as a sort-merge/hash
    join with the interval as a join filter (``operators.joins.range_join``).
    """
    from ..operators.joins import range_join

    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("ship_date")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("window_lo"),
        F.date_add(F.to_date("o_orderdate"), 90).alias("window_hi"),
    )
    joined = range_join(
        lineitem, orders, equi=("l_orderkey", "o_orderkey"),
        point="ship_date", lower="window_lo", upper="window_hi",
    )
    return (
        joined.groupBy(F.year("window_lo").alias("order_year"))
        .agg(F.count(F.lit(1)).alias("shipped_in_90d"))
        .orderBy("order_year")
    )


@query
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS over lineitem via the SQL entry path (S9)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_items,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )


@query
def agg_salted_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a genuinely hot grouping key
    (l_returnflag: 3 values across all of lineitem). Result-identical to the
    plain GROUP BY — which is exactly what the oracle asserts."""
    from ..operators.skew import salted_aggregate

    lineitem = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    out = salted_aggregate(
        lineitem,
        ["l_returnflag"],
        {"n_items": ("*", "count"), "max_qty": ("l_quantity", "max")},
        n_salts=16,
    )
    return out.withColumn("max_qty", F.round("max_qty", 2)).orderBy("l_returnflag")


@query
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++): the 100 TB path for distinct counts.

    Bound-oracle form: HLL sketches differ across engines, so instead of
    raw approx values the query certifies the *invariant* — per group it
    emits the exact count plus ``abs(approx − exact) ≤ 0.15·exact`` (3σ of
    the default rsd=0.05). The DuckDB dual emits the same exact count with
    a literal TRUE, so the parity value-hash passes iff the bound holds.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= 0.15 * F.col("exact_parts")
            ).alias("within_bound"),
        )
        .orderBy("l_returnflag")
    )


@query
def q6_median_acctbal_per_band_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 scale variant: percentile_approx instead of exact percentile.

    Exact PERCENTILE is a TypedImperativeAggregate holding per-group
    buffers; approx (GK sketch, bounded memory) is the 100 TB posture.
    Bound-oracle form: sketch tie-breaking differs across engines, so the
    query emits the exact median plus the invariant ``abs(approx − exact)
    ≤ 0.05·|exact| + 1.0 + (max − min)/n`` per band; the DuckDB dual
    emits the same exact median with literal TRUE, so the hash certifies
    the error bound. The ``(max − min)/n`` term is the group's mean value
    spacing: the sketch returns an ACTUAL data point while the exact
    median interpolates between two, so for tiny groups the gap is up to
    one local spacing regardless of sketch accuracy (caught by the
    sf0.001 sweep: a 20-row band missed the relative-only bound). At
    scale the term vanishes.
    """
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.withColumn("balance_band", _balance_band(F.col("c_acctbal")))
        .groupBy("balance_band")
        .agg(
            F.percentile_approx("c_acctbal", 0.5).alias("approx_median"),
            F.percentile("c_acctbal", F.lit(0.5)).alias("exact_median"),
            F.min("c_acctbal").alias("band_min"),
            F.max("c_acctbal").alias("band_max"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "balance_band",
            F.round("exact_median", 4).alias("median_acctbal"),
            (
                F.abs(F.col("approx_median") - F.col("exact_median"))
                <= 0.05 * F.abs(F.col("exact_median"))
                + F.lit(1.0)
                + (F.col("band_max") - F.col("band_min")) / F.col("n_rows")
            ).alias("within_bound"),
        )
        .orderBy("balance_band")
    )


@query
def reshape_unpivot_part_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot/melt: wide per-part numeric columns to (part, metric, value)
    rows — the inverse of pivot, the standard feature-long-format reshape."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").cast("double").alias("retailprice"),
        )
        .unpivot("p_partkey", ["size", "retailprice"], "metric", "value")
        .withColumn("value", F.round("value", 2))
        .orderBy("p_partkey", "metric")
    )


@query
def scalar_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + access + explosion: create_map -> element_at ->
    map_keys -> explode back to rows (rows keep the oracle cross-engine
    comparable — map literals hash differently across engines)."""
    nation = load_table(spark, sf_dir, "nation")
    mapped = nation.select(
        "n_nationkey",
        F.create_map(
            F.lit("name"), F.col("n_name"),
            F.lit("region"), F.col("n_regionkey").cast("string"),
        ).alias("m"),
    )
    return (
        mapped.select(
            "n_nationkey",
            F.element_at("m", "name").alias("name_direct"),
            F.explode(F.map_entries("m")).alias("e"),
        )
        .select("n_nationkey", "name_direct", F.col("e.key").alias("k"), F.col("e.value").alias("v"))
        .orderBy("n_nationkey", "k")
    )


@query
def top_k_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: global top-k -> TakeOrderedAndProject, no full sort materialized."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )
