"""DuckDB oracle SQL duals for the query battery in ``analytics.py``.

Each string must be runnable by DuckDB against the pre-registered views
(region nation customer supplier part orders lineitem events documents
embeddings) and produce the same columns (by name) and values as the Spark
DataFrame query of the same key. Keep aliases in lockstep with the Spark side
— the parity check sorts columns by name before value-hashing.
"""

from __future__ import annotations

from ..operators.text import PII_PATTERNS
from .extensions import _BASKET_CAP

ORACLES: dict[str, str] = {}


def oracle(name: str):
    """Decorator-style registrar so each SQL sits next to its docstring.

    ``__BASKET_CAP__`` placeholders are substituted from the ONE shared
    Spark-side constant (:data:`..plans.extensions._BASKET_CAP`) so the
    six hot-basket-guard duals can never silently desynchronize from the
    engine if the cap changes (TPC-H baskets are <= 7 items, so parity
    alone would never surface the drift).
    """

    def _register(sql: str) -> str:
        ORACLES[name] = sql.replace("__BASKET_CAP__", str(_BASKET_CAP))
        return sql

    return _register


oracle("q1_top_brand_per_nation")(
    """
    WITH counts AS (
        SELECT n.n_name, p.p_brand, count(*) AS brand_count
        FROM lineitem l
        JOIN orders o    ON l.l_orderkey = o.o_orderkey
        JOIN customer c  ON o.o_custkey  = c.c_custkey
        JOIN nation n    ON c.c_nationkey = n.n_nationkey
        JOIN part p      ON l.l_partkey  = p.p_partkey
        GROUP BY n.n_name, p.p_brand
    ), ranked AS (
        SELECT n_name, p_brand, brand_count,
               rank() OVER (PARTITION BY n_name ORDER BY brand_count DESC) AS ranking
        FROM counts
    )
    SELECT n_name, p_brand, brand_count
    FROM ranked WHERE ranking = 1
    ORDER BY brand_count DESC, n_name, p_brand
    """
)

oracle("q2_orders_per_brand_year")(
    """
    SELECT year(o.o_orderdate)::int AS order_year, p.p_brand,
           count(*) AS order_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p   ON l.l_partkey  = p.p_partkey
    WHERE year(o.o_orderdate) BETWEEN 1995 AND 1998
    GROUP BY 1, 2
    ORDER BY order_year DESC, p_brand
    """
)

oracle("q3_top_supplier_per_nation")(
    """
    WITH ranked AS (
        SELECT n.n_name, s.s_name, s.s_acctbal,
               rank() OVER (PARTITION BY n.n_name ORDER BY s.s_acctbal DESC) AS ranking
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    SELECT n_name, s_name, round(max(s_acctbal), 2) AS top_acctbal
    FROM ranked WHERE ranking = 1
    GROUP BY n_name, s_name
    ORDER BY top_acctbal
    """
)

oracle("q4_nation_with_top_supplier")(
    """
    WITH ranked AS (
        SELECT n.n_name, s.s_acctbal,
               rank() OVER (PARTITION BY n.n_name ORDER BY s.s_acctbal DESC) AS ranking
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    SELECT n_name, round(max(s_acctbal), 2) AS top_acctbal
    FROM ranked WHERE ranking = 1
    GROUP BY n_name
    ORDER BY top_acctbal DESC, n_name
    LIMIT 1
    """
)

_BALANCE_BAND_SQL = """CASE WHEN c_acctbal >= 0    AND c_acctbal < 2500 THEN '0-2.5k'
         WHEN c_acctbal >= 2500 AND c_acctbal < 5000 THEN '2.5k-5k'
         WHEN c_acctbal >= 5000 AND c_acctbal < 7500 THEN '5k-7.5k'
         WHEN c_acctbal >= 7500 THEN '7.5k+'
         ELSE 'negative' END"""

oracle("q5_top_segment_per_balance_band")(
    f"""
    SELECT {_BALANCE_BAND_SQL} AS balance_band, c_mktsegment,
           count(*) AS customer_count
    FROM customer
    GROUP BY 1, 2
    ORDER BY customer_count DESC, balance_band, c_mktsegment
    """
)

oracle("q6_median_acctbal_per_band")(
    f"""
    SELECT {_BALANCE_BAND_SQL} AS balance_band,
           round(quantile_cont(c_acctbal, 0.5), 4) AS median_acctbal
    FROM customer
    GROUP BY 1
    ORDER BY median_acctbal DESC
    """
)

# Bound-oracle duals for the two approx aggregates: the
# Spark side computes approx AND exact and emits the invariant
# abs(approx - exact) <= rtol*exact as a boolean; the DuckDB dual emits the
# same exact value with a literal TRUE. The parity value-hash therefore
# certifies the sketch's error bound without requiring cross-engine sketch
# equality.
oracle("agg_approx_distinct")(
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           TRUE AS within_bound
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """
)

oracle("q6_median_acctbal_per_band_approx")(
    f"""
    SELECT {_BALANCE_BAND_SQL} AS balance_band,
           round(quantile_cont(c_acctbal, 0.5), 4) AS median_acctbal,
           TRUE AS within_bound
    FROM customer
    GROUP BY 1
    ORDER BY balance_band
    """
)

oracle("q7_orders_per_year")(
    """
    SELECT year(o_orderdate)::int AS order_year, count(*) AS number_orders
    FROM orders
    WHERE year(o_orderdate) BETWEEN 1995 AND 2000
    GROUP BY 1 ORDER BY 1
    """
)

oracle("q8_median_price_by_year")(
    """
    SELECT year(o_orderdate)::int AS order_year,
           round(quantile_cont(o_totalprice, 0.5), 4) AS median_price
    FROM orders
    WHERE year(o_orderdate) BETWEEN 1995 AND 2000
    GROUP BY 1 ORDER BY 1
    """
)

oracle("q9_median_price_by_year_priority")(
    """
    SELECT year(o_orderdate)::int AS order_year, o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS median_price
    FROM orders
    WHERE year(o_orderdate) BETWEEN 1995 AND 2000
    GROUP BY 1, 2 ORDER BY 1, 2
    """
)

# --- cleaning operators over testdata --------------------------------------

oracle("clean_normalize_nulls_documents")(
    """
    SELECT doc_id,
           CASE WHEN lang IS NULL OR lang = '' OR lang IN ('src0','src1','es')
                THEN NULL ELSE lang END AS lang,
           CASE WHEN source IS NULL OR source = '' OR source IN ('src0','src1','es')
                THEN NULL ELSE source END AS source
    FROM documents ORDER BY doc_id
    """
)

oracle("clean_parse_human_count_part")(
    """
    SELECT p_partkey,
           CASE WHEN p_size < 20 THEN p_size::varchar || 'k'
                WHEN p_size < 40 THEN p_size::varchar || 'M'
                ELSE p_size::varchar END AS raw_count,
           CASE WHEN p_size < 20 THEN p_size * 1000
                WHEN p_size < 40 THEN p_size * 1000000
                ELSE p_size END::int AS parsed_count
    FROM part ORDER BY p_partkey
    """
)

oracle("clean_strip_prefix_part")(
    """
    SELECT p_partkey,
           regexp_replace('Local save in /data/' || p_type, '^Local save in', '')
               AS save_location
    FROM part ORDER BY p_partkey
    """
)

oracle("clean_age_group_customers")(
    """
    SELECT CASE WHEN (c_custkey % 80) BETWEEN 18 AND 24 THEN '18-24'
                WHEN (c_custkey % 80) BETWEEN 25 AND 35 THEN '25-35'
                WHEN (c_custkey % 80) BETWEEN 36 AND 50 THEN '36-50'
                WHEN (c_custkey % 80) > 50 THEN '50+' END AS age_bucket,
           count(*) AS customer_count
    FROM customer GROUP BY 1 ORDER BY age_bucket
    """
)

oracle("clean_scalar_functions")(
    """
    SELECT n_nationkey,
           trim('  ' || n_name || ' ') AS trimmed_name,
           n_name || ' ' || n_regionkey::varchar AS name_region,
           upper(n_name) AS upper_name,
           lower(n_name) AS lower_name,
           substring(n_name, 1, 3) AS name_prefix,
           length(n_name)::int AS name_len,
           abs(n_nationkey - 12)::int AS abs_diff,
           coalesce(nullif(n_name, n_name), 'fallback') AS coalesced
    FROM nation ORDER BY n_nationkey
    """
)

oracle("clean_distinct_flag_status")(
    """
    SELECT DISTINCT l_returnflag, l_linestatus
    FROM lineitem ORDER BY l_returnflag, l_linestatus
    """
)

# --- window-function suite --------------------------------------------------

oracle("window_order_sequence")(
    """
    SELECT o_orderkey, o_custkey,
           row_number() OVER w AS order_seq,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           ntile(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_orderkey
    """
)

oracle("window_running_revenue")(
    """
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_total
    FROM orders ORDER BY o_orderkey
    """
)

# --- set ops + semi/anti/outer joins ----------------------------------------

oracle("set_ops_customers")(
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal < 0
    ORDER BY c_custkey
    """
)

oracle("set_ops_intersect")(
    """
    SELECT o_custkey FROM orders WHERE o_totalprice > 50000
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_totalprice < 5000
    ORDER BY o_custkey
    """
)

oracle("join_semi_customers_with_orders")(
    """
    SELECT c_mktsegment, count(*) AS customer_count
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """
)

oracle("join_anti_customers_without_orders")(
    """
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """
)

oracle("join_outer_order_counts")(
    """
    SELECT c.c_custkey, coalesce(n, 0) AS order_count
    FROM customer c
    LEFT JOIN (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey) o
           ON c.c_custkey = o.o_custkey
    ORDER BY c.c_custkey
    """
)

# --- rollup / cube / pivot / multi-distinct ---------------------------------

oracle("agg_rollup_region_nation")(
    """
    SELECT r.r_name, n.n_name, count(*) AS customer_count
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    ORDER BY r_name, n_name
    """
)

oracle("agg_cube_flag_status")(
    """
    SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag, l_linestatus
    """
)

oracle("agg_pivot_status_revenue")(
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END), 2) AS "O",
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 2) AS "F"
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """
)

oracle("agg_count_distinct")(
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS distinct_parts,
           count(DISTINCT l_suppkey) AS distinct_suppliers
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """
)

oracle("agg_stats_suite")(
    """
    SELECT l_returnflag,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(stddev_samp(l_extendedprice), 4) AS stddev_price,
           count(DISTINCT l_partkey) AS distinct_parts,
           count(DISTINCT l_suppkey) AS distinct_suppliers
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """
)

# --- nested data / json / dates ---------------------------------------------

oracle("explode_document_tokens")(
    """
    SELECT token, count(*) AS token_count
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token HAVING count(*) >= 10
    ORDER BY token_count DESC, token
    """
)

oracle("json_extract_event_props")(
    """
    SELECT event_id, json_extract(props, '$.k')::int AS prop_k
    FROM events
    WHERE json_extract(props, '$.k') IS NOT NULL
    ORDER BY event_id
    """
)

oracle("events_daily_rollup")(
    """
    SELECT date_trunc('day', ts)::date AS day, event_type,
           count(*) AS event_count,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2 ORDER BY day, event_type
    """
)

oracle("events_tumbling_window")(
    """
    SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type, count(*) AS event_count
    FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
    """
)

oracle("join_asof_latest_order")(
    # DuckDB's native ASOF JOIN: greatest order_date <= event date per user.
    # Right side pre-aggregated to one row per (custkey, day) to make the
    # match deterministic — the same contract asof_join documents.
    """
    WITH daily AS (
        SELECT o_custkey, o_orderdate::date AS obs_date,
               o_orderdate::date AS order_date,
               round(sum(o_totalprice), 2) AS day_spend
        FROM orders GROUP BY o_custkey, o_orderdate::date
    ), ev AS (
        SELECT event_id, user_id, ts::date AS obs_date FROM events
    )
    SELECT ev.event_id, ev.user_id, ev.obs_date,
           d.order_date AS order_date_asof, d.day_spend AS day_spend_asof
    FROM ev ASOF LEFT JOIN daily d
      ON ev.user_id = d.o_custkey AND ev.obs_date >= d.obs_date
    ORDER BY event_id
    """
)

oracle("join_range_ship_window")(
    """
    SELECT year(o.o_orderdate)::int AS order_year,
           count(*) AS shipped_in_90d
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate::date >= o.o_orderdate::date
     AND l.l_shipdate::date <= o.o_orderdate::date + INTERVAL 90 DAY
    GROUP BY 1 ORDER BY order_year
    """
)

oracle("agg_salted_returnflag")(
    # The salted two-phase rewrite must be indistinguishable from the plain
    # aggregate — the oracle IS the plain aggregate.
    """
    SELECT l_returnflag, count(*) AS n_items,
           round(max(l_quantity), 2) AS max_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """
)

oracle("agg_grouping_sets")(
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """
)

oracle("events_sliding_window")(
    # A 6h window sliding by 3h means each event contributes to exactly two
    # windows: the one starting at its 3h bucket and the one 3h earlier.
    """
    WITH contrib AS (
        SELECT time_bucket(INTERVAL '3 hours', ts) AS ws, event_type FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '3 hours', ts) - INTERVAL '3 hours' AS ws,
               event_type
        FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS event_count
    FROM contrib GROUP BY 1, 2 ORDER BY window_start, event_type
    """
)

oracle("events_session_window")(
    # Gaps-and-islands rewrite of session windows: a gap of >= 30 minutes
    # (half-open boundary, matching Spark's [start, last+gap)) starts a new
    # island; islands aggregate to sessions.
    """
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS session_value
    FROM numbered GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """
)

oracle("reshape_unpivot_part_sizes")(
    """
    SELECT p_partkey, metric, round(value, 2) AS value
    FROM (
        SELECT p_partkey, p_size::double AS size,
               p_retailprice::double AS retailprice
        FROM part
    ) UNPIVOT (value FOR metric IN (size, retailprice))
    ORDER BY p_partkey, metric
    """
)

oracle("scalar_map_functions")(
    # The map round-trips to (key, value) rows so both engines compare on
    # plain columns; name_direct checks point access (element_at).
    """
    WITH m AS (
        SELECT n_nationkey, n_name AS name_direct, 'name' AS k, n_name AS v
        FROM nation
        UNION ALL
        SELECT n_nationkey, n_name, 'region', n_regionkey::varchar FROM nation
    )
    SELECT n_nationkey, name_direct, k, v
    FROM m ORDER BY n_nationkey, k
    """
)

oracle("top_k_orders")(
    """
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """
)

# --- text analysis -----------------------------------------------------------
# Shared fragments: whitespace tokens, the cross-engine stable 60-bit hash
# ('0x'||first-15-md5-hex-chars)::bigint == Spark conv(substring(md5,1,15),16,10).

_TOKS = "string_split(text, ' ')"
_TOKS_LOWER = "string_split(lower(text), ' ')"


def _marker_score(markers: list[str]) -> str:
    inlist = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({_TOKS_LOWER}, t -> t IN ({inlist})))"


oracle("text_token_stats")(
    f"""
    SELECT doc_id, len({_TOKS})::int AS n_tokens,
           length(text)::int AS n_chars_measured
    FROM documents ORDER BY doc_id
    """
)

# Cascading argmax with first-in-order tie win: en > es > fr > de, 'und' if all 0.
_EN = _marker_score(["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"])
_ES = _marker_score(["el", "la", "de", "que", "y", "en", "un", "una", "los", "las"])
_FR = _marker_score(["le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"])
_DE = _marker_score(["der", "die", "das", "und", "ist", "von", "den", "ein", "eine", "mit"])

oracle("text_lang_id")(
    f"""
    WITH scored AS (
        SELECT doc_id, {_EN} AS s_en, {_ES} AS s_es, {_FR} AS s_fr, {_DE} AS s_de
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en > 0 THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_de AND s_es > 0 THEN 'es'
                WHEN s_fr >= s_de AND s_fr > 0 THEN 'fr'
                WHEN s_de > 0 THEN 'de'
                ELSE 'und' END AS predicted_lang
    FROM scored ORDER BY doc_id
    """
)

_SW = ", ".join(
    f"'{s}'" for s in ["the", "a", "an", "of", "and", "or", "to", "in", "is", "it", "for", "on"]
)

oracle("text_quality_scores")(
    f"""
    WITH m AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len({_TOKS}) AS n_toks,
               length(regexp_replace(text, '[^.!?,;:''"()\\[\\]{{}}-]', '', 'g')) AS n_punct,
               len(list_filter({_TOKS_LOWER}, t -> t IN ({_SW}))) AS n_sw
        FROM documents
    ), r AS (
        SELECT doc_id,
               CASE WHEN n_chars / 500.0 < 1.0 THEN n_chars / 500.0 ELSE 1.0 END AS len_term,
               CASE WHEN n_toks > 0 AND (n_chars::double / n_toks) BETWEEN 3 AND 10
                    THEN 1.0 ELSE 0.5 END AS word_term,
               1.0 - least((CASE WHEN n_chars > 0 THEN n_punct::double / n_chars ELSE 0.0 END) * 5,
                           1.0) AS punct_term,
               CASE WHEN n_toks > 0 THEN n_sw::double / n_toks ELSE 0.0 END AS sw_ratio
        FROM m
    )
    SELECT doc_id,
           round(0.3 * len_term + 0.2 * word_term + 0.2 * punct_term
                 + 0.3 * (CASE WHEN sw_ratio BETWEEN 0.1 AND 0.6 THEN 1.0 ELSE 0.6 END), 4)
               AS quality,
           round(sw_ratio, 4) AS stopword_ratio
    FROM r ORDER BY doc_id
    """
)

_SHINGLE_HASH = (
    "('0x' || substring(md5(array_to_string("
    f"list_slice({_TOKS}, i, i + 2), ' ')), 1, 15))::bigint"
)

oracle("text_fingerprints")(
    f"""
    SELECT doc_id,
           CASE WHEN len({_TOKS}) < 3
                THEN ('0x' || substring(md5(text), 1, 15))::bigint
                ELSE list_min(list_transform(range(1, len({_TOKS}) - 1),
                                             i -> {_SHINGLE_HASH}))
           END AS fingerprint
    FROM documents ORDER BY doc_id
    """
)

# --- dedup -------------------------------------------------------------------

oracle("dedup_exact_documents")(
    """
    SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
           count(*) AS copy_count
    FROM documents GROUP BY 1 ORDER BY keep_id
    """
)

_SHINGLE_SET = (
    f"list_distinct(CASE WHEN len({_TOKS}) < 3 THEN [text] "
    f"ELSE list_transform(range(1, len({_TOKS}) - 1), "
    f"i -> array_to_string(list_slice({_TOKS}, i, i + 2), ' ')) END)"
)

oracle("dedup_ngram_jaccard_adjacent")(
    f"""
    WITH s AS (SELECT doc_id, {_SHINGLE_SET} AS ss FROM documents),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ss AS sa, b.ss AS sb
        FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
    ), scored AS (
        SELECT id_a, id_b,
               len(list_filter(sa, x -> list_contains(sb, x))) AS inter,
               len(sa) + len(sb) - len(list_filter(sa, x -> list_contains(sb, x))) AS uni
        FROM pairs
    )
    SELECT id_a, id_b,
           round(CASE WHEN uni > 0 THEN inter::double / uni ELSE 0.0 END, 4)
               AS jaccard_sim
    FROM scored ORDER BY id_a
    """
)

oracle("dedup_containment_adjacent")(
    f"""
    WITH s AS (SELECT doc_id, {_SHINGLE_SET} AS ss FROM documents),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ss AS sa, b.ss AS sb
        FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
    ), scored AS (
        SELECT id_a, id_b,
               len(list_filter(sa, x -> list_contains(sb, x))) AS inter,
               len(sa) AS la, len(sb) AS lb
        FROM pairs
    )
    SELECT id_a, id_b,
           round(CASE WHEN la > 0 THEN inter::double / la ELSE 0.0 END, 4)
               AS containment_a_in_b,
           round(CASE WHEN lb > 0 THEN inter::double / lb ELSE 0.0 END, 4)
               AS containment_b_in_a
    FROM scored ORDER BY id_a
    """
)

# --- similarity --------------------------------------------------------------

oracle("ann_topk_quantized")(
    """
    WITH q AS (
        SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3
    ), pairs AS (
        SELECT q.query_id, e.vec_id,
               unnest(list_transform(e.embedding, v -> round(v::double * 1000)::bigint)) AS ev,
               unnest(list_transform(q.embedding, v -> round(v::double * 1000)::bigint)) AS qv
        FROM embeddings e JOIN q ON e.vec_id <> q.query_id
    ), dots AS (
        SELECT query_id, vec_id, sum(ev * qv)::bigint AS dot_q
        FROM pairs GROUP BY 1, 2
    ), ranked AS (
        SELECT query_id, vec_id, dot_q,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot_q DESC, vec_id) AS rk
        FROM dots
    )
    SELECT query_id, vec_id, dot_q, rk::int AS rank
    FROM ranked WHERE rk <= 10 ORDER BY query_id, rank
    """
)

# --- second relational battery (relational.py) -------------------------------

oracle("subquery_exists_urgent_customers")(
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

oracle("subquery_in_heavy_parts")(
    """
    SELECT p_partkey, p_brand
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
    ORDER BY p_partkey
    """
)

oracle("subquery_scalar_above_avg_price")(
    """
    SELECT p_partkey, round(p_retailprice, 2) AS retail_price
    FROM part
    WHERE p_retailprice > (SELECT round(avg(p_retailprice), 4) FROM part)
    ORDER BY p_partkey
    """
)

oracle("subquery_correlated_above_nation_avg")(
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

oracle("join_lateral_top_customers")(
    # Identical LATERAL text: DuckDB executes the correlated subquery
    # per-row; Spark decorrelates to WindowGroupLimit + broadcast join.
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

oracle("recursive_order_chain")(
    # Identical WITH RECURSIVE text; per-step round(2) keeps the running
    # float chain bit-reproducible in both engines.
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

oracle("scalar_date_functions")(
    """
    SELECT o_orderkey,
           (o_orderdate + INTERVAL 30 DAY)::date AS due_date,
           date_diff('day', o_orderdate::date, DATE '2002-01-01')::int
               AS days_to_epoch_end,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           last_day(o_orderdate::date) AS month_end,
           quarter(o_orderdate)::int AS order_quarter,
           (dayofweek(o_orderdate) + 1)::int AS order_dow,
           weekofyear(o_orderdate)::int AS order_week
    FROM orders ORDER BY o_orderkey
    """
)

oracle("scalar_string_functions")(
    """
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           substring(p_name, 1, 5) AS name_prefix,
           lpad(p_brand, 12, '*') AS brand_padded,
           split_part(p_type, ' ', 1) AS type_head,
           translate(p_type, 'AEIOU', 'aeiou') AS type_translated,
           regexp_extract(p_brand, '(\\d+)', 1) AS brand_num,
           levenshtein(p_brand, 'Brand#11')::int AS brand_edit_dist,
           length(p_name)::int AS name_len
    FROM part ORDER BY p_partkey
    """
)

oracle("tpch_q1_pricing_summary")(
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """
)

oracle("tpch_q3_shipping_priority")(
    """
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, o_orderkey
    LIMIT 10
    """
)

oracle("tpch_q5_local_supplier_volume")(
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey  = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """
)

# --- sampling / dataset splitting --------------------------------------------

# Split membership is an md5 bucket: first 8 hex chars of md5(id || 'split')
# as an integer, mod 10000; train < 8000 <= valid < 9000 <= test. Identical
# arithmetic on both engines — the portability property hash_split promises.
_SPLIT_CASE = """
    CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 8))
               AS UBIGINT) % 10000 < 8000 THEN 'train'
         WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 8))
               AS UBIGINT) % 10000 < 9000 THEN 'valid'
         ELSE 'test' END
"""

oracle("sample_hash_split_counts")(
    f"""
    SELECT {_SPLIT_CASE} AS split, count(*) AS n_docs
    FROM documents GROUP BY 1 ORDER BY split
    """
)

oracle("sample_hash_split_membership")(
    f"""
    SELECT doc_id, {_SPLIT_CASE} AS split
    FROM documents ORDER BY doc_id
    """
)

oracle("sample_per_lang_cap")(
    """
    WITH hashed AS (
        SELECT doc_id, lang,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'cap'), 1, 8))
                    AS UBIGINT) AS h
        FROM documents
    ), ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
        FROM hashed
    )
    SELECT doc_id, lang FROM ranked WHERE rk <= 50 ORDER BY doc_id
    """
)

oracle("merge_upsert_orders")(
    """
    WITH src AS (
        SELECT o_orderkey, o_totalprice * 2 AS s_total
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 1.0
        FROM orders WHERE o_orderkey % 10 = 5
    )
    SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
           round(CASE WHEN s.o_orderkey IS NOT NULL THEN s.s_total
                      ELSE t.o_totalprice END, 2) AS total_price,
           t.o_orderstatus
    FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
    ORDER BY o_orderkey
    """
)

oracle("events_view_purchase_attribution")(
    """
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.user_id,
           date_diff('second', v.ts, p.ts)::bigint AS lag_seconds,
           round(p.value, 2) AS purchase_value
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    ORDER BY view_id, purchase_id
    """
)

oracle("cdc_snapshot_diff")(
    # Same simulated next-day snapshot (delete %101, +10.00 on %97,
    # shifted-key insert on %103), diffed with a full-outer key join.
    """
    WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
    new_snap AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS o_totalprice
        FROM base WHERE o_orderkey % 101 <> 0
        UNION ALL
        SELECT o_orderkey + 20000000, o_totalprice
        FROM base WHERE o_orderkey % 103 = 0
    )
    SELECT coalesce(b.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN b.o_totalprice IS DISTINCT FROM n.o_totalprice
                    THEN 'update' END AS change_type,
           round(b.o_totalprice, 2) AS old_price,
           round(n.o_totalprice, 2) AS new_price
    FROM base b FULL JOIN new_snap n ON b.o_orderkey = n.o_orderkey
    WHERE (CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN b.o_totalprice IS DISTINCT FROM n.o_totalprice
                    THEN 'update' END) IS NOT NULL
    ORDER BY o_orderkey
    """
)

oracle("scd2_customer_segments")(
    """
    WITH snaps AS (
        SELECT c_custkey, c_mktsegment, DATE '2020-01-01' AS snap_ts FROM customer
        UNION ALL
        SELECT c_custkey, 'NEW-' || c_mktsegment, DATE '2020-06-01'
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey, 'NEW-' || c_mktsegment, DATE '2021-01-01'
        FROM customer WHERE c_custkey % 3 = 0
    ), flagged AS (
        SELECT *, lag(c_mktsegment) OVER (PARTITION BY c_custkey ORDER BY snap_ts) AS prev
        FROM snaps
    ), changes AS (
        SELECT c_custkey, c_mktsegment, snap_ts
        FROM flagged WHERE prev IS NULL OR prev <> c_mktsegment
    )
    SELECT c_custkey, c_mktsegment,
           snap_ts AS valid_from,
           lead(snap_ts) OVER (PARTITION BY c_custkey ORDER BY snap_ts) AS valid_to,
           (lead(snap_ts) OVER (PARTITION BY c_custkey ORDER BY snap_ts) IS NULL)
               AS is_current
    FROM changes
    ORDER BY c_custkey, valid_from
    """
)

# DuckDB regexp_replace needs the 'g' flag for global replacement (Spark's
# replaces all matches by default) — the one cross-engine trap here.
oracle("text_normalization_collapse")(
    """
    SELECT count(DISTINCT text) AS distinct_raw,
           count(DISTINCT trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
               '\\s+', ' ', 'g'))) AS distinct_normalized
    FROM documents
    """
)

oracle("text_normalized_keys")(
    """
    SELECT doc_id,
           md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
               '\\s+', ' ', 'g'))) AS norm_key
    FROM documents ORDER BY doc_id
    """
)

# PII patterns are shared with the Spark side (operators/text.py) and are
# deliberately restricted to Java-regex/RE2-common syntax so both engines
# match identically. DuckDB regexp_replace needs the 'g' flag.
_PII_EMAIL = PII_PATTERNS["email"]
_PII_PHONE = PII_PATTERNS["phone"]
_PII_SSN = PII_PATTERNS["ssn"]

oracle("text_pii_redaction")(
    f"""
    WITH planted AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 2 = 0
                       THEN ' contact user' || doc_id::varchar || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 3 = 0
                       THEN ' call 555-123-' || lpad((doc_id % 10000)::varchar, 4, '0')
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0 THEN ' ssn 987-65-4321' ELSE '' END
               AS text
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_PII_EMAIL}'))::int AS n_email,
           len(regexp_extract_all(text, '{_PII_PHONE}'))::int AS n_phone,
           len(regexp_extract_all(text, '{_PII_SSN}'))::int AS n_ssn,
           regexp_replace(regexp_replace(regexp_replace(
               text, '{_PII_EMAIL}', '[EMAIL]', 'g'),
               '{_PII_PHONE}', '[PHONE]', 'g'),
               '{_PII_SSN}', '[SSN]', 'g') AS redacted
    FROM planted ORDER BY doc_id
    """
)

_SHINGLES_N2 = (
    f"CASE WHEN len({_TOKS}) < 2 THEN [text] "
    f"ELSE list_transform(range(1, len({_TOKS})), "
    f"i -> array_to_string(list_slice({_TOKS}, i, i + 1), ' ')) END"
)
_SHINGLES_N3 = (
    f"CASE WHEN len({_TOKS}) < 3 THEN [text] "
    f"ELSE list_transform(range(1, len({_TOKS}) - 1), "
    f"i -> array_to_string(list_slice({_TOKS}, i, i + 2), ' ')) END"
)

oracle("text_repetition_battery")(
    f"""
    WITH sh AS (
        SELECT doc_id,
               {_SHINGLES_N2} AS sh2,
               {_SHINGLES_N3} AS sh3,
               {_TOKS} AS toks
        FROM documents
    )
    SELECT doc_id,
           round(1.0 - len(list_distinct(sh2))::double / len(sh2), 4)
               AS dup_2gram_frac,
           round(1.0 - len(list_distinct(sh3))::double / len(sh3), 4)
               AS dup_3gram_frac,
           round(len(list_distinct(toks))::double / len(toks), 4)
               AS distinct_word_ratio,
           round(list_max(list_transform(list_distinct(toks),
                     w -> len(list_filter(toks, t -> t = w))))::double
                 / len(toks), 4) AS top_word_frac
    FROM sh ORDER BY doc_id
    """
)

oracle("json_variant_extract_props")(
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value
    FROM events ORDER BY event_id
    """
)

oracle("json_variant_grouped_stats")(
    """
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
    FROM events GROUP BY event_type ORDER BY event_type
    """
)

oracle("text_sentence_split_udtf")(
    """
    SELECT doc_id, trim(s) AS sentence,
           array_length(regexp_split_to_array(trim(s), '\\s+'))::int AS n_words
    FROM documents,
         UNNEST(string_split(replace(replace(text, '!', '.'), '?', '.'), '.')) AS t(s)
    WHERE trim(s) <> ''
    ORDER BY doc_id, sentence
    """
)

oracle("events_resample_ffill")(
    """
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events
    ), spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds
    ), types AS (
        SELECT DISTINCT event_type FROM events
    ), hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type, round(sum(value), 4) AS v
        FROM events GROUP BY 1, 2
    ), grid AS (
        SELECT s.h, t.event_type FROM spine s CROSS JOIN types t
    ), j AS (
        SELECT g.h, g.event_type, hv.v
        FROM grid g LEFT JOIN hourly hv USING (h, event_type)
    )
    SELECT event_type,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           round(coalesce(last_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0), 4)
               AS value_ffill,
           (v IS NULL) AS was_gap
    FROM j ORDER BY event_type, hour
    """
)

oracle("quality_expectations_orders")(
    """
    WITH m AS (
        SELECT
            round(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                  / count(*)::double, 6) AS nn_key,
            (count(o_orderkey) - count(DISTINCT o_orderkey))::double AS dup_key,
            round(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  / count(*)::double, 6) AS nn_cust,
            sum(CASE WHEN o_totalprice IS NOT NULL
                      AND (o_totalprice < 0.0 OR o_totalprice > 1000000.0)
                     THEN 1 ELSE 0 END)::double AS range_price,
            sum(CASE WHEN o_orderstatus IS NOT NULL
                      AND o_orderstatus NOT IN ('O', 'F', 'P')
                     THEN 1 ELSE 0 END)::double AS accept_status,
            count(*)::double AS n_rows
        FROM orders
    )
    SELECT * FROM (
        SELECT 'not_null(o_orderkey)' AS check_name, nn_key AS observed,
               nn_key <= 0.0 AS passed FROM m
        UNION ALL
        SELECT 'unique(o_orderkey)', dup_key, dup_key = 0 FROM m
        UNION ALL
        SELECT 'not_null(o_custkey)', nn_cust, nn_cust <= 0.0 FROM m
        UNION ALL
        SELECT 'in_range(o_totalprice,0.0,1000000.0)', range_price,
               range_price = 0 FROM m
        UNION ALL
        SELECT 'accepted_values(o_orderstatus)', accept_status,
               accept_status = 0 FROM m
        UNION ALL
        SELECT 'row_count_at_least(100)', n_rows, n_rows >= 100 FROM m
    ) ORDER BY check_name
    """
)

oracle("anomaly_zscore_events")(
    """
    WITH stats AS (
        SELECT event_id, event_type, value,
               avg(value) OVER (PARTITION BY event_type) AS mu,
               stddev_samp(value) OVER (PARTITION BY event_type) AS sd
        FROM events
    )
    SELECT event_id, event_type, round(value, 4) AS value,
           round((value - mu) / sd, 4) AS zscore
    FROM stats WHERE abs((value - mu) / sd) > 3
    """
)

oracle("quality_referential_integrity")(
    """
    SELECT * FROM (
        SELECT 'lineitem.l_orderkey -> orders' AS fk_edge,
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))::double
                   AS orphans,
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey)) = 0 AS passed
        UNION ALL
        SELECT 'orders.o_custkey -> customer',
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))::double,
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey)) = 0
    ) ORDER BY fk_edge
    """
)

oracle("array_hof_battery")(
    """
    SELECT vec_id,
           len(embedding)::int AS dim,
           round(list_aggregate(list_transform(embedding, x -> x::double * x::double),
                                'sum'), 4) AS sq_norm,
           len(list_filter(embedding, x -> x::double > 0))::int AS n_positive,
           round(list_max(list_transform(embedding, x -> x::double)), 4)
               AS max_component,
           round(list_sort(list_transform(embedding, x -> x::double))
                 [len(embedding) - 1], 4) AS second_largest
    FROM embeddings WHERE vec_id < 200 ORDER BY vec_id
    """
)

oracle("tpch_q10_returned_items")(
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """
)

oracle("tpch_q18_large_orders")(
    """
    WITH big AS (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 2) AS total_price,
           round(b.total_qty, 2) AS total_qty
    FROM orders o
    JOIN big b      ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY total_price DESC, o_orderkey
    LIMIT 100
    """
)

oracle("embedding_label_centroids")(
    """
    WITH exploded AS (
        SELECT label, u.i - 1 AS pos, embedding[u.i]::double AS component
        FROM embeddings,
             UNNEST(range(1, len(embedding) + 1)) AS u(i)
    ), means AS (
        SELECT label, pos, round(avg(component), 6) AS mean_c
        FROM exploded GROUP BY label, pos
    )
    SELECT label, count(*)::int AS dim,
           round(sum(mean_c * mean_c), 6) AS centroid_sq_norm
    FROM means GROUP BY label ORDER BY label
    """
)

oracle("join_fuzzy_part_names")(
    """
    WITH vals AS (SELECT DISTINCT p_name AS val FROM part)
    SELECT a.val AS val_a, b.val AS val_b,
           levenshtein(a.val, b.val)::int AS edit_distance
    FROM vals a JOIN vals b ON a.val < b.val
    WHERE levenshtein(a.val, b.val) <= 3
    ORDER BY val_a, val_b
    """
)

oracle("tpch_q12_priority_shipmode")(
    """
    SELECT l.l_linestatus,
           sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_priority_count,
           sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_priority_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_linestatus ORDER BY l_linestatus
    """
)

oracle("tpch_q14_promo_revenue_share")(
    """
    SELECT round(100 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                                THEN l.l_extendedprice * (1 - l.l_discount)
                                ELSE 0.0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4)
               AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
      AND l.l_shipdate <  TIMESTAMP '1997-04-01'
    """
)

oracle("tpch_q19_disjunctive_predicates")(
    """
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#11' AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#22' AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#33' AND l.l_quantity BETWEEN 20 AND 40)
    """
)

oracle("dedup_minhash_near_duplicates")(
    # Exhaustive-pair ground truth for the MinHash-LSH pipeline: every
    # document pair's exact 3-gram Jaccard, thresholded like the Spark side.
    # The LSH side is probabilistic-recall in theory, but with 32 modular
    # affine permutations in 8 bands the miss probability for a >=0.3-Jaccard
    # pair is <2e-4, and the data's true pairs are all >=0.9 — so the banded
    # candidate set provably covers the exhaustive answer at this SF and the
    # hash comparison is exact, turning LSH recall into a hard parity check.
    """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                    ELSE [array_to_string(string_split(text, ' ')[i:i+2], ' ')
                          FOR i IN range(1, len(string_split(text, ' ')) - 1)]
               END
             ) AS s
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.s, b.s))::double
                 / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard_sim
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.s, b.s))::double
                / len(list_distinct(list_concat(a.s, b.s))), 4) >= 0.3
    """
)

oracle("clean_part_battery")(
    """
    SELECT p_partkey,
           regexp_replace('Local save in /data/' || p_type, '^Local save in', '')
               AS save_location,
           CASE WHEN p_size < 20 THEN p_size::varchar || 'k'
                WHEN p_size < 40 THEN p_size::varchar || 'M'
                ELSE p_size::varchar END AS raw_count,
           CASE WHEN p_size < 20 THEN p_size * 1000
                WHEN p_size < 40 THEN p_size * 1000000
                ELSE p_size END::int AS parsed_count
    FROM part ORDER BY p_partkey
    """
)

oracle("text_analysis_battery")(
    r"""
    WITH lang AS (
        SELECT doc_id,
               len(list_filter(string_split(lower(text), ' '), t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'that', 'it', 'for'))) AS s_en,
               len(list_filter(string_split(lower(text), ' '), t -> t IN ('el', 'la', 'de', 'que', 'y', 'en', 'un', 'una', 'los', 'las'))) AS s_es,
               len(list_filter(string_split(lower(text), ' '), t -> t IN ('le', 'la', 'de', 'et', 'les', 'des', 'un', 'une', 'est', 'dans'))) AS s_fr,
               len(list_filter(string_split(lower(text), ' '), t -> t IN ('der', 'die', 'das', 'und', 'ist', 'von', 'den', 'ein', 'eine', 'mit'))) AS s_de
        FROM documents
    ), m AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len(string_split(text, ' ')) AS n_toks,
               length(regexp_replace(text, '[^.!?,;:''"()\[\]{}-]', '', 'g')) AS n_punct,
               len(list_filter(string_split(lower(text), ' '), t -> t IN ('the', 'a', 'an', 'of', 'and', 'or', 'to', 'in', 'is', 'it', 'for', 'on'))) AS n_sw
        FROM documents
    ), r AS (
        SELECT doc_id,
               CASE WHEN n_chars / 500.0 < 1.0 THEN n_chars / 500.0 ELSE 1.0 END AS len_term,
               CASE WHEN n_toks > 0 AND (n_chars::double / n_toks) BETWEEN 3 AND 10
                    THEN 1.0 ELSE 0.5 END AS word_term,
               1.0 - least((CASE WHEN n_chars > 0 THEN n_punct::double / n_chars ELSE 0.0 END) * 5,
                           1.0) AS punct_term,
               CASE WHEN n_toks > 0 THEN n_sw::double / n_toks ELSE 0.0 END AS sw_ratio
        FROM m
    )
    SELECT d.doc_id,
           len(string_split(d.text, ' '))::int AS n_tokens,
           length(d.text)::int AS n_chars_measured,
           CASE WHEN l.s_en >= l.s_es AND l.s_en >= l.s_fr AND l.s_en >= l.s_de AND l.s_en > 0 THEN 'en'
                WHEN l.s_es >= l.s_fr AND l.s_es >= l.s_de AND l.s_es > 0 THEN 'es'
                WHEN l.s_fr >= l.s_de AND l.s_fr > 0 THEN 'fr'
                WHEN l.s_de > 0 THEN 'de'
                ELSE 'und' END AS predicted_lang,
           round(0.3 * r.len_term + 0.2 * r.word_term + 0.2 * r.punct_term
                 + 0.3 * (CASE WHEN r.sw_ratio BETWEEN 0.1 AND 0.6 THEN 1.0 ELSE 0.6 END), 4)
               AS quality,
           round(r.sw_ratio, 4) AS stopword_ratio,
           CASE WHEN len(string_split(d.text, ' ')) < 3
                THEN ('0x' || substring(md5(d.text), 1, 15))::bigint
                ELSE list_min(list_transform(range(1, len(string_split(d.text, ' ')) - 1),
                                             i -> ('0x' || substring(md5(array_to_string(list_slice(string_split(d.text, ' '), i, i + 2), ' ')), 1, 15))::bigint))
           END AS fingerprint,
           CASE WHEN d.lang IS NULL OR d.lang = '' OR d.lang IN ('src0', 'src1', 'es')
                THEN NULL ELSE d.lang END AS norm_lang,
           CASE WHEN d.source IS NULL OR d.source = '' OR d.source IN ('src0', 'src1', 'es')
                THEN NULL ELSE d.source END AS norm_source
    FROM documents d JOIN lang l USING (doc_id) JOIN r USING (doc_id)
    ORDER BY d.doc_id
    """
)


# --- extended TPC-H battery ------------------------------------------------
# SQL-entry-path queries share ONE ANSI text with the Spark side (imported
# from relational.py), so the dual is the definition itself.

def _register_shared_tpch() -> None:
    from . import relational as _r

    for name, sql in (
        ("tpch_q2_min_cost_supplier", _r.TPCH_Q2_SQL),
        ("tpch_q11_important_stock", _r.TPCH_Q11_SQL),
        ("tpch_q4_order_priority", _r.TPCH_Q4_SQL),
        ("tpch_q15_top_supplier", _r.TPCH_Q15_SQL),
        ("tpch_q17_small_quantity_revenue", _r.TPCH_Q17_SQL),
        ("tpch_q20_promotion_suppliers", _r.TPCH_Q20_SQL),
        ("tpch_q21_waiting_suppliers", _r.TPCH_Q21_SQL),
        ("tpch_q22_dormant_customers", _r.TPCH_Q22_SQL),
    ):
        ORACLES[name] = sql


_register_shared_tpch()

oracle("tpch_q6_forecast_revenue")(
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """
)

oracle("tpch_q7_volume_shipping")(
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate)::int AS l_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """
)

oracle("tpch_q8_market_share")(
    """
    SELECT year(o.o_orderdate)::int AS o_year,
           round(sum(CASE WHEN n2.n_name = 'NATION_2'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0.0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS mkt_share
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
    JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
    JOIN region r   ON n1.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
    GROUP BY o_year ORDER BY o_year
    """
)

oracle("tpch_q9_product_type_profit")(
    """
    SELECT n.n_name AS nation, year(o.o_orderdate)::int AS o_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS sum_profit
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """
)

oracle("tpch_q13_customer_distribution")(
    """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """
)

oracle("tpch_q16_supplier_part_counts")(
    """
    SELECT p.p_brand, p.p_type, count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
    GROUP BY p.p_brand, p.p_type
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type
    """
)

oracle("window_analytics_battery")(
    """
    SELECT o_orderkey, o_custkey,
           row_number() OVER wd AS order_seq,
           lag(o_totalprice) OVER wd AS prev_price,
           lead(o_totalprice) OVER wd AS next_price,
           ntile(4) OVER wd AS quartile,
           round(sum(o_totalprice) OVER wrun, 2) AS running_total,
           dense_rank() OVER w AS price_dense_rank,
           round(percent_rank() OVER w, 6) AS price_pct_rank,
           round(cume_dist() OVER w, 6) AS price_cume_dist,
           first_value(o_orderkey) OVER wf AS cheapest_key,
           last_value(o_orderkey) OVER wf AS priciest_key,
           nth_value(o_orderkey, 2) OVER wf AS second_cheapest_key
    FROM orders
    WINDOW wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wrun AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
           wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_orderkey
    """
)

oracle("ann_topk_cosine")(
    # Bit-exact cross-engine: both engines compute the cosine in doubles
    # over the same component order and round to 6 before ranking; ties
    # break by vec_id in both.
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 3),
    scored AS (
        SELECT q.query_id, e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6)
                   AS cosine_sim
        FROM embeddings e JOIN q ON e.vec_id <> q.query_id
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
    """
)

oracle("multimodal_image_features")(
    # The deterministic stand-in decoder derives every feature from the
    # sha256 digest of the payload bytes, so the whole mapInPandas pipeline
    # (content addressing + Arrow decode plumbing) has an exact SQL dual:
    # digest byte k is hex chars [2k+1, 2k+2].
    """
    SELECT sha256(text) AS content_id,
           (64 + ('0x' || substring(sha256(text), 1, 2))::int % 192)::int AS width,
           (64 + ('0x' || substring(sha256(text), 3, 2))::int % 192)::int AS height,
           (1 + (('0x' || substring(sha256(text), 5, 2))::int % 2) * 2)::int AS n_channels,
           round(('0x' || substring(sha256(text), 7, 2))::int / 255.0, 6) AS mean_intensity
    FROM documents ORDER BY content_id
    """
)

oracle("text_bpe_token_counts")(
    # Piece count per word: maximal letter runs + digit runs + single
    # punctuation marks, summed across whitespace-split words — the same
    # regex decomposition the Spark expression performs.
    """
    SELECT doc_id,
           list_sum(list_transform(
               string_split_regex(trim(text), '\\s+'),
               w -> len(list_filter(
                        string_split(
                            regexp_replace(w, '([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9])',
                                           '\\1' || chr(1), 'g'),
                            chr(1)),
                        p -> p <> ''))))::int AS bpe_tokens
    FROM documents ORDER BY doc_id
    """
)

oracle("multimodal_audio_features")(
    # Audio twin of the image dual: digest bytes 0-1 (big-endian) drive
    # duration, byte 2 picks the sample rate, bytes 3-4 the float features.
    """
    SELECT sha256(text) AS content_id,
           (500 + ('0x' || substring(sha256(text), 1, 4))::bigint % 60000)::bigint
               AS duration_ms,
           ([8000, 16000, 22050, 44100])[1 + ('0x' || substring(sha256(text), 5, 2))::int % 4]::int
               AS sample_rate,
           round(('0x' || substring(sha256(text), 7, 2))::int / 255.0, 6) AS rms_energy,
           round(('0x' || substring(sha256(text), 9, 2))::int / 255.0, 6)
               AS zero_crossing_rate
    FROM documents ORDER BY content_id
    """
)

oracle("events_user_value_trend")(
    # The grouped-map applyInPandas least-squares slope has an exact SQL
    # dual: regr_slope over per-user hours-since-first-event. Slope is
    # shift-invariant and both engines round to 6, so numpy polyfit and
    # DuckDB's stable covariance agree bit-for-bit on this data.
    """
    WITH t AS (
        SELECT user_id, value,
               (epoch_ns(ts)/1e9
                - min(epoch_ns(ts)/1e9) OVER (PARTITION BY user_id)) / 3600.0 AS h
        FROM events
    )
    SELECT user_id, count(*) AS n_events,
           CASE WHEN count(*) >= 2 AND count(DISTINCT h) >= 2
                THEN round(regr_slope(value, h), 6) ELSE 0.0 END
               AS value_slope_per_hour
    FROM t GROUP BY user_id
    """
)

oracle("dedup_near_duplicate_clusters")(
    # The iterative min-label propagation has an exact SQL dual: the pair
    # set equals the exhaustive >=0.3 Jaccard pairs (see the minhash
    # oracle), and connected components over an exact edge set are a
    # recursive-CTE transitive closure (min reachable label per node).
    """
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
                    ELSE [array_to_string(string_split(text,' ')[i:i+2], ' ')
                          FOR i IN range(1, len(string_split(text,' ')) - 1)]
               END) AS s
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE round(len(list_intersect(a.s, b.s))::double
                  / len(list_distinct(list_concat(a.s, b.s))), 4) >= 0.3
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT doc_id AS node, doc_id AS lbl FROM documents
      UNION
      SELECT e.src AS node, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
    )
    SELECT node AS doc_id, min(lbl) AS cluster_id, (node = min(lbl)) AS keep
    FROM reach GROUP BY node
    """
)

oracle("pipeline_curate_documents")(
    # End-to-end curation dual: normalize -> exact dedup (min id per
    # canonical form) -> exhaustive >=0.5 Jaccard pairs on normalized
    # shingles -> recursive-CTE components (keep = cluster min) -> quality
    # floor on the ORIGINAL text -> deterministic md5 split. Every stage
    # reuses the SQL of its single-operator oracle, so the composition is
    # checked, not just the parts.
    """
    WITH RECURSIVE norm AS (
      SELECT doc_id, text,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                                 '\\s+', ' ', 'g')) AS norm_text
      FROM documents
    ), uniq AS (
      SELECT doc_id, text, norm_text FROM (
        SELECT *, row_number() OVER (PARTITION BY norm_text ORDER BY doc_id) AS rn FROM norm
      ) WHERE rn = 1
    ), sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(string_split(norm_text,' ')) < 3 THEN [norm_text]
                    ELSE [array_to_string(string_split(norm_text,' ')[i:i+2], ' ')
                          FOR i IN range(1, len(string_split(norm_text,' ')) - 1)]
               END) AS s
      FROM uniq
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE round(len(list_intersect(a.s, b.s))::double
                  / len(list_distinct(list_concat(a.s, b.s))), 4) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT doc_id AS node, doc_id AS lbl FROM uniq
      UNION
      SELECT e.src AS node, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
    ), clusters AS (
      SELECT node AS doc_id, min(lbl) AS cid FROM reach GROUP BY node
    ), survivors AS (
      SELECT u.doc_id, u.text FROM uniq u JOIN clusters c USING (doc_id)
      WHERE c.doc_id = c.cid
    ), m AS (
      SELECT doc_id, length(text) AS n_chars, len(string_split(text, ' ')) AS n_toks,
             length(regexp_replace(text, '[^.!?,;:''"()\\[\\]{}-]', '', 'g')) AS n_punct,
             len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('the','a','an','of','and','or','to','in','is','it','for','on'))) AS n_sw
      FROM survivors
    ), r AS (
      SELECT doc_id,
             CASE WHEN n_chars / 500.0 < 1.0 THEN n_chars / 500.0 ELSE 1.0 END AS len_term,
             CASE WHEN n_toks > 0 AND (n_chars::double / n_toks) BETWEEN 3 AND 10
                  THEN 1.0 ELSE 0.5 END AS word_term,
             1.0 - least((CASE WHEN n_chars > 0 THEN n_punct::double / n_chars ELSE 0.0 END) * 5,
                         1.0) AS punct_term,
             CASE WHEN n_toks > 0 THEN n_sw::double / n_toks ELSE 0.0 END AS sw_ratio
      FROM m
    ), scored AS (
      SELECT doc_id,
             round(0.3 * len_term + 0.2 * word_term + 0.2 * punct_term
                   + 0.3 * (CASE WHEN sw_ratio BETWEEN 0.1 AND 0.6 THEN 1.0 ELSE 0.6 END), 4)
                 AS quality
      FROM r
    )
    SELECT doc_id, round(quality, 4) AS quality,
           CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 8))
                      AS UBIGINT) % 10000 < 8000 THEN 'train'
                WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 8))
                      AS UBIGINT) % 10000 < 9000 THEN 'valid'
                ELSE 'test' END AS split
    FROM scored WHERE quality >= 0.2
    """
)

_EMBEDDING_NEAR_DUP_SQL = """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
               AS cosine_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
          >= 0.45
    ORDER BY id_a, id_b
    """

oracle("embedding_near_duplicates_exact")(_EMBEDDING_NEAR_DUP_SQL)

# The LSH variant shares the exhaustive dual: its exact-cosine verify stage
# makes output a subset of the truth set by construction, and the seeded
# 32-table OR-amplification makes candidate recall deterministic (same
# planes, same data every run) and exhaustive at sf0.01 — so the result set
# is IDENTICAL to the all-pairs oracle, the same certification pattern the
# MinHash query uses (exhaustive-Jaccard dual).
#
# SCOPE: exact set equality is an EMPIRICAL property of the
# sf0.01 data + seeds, verified 14/14, and the parity gate runs at
# sf0.01 — within scope. The operator's general contract is subset-of-truth
# plus a recall floor (pytest: tests/test_extensions.py recall tests); at
# other scale factors or seeds a <100% recall would surface here as a
# "failure" that is really a contract difference. If the gate ever moves
# off sf0.01, replace this dual with a subset + recall-floor check.
oracle("embedding_near_duplicates")(_EMBEDDING_NEAR_DUP_SQL)


def _simhash_stable_sql(n_bits: int = 60, max_distance: int = 10) -> str:
    """Generate the exhaustive SimHash dual: per-bit majority votes over
    stable-hashed tokens, packed sum (bits are disjoint, so + == OR), then
    a Hamming cross join. Generated rather than hand-written because it
    needs one aggregate per bit."""
    votes = ",\n           ".join(
        f"sum((hv >> {b}) & 1) AS s{b}" for b in range(n_bits)
    )
    packed = "\n             + ".join(
        f"(CASE WHEN 2*s{b} > n THEN {1 << b} ELSE 0 END)" for b in range(n_bits)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), h AS (
      SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::bigint AS hv FROM toks
    ), votes AS (
      SELECT doc_id, count(*) AS n,
           {votes}
      FROM h GROUP BY doc_id
    ), sig AS (
      SELECT doc_id, ({packed})::bigint AS simhash FROM votes
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash))::int AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_distance}
    """


oracle("dedup_simhash_near_duplicates_stable")(_simhash_stable_sql())


oracle("streaming_availablenow_events")(
    # Dual of the availableNow streaming round-trip: the Spark side ships
    # every 20th event through envelope JSON -> readStream -> watermarked
    # dedup (with every 3rd record planted twice) -> checkpointed sink.
    # Lossless round-trip + dedup == DISTINCT by key == this subset.
    # epoch_us matches Spark's unix_micros on the micro-truncated ts.
    """
    SELECT event_id, user_id, event_type,
           epoch_us(ts) AS ts_us,
           round(value, 2) AS value
    FROM events
    WHERE event_id % 20 = 0
    ORDER BY event_id
    """
)

# --- sequence packing, chunking, TF-IDF, relational gaps -------------------

oracle("pack_sequences_documents")(
    # Greedy sequential packing is exactly an exclusive prefix sum over the
    # doc_id order; the Spark side computes it as a two-phase distributed
    # scan, the oracle as the literal global window — block decomposition
    # must be invisible in the result.
    """
    WITH t AS (
        SELECT doc_id, len(string_split(text, ' '))::bigint AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, n_tokens,
               coalesce(sum(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM t
    )
    SELECT doc_id, n_tokens,
           (cum_before // 2048)::bigint AS bin_id,
           (cum_before % 2048)::bigint AS bin_offset
    FROM c ORDER BY doc_id
    """
)

oracle("text_chunk_sliding")(
    """
    WITH s AS (
        SELECT doc_id, text,
               unnest(generate_series(0, len(text) - 1, 192)) AS chunk_start
        FROM documents WHERE len(text) > 0
    )
    SELECT doc_id,
           chunk_start::bigint AS chunk_start,
           len(substring(text, chunk_start::int + 1, 256))::bigint AS chunk_len,
           md5(substring(text, chunk_start::int + 1, 256)) AS chunk_md5
    FROM s ORDER BY doc_id, chunk_start
    """
)

oracle("tfidf_top_terms")(
    # DF over the full corpus, TF over the 1% slice, idf = ln(N/df) with
    # identical op order so the rounded-to-4 values agree bit-for-bit.
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), dfreq AS (
        SELECT term, count(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY term
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks WHERE doc_id % 100 = 0
        GROUP BY doc_id, term HAVING count(*) >= 2
    ), n AS (
        SELECT count(*)::bigint AS n_docs FROM documents
    )
    SELECT tf.doc_id, tf.term, tf.tf, d.doc_freq,
           round(tf.tf * ln(n.n_docs / d.doc_freq), 4) AS tfidf
    FROM tf JOIN dfreq d USING (term) CROSS JOIN n
    ORDER BY tf.doc_id, tf.term
    """
)

oracle("multimodal_video_frames")(
    # The stand-in video prober derives duration_ms from sha256 digest
    # bytes 0-1 exactly like the audio decoder, so the frame plan has an
    # exact digest-derived dual: one row per 5 s sample point.
    """
    WITH meta AS (
        SELECT sha256(text) AS content_id,
               (500 + ('0x' || substring(sha256(text), 1, 4))::bigint % 60000)
                   ::bigint AS duration_ms
        FROM documents
    )
    SELECT content_id,
           unnest(generate_series(0, duration_ms, 5000))::bigint AS frame_ts_ms
    FROM meta ORDER BY content_id, frame_ts_ms
    """
)

oracle("dedup_cluster_canonical")(
    # Clusters = recursive-CTE transitive closure over the exhaustive
    # >= 0.3 Jaccard pair set (the dedup_near_duplicate_clusters dual);
    # canonical = longest text, doc_id ascending as the tie-break.
    """
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
                    ELSE [array_to_string(string_split(text,' ')[i:i+2], ' ')
                          FOR i IN range(1, len(string_split(text,' ')) - 1)]
               END) AS s
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE round(len(list_intersect(a.s, b.s))::double
                  / len(list_distinct(list_concat(a.s, b.s))), 4) >= 0.3
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT doc_id AS node, doc_id AS lbl FROM documents
      UNION
      SELECT e.src AS node, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
    ), clusters AS (
      SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
    ), scored AS (
      SELECT c.cluster_id, c.doc_id, len(d.text)::bigint AS quality,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY len(d.text) DESC, c.doc_id ASC) AS rn
      FROM clusters c JOIN documents d USING (doc_id)
    )
    SELECT cluster_id,
           count(*) AS cluster_size,
           max(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc_id,
           max(CASE WHEN rn = 1 THEN quality END) AS canonical_len
    FROM scored GROUP BY cluster_id ORDER BY cluster_id
    """
)

oracle("events_resample_interpolate")(
    """
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events
    ), spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds
    ), types AS (
        SELECT DISTINCT event_type FROM events
    ), hourly AS (
        -- single rounding site: exact integer 1e-4 units; the
        -- interpolation below is exact arithmetic on these (Spark does
        -- the same in longs), so no intermediate-rounding knife edges
        SELECT date_trunc('hour', ts) AS h, event_type,
               round(sum(value) * 10000)::BIGINT AS v4
        FROM events GROUP BY 1, 2
    ), grid AS (
        SELECT s.h, t.event_type FROM spine s CROSS JOIN types t
    ), j AS (
        SELECT g.h, g.event_type, hv.v4
        FROM grid g LEFT JOIN hourly hv USING (h, event_type)
    ), scanned AS (
        SELECT h, event_type, v4,
            last_value(v4 IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v4,
            last_value(CASE WHEN v4 IS NOT NULL THEN h END IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
            first_value(v4 IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v4,
            first_value(CASE WHEN v4 IS NOT NULL THEN h END IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
        FROM j
    )
    , interp AS (
        -- exact integer interpolation + integer round-half-away: no
        -- float rounding anywhere (decimal ties like 850700/80000 =
        -- 10.63375 are rounded identically by construction)
        SELECT h, event_type, v4, prev_v4, next_v4, prev_h, next_h,
               prev_v4 * (epoch(next_h)::BIGINT - epoch(h)::BIGINT)
                   + next_v4 * (epoch(h)::BIGINT - epoch(prev_h)::BIGINT) AS num,
               epoch(next_h)::BIGINT - epoch(prev_h)::BIGINT AS den
        FROM scanned
    )
    SELECT event_type,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           (CASE
               WHEN prev_v4 IS NULL THEN next_v4
               WHEN next_v4 IS NULL THEN prev_v4
               WHEN epoch(next_h) = epoch(prev_h) THEN v4
               WHEN num < 0 THEN -((2 * (-num) + den) // (2 * den))
               ELSE (2 * num + den) // (2 * den)
           END) / 10000.0 AS value_interp,
           (v4 IS NULL) AS was_gap
    FROM interp ORDER BY event_type, hour
    """
)

oracle("window_time_range_frame")(
    """
    SELECT o_custkey,
           o_orderdate::varchar AS order_date,
           datediff('day', TIMESTAMP '1992-01-01', o_orderdate)::bigint AS day_num,
           round(o_totalprice, 2) AS order_price,
           round(sum(o_totalprice) OVER w, 2) AS trailing_90d_revenue,
           count(*) OVER w AS trailing_90d_orders
    FROM orders
    WHERE o_custkey % 100 = 0
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY datediff('day', TIMESTAMP '1992-01-01', o_orderdate)
                 RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, day_num
    """
)

oracle("join_bucketed_colocated")(
    # The bucket layout must be semantically invisible: the oracle is the
    # plain rollup over the raw views.
    """
    SELECT c.c_mktsegment, count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """
)

_SHINGLES_N5 = (
    f"CASE WHEN len({_TOKS}) < 5 THEN [text] "
    f"ELSE list_transform(range(1, len({_TOKS}) - 3), "
    f"i -> array_to_string(list_slice({_TOKS}, i, i + 4), ' ')) END"
)

oracle("dedup_decontaminate_ngram")(
    f"""
    WITH ev AS (
        SELECT DISTINCT unnest({_SHINGLES_N5}) AS ngram
        FROM documents WHERE doc_id % 50 = 0
    ),
    corp AS (
        SELECT doc_id, unnest(list_distinct({_SHINGLES_N5})) AS ngram
        FROM documents
    )
    SELECT doc_id, count(*)::bigint AS n_shared_ngrams
    FROM corp JOIN ev USING (ngram)
    GROUP BY doc_id ORDER BY doc_id
    """
)

# --- vector compression, two-stage retrieval, layout ------------------------

oracle("embedding_quantize_int8")(
    # Symmetric int8 codes: round-half-away-from-zero over float64 is
    # bit-identical in Spark and DuckDB; the per-dimension scale is an
    # exact max-abs, so codes match integer-for-integer.
    """
    WITH e AS (
        SELECT vec_id, u.i - 1 AS pos, embedding[u.i]::DOUBLE AS val
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
    ), s AS (
        SELECT pos, max(abs(val)) AS maxabs FROM e GROUP BY pos
    )
    SELECT e.vec_id, e.pos,
           CASE WHEN s.maxabs > 0
                THEN CAST(greatest(-127, least(127, round(e.val * 127 / s.maxabs))) AS INTEGER)
                ELSE 0 END AS code
    FROM e JOIN s USING (pos)
    ORDER BY vec_id, pos
    """
)

oracle("ann_two_stage_rerank")(
    # Stage 1 ranks on an integer-exact quantized dot product (scale 100),
    # stage 2 on cosine rounded to 6 before ranking; vec_id breaks every
    # tie — so the surviving candidate sets and final ranks are identical
    # across engines.
    """
    WITH q AS (
        SELECT vec_id AS query_id,
               list_transform(embedding, x -> round(x::DOUBLE * 100)) AS qvq,
               embedding AS qv
        FROM embeddings WHERE vec_id < 3
    ), scored AS (
        SELECT q.query_id, e.vec_id,
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                        i -> round(e.embedding[i]::DOUBLE * 100) * q.qvq[i])) AS dot_q,
               e.embedding AS ev, q.qv AS qv
        FROM embeddings e JOIN q ON e.vec_id <> q.query_id
    ), cand AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY dot_q DESC, vec_id) AS crk
        FROM scored
    ), rer AS (
        SELECT query_id, vec_id,
               round(list_cosine_similarity(ev::DOUBLE[], qv::DOUBLE[]), 6) AS cosine_sim
        FROM cand WHERE crk <= 50
    ), ranked AS (
        SELECT query_id, vec_id, cosine_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine_sim DESC, vec_id) AS rank
        FROM rer
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
    """
)

oracle("layout_compact_small_files")(
    # The JSON landing + compaction round-trip must be lossless: per-bucket
    # counts, id bounds, and a summed md5-derived content digest all have
    # to survive the rewrite byte-for-byte.
    """
    SELECT (doc_id % 4)::INT AS bucket,
           count(*) AS n_docs,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id,
           sum(('0x' || substring(md5(text), 1, 15))::BIGINT % 1000000007)::BIGINT
               AS content_digest
    FROM documents GROUP BY 1 ORDER BY bucket
    """
)

oracle("streaming_upsert_latest_events")(
    # Dual of the foreachBatch MERGE sink: latest event per user over the
    # streamed slice, order = event time then event_id (the sink's ``ord``
    # struct), is exactly row_number() = 1.
    """
    WITH t AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_id % 10 = 0
    )
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           ts_us AS last_ts_us, round(value, 2) AS last_value
    FROM t WHERE rn = 1 ORDER BY user_id
    """
)

oracle("events_sessionize_gap")(
    # Gap sessionization: is_new via lag, session_seq via running sum, both
    # ordered (ts, event_id) — deterministic under timestamp ties.
    """
    WITH o AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id, event_id, ts, value,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq
        FROM o
    )
    SELECT user_id, session_seq, count(*) AS n_events,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) AS session_end_us,
           round(sum(value), 2) AS session_value
    FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq
    """
)

oracle("quality_column_profile")(
    # One UNION ALL branch per column; Spark computes the same metrics in
    # a single pass. Numeric bounds as DOUBLE; non-numeric columns carry
    # NULL bounds.
    """
    SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
           sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct,
           min(o_orderkey)::DOUBLE AS min_value, max(o_orderkey)::DOUBLE AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*),
           sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT o_custkey),
           min(o_custkey)::DOUBLE, max(o_custkey)::DOUBLE
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*),
           sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT o_totalprice),
           min(o_totalprice)::DOUBLE, max(o_totalprice)::DOUBLE
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*),
           sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT o_orderstatus), NULL::DOUBLE, NULL::DOUBLE
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*),
           sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT o_orderpriority), NULL::DOUBLE, NULL::DOUBLE
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*),
           sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT o_orderdate), NULL::DOUBLE, NULL::DOUBLE
    FROM orders
    ORDER BY column_name
    """
)

oracle("join_salted_skewed")(
    # Salting must be semantically invisible: the oracle is the PLAIN join.
    """
    SELECT o.o_orderpriority, count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """
)

oracle("streaming_incremental_rollup")(
    # Dual of the incrementally maintained rollup: the whole-table GROUP BY.
    # If the upsert sink ever dropped/duplicated a (day, type) key across
    # the two file batches, counts or sums would diverge.
    """
    SELECT ts::DATE AS day, event_type, count(*) AS event_count,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2)
               AS value_sum
    FROM events
    GROUP BY 1, 2 ORDER BY day, event_type
    """
)

oracle("text_unigram_logprob")(
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ), freqs AS (
        SELECT term, count(*) AS term_count FROM toks GROUP BY term
    ), total AS (
        SELECT count(*) AS total_count FROM toks
    )
    SELECT t.doc_id, count(*) AS n_tokens,
           round(avg(ln(f.term_count::DOUBLE / total.total_count)), 4)
               AS avg_logprob
    FROM toks t JOIN freqs f USING (term), total
    GROUP BY t.doc_id ORDER BY t.doc_id
    """
)

oracle("agg_histogram_totalprice")(
    """
    SELECT least(floor(o_totalprice / 50000.0)::INT, 11) AS bin_id,
           count(*) AS n_orders,
           round(min(o_totalprice), 2) AS bin_min,
           round(max(o_totalprice), 2) AS bin_max
    FROM orders GROUP BY 1 ORDER BY bin_id
    """
)

oracle("csv_roundtrip_malformed")(
    # The CSV round-trip must be lossless for every valid line (count +
    # md5-derived digest match the source) and the 7 planted bad lines
    # must all land in the corrupt-record column, not vanish.
    """
    SELECT count(*) AS n_valid,
           7::BIGINT AS n_corrupt,
           sum(('0x' || substring(md5(text), 1, 15))::BIGINT % 1000000007)::BIGINT
               AS content_digest,
           sum(n_chars)::BIGINT AS sum_chars,
           max(doc_id) AS max_doc_id
    FROM documents
    """
)

oracle("join_asof_next_order")(
    # Forward as-of: smallest order_date >= event date per user (DuckDB
    # ASOF JOIN with <=). Right side pre-aggregated per (custkey, day) for
    # the deterministic-match contract.
    """
    WITH daily AS (
        SELECT o_custkey, o_orderdate::date AS obs_date,
               o_orderdate::date AS order_date,
               round(sum(o_totalprice), 2) AS day_spend
        FROM orders GROUP BY o_custkey, o_orderdate::date
    ), ev AS (
        SELECT event_id, user_id, ts::date AS obs_date FROM events
    )
    SELECT ev.event_id, ev.user_id, ev.obs_date,
           d.order_date AS order_date_next, d.day_spend AS day_spend_next
    FROM ev ASOF LEFT JOIN daily d
      ON ev.user_id = d.o_custkey AND ev.obs_date <= d.obs_date
    ORDER BY event_id
    """
)

oracle("scalar_math_functions")(
    # DuckDB log10() is explicit; % on positive ints matches Spark's %.
    # sign() returns int in DuckDB, double in Spark -> cast ::DOUBLE.
    """
    SELECT p_partkey,
           round(abs(p_retailprice - 1500.0), 2) AS abs_delta,
           ceil(p_retailprice / 100.0)::BIGINT AS price_ceil,
           floor(p_retailprice / 100.0)::BIGINT AS price_floor,
           pow(p_size::DOUBLE, 2) AS size_sq,
           round(sqrt(p_size::DOUBLE), 6) AS size_sqrt,
           round(exp(p_size / 100.0), 6) AS size_exp,
           round(log10(p_size::DOUBLE), 6) AS size_log10,
           (p_size % 7)::INT AS size_mod7,
           sign(p_retailprice - 1500.0)::DOUBLE AS price_sign,
           greatest(p_size, 25)::INT AS size_hi,
           least(p_size, 25)::INT AS size_lo
    FROM part
    """
)

oracle("schema_evolution_merge")(
    # Old-batch rows (even doc_id) must surface the evolved columns as
    # NULL; evolved rows carry them through unchanged.
    """
    SELECT doc_id, text,
           CASE WHEN doc_id % 2 = 1 THEN lang END AS lang,
           CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
    FROM documents ORDER BY doc_id
    """
)

oracle("quality_table_checksum")(
    # Same canonical row serialization on both sides: ints/strings render
    # identically, the date via an explicit format string.
    """
    SELECT count(*) AS n_rows,
           sum(('0x' || substring(md5(concat_ws('|',
                    o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                    strftime(o_orderdate, '%Y-%m-%d'))), 1, 15))::BIGINT
               % 1000000007)::BIGINT AS table_digest
    FROM orders
    """
)

# Bound-oracle duals for the formerly rows-only sketch/sampling/ANN
# queries: the Spark side computes the engine-specific value AND the
# deterministic reference, emits the invariant as a boolean; the dual
# emits the reference with literal TRUE.

oracle("sketch_hll_distinct_parts")(
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_distinct,
           TRUE AS within_bound
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """
)

oracle("sketch_hll_merge_equals_direct")(
    """
    SELECT count(DISTINCT user_id) AS exact_users,
           TRUE AS merge_within_bound
    FROM events
    """
)

oracle("sample_reservoir_topk")(
    # Same md5 hash priority as the Spark uniform_hash helper.
    """
    SELECT doc_id, lang, n_chars FROM documents
    ORDER BY CAST(('0x' || substring(md5(doc_id::VARCHAR || 'reservoir'), 1, 8))
                 AS UBIGINT) ASC, doc_id ASC
    LIMIT 100
    """
)

oracle("text_utf8_bytes_arrow")(
    """
    SELECT doc_id,
           octet_length(text::BLOB)::BIGINT AS n_bytes,
           length(text)::BIGINT AS n_chars_utf8
    FROM documents ORDER BY doc_id
    """
)

oracle("join_null_safe_keys")(
    # IS NOT DISTINCT FROM: the null group must match itself, unlike `=`.
    """
    WITH a AS (SELECT nullif(lang, 'en') AS k, doc_id FROM documents),
         b AS (SELECT nullif(lang, 'en') AS k, doc_id FROM documents)
    SELECT a.k AS lang_key, count(*)::BIGINT AS n_pairs
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k
    ORDER BY a.k ASC NULLS FIRST
    """
)

oracle("sample_weighted_by_length")(
    # Same A-ES priority as sampling.weighted_sample: ln((h+1)/2^32) / w
    # with the md5-derived hash h and only NON-POSITIVE weights clamped to
    # 1 (fractional weights are honored; n_chars >= 1 here so the branch
    # is dormant). The key itself is never emitted; only the
    # k-th-vs-k+1-th boundary could feel a libm ulp, and two independent
    # md5 keys within 1e-16 relative is vanishing.
    """
    SELECT doc_id, lang, n_chars FROM documents
    ORDER BY ln((CAST(('0x' || substring(md5(doc_id::VARCHAR || 'wsample'), 1, 8))
                      AS UBIGINT) + 1) / 4294967296.0)
             / (CASE WHEN n_chars <= 0 THEN 1.0 ELSE n_chars::DOUBLE END) DESC,
             doc_id ASC
    LIMIT 100
    """
)

oracle("text_ngram_vocab_topk")(
    f"""
    WITH b AS (
        SELECT lang,
               unnest(list_transform(range(1, len({_TOKS})),
                      i -> array_to_string(list_slice({_TOKS}, i, i + 1), ' ')))
                   AS bigram
        FROM documents
    ), c AS (
        SELECT lang, bigram, count(*)::BIGINT AS n FROM b GROUP BY lang, bigram
    ), r AS (
        SELECT lang, bigram, n,
               row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram ASC)
                   AS rank
        FROM c
    )
    SELECT lang, bigram, n, rank::INT AS rank FROM r
    WHERE rank <= 15 ORDER BY lang, rank
    """
)

oracle("sample_stratified_by_lang")(
    """
    SELECT lang, count(*) AS n_total, TRUE AS within_tolerance
    FROM documents GROUP BY lang ORDER BY lang
    """
)

oracle("ann_ivf_topk")(
    # n_returned is derived, not hard-coded: least(k, corpus minus the
    # query itself) survives a tiny corpus. PRECONDITION for the literal
    # recall_ok/full-k at the IVF probe level: with n_probe=4 of 16 cells
    # the probed cells must together hold >= k non-query vectors — true
    # from sf0.001 upward (>= 600 vectors, ~37/cell at worst); pytest pins
    # the per-dataset overlaps.
    """
    SELECT vec_id AS query_id,
           least(10, (SELECT count(*) - 1 FROM embeddings))::BIGINT AS n_returned,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 3 ORDER BY query_id
    """
)

oracle("ann_pq_topk")(
    # Same derived-n_returned discipline as the IVF oracle. PRECONDITION
    # for the literal recall_ok: the PQ shortlist (max(100, |corpus|/4)
    # ADC candidates, 64 codes/subspace) must keep >= 7 of the exact
    # top-10 per query before the exact rerank — measured 9-10/10 at
    # sf0.001/0.01/0.1 (pytest pins the per-dataset overlaps).
    """
    SELECT vec_id AS query_id,
           least(10, (SELECT count(*) - 1 FROM embeddings))::BIGINT AS n_returned,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 3 ORDER BY query_id
    """
)

oracle("ann_binary_hamming_topk")(
    # Sign-pack into the identical two 32-bit words, rank by popcount of
    # XOR — pure integer arithmetic, so the whole ranking matches exactly.
    """
    WITH packed AS (
        SELECT vec_id,
               list_sum(list_transform(range(1, 33),
                   i -> CASE WHEN embedding[i] >= 0
                             THEN (1::BIGINT) << (32 - i) ELSE 0::BIGINT END))::BIGINT AS w0,
               list_sum(list_transform(range(1, 33),
                   i -> CASE WHEN embedding[32 + i] >= 0
                             THEN (1::BIGINT) << (32 - i) ELSE 0::BIGINT END))::BIGINT AS w1
        FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, w0 AS qw0, w1 AS qw1 FROM packed WHERE vec_id < 3
    ), scored AS (
        SELECT q.query_id, p.vec_id,
               (bit_count(xor(p.w0, q.qw0)) + bit_count(xor(p.w1, q.qw1)))::INT AS hamming
        FROM packed p CROSS JOIN q
        WHERE p.vec_id <> q.query_id
    ), r AS (
        SELECT query_id, vec_id, hamming,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY hamming ASC, vec_id ASC
               ) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, hamming, rank::INT AS rank
    FROM r WHERE rank <= 10 ORDER BY query_id, rank
    """
)

oracle("pandas_grouped_agg_weighted_mean")(
    # Exact dual of the GROUPED_AGG pandas UDF: weighted mean =
    # sum(xw)/sum(w), with x quantized to integer cents on BOTH engines so
    # the sums are exact int64 (no float sum-order drift); one float
    # division + one round(4) per engine, at the same site.
    """
    SELECT o.o_orderpriority,
           round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * CAST(round(l.l_quantity) AS BIGINT))
                 / sum(CAST(round(l.l_quantity) AS BIGINT)) / 100.0,
                 4) AS weighted_mean_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """
)

oracle("embedding_truncate_renormalize")(
    # Same left-to-right folds over the same float->double values; the
    # only float ops are 16/64-term sums of squares, one divide, one sqrt
    # (IEEE correctly-rounded in both engines), then round(6).
    """
    SELECT vec_id,
           round(
               list_sum(list_transform(embedding[1:16],
                                       x -> x::double * x::double))
               / list_sum(list_transform(embedding,
                                         x -> x::double * x::double)),
               6) AS energy_retained_16,
           round(
               embedding[1]::double
               / sqrt(list_sum(list_transform(embedding[1:16],
                                              x -> x::double * x::double))),
               6) AS first_component_renormed
    FROM embeddings ORDER BY vec_id
    """
)

oracle("sketch_cms_part_counts")(
    # Rebuilds the IDENTICAL depth-4 x width-256 count-min sketch with the
    # same md5-derived buckets, so the estimates certify exactly.
    """
    WITH exact AS (
        SELECT l_partkey, count(*)::BIGINT AS exact_count
        FROM lineitem GROUP BY l_partkey
    ), rows_ AS (
        SELECT unnest(range(0, 4)) AS row_idx
    ), cells AS (
        SELECT row_idx, bucket, sum(exact_count)::BIGINT AS cell_count
        FROM (
            SELECT r.row_idx,
                   CAST(('0x' || substring(
                        md5(e.l_partkey::VARCHAR || 'cms' || r.row_idx::VARCHAR),
                        1, 8)) AS UBIGINT) % 256 AS bucket,
                   e.exact_count
            FROM exact e CROSS JOIN rows_ r
        )
        GROUP BY row_idx, bucket
    ), probes AS (
        SELECT l_partkey, exact_count FROM exact
        ORDER BY exact_count DESC, l_partkey ASC LIMIT 10
    ), probe_cells AS (
        SELECT p.l_partkey, r.row_idx,
               CAST(('0x' || substring(
                    md5(p.l_partkey::VARCHAR || 'cms' || r.row_idx::VARCHAR),
                    1, 8)) AS UBIGINT) % 256 AS bucket
        FROM probes p CROSS JOIN rows_ r
    ), est AS (
        SELECT k.l_partkey, min(c.cell_count)::BIGINT AS cms_estimate
        FROM probe_cells k
        JOIN cells c ON c.row_idx = k.row_idx AND c.bucket = k.bucket
        GROUP BY k.l_partkey
    )
    SELECT p.l_partkey, p.exact_count, e.cms_estimate,
           e.cms_estimate >= p.exact_count AS overestimates
    FROM probes p JOIN est e USING (l_partkey)
    ORDER BY l_partkey
    """
)

oracle("events_ewma_daily")(
    # alpha = 1/2: the 2^-k weights are exact dyadic doubles and the
    # weighted integer-cent sum stays under 53 mantissa bits, so the
    # decayed aggregate is bit-exact in both engines (one /100 + round(4)
    # site at the edge).
    """
    WITH daily AS (
        SELECT event_type,
               date_trunc('day', ts)::DATE AS day,
               sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        FROM events GROUP BY event_type, date_trunc('day', ts)::DATE
    )
    SELECT a.event_type, a.day,
           round(sum(b.cents * power(0.5, date_diff('day', b.day, a.day)))
                 / 100.0, 4) AS ewma_value
    FROM (SELECT DISTINCT event_type, day FROM daily) a
    JOIN daily b
      ON b.event_type = a.event_type
     AND date_diff('day', b.day, a.day) BETWEEN 0 AND 19
    GROUP BY a.event_type, a.day
    ORDER BY a.event_type, a.day
    """
)

# capped prefix mirrors pattern_match_journeys(cap=512): string_agg skips
# the NULLed-out rows past the cap, n_events stays the true total
oracle("events_pattern_match")(
    """
    SELECT user_id,
           n_events,
           regexp_matches(seq, 'v.*c.*p') AS converted,
           n_events > 512 AS overflowed
    FROM (
        SELECT user_id,
               count(*)::BIGINT AS n_events,
               string_agg(
                   CASE WHEN rn <= 512 THEN substring(event_type, 1, 1) END,
                   '' ORDER BY ts, event_id
               ) AS seq
        FROM (
            SELECT user_id, ts, event_id, event_type,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS rn
            FROM events
        )
        GROUP BY user_id
    )
    ORDER BY user_id
    """
)

oracle("events_transition_matrix")(
    """
    SELECT prev_type, next_type, count(*)::BIGINT AS n_transitions
    FROM (
        SELECT lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type,
               event_type AS next_type
        FROM events
    )
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    ORDER BY prev_type, next_type
    """
)

oracle("streaming_cms_rollup")(
    # Rebuilds the 4x256 user_id sketch over the WHOLE events table; the
    # streamed cell table must equal it bit-for-bit (cells merge by
    # addition — exactly what streaming aggregation state computes).
    """
    WITH exact AS (
        SELECT user_id, count(*)::BIGINT AS exact_count
        FROM events GROUP BY user_id
    ), rows_ AS (
        SELECT unnest(range(0, 4)) AS row_idx
    ), cells AS (
        SELECT row_idx, bucket, sum(exact_count)::BIGINT AS cell_count
        FROM (
            SELECT r.row_idx,
                   CAST(('0x' || substring(
                        md5(e.user_id::VARCHAR || 'cms' || r.row_idx::VARCHAR),
                        1, 8)) AS UBIGINT) % 256 AS bucket,
                   e.exact_count
            FROM exact e CROSS JOIN rows_ r
        )
        GROUP BY row_idx, bucket
    ), probes AS (
        SELECT user_id, exact_count FROM exact
        ORDER BY exact_count DESC, user_id ASC LIMIT 10
    ), probe_cells AS (
        SELECT p.user_id, r.row_idx,
               CAST(('0x' || substring(
                    md5(p.user_id::VARCHAR || 'cms' || r.row_idx::VARCHAR),
                    1, 8)) AS UBIGINT) % 256 AS bucket
        FROM probes p CROSS JOIN rows_ r
    ), est AS (
        SELECT k.user_id, min(c.cell_count)::BIGINT AS cms_estimate
        FROM probe_cells k
        JOIN cells c ON c.row_idx = k.row_idx AND c.bucket = k.bucket
        GROUP BY k.user_id
    )
    SELECT p.user_id, p.exact_count, e.cms_estimate,
           e.cms_estimate >= p.exact_count AS overestimates
    FROM probes p JOIN est e USING (user_id)
    ORDER BY user_id
    """
)

oracle("sketch_mg_heavy_langs")(
    # Exact heavy set at the same n/(k+1) threshold (k=3); presence and
    # the n/(k+1) underestimate bound are the Misra-Gries guarantees the
    # Spark side must uphold whatever its partition layout.
    """
    WITH t AS (SELECT count(*) AS n FROM documents),
    c AS (SELECT lang, count(*)::BIGINT AS exact_count
          FROM documents GROUP BY lang)
    SELECT lang, exact_count, TRUE AS in_sketch, TRUE AS within_bound
    FROM c, t WHERE exact_count > n / 4.0
    ORDER BY lang
    """
)

oracle("join_dpp_partition_pruned")(
    # The partitioned work copy holds exactly the lineitem rows, so the
    # dual runs on the source table directly.
    """
    WITH dim(returnflag, handling_class) AS (
        VALUES ('R','refund'), ('A','keep'), ('N','keep')
    )
    SELECT l.l_returnflag, count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN dim d ON l.l_returnflag = d.returnflag
    WHERE d.handling_class = 'refund'
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """
)

# Shared planting CTE of the SimHash certification pair (mirrors
# extensions._planted_dup_corpus / _exact_dup_pairs): 50 deterministic
# duplicates re-keyed at +10M, exact-dup pairs via md5 equality.
_PLANTED_SIMHASH_CORPUS_SQL = """planted AS (
        SELECT doc_id + 10000000 AS doc_id, text
        FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 50)
    ), corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id, text FROM planted
    ), g AS (SELECT md5(text) AS h, doc_id FROM corpus)"""

oracle("dedup_simhash_exact_recall")(
    # Identical text -> identical signature -> Hamming 0: simhash must
    # find every exact-duplicate pair, whatever its bucket hashes are.
    # The corpus is the documents table plus 50 planted duplicates (the
    # 50 lowest doc_ids re-keyed at +10M — same planting as the Spark
    # side), so n_expected_pairs >= 50 at every SF: a green row asserts
    # PRESENCE of recalled pairs, not absence of misses over an
    # accidentally-empty pair set.
    f"""
    WITH {_PLANTED_SIMHASH_CORPUS_SQL}
    SELECT count(*)::BIGINT AS n_expected_pairs,
           count(*)::BIGINT AS n_found,
           0::BIGINT AS n_missed
    FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id
    """
)

oracle("ann_rerank_label_boost")(
    # EXACT two-stage dual: integer quantized dots, integer label bonus,
    # ties by vec_id at both stages — the full rerank ORDER is
    # parity-checked, not just a recall floor.
    """
    WITH q AS (
        SELECT vec_id AS query_id, embedding, label AS query_label
        FROM embeddings WHERE vec_id < 3
    ), pairs AS (
        SELECT q.query_id, e.vec_id,
               unnest(list_transform(e.embedding, v -> round(v::double * 1000)::bigint)) AS ev,
               unnest(list_transform(q.embedding, v -> round(v::double * 1000)::bigint)) AS qv
        FROM embeddings e JOIN q ON e.vec_id <> q.query_id
    ), dots AS (
        SELECT query_id, vec_id, sum(ev * qv)::bigint AS dot_q
        FROM pairs GROUP BY 1, 2
    ), shortlist AS (
        SELECT query_id, vec_id, dot_q
        FROM dots
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY dot_q DESC, vec_id) <= 50
    ), boosted AS (
        SELECT s.query_id, s.vec_id,
               s.dot_q + CASE WHEN e.label = q.query_label
                              THEN 200000 ELSE 0 END AS boosted_score
        FROM shortlist s
        JOIN embeddings e ON e.vec_id = s.vec_id
        JOIN q ON q.query_id = s.query_id
    )
    SELECT query_id, vec_id, boosted_score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY boosted_score DESC, vec_id)::INT AS rank
    FROM boosted
    QUALIFY rank <= 10
    ORDER BY query_id, rank
    """
)

oracle("dedup_simhash_near_duplicates")(
    # Bound-oracle promotion of the registry's last rows-only entry:
    # the xxhash64 pair LIST has no cross-engine
    # dual, so the registered query emits the certifiable invariants —
    # n_docs and the md5-exact-dup pair count (EXACT, data-dependent,
    # planted like dedup_simhash_exact_recall so containment is never
    # vacuous) plus the recall/radius booleans (in-Spark invariants,
    # literal TRUE here). Pigeonhole completeness is certified exactly
    # by the stable-hash twin's full dual.
    f"""
    WITH {_PLANTED_SIMHASH_CORPUS_SQL}
    SELECT (SELECT count(*) FROM corpus)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_exact_dup_pairs,
           TRUE AS exact_recall_ok,
           TRUE AS within_radius_ok
    FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id
    """
)

oracle("ann_lsh_topk")(
    # Same certification dual as ann_lsh_multitable_topk: the Spark side
    # runs the OR-amplified configuration under an INDEPENDENT plane seed,
    # so the two green rows together certify the recall floor is seed-
    # robust, not one lucky hyperplane draw.
    """
    SELECT vec_id AS query_id,
           least(10, (SELECT count(*) - 1 FROM embeddings))::BIGINT AS n_returned,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 3 ORDER BY query_id
    """
)

oracle("ann_lsh_multitable_topk")(
    # n_returned derived as least(k, corpus minus the query). PRECONDITION
    # for full-k at the LSH level: the union of bucket collisions across
    # the 16 OR-amplified tables must reach >= k candidates per query —
    # with 3-plane tables (8 buckets) every corpus from sf0.001 upward
    # collides >> k; pytest pins the observed per-dataset recall.
    """
    SELECT vec_id AS query_id,
           least(10, (SELECT count(*) - 1 FROM embeddings))::BIGINT AS n_returned,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 3 ORDER BY query_id
    """
)

oracle("events_funnel_steps")(
    # Same sequential-conditional-min formulation: each step's first time
    # must be strictly after the previous step's first time.
    """
    WITH v AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        FROM events GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(v.t_view) AS t_view,
               min(CASE WHEN e.event_type = 'click' AND e.ts > v.t_view
                        THEN e.ts END) AS t_click
        FROM events e JOIN v USING (user_id)
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(c.t_view) AS t_view, min(c.t_click) AS t_click,
               min(CASE WHEN e.event_type = 'purchase' AND e.ts > c.t_click
                        THEN e.ts END) AS t_purchase
        FROM events e JOIN c USING (user_id)
        GROUP BY e.user_id
    ), agg AS (
        SELECT count(t_view) AS n_view, count(t_click) AS n_click,
               count(t_purchase) AS n_purchase
        FROM p
    )
    SELECT 1 AS step, 'view' AS step_name, n_view AS n_users,
           round(n_view / n_view::DOUBLE, 4) AS conversion_from_step1 FROM agg
    UNION ALL
    SELECT 2, 'click_after_view', n_click,
           round(n_click / n_view::DOUBLE, 4) FROM agg
    UNION ALL
    SELECT 3, 'purchase_after_click', n_purchase,
           round(n_purchase / n_view::DOUBLE, 4) FROM agg
    ORDER BY step
    """
)

# The streaming funnel must converge to EXACTLY the batch funnel on the
# same events — one oracle text, two engines' worth of certification
# (batch conditional-min vs incremental stateful-greedy + upsert).
ORACLES["streaming_funnel_steps"] = ORACLES["events_funnel_steps"]

oracle("streaming_view_purchase_outer")(
    # Batch LEFT JOIN dual of the watermarked stream-stream outer join:
    # a view with no purchase inside the horizon emits exactly once with
    # null purchase columns. Same band condition as the certified inner
    # attribution oracle.
    """
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.user_id,
           date_diff('second', v.ts, p.ts)::BIGINT AS lag_seconds,
           round(p.value, 2) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    ORDER BY view_id, purchase_id
    """
)

oracle("events_retention_cohorts")(
    """
    WITH fs AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ), act AS (
        SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS active_week,
               f.cohort_week
        FROM events e JOIN fs f USING (user_id)
    ), m AS (
        SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
               (datediff('day', cohort_week, active_week) / 7)::INT AS week_offset,
               count(DISTINCT user_id) AS n_active
        FROM act GROUP BY 1, 2
    ), cs AS (
        SELECT cohort_week, n_active AS cohort_size FROM m WHERE week_offset = 0
    )
    SELECT m.cohort_week, m.week_offset, m.n_active,
           round(m.n_active / cs.cohort_size::DOUBLE, 4) AS retention_rate
    FROM m JOIN cs USING (cohort_week)
    ORDER BY cohort_week, week_offset
    """
)

# --- bloom prefilter, KMV sketch, prefix clusters, CDC apply, drift --------

# Rebuilds the IDENTICAL 16384-bit/3-hash Bloom filter (md5-derived bit
# positions, 32-bit words via exact power-of-2 doubles) and must agree on
# every membership verdict — false positives included; n_missed = 0 is the
# superset guarantee stated as data.
oracle("join_bloom_prefilter")(
    """
    WITH urgent AS (
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    hashes AS (SELECT unnest([0, 1, 2]) AS j),
    bits AS (
        SELECT CAST(('0x' || substring(md5(o_custkey::VARCHAR || 'bloom' || j::VARCHAR), 1, 8))
                    AS UBIGINT) % 16384 AS bit
        FROM urgent CROSS JOIN hashes
    ),
    words AS (
        SELECT CAST(bit // 32 AS INTEGER) AS word_idx,
               bit_or(CAST(power(2, bit % 32) AS BIGINT)) AS word
        FROM bits GROUP BY 1
    ),
    probes AS (
        SELECT c.c_custkey, c.c_mktsegment,
               CAST(('0x' || substring(md5(c.c_custkey::VARCHAR || 'bloom' || j::VARCHAR), 1, 8))
                    AS UBIGINT) % 16384 AS bit
        FROM customer c CROSS JOIN hashes
    ),
    verdicts AS (
        SELECT p.c_custkey, p.c_mktsegment,
               bool_and(coalesce((w.word & CAST(power(2, p.bit % 32) AS BIGINT)) <> 0,
                                 false)) AS bloom_maybe
        FROM probes p
        LEFT JOIN words w ON w.word_idx = CAST(p.bit // 32 AS INTEGER)
        GROUP BY 1, 2
    ),
    flagged AS (
        SELECT v.c_mktsegment, v.bloom_maybe,
               (u.o_custkey IS NOT NULL) AS is_member
        FROM verdicts v LEFT JOIN urgent u ON u.o_custkey = v.c_custkey
    )
    SELECT c_mktsegment,
           count(*)::BIGINT AS n_customers,
           sum(bloom_maybe::INT)::BIGINT AS n_bloom_pass,
           sum(is_member::INT)::BIGINT AS n_members,
           sum((bloom_maybe AND NOT is_member)::INT)::BIGINT AS n_false_positives,
           sum((is_member AND NOT bloom_maybe)::INT)::BIGINT AS n_missed
    FROM flagged
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """
)

# Same md5 hash order in both engines, so sketch contents AND estimates
# certify exactly; estimate = (k-1) * 2^32 / h_(k), exact count when the
# sketch isn't full.
oracle("sketch_kmv_distinct_union")(
    """
    WITH ev AS (SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0),
         od AS (SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 1),
    hash_ev AS (
        SELECT DISTINCT CAST(('0x' || substring(md5(o_custkey::VARCHAR || 'kmv'), 1, 8))
                             AS UBIGINT)::BIGINT AS h FROM ev
    ),
    hash_od AS (
        SELECT DISTINCT CAST(('0x' || substring(md5(o_custkey::VARCHAR || 'kmv'), 1, 8))
                             AS UBIGINT)::BIGINT AS h FROM od
    ),
    sk_ev AS (SELECT h FROM hash_ev ORDER BY h LIMIT 64),
    sk_od AS (SELECT h FROM hash_od ORDER BY h LIMIT 64),
    sk_un AS (
        SELECT h FROM (SELECT h FROM sk_ev UNION SELECT h FROM sk_od)
        ORDER BY h LIMIT 64
    ),
    est AS (
        SELECT 'half_even' AS half, count(*)::BIGINT AS n_sketch,
               round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                          ELSE 63.0 * 4294967296.0 / max(h) END, 4) AS kmv_estimate,
               (SELECT count(DISTINCT o_custkey) FROM ev)::BIGINT AS exact_distinct
        FROM sk_ev
        UNION ALL
        SELECT 'half_odd', count(*)::BIGINT,
               round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                          ELSE 63.0 * 4294967296.0 / max(h) END, 4),
               (SELECT count(DISTINCT o_custkey) FROM od)::BIGINT
        FROM sk_od
        UNION ALL
        SELECT 'union', count(*)::BIGINT,
               round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                          ELSE 63.0 * 4294967296.0 / max(h) END, 4),
               (SELECT count(DISTINCT o_custkey) FROM orders)::BIGINT
        FROM sk_un
    )
    SELECT half, n_sketch, kmv_estimate, exact_distinct FROM est ORDER BY half
    """
)

oracle("dedup_prefix_clusters")(
    """
    SELECT min(doc_id)::BIGINT AS keep_doc_id,
           count(*)::BIGINT AS n_docs,
           length(prefix)::BIGINT AS prefix_chars
    FROM (
        SELECT doc_id,
               array_to_string(list_slice(string_split(text, ' '), 1, 20), ' ') AS prefix
        FROM documents
    )
    GROUP BY prefix
    HAVING count(*) > 1
    ORDER BY keep_doc_id
    """
)

oracle("cdc_apply_changelog")(
    """
    WITH ranked AS (
        SELECT o_custkey, o_totalprice, o_orderstatus,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC
               ) AS rn,
               count(*) OVER (PARTITION BY o_custkey) AS n_changes
        FROM orders
    )
    SELECT o_custkey,
           round(o_totalprice, 2) AS last_price,
           n_changes::BIGINT AS n_changes
    FROM ranked
    WHERE rn = 1 AND o_orderstatus <> 'F'
    ORDER BY o_custkey
    """
)

oracle("events_user_streaks")(
    """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    islands AS (
        SELECT user_id, day,
               day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                          AS INTEGER) AS island
        FROM days
    ),
    sizes AS (
        SELECT user_id, island, count(*) AS streak_days
        FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           sum(streak_days)::BIGINT AS n_active_days,
           count(*)::BIGINT AS n_streaks,
           max(streak_days)::BIGINT AS longest_streak
    FROM sizes GROUP BY user_id
    ORDER BY user_id
    """
)

# Per-bin PSI terms from integer counts (+1 smoothing, fixed 9-bin domain
# denominator) — one ln per bin rounded at a single site; no cross-row
# float summation anywhere, per the repo's knife-edge discipline.
oracle("quality_drift_psi")(
    """
    WITH sided AS (
        SELECT CAST(('0x' || substring(md5(doc_id::VARCHAR || 'psi'), 1, 8))
                    AS UBIGINT) % 2 AS side,
               least(CAST(floor(n_chars / 64) AS INTEGER), 8) AS bin
        FROM documents
    ),
    counts AS (
        SELECT bin,
               sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ref,
               sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)::BIGINT AS n_cur
        FROM sided GROUP BY bin
    ),
    tot AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM counts)
    SELECT bin, n_ref, n_cur,
           round(((n_ref + 1)::DOUBLE / (t_ref + 9) - (n_cur + 1)::DOUBLE / (t_cur + 9))
                 * ln(((n_ref + 1)::DOUBLE / (t_ref + 9))
                      / ((n_cur + 1)::DOUBLE / (t_cur + 9))), 6) AS psi_term
    FROM counts CROSS JOIN tot
    ORDER BY bin
    """
)

# Batch gaps-and-islands dual of the STREAMING session_window aggregate:
# same half-open >= 30 min boundary as events_session_window, value as
# exact integer cents divided once at the read edge.
oracle("streaming_session_window")(
    """
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*)::BIGINT AS n_events,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS session_value
    FROM numbered GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """
)

# IVFADC recall dual: same derived-n/literal-TRUE pattern as ann_ivf_topk,
# same n_probe=4-of-16 precondition (probed cells hold >= k non-query
# vectors from sf0.001 up); the shared floor is the IVF stage's (>= 2/10),
# since ADC + exact rerank cannot beat the coarse pruning on these
# near-orthogonal vectors. Per-dataset overlaps pinned by pytest.
oracle("ann_ivf_pq_topk")(
    """
    SELECT vec_id AS query_id,
           least(10, (SELECT count(*) - 1 FROM embeddings))::BIGINT AS n_returned,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 3 ORDER BY query_id
    """
)

# Median/MAD via the quantile_cont/percentile pair the engine already
# certifies (q6/q8); 4.4478 = 3 * 1.4826 written as the same decimal
# literal in both engines so the threshold folds to the identical double.
oracle("anomaly_mad_events")(
    """
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS absdev
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(absdev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           count(*)::BIGINT AS n_events,
           round(max(d.med), 4) AS median_value,
           round(max(m.mad), 4) AS mad,
           sum(CASE WHEN d.absdev > 4.4478 * m.mad THEN 1 ELSE 0 END)::BIGINT
               AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
    """
)

oracle("text_boilerplate_ngrams")(
    f"""
    WITH g AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len({_TOKS}) - 6),
                   i -> array_to_string(list_slice({_TOKS}, i, i + 7), ' ')
               )) AS ngram
        FROM documents
        WHERE len({_TOKS}) >= 8
    ),
    counts AS (
        SELECT ngram,
               count(DISTINCT doc_id)::BIGINT AS doc_freq,
               count(*)::BIGINT AS n_occurrences
        FROM g GROUP BY ngram HAVING count(DISTINCT doc_id) > 1
    )
    SELECT ngram, doc_freq, n_occurrences
    FROM counts
    ORDER BY doc_freq DESC, n_occurrences DESC, ngram ASC
    LIMIT 50
    """
)

oracle("agg_mode_deterministic")(
    """
    SELECT o_orderpriority, o_orderstatus AS modal_status, n AS n_modal
    FROM (
        SELECT o_orderpriority, o_orderstatus, count(*)::BIGINT AS n,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY count(*) DESC, o_orderstatus ASC
               ) AS rk
        FROM orders GROUP BY o_orderpriority, o_orderstatus
    )
    WHERE rk = 1
    ORDER BY o_orderpriority
    """
)

oracle("events_rolling_active_users")(
    """
    WITH pairs AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        FROM events
    ),
    dau AS (SELECT day, count(DISTINCT user_id)::BIGINT AS dau FROM pairs GROUP BY day),
    anchors AS (SELECT DISTINCT day AS anchor FROM pairs),
    wau AS (
        SELECT a.anchor, count(DISTINCT p.user_id)::BIGINT AS wau_7d
        FROM anchors a
        JOIN pairs p
          ON date_diff('day', p.day, a.anchor) BETWEEN 0 AND 6
        GROUP BY a.anchor
    )
    SELECT d.day, d.dau, w.wau_7d
    FROM dau d JOIN wau w ON w.anchor = d.day
    ORDER BY d.day
    """
)

# Same ASOF LEFT JOIN dual as join_asof_latest_order, with the 7-day
# staleness guard as a CASE post-projection in both engines.
oracle("join_asof_tolerance")(
    """
    WITH daily AS (
        SELECT o_custkey, o_orderdate::date AS obs_date,
               o_orderdate::date AS order_date,
               round(sum(o_totalprice), 2) AS day_spend
        FROM orders GROUP BY o_custkey, o_orderdate::date
    ), ev AS (
        SELECT event_id, user_id, ts::date AS obs_date FROM events
    )
    SELECT ev.event_id, ev.user_id, ev.obs_date,
           CASE WHEN date_diff('day', d.order_date, ev.obs_date) <= 7
                THEN d.order_date END AS order_date_recent,
           CASE WHEN date_diff('day', d.order_date, ev.obs_date) <= 7
                THEN d.day_spend END AS day_spend_recent
    FROM ev ASOF LEFT JOIN daily d
      ON ev.user_id = d.o_custkey AND ev.obs_date >= d.obs_date
    ORDER BY ev.event_id
    """
)

# --- quantile sketches, recall sweep, multi-draw sampling ------------------

# t-digest certification duals: the sketch side is bound-certified (rank-
# space booleans the dual states as literal TRUE); the cross-engine-exact
# payload is the exact quantile via the quantile_cont/percentile pair the
# engine already certifies (q6/q8/anomaly_mad), rounded at one site.
oracle("sketch_tdigest_quantile_bounds")(
    """
    WITH p AS (
        SELECT quantile_cont(l_extendedprice, [0.1, 0.5, 0.9, 0.99]) AS v
        FROM lineitem
    )
    SELECT t.q, round(t.e, 2) AS exact_q,
           TRUE AS direct_rank_ok, TRUE AS merged_rank_ok, TRUE AS merge_agrees
    FROM (
        -- cast: a bare decimal list unnests as DECIMAL(3,2), which the
        -- driver hash renders '0.10' vs Spark's double 0.1
        SELECT unnest([0.1::DOUBLE, 0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q,
               unnest(v) AS e
        FROM p
    ) t
    ORDER BY t.q
    """
)

oracle("sketch_incremental_tdigest")(
    # Incremental-store family, t-digest member: the exact quantiles are
    # the data-dependent dual (quantile_cont over the full value set, the
    # sketch_tdigest_quantile_bounds lineage); the merged-vs-exact and
    # merged-vs-from-scratch rank bounds are in-Spark invariants stated
    # as booleans — incremental == full within the documented t-digest
    # tolerance, parity-checked.
    """
    WITH p AS (
        SELECT quantile_cont(value::DOUBLE, [0.1, 0.5, 0.9]) AS v
        FROM events
    )
    SELECT t.q, round(t.e, 2) AS exact_q,
           TRUE AS merged_rank_ok, TRUE AS incremental_agrees
    FROM (
        SELECT unnest([0.1::DOUBLE, 0.5::DOUBLE, 0.9::DOUBLE]) AS q,
               unnest(v) AS e
        FROM p
    ) t
    ORDER BY t.q
    """
)

oracle("sketch_incremental_mg")(
    # Incremental-store family, Misra-Gries member: exact heavy set is
    # the data-dependent dual; the in-summary / bound invariants are
    # in-Spark facts (Mergeable Summaries), literal TRUE here.
    """
    WITH t AS (SELECT count(*)::DOUBLE AS n FROM documents)
    SELECT lang, count(*)::BIGINT AS exact_count,
           TRUE AS in_merged,
           TRUE AS merged_within_bound,
           TRUE AS scratch_within_bound
    FROM documents, t
    GROUP BY lang, t.n
    HAVING count(*) > t.n / 4
    ORDER BY lang
    """
)

oracle("agg_tdigest_grouped_p95")(
    """
    SELECT event_type, count(*)::BIGINT AS n_events,
           round(quantile_cont(value, 0.95), 4) AS exact_p95,
           TRUE AS rank_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """
)

# IVFADC sweep dual: derived-n/literal-TRUE, same shape and n_probe>=4
# precondition lineage as ann_ivf_pq_topk (8-of-16 probed cells hold a
# full top-10 from sf0.001 up; the 2-cell floor is deliberately low).
oracle("ann_ivf_pq_recall_sweep")(
    """
    SELECT vec_id AS query_id,
           least(10, (SELECT count(*) - 1 FROM embeddings))::BIGINT AS n_hi,
           TRUE AS recall_lo_ok, TRUE AS recall_hi_ok
    FROM embeddings WHERE vec_id < 3 ORDER BY query_id
    """
)

oracle("sample_weighted_multi_draw")(
    # Same A-ES priority as sampling.weighted_sample_per_group: one draw
    # per lang, ln((h+1)/2^32) / w priority with the md5-derived hash and
    # NULL/non-positive weights clamped to 1 (n_chars >= 1 here, dormant).
    """
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY ln((CAST(('0x' || substring(md5(doc_id::VARCHAR || 'wgroup'), 1, 8))
                                     AS UBIGINT) + 1) / 4294967296.0)
                            / (CASE WHEN n_chars IS NULL OR n_chars <= 0
                                    THEN 1.0 ELSE n_chars::DOUBLE END) DESC,
                            doc_id ASC
               ) AS draw_rank
        FROM documents
    )
    SELECT doc_id, lang, n_chars, draw_rank::INT AS draw_rank
    FROM keyed WHERE draw_rank <= 20
    ORDER BY lang, draw_rank
    """
)

# Rolling trailing-7-day p95 dual: the digest side is bound-certified
# (rank_ok TRUE); the cross-engine payload is the exact windowed p95 via
# the certified quantile_cont/percentile pair, plus integer window counts.
oracle("events_rolling_p95_tdigest")(
    """
    WITH src AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, value::DOUBLE AS v
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM src),
    vals7 AS (
        SELECT d.day AS anchor, s.v
        FROM days d JOIN src s ON s.day BETWEEN d.day - 6 AND d.day
    )
    SELECT anchor, count(*)::BIGINT AS n_window_values,
           round(quantile_cont(v, 0.95), 4) AS exact_p95, TRUE AS rank_ok
    FROM vals7 GROUP BY anchor ORDER BY anchor
    """
)

oracle("sample_token_budget_mix")(
    # Same md5 hash order as sampling.uniform_hash(doc_id, 'mix'); integer
    # cumulative sums are exact in both engines (::BIGINT pins DuckDB's
    # HUGEINT sum). "cum - n_chars < budget" keeps the budget-crossing doc.
    """
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               sum(n_chars) OVER (
                   PARTITION BY lang
                   ORDER BY CAST(('0x' || substring(md5(doc_id::VARCHAR || 'mix'), 1, 8))
                                 AS UBIGINT) ASC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_chars
        FROM documents
    )
    SELECT doc_id, lang, n_chars, cum_chars::BIGINT AS cum_chars
    FROM keyed WHERE cum_chars - n_chars < 30000
    ORDER BY lang, cum_chars
    """
)

# KMV rolling-WAU dual: the sketch is md5-integer arithmetic end to end,
# so the dual REBUILDS it and the parity hash certifies the merged
# ESTIMATES bit-for-bit (one rounded double division, same numerator both
# engines) — unlike HLL, no bound-only oracle needed. within_bound
# restates the k=256 accuracy contract (rse ~ 6.3%; observed <= 6%).
oracle("events_rolling_wau_kmv")(
    """
    WITH pairs AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        FROM events
    ),
    hashes AS (
        SELECT DISTINCT day,
               CAST(('0x' || substring(md5(user_id::VARCHAR || 'kmvwau'), 1, 8))
                    AS UBIGINT) AS h
        FROM pairs
    ),
    daily AS (
        SELECT day, h FROM (
            SELECT day, h,
                   row_number() OVER (PARTITION BY day ORDER BY h ASC) AS rk
            FROM hashes
        ) WHERE rk <= 256
    ),
    expanded AS (
        SELECT DISTINCT d.day + t.i::INTEGER AS anchor, d.h
        FROM daily d, range(0, 7) t(i)
    ),
    wsk AS (
        SELECT anchor, h,
               row_number() OVER (PARTITION BY anchor ORDER BY h ASC) AS rk
        FROM expanded
    ),
    est AS (
        SELECT anchor, count(*)::BIGINT AS n_sketch, max(h) AS h_k
        FROM wsk WHERE rk <= 256 GROUP BY anchor
    ),
    kmv AS (
        SELECT anchor,
               round(CASE WHEN n_sketch < 256 THEN n_sketch::DOUBLE
                          ELSE 255.0 * 4294967296.0 / h_k END, 4) AS wau_kmv
        FROM est
    ),
    exact AS (
        SELECT p.day + t.i::INTEGER AS anchor, count(DISTINCT p.user_id)::BIGINT AS wau_exact
        FROM pairs p, range(0, 7) t(i)
        GROUP BY 1
    )
    SELECT e.anchor, e.wau_exact, k.wau_kmv,
           abs(k.wau_kmv - e.wau_exact) <= 0.15 * e.wau_exact AS within_bound
    FROM exact e JOIN kmv k USING (anchor)
    WHERE e.anchor IN (SELECT day FROM pairs)
    ORDER BY e.anchor
    """
)

oracle("clean_impute_median_by_group")(
    # Same md5 holdout as the Spark side; medians via the certified
    # quantile_cont/percentile pair, rounded at the single imputation
    # site; surviving values pass through bit-identical.
    """
    WITH base AS (
        SELECT event_id, event_type,
               CASE WHEN CAST(('0x' || substring(md5(event_id::VARCHAR || 'impute'), 1, 8))
                              AS UBIGINT) % 10 = 0
                    THEN NULL ELSE value END AS v
        FROM events
    ),
    med AS (
        SELECT event_type, quantile_cont(v, 0.5) AS med FROM base GROUP BY event_type
    )
    SELECT b.event_id, b.event_type,
           coalesce(b.v, round(m.med, 4)) AS value_imputed,
           b.v IS NULL AS was_imputed
    FROM base b JOIN med m USING (event_type)
    ORDER BY b.event_id
    """
)

oracle("streaming_tdigest_daily_p95")(
    # Streaming-digest bounds are stated as literal TRUE (rank-space
    # certification); exact per-day count + p95 via quantile_cont.
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           count(*)::BIGINT AS n_events,
           round(quantile_cont(value::DOUBLE, 0.95), 4) AS exact_p95,
           TRUE AS counts_match, TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
    FROM events GROUP BY 1 ORDER BY day
    """
)

oracle("dedup_jaccard_prefix_join")(
    # Exhaustive dual: every pair sharing >= 1 token (a superset of every
    # pair with Jaccard > 0), exact intersection counts, threshold 0.6.
    # A hash match proves the Spark side's prefix filter is lossless.
    """
    WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    s AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter::DOUBLE / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM pairs
    JOIN s sa ON sa.doc_id = id_a
    JOIN s sb ON sb.doc_id = id_b
    WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.6
    ORDER BY id_a, id_b
    """
)

oracle("dedup_winnow_shared_fingerprints")(
    # Winnowing dual: identical 5-gram md5 hashes, min over the SAME
    # full 4-position frames (positions past n-w dropped on both sides —
    # DuckDB's ROWS frame would silently shrink at the tail), identical
    # stop-fingerprint (>50 docs) and >=3-shared thresholds.
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(ts) - 4, 0) + 1),
                   i -> array_to_string(list_slice(ts, i, i + 4), ' ')
               )) AS gram,
               unnest(range(1, greatest(len(ts) - 4, 0) + 1)) AS pos
        FROM toks
    ),
    hashes AS (
        SELECT doc_id, pos,
               CAST(('0x' || substring(md5(gram || 'winnow'), 1, 8)) AS UBIGINT) AS h,
               count(*) OVER (PARTITION BY doc_id) AS n_pos
        FROM grams
    ),
    fps AS (
        SELECT DISTINCT doc_id, fp FROM (
            SELECT doc_id, pos, n_pos,
                   min(h) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
                   ) AS fp
            FROM hashes
        ) WHERE pos <= n_pos - 3  -- 1-based twin of Spark's 0-based pos <= n_pos - 4
    ),
    rare AS (
        SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50
    ),
    kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 3
    ORDER BY id_a, id_b
    """
)

oracle("scd2_asof_segments")(
    # Same history construction as scd2_customer_segments, then the
    # half-open AS-OF filter at 2020-08-15.
    """
    WITH snaps AS (
        SELECT c_custkey, c_mktsegment, DATE '2020-01-01' AS snap_ts FROM customer
        UNION ALL
        SELECT c_custkey, 'NEW-' || c_mktsegment, DATE '2020-06-01'
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey, 'NEW-' || c_mktsegment, DATE '2021-01-01'
        FROM customer WHERE c_custkey % 3 = 0
    ), flagged AS (
        SELECT *, lag(c_mktsegment) OVER (PARTITION BY c_custkey ORDER BY snap_ts) AS prev
        FROM snaps
    ), changes AS (
        SELECT c_custkey, c_mktsegment, snap_ts
        FROM flagged WHERE prev IS NULL OR prev <> c_mktsegment
    ), hist AS (
        SELECT c_custkey, c_mktsegment,
               snap_ts AS valid_from,
               lead(snap_ts) OVER (PARTITION BY c_custkey ORDER BY snap_ts) AS valid_to
        FROM changes
    )
    SELECT c_custkey, c_mktsegment, valid_from
    FROM hist
    WHERE valid_from <= DATE '2020-08-15'
      AND (valid_to IS NULL OR valid_to > DATE '2020-08-15')
    ORDER BY c_custkey
    """
)

oracle("ann_ivf_filtered_topk")(
    # Derived-n/literal-TRUE, same lineage as ann_ivf_topk. PRECONDITION
    # for n_returned = k: the 4-of-16 probed cells must together hold
    # >= 10 non-query vectors with even label — labels are uncorrelated
    # with k-means cells, so ~half of each probed cell qualifies (true
    # from sf0.001 upward: >= 250 eligible vectors, ~60 in the probe
    # set at worst); pytest pins the per-dataset overlaps.
    """
    SELECT e1.vec_id AS query_id,
           least(10, (SELECT count(*) FROM embeddings e2
                      WHERE e2.label % 2 = 0 AND e2.vec_id <> e1.vec_id))::BIGINT
               AS n_returned,
           TRUE AS recall_ok, TRUE AS filter_ok
    FROM embeddings e1 WHERE e1.vec_id < 3 ORDER BY query_id
    """
)

oracle("cdc_scd2_roundtrip")(
    # Ground truth in closed form: every third customer re-segmented at
    # the v2 snapshot, everyone else current since v1; the v3
    # re-observation collapses on both paths. paths_agree TRUE certifies
    # produce(diff) -> consume(replay) == scd2_history cross-engine.
    """
    SELECT c_custkey,
           CASE WHEN c_custkey % 3 = 0 THEN 'NEW-' || c_mktsegment
                ELSE c_mktsegment END AS current_segment,
           CASE WHEN c_custkey % 3 = 0 THEN DATE '2020-06-01'
                ELSE DATE '2020-01-01' END AS current_since,
           TRUE AS paths_agree
    FROM customer ORDER BY c_custkey
    """
)

oracle("sketch_tdigest_weighted_median")(
    # Exact weighted median dual (same cumulative form as
    # agg_weighted_median_price) + literal TRUE for the weighted-rank
    # bounds — a green row certifies the weighted digest's 0.05/0.02
    # rank-space contract cross-engine; sketch floats never reach the
    # parity hash.
    """
    WITH t AS (
        SELECT l_returnflag, l_extendedprice,
               sum(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice
                   ROWS UNBOUNDED PRECEDING
               ) AS cum,
               sum(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag
               ) AS tot
        FROM lineitem
    ), c AS (
        SELECT *, row_number() OVER (
                   PARTITION BY l_returnflag ORDER BY l_extendedprice
               ) AS rk
        FROM t WHERE 2 * cum >= tot
    )
    SELECT l_returnflag, l_extendedprice AS weighted_median_price,
           tot::BIGINT AS total_qty,
           TRUE AS direct_rank_ok, TRUE AS merged_rank_ok, TRUE AS merge_agrees
    FROM c WHERE rk = 1 ORDER BY l_returnflag
    """
)

oracle("agg_weighted_median_price")(
    # Lower weighted median via cumulative weights — integer comparisons
    # only; the emitted price is a raw parquet double on both sides.
    """
    WITH t AS (
        SELECT l_returnflag, l_extendedprice,
               CAST(l_quantity AS BIGINT) AS qty, l_orderkey, l_linenumber,
               sum(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING
               ) AS cum,
               sum(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag
               ) AS tot
        FROM lineitem
    ), c AS (
        SELECT *, row_number() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ) AS rk
        FROM t WHERE 2 * cum >= tot
    )
    SELECT l_returnflag, l_extendedprice AS weighted_median_price,
           tot::BIGINT AS total_qty
    FROM c WHERE rk = 1 ORDER BY l_returnflag
    """
)

# Same md5 hash order in both engines: the per-set and union sketches
# rebuild identically, so rho = |S ∩ KMV(A) ∩ KMV(B)| / |S| and the
# intersection estimate certify bit-for-bit (exact below k). Float sites
# mirror the Spark expression order: (est_u * n_both) / n_union.
oracle("sketch_kmv_set_overlap")(
    """
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE year(o_orderdate) = 1995),
         b AS (SELECT DISTINCT o_custkey FROM orders
               WHERE year(o_orderdate) = 1996),
    ha AS (
        SELECT DISTINCT CAST(('0x' || substring(md5(o_custkey::VARCHAR || 'kmvov'), 1, 8))
                             AS UBIGINT)::BIGINT AS h FROM a
    ),
    hb AS (
        SELECT DISTINCT CAST(('0x' || substring(md5(o_custkey::VARCHAR || 'kmvov'), 1, 8))
                             AS UBIGINT)::BIGINT AS h FROM b
    ),
    ska AS (SELECT h FROM ha ORDER BY h LIMIT 256),
    skb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
    sku AS (
        SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
        ORDER BY h LIMIT 256
    ),
    stats AS (
        SELECT count(*)::BIGINT AS n_union_sketch, max(h) AS h_k FROM sku
    ),
    m AS (
        SELECT count(*)::BIGINT AS n_both
        FROM sku JOIN ska USING (h) JOIN skb USING (h)
    ),
    ex AS (
        SELECT (SELECT count(*) FROM a JOIN b USING (o_custkey))::BIGINT
                   AS inter_exact,
               (SELECT count(*) FROM
                   (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b)
               )::BIGINT AS union_exact
    )
    SELECT n_union_sketch, n_both,
           round(n_both / n_union_sketch, 4) AS jaccard_kmv,
           round((CASE WHEN n_union_sketch < 256 THEN n_union_sketch::DOUBLE
                       ELSE 255.0 * 4294967296.0 / h_k END)
                 * n_both / n_union_sketch, 4) AS inter_kmv,
           round(inter_exact / union_exact, 4) AS jaccard_exact,
           inter_exact, union_exact
    FROM stats, m, ex
    """
)

# Integer TF vectors over the stop-filtered vocabulary; one float site
# (dot / sqrt(na*nb)) from exact integers, bucketed AFTER the single
# 4dp rounding site — every pair's bucket and integer dot certify.
oracle("text_sparse_cosine_pairs")(
    """
    WITH toks AS (
        SELECT doc_id AS _id,
               unnest(list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> array_to_string(
                       list_slice(string_split(text, ' '), i, i + 2), ' ')
               )) AS tok
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    tf AS (
        SELECT _id, tok, count(*)::BIGINT AS tf FROM toks GROUP BY _id, tok
    ),
    rare AS (SELECT tok FROM tf GROUP BY tok HAVING count(*) <= 50),
    kept AS (SELECT tf.* FROM tf JOIN rare USING (tok)),
    norms AS (
        SELECT _id, sum(tf * tf)::BIGINT AS norm_sq FROM kept GROUP BY _id
    ),
    dots AS (
        SELECT a._id AS id_a, b._id AS id_b, sum(a.tf * b.tf)::BIGINT AS dot
        FROM kept a JOIN kept b ON a.tok = b.tok AND a._id < b._id
        GROUP BY a._id, b._id
    ),
    pairs AS (
        SELECT id_a, id_b, dot,
               round(dot / sqrt((na.norm_sq * nb.norm_sq)::DOUBLE), 4) AS cosine
        FROM dots
        JOIN norms na ON na._id = id_a
        JOIN norms nb ON nb._id = id_b
    )
    SELECT floor(cosine * 10)::INT AS cos_bucket,
           count(*)::BIGINT AS n_pairs,
           sum(dot)::BIGINT AS sum_dot
    FROM pairs WHERE cosine >= 0.1
    GROUP BY cos_bucket ORDER BY cos_bucket
    """
)

# Exact integers into one float division; rounded lift ties broken by the
# pair key, so the top-20 cut is a total order in both engines.
oracle("events_market_basket_pairs")(
    """
    WITH _ok_baskets AS (
        -- hot-basket guard (mirrors _mineable_baskets): baskets over the
        -- shared cap are excluded whole before any O(basket^k) join.
        -- Aggregate + semi-join form on purpose: the window form made
        -- DuckDB spill >80 GB of temp on the triple join at sf0.1.
        SELECT l_orderkey FROM (
            SELECT l_orderkey, count(DISTINCT l_partkey) AS _bsz
            FROM lineitem GROUP BY l_orderkey
        ) s WHERE _bsz <= __BASKET_CAP__
    ), baskets AS MATERIALIZED (
        -- MATERIALIZED: with the guard join inlined, DuckDB's optimizer
        -- flipped one basket join to a piecewise merge join on the part
        -- inequality (O(n^2) output, >80 GB temp spill at sf0.1);
        -- materializing restores hash joins on the order key
        SELECT DISTINCT l.l_orderkey, l.l_partkey
        FROM lineitem l JOIN _ok_baskets USING (l_orderkey)
    ),
    totals AS (
        SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM baskets
    ),
    item AS (
        SELECT l_partkey, count(*)::BIGINT AS c_item FROM baskets
        GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*)::BIGINT AS c_pair
        FROM baskets a
        JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= 2
    )
    SELECT part_a, part_b, c_pair,
           ia.c_item AS c_a, ib.c_item AS c_b,
           round((c_pair * n_orders)::DOUBLE / (ia.c_item * ib.c_item), 4)
               AS lift
    FROM pairs
    JOIN item ia ON ia.l_partkey = part_a
    JOIN item ib ON ib.l_partkey = part_b
    CROSS JOIN totals
    ORDER BY lift DESC, part_a, part_b
    LIMIT 20
    """
)

# The projection matrix is rebuilt from the SAME seeded generator the Spark
# operator uses (the LSH-hyperplane contract); quantized components make
# every projected value an exact integer dot product, so the per-label
# integer sums certify bit-for-bit. DuckDB's paired unnest zips the value
# list with its 1-based position list.
from ..operators.similarity import jl_projection_rows as _jl_rows

_JL_VALUES = ", ".join(f"({j}, {d + 1}, {v})" for j, d, v in _jl_rows())

oracle("embedding_jl_projection")(
    f"""
    WITH m(j, d, r) AS (VALUES {_JL_VALUES}),
    q AS (
        SELECT vec_id, label,
               unnest(generate_series(1, len(qe))) AS d,
               unnest(qe) AS qv
        FROM (
            SELECT vec_id, label,
                   list_transform(embedding,
                                  v -> round(v::DOUBLE * 1000)::BIGINT) AS qe
            FROM embeddings
        )
    ),
    proj AS (
        SELECT vec_id, label, m.j AS pos, sum(qv * m.r)::BIGINT AS comp
        FROM q JOIN m ON m.d = q.d
        GROUP BY vec_id, label, m.j
    )
    SELECT label, pos,
           count(*)::BIGINT AS n_vectors,
           sum(comp)::BIGINT AS sum_comp,
           sum(abs(comp))::BIGINT AS sum_abs_comp
    FROM proj GROUP BY label, pos ORDER BY label, pos
    """
)

# Integer rank sums end to end; ONE float division site for the mean
# percent rank, mirrored expression shape in both engines.
oracle("window_global_percent_rank")(
    """
    WITH counts AS (
        SELECT l_extendedprice, count(*)::BIGINT AS cnt
        FROM lineitem GROUP BY l_extendedprice
    ),
    ranked AS (
        SELECT l_extendedprice,
               (sum(cnt) OVER (ORDER BY l_extendedprice ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - cnt)::BIGINT AS rank_lt
        FROM counts
    ),
    total AS (SELECT count(*)::BIGINT AS n_total FROM lineitem)
    SELECT l_returnflag,
           count(*)::BIGINT AS n_rows,
           sum(rank_lt)::BIGINT AS sum_rank_lt,
           round(sum(rank_lt)::BIGINT / (count(*) * (n_total - 1)), 4)
               AS mean_pct_rank
    FROM lineitem JOIN ranked USING (l_extendedprice) CROSS JOIN total
    GROUP BY l_returnflag, n_total
    ORDER BY l_returnflag
    """
)

# The stream plants each event_id % 5 == 0 row twice per batch; exactly-once
# dedup means the maintained table equals the rollup over the ORIGINAL
# events (count(*) of distinct event rows — event_id is unique in source).
oracle("streaming_dedup_rollup")(
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           count(*)::BIGINT AS event_count
    FROM events
    GROUP BY day, event_type
    ORDER BY day, event_type
    """
)

# Exhaustive dual (length-filtered brute force — |len diff| > 1 implies
# d > 1, so the filter is lossless): a hash match proves the deletion-
# neighborhood candidate index missed no pair at d <= 1.
oracle("join_fuzzy_deletion_neighbors")(
    """
    WITH names AS (SELECT DISTINCT p_name AS name FROM part),
    typos AS (
        SELECT name || 'x' AS name FROM names
        WHERE CAST(('0x' || substring(md5(name || 'typo'), 1, 8)) AS UBIGINT)
              % 8 = 0
    ),
    corpus AS (SELECT DISTINCT name FROM
               (SELECT name FROM names UNION ALL SELECT name FROM typos))
    SELECT a.name AS val_a, b.name AS val_b,
           levenshtein(a.name, b.name)::INT AS edit_distance
    FROM corpus a JOIN corpus b
      ON a.name < b.name
     AND abs(len(a.name) - len(b.name)) <= 1
     AND levenshtein(a.name, b.name) <= 1
    ORDER BY val_a, val_b
    """
)

# Fact-to-SCD2 temporal join: history rebuilt via the change-point CTE
# (identical re-observations collapse), half-open containment, integer
# cents divided at one site.
oracle("scd2_temporal_fact_join")(
    """
    WITH snaps AS (
        SELECT c_custkey, c_mktsegment, DATE '1990-01-01' AS snap_ts FROM customer
        UNION ALL
        SELECT c_custkey, 'NEW-' || c_mktsegment, DATE '1997-01-01'
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey, 'NEW-' || c_mktsegment, DATE '1999-01-01'
        FROM customer WHERE c_custkey % 3 = 0
    ), flagged AS (
        SELECT *, lag(c_mktsegment) OVER (PARTITION BY c_custkey ORDER BY snap_ts) AS prev
        FROM snaps
    ), changes AS (
        SELECT c_custkey, c_mktsegment, snap_ts
        FROM flagged WHERE prev IS NULL OR prev <> c_mktsegment
    ), hist AS (
        SELECT c_custkey, c_mktsegment,
               snap_ts AS valid_from,
               coalesce(lead(snap_ts) OVER (PARTITION BY c_custkey ORDER BY snap_ts),
                        DATE '9999-12-31') AS valid_to
        FROM changes
    )
    SELECT h.c_mktsegment,
           year(o.o_orderdate)::INT AS order_year,
           count(*)::BIGINT AS n_orders,
           round(sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT / 100.0, 2)
               AS revenue
    FROM orders o
    JOIN hist h
      ON o.o_custkey = h.c_custkey
     AND o.o_orderdate::DATE >= h.valid_from
     AND o.o_orderdate::DATE <  h.valid_to
    GROUP BY h.c_mktsegment, order_year
    ORDER BY h.c_mktsegment, order_year
    """
)

# Independent dual: dominance stated directly (NOT EXISTS a strictly
# better point) over the same per-price collapse — certifies the Spark
# side's sort-based window formulation against the DEFINITION.
oracle("agg_pareto_skyline")(
    """
    WITH pts AS (
        SELECT p_retailprice AS price, max(p_size) AS size
        FROM part GROUP BY p_retailprice
    ),
    sky AS (
        SELECT price, size FROM pts b
        WHERE NOT EXISTS (
            SELECT 1 FROM pts a
            WHERE a.price <= b.price AND a.size >= b.size
              AND (a.price < b.price OR a.size > b.size)
        )
    )
    SELECT s.price, s.size::INT AS size, count(*)::BIGINT AS n_parts
    FROM sky s JOIN part p
      ON p.p_retailprice = s.price AND p.p_size = s.size
    GROUP BY s.price, s.size
    ORDER BY s.price
    """
)

# Independent dual: triangles counted on the UNDIRECTED a<b edge list by
# the canonical x<y<z triple join (no orientation machinery) — certifies
# the degree-oriented wedge-closing count against the definition.
oracle("graph_triangle_count")(
    """
    WITH _ok_baskets AS (
        -- hot-basket guard (mirrors _mineable_baskets): baskets over the
        -- shared cap are excluded whole before any O(basket^k) join.
        -- Aggregate + semi-join form on purpose: the window form made
        -- DuckDB spill >80 GB of temp on the triple join at sf0.1.
        SELECT l_orderkey FROM (
            SELECT l_orderkey, count(DISTINCT l_partkey) AS _bsz
            FROM lineitem GROUP BY l_orderkey
        ) s WHERE _bsz <= __BASKET_CAP__
    ), baskets AS MATERIALIZED (
        -- MATERIALIZED: with the guard join inlined, DuckDB's optimizer
        -- flipped one basket join to a piecewise merge join on the part
        -- inequality (O(n^2) output, >80 GB temp spill at sf0.1);
        -- materializing restores hash joins on the order key
        SELECT DISTINCT l.l_orderkey, l.l_partkey
        FROM lineitem l JOIN _ok_baskets USING (l_orderkey)
    ),
    e AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= 2
    ),
    deg AS (
        SELECT n, count(*)::BIGINT AS deg FROM (
            SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e
        ) GROUP BY n
    ),
    tri AS (
        SELECT count(*)::BIGINT AS n_triangles
        FROM e e1
        JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    agg AS (
        SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
               (SELECT count(*) FROM e)::BIGINT AS n_edges,
               (SELECT sum(deg * (deg - 1))::BIGINT // 2 FROM deg)::BIGINT
                   AS n_wedges
    )
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0
                THEN round(3.0 * n_triangles / n_wedges, 4)
                ELSE 0.0 END AS clustering_coef
    FROM agg, tri
    """
)

# Largest-remainder integer split: div credit everywhere, mod to the
# LAST touch — conservation holds exactly, the whole split certifies.
oracle("events_attribution_multi_touch")(
    """
    WITH purchases AS (
        SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts,
               round(value * 100)::BIGINT AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    views AS (
        SELECT event_id AS v_id, user_id AS v_user, ts AS v_ts
        FROM events WHERE event_type = 'view'
    ),
    touched AS (
        SELECT p.*, v.v_id, v.v_ts
        FROM purchases p JOIN views v
          ON p.p_user = v.v_user
         AND v.v_ts <= p.p_ts
         AND v.v_ts > p.p_ts - INTERVAL 24 HOURS
    ),
    credited AS (
        SELECT *,
               count(*) OVER (PARTITION BY p_id) AS n_touches,
               row_number() OVER (PARTITION BY p_id
                                  ORDER BY v_ts ASC, v_id ASC) AS touch_rank
        FROM touched
    )
    SELECT CAST(v_ts AS DATE) AS view_day,
           count(*)::BIGINT AS n_credited_views,
           count(DISTINCT p_id)::BIGINT AS n_purchases_touched,
           round(sum(cents // n_touches
                     + CASE WHEN touch_rank = n_touches
                            THEN cents % n_touches ELSE 0 END
                 )::BIGINT / 100.0, 2) AS credited_revenue
    FROM credited
    GROUP BY view_day
    ORDER BY view_day
    """
)

oracle("text_bm25_topk")(
    # Same BM25 (k1=1.2, b=0.75, Robertson idf with the +1): query = the 5
    # most document-frequent terms; all constants cast to DOUBLE so no
    # DECIMAL arithmetic sneaks in; the per-doc sum is rounded at the one
    # terminal site exactly like the Spark side.
    """
    WITH toks AS (
        SELECT doc_id,
               len(string_split(text, ' '))::BIGINT AS dl,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ), postings AS (
        SELECT doc_id, term, count(*)::BIGINT AS tf, max(dl) AS dl
        FROM toks GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, count(DISTINCT doc_id)::BIGINT AS doc_freq
        FROM toks GROUP BY term
    ), qterms AS (
        SELECT term, doc_freq FROM dfreq
        ORDER BY doc_freq DESC, term LIMIT 5
    ), stats AS (
        SELECT count(*)::BIGINT AS n_docs,
               sum(len(string_split(text, ' ')))::DOUBLE / count(*) AS avgdl
        FROM documents
    ), per_term AS (
        SELECT p.doc_id,
               ln((s.n_docs - q.doc_freq + 0.5::DOUBLE)
                  / (q.doc_freq + 0.5::DOUBLE) + 1.0::DOUBLE)
               * (p.tf * 2.2::DOUBLE)
               / (p.tf + 1.2::DOUBLE
                  * (0.25::DOUBLE + 0.75::DOUBLE * p.dl / s.avgdl))
                   AS term_score
        FROM postings p JOIN qterms q USING (term) CROSS JOIN stats s
    ), scored AS (
        SELECT doc_id,
               count(*)::BIGINT AS n_terms_matched,
               round(sum(term_score), 4) AS bm25
        FROM per_term GROUP BY doc_id
    ), top AS (
        SELECT doc_id, n_terms_matched, bm25,
               row_number() OVER (ORDER BY bm25 DESC, doc_id)::INT AS rank
        FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20
    )
    SELECT rank, doc_id, n_terms_matched, bm25 FROM top ORDER BY rank
    """
)

oracle("search_hybrid_rrf")(
    # RRF c=60 over the BM25 top-50 (same CTE chain as text_bm25_topk) and
    # the quantized-cosine top-50 for vec 0 (same integer dot product as
    # ann_topk_quantized). Rank arithmetic is integer-derived doubles in
    # fixed order; round at one site; never sort on a raw float.
    """
    WITH toks AS (
        SELECT doc_id,
               len(string_split(text, ' '))::BIGINT AS dl,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ), postings AS (
        SELECT doc_id, term, count(*)::BIGINT AS tf, max(dl) AS dl
        FROM toks GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, count(DISTINCT doc_id)::BIGINT AS doc_freq
        FROM toks GROUP BY term
    ), qterms AS (
        SELECT term, doc_freq FROM dfreq
        ORDER BY doc_freq DESC, term LIMIT 5
    ), stats AS (
        SELECT count(*)::BIGINT AS n_docs,
               sum(len(string_split(text, ' ')))::DOUBLE / count(*) AS avgdl
        FROM documents
    ), per_term AS (
        SELECT p.doc_id,
               ln((s.n_docs - q.doc_freq + 0.5::DOUBLE)
                  / (q.doc_freq + 0.5::DOUBLE) + 1.0::DOUBLE)
               * (p.tf * 2.2::DOUBLE)
               / (p.tf + 1.2::DOUBLE
                  * (0.25::DOUBLE + 0.75::DOUBLE * p.dl / s.avgdl))
                   AS term_score
        FROM postings p JOIN qterms q USING (term) CROSS JOIN stats s
    ), scored AS (
        SELECT doc_id, round(sum(term_score), 4) AS bm25
        FROM per_term GROUP BY doc_id
    ), bm_ranks AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id)::INT AS bm25_rank
        FROM scored ORDER BY bm25 DESC, doc_id LIMIT 50
    ), qv AS (
        SELECT embedding FROM embeddings WHERE vec_id = 0
    ), pairs AS (
        SELECT e.vec_id,
               unnest(list_transform(e.embedding,
                                     v -> round(v::DOUBLE * 1000)::BIGINT)) AS ev,
               unnest(list_transform(q.embedding,
                                     v -> round(v::DOUBLE * 1000)::BIGINT)) AS qv
        FROM embeddings e CROSS JOIN qv q
        WHERE e.vec_id <> 0
    ), dots AS (
        SELECT vec_id, sum(ev * qv)::BIGINT AS dot_q FROM pairs GROUP BY vec_id
    ), cos_ranks AS (
        SELECT vec_id AS doc_id,
               row_number() OVER (ORDER BY dot_q DESC, vec_id)::INT AS cosine_rank
        FROM dots ORDER BY dot_q DESC, vec_id LIMIT 50
    ), fused AS (
        SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
               b.bm25_rank, c.cosine_rank,
               round(coalesce(1.0::DOUBLE / (60 + b.bm25_rank), 0.0::DOUBLE)
                     + coalesce(1.0::DOUBLE / (60 + c.cosine_rank),
                                0.0::DOUBLE), 6) AS rrf_score
        FROM bm_ranks b FULL OUTER JOIN cos_ranks c USING (doc_id)
    ), top AS (
        SELECT doc_id, bm25_rank, cosine_rank, rrf_score,
               row_number() OVER (ORDER BY rrf_score DESC, doc_id)::INT AS rank
        FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 20
    )
    SELECT rank, doc_id, bm25_rank, cosine_rank, rrf_score
    FROM top ORDER BY rank
    """
)

oracle("graph_pagerank")(
    # Three unrolled PageRank iterations over the same support->=2
    # co-occurrence edges as graph_triangle_count; teleport/damping are the
    # 0.15/0.85 literals (never 1 - d), neighbor sums stay unrounded until
    # the one terminal round(6), sort key is the rounded rank.
    """
    WITH _ok_baskets AS (
        -- hot-basket guard (mirrors _mineable_baskets): baskets over the
        -- shared cap are excluded whole before any O(basket^k) join.
        -- Aggregate + semi-join form on purpose: the window form made
        -- DuckDB spill >80 GB of temp on the triple join at sf0.1.
        SELECT l_orderkey FROM (
            SELECT l_orderkey, count(DISTINCT l_partkey) AS _bsz
            FROM lineitem GROUP BY l_orderkey
        ) s WHERE _bsz <= __BASKET_CAP__
    ), baskets AS MATERIALIZED (
        -- MATERIALIZED: with the guard join inlined, DuckDB's optimizer
        -- flipped one basket join to a piecewise merge join on the part
        -- inequality (O(n^2) output, >80 GB temp spill at sf0.1);
        -- materializing restores hash joins on the order key
        SELECT DISTINCT l.l_orderkey, l.l_partkey
        FROM lineitem l JOIN _ok_baskets USING (l_orderkey)
    ), pairs AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM baskets a JOIN baskets b USING (l_orderkey)
        WHERE a.l_partkey < b.l_partkey
    ), edges AS (
        SELECT a, b FROM pairs GROUP BY a, b HAVING count(*) >= 2
    ), dir AS (
        SELECT a AS src, b AS dst FROM edges
        UNION ALL
        SELECT b AS src, a AS dst FROM edges
    ), deg AS (
        SELECT src AS n, count(*)::BIGINT AS deg FROM dir GROUP BY src
    ), nn AS (
        SELECT count(*)::BIGINT AS n_nodes FROM deg
    ), r0 AS (
        SELECT n, deg, 1.0::DOUBLE / nn.n_nodes AS r FROM deg CROSS JOIN nn
    ), c1 AS (
        SELECT d.dst, sum(r.r / r.deg) AS contrib
        FROM r0 r JOIN dir d ON r.n = d.src GROUP BY d.dst
    ), r1 AS (
        SELECT deg.n, deg.deg,
               0.15::DOUBLE / nn.n_nodes
               + 0.85::DOUBLE * coalesce(c1.contrib, 0.0::DOUBLE) AS r
        FROM deg CROSS JOIN nn LEFT JOIN c1 ON deg.n = c1.dst
    ), c2 AS (
        SELECT d.dst, sum(r.r / r.deg) AS contrib
        FROM r1 r JOIN dir d ON r.n = d.src GROUP BY d.dst
    ), r2 AS (
        SELECT deg.n, deg.deg,
               0.15::DOUBLE / nn.n_nodes
               + 0.85::DOUBLE * coalesce(c2.contrib, 0.0::DOUBLE) AS r
        FROM deg CROSS JOIN nn LEFT JOIN c2 ON deg.n = c2.dst
    ), c3 AS (
        SELECT d.dst, sum(r.r / r.deg) AS contrib
        FROM r2 r JOIN dir d ON r.n = d.src GROUP BY d.dst
    ), r3 AS (
        SELECT deg.n, deg.deg,
               0.15::DOUBLE / nn.n_nodes
               + 0.85::DOUBLE * coalesce(c3.contrib, 0.0::DOUBLE) AS r
        FROM deg CROSS JOIN nn LEFT JOIN c3 ON deg.n = c3.dst
    ), scored AS (
        SELECT n AS part_id, deg::BIGINT AS degree, round(r, 6) AS pagerank
        FROM r3
    ), top AS (
        SELECT part_id, degree, pagerank,
               row_number() OVER (ORDER BY pagerank DESC, part_id)::INT AS rank
        FROM scored ORDER BY pagerank DESC, part_id LIMIT 20
    )
    SELECT rank, part_id, degree, pagerank FROM top ORDER BY rank
    """
)

oracle("agg_equidepth_bins")(
    # Octile boundaries via quantile_cont over integer cents (rounded to
    # integers at the one float site, matching Spark's interpolating
    # percentile), then bucket = 1 + boundaries strictly below the value.
    """
    WITH cents AS (
        SELECT round(o_totalprice * 100)::BIGINT AS cents FROM orders
    ), bounds AS (
        SELECT [round(quantile_cont(cents, 0.125::DOUBLE))::BIGINT,
                round(quantile_cont(cents, 0.25::DOUBLE))::BIGINT,
                round(quantile_cont(cents, 0.375::DOUBLE))::BIGINT,
                round(quantile_cont(cents, 0.5::DOUBLE))::BIGINT,
                round(quantile_cont(cents, 0.625::DOUBLE))::BIGINT,
                round(quantile_cont(cents, 0.75::DOUBLE))::BIGINT,
                round(quantile_cont(cents, 0.875::DOUBLE))::BIGINT] AS bnds
        FROM cents
    ), binned AS (
        SELECT c.cents,
               1 + len(list_filter(b.bnds, x -> c.cents > x)) AS bin_id
        FROM cents c CROSS JOIN bounds b
    )
    SELECT bin_id::INT AS bin_id,
           count(*)::BIGINT AS n_orders,
           round(min(cents) / 100.0, 2) AS bin_min,
           round(max(cents) / 100.0, 2) AS bin_max
    FROM binned GROUP BY bin_id ORDER BY bin_id
    """
)

oracle("join_interval_bucketed")(
    # INDEPENDENT formulation: the direct inequality join (DuckDB plans it
    # as an IEJoin) — certifying the bucket index against the definition,
    # not a mirrored construction. Integer cents divided at one site.
    """
    WITH w AS (
        SELECT o_orderkey AS window_id,
               o_orderdate::DATE AS lo,
               o_orderdate::DATE + 14 AS hi
        FROM orders WHERE o_orderkey % 97 = 0
    ), p AS (
        SELECT l_shipdate::DATE AS d,
               round(l_extendedprice * 100)::BIGINT AS cents
        FROM lineitem
    ), m AS (
        SELECT w.window_id,
               count(*)::BIGINT AS n_shipped,
               sum(p.cents)::BIGINT AS cents
        FROM w JOIN p ON p.d >= w.lo AND p.d < w.hi
        GROUP BY w.window_id
    )
    SELECT w.window_id,
           w.lo AS window_start,
           coalesce(m.n_shipped, 0)::BIGINT AS n_shipped,
           round(coalesce(m.cents, 0) / 100.0, 2) AS shipped_value
    FROM w LEFT JOIN m USING (window_id)
    ORDER BY window_id
    """
)

oracle("ml_kmeans_quantized")(
    # Two unrolled Lloyd iterations on the same integer grid: quantized
    # components, integer squared distances, argmin by (dist, cluster),
    # re-quantized means (exact integer sum / count, one half-away round
    # — identical in both engines), then the final assignment rollup.
    """
    WITH vecs AS (
        SELECT vec_id, u.i - 1 AS pos,
               round(embedding[u.i]::DOUBLE * 1000)::BIGINT AS val
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
    ), c0 AS (
        SELECT vec_id AS cluster_id, pos, val AS code
        FROM vecs WHERE vec_id < 3
    ), d1 AS (
        SELECT v.vec_id, c.cluster_id,
               sum((v.val - c.code) * (v.val - c.code))::BIGINT AS sqdist
        FROM vecs v JOIN c0 c USING (pos)
        GROUP BY v.vec_id, c.cluster_id
    ), a1 AS (
        SELECT vec_id, cluster_id FROM (
            SELECT vec_id, cluster_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sqdist, cluster_id) AS rn
            FROM d1
        ) WHERE rn = 1
    ), c1 AS (
        SELECT a.cluster_id, v.pos, round(avg(v.val))::BIGINT AS code
        FROM vecs v JOIN a1 a USING (vec_id)
        GROUP BY a.cluster_id, v.pos
    ), d2 AS (
        SELECT v.vec_id, c.cluster_id,
               sum((v.val - c.code) * (v.val - c.code))::BIGINT AS sqdist
        FROM vecs v JOIN c1 c USING (pos)
        GROUP BY v.vec_id, c.cluster_id
    ), a2 AS (
        SELECT vec_id, cluster_id FROM (
            SELECT vec_id, cluster_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sqdist, cluster_id) AS rn
            FROM d2
        ) WHERE rn = 1
    ), c2 AS (
        SELECT a.cluster_id, v.pos, round(avg(v.val))::BIGINT AS code
        FROM vecs v JOIN a2 a USING (vec_id)
        GROUP BY a.cluster_id, v.pos
    ), d3 AS (
        SELECT v.vec_id, c.cluster_id,
               sum((v.val - c.code) * (v.val - c.code))::BIGINT AS sqdist
        FROM vecs v JOIN c2 c USING (pos)
        GROUP BY v.vec_id, c.cluster_id
    ), a3 AS (
        SELECT vec_id, cluster_id, sqdist FROM (
            SELECT vec_id, cluster_id, sqdist,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sqdist, cluster_id) AS rn
            FROM d3
        ) WHERE rn = 1
    )
    SELECT cluster_id::BIGINT AS cluster_id,
           count(*)::BIGINT AS n_vectors,
           sum(sqdist)::BIGINT AS inertia
    FROM a3 GROUP BY cluster_id ORDER BY cluster_id
    """
)

oracle("events_ab_chisquare")(
    # Identical construction: exposure/conversion as user-keyed aggregates
    # joined on the user key, conversion = >= 14 purchases after first
    # view, and the same double-promotion points in the Pearson statistic
    # so chi2 is bit-identical before the one-site round; empty-margin
    # tables yield NULL chi2 / FALSE significance in both engines.
    """
    WITH exposed AS (
        SELECT user_id, min(ts) AS first_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), conversions AS (
        SELECT e.user_id, count(*)::BIGINT AS n_purchases
        FROM events p JOIN exposed e USING (user_id)
        WHERE p.event_type = 'purchase' AND p.ts > e.first_view
        GROUP BY e.user_id
    ), per_user AS (
        SELECT e.user_id % 2 AS arm,
               (coalesce(c.n_purchases, 0) >= 14) AS converted
        FROM exposed e LEFT JOIN conversions c USING (user_id)
    ), cells AS (
        SELECT
            sum(CASE WHEN arm = 0 AND converted THEN 1 ELSE 0 END)::BIGINT AS a,
            sum(CASE WHEN arm = 0 AND NOT converted THEN 1 ELSE 0 END)::BIGINT AS b,
            sum(CASE WHEN arm = 1 AND converted THEN 1 ELSE 0 END)::BIGINT AS c,
            sum(CASE WHEN arm = 1 AND NOT converted THEN 1 ELSE 0 END)::BIGINT AS d
        FROM per_user
    ), stat AS (
        SELECT a, b, c, d,
               CASE WHEN (a + b)::DOUBLE * (c + d) * (a + c) * (b + d) > 0
                    THEN ((a + b + c + d)::DOUBLE
                          * (a::DOUBLE * d - b::DOUBLE * c)
                          * (a::DOUBLE * d - b::DOUBLE * c))
                         / ((a + b)::DOUBLE * (c + d) * (a + c) * (b + d))
               END AS chi2_raw
        FROM cells
    )
    SELECT a, b, c, d,
           round(chi2_raw, 4) AS chi2,
           coalesce(chi2_raw > 3.841, FALSE) AS significant_at_05
    FROM stat
    """
)

oracle("quality_ks_two_sample")(
    # Same shape: per-distinct-cents counts, cumulative CDFs (each an
    # exact integer divided ONCE — the integer-product form would
    # overflow int64 at scale), max gap, 1.358*sqrt((n1+n2)/(n1*n2)).
    """
    WITH per_value AS (
        SELECT round(l_extendedprice * 100)::BIGINT AS cents,
               sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)::BIGINT AS c1,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS c2
        FROM lineitem WHERE l_returnflag IN ('A', 'R')
        GROUP BY cents
    ), totals AS (
        SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2 FROM per_value
    ), gaps AS (
        SELECT t.n1, t.n2,
               abs(sum(c1) OVER (ORDER BY cents
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)::DOUBLE / t.n1
                   - sum(c2) OVER (ORDER BY cents
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW)::DOUBLE / t.n2) AS gap
        FROM per_value CROSS JOIN totals t
    )
    SELECT n1, n2,
           round(max(gap), 6) AS ks_d,
           (max(gap) > 1.358 * sqrt((n1 + n2)::DOUBLE / (n1::DOUBLE * n2)))
               AS reject_equality_at_05
    FROM gaps GROUP BY n1, n2
    """
)

oracle("clean_winsorized_mean")(
    # Same two-pass shape: quantile_cont boundaries rounded once to
    # integers, integer clip, exact integer sums, divisions at the end.
    """
    WITH li AS (
        SELECT l_returnflag,
               round(l_extendedprice * 100)::BIGINT AS cents
        FROM lineitem
    ), bounds AS (
        SELECT l_returnflag,
               round(quantile_cont(cents, 0.05::DOUBLE))::BIGINT AS lo,
               round(quantile_cont(cents, 0.95::DOUBLE))::BIGINT AS hi
        FROM li GROUP BY l_returnflag
    )
    SELECT li.l_returnflag,
           count(*)::BIGINT AS n_items,
           (max(b.lo) / 100.0) AS p05,
           (max(b.hi) / 100.0) AS p95,
           round(sum(greatest(b.lo, least(b.hi, li.cents)))::BIGINT
                 / count(*) / 100.0, 2) AS winsorized_mean,
           round(sum(li.cents)::BIGINT / count(*) / 100.0, 2) AS raw_mean
    FROM li JOIN bounds b USING (l_returnflag)
    GROUP BY li.l_returnflag
    ORDER BY li.l_returnflag
    """
)

oracle("events_seasonal_mase")(
    # Same two self equi-joins on day+lag, exact integer absolute errors,
    # the same fixed division order for the MASE ratio.
    """
    WITH daily AS (
        SELECT ts::DATE AS day, count(*)::BIGINT AS n
        FROM events GROUP BY day
    ), seasonal AS (
        SELECT count(*)::BIGINT AS n_scored_seasonal,
               sum(abs(d.n - r.n))::BIGINT AS sae_seasonal
        FROM daily d JOIN daily r ON d.day = r.day + 7
    ), naive AS (
        SELECT count(*)::BIGINT AS n_scored_naive,
               sum(abs(d.n - r.n))::BIGINT AS sae_naive
        FROM daily d JOIN daily r ON d.day = r.day + 1
    )
    SELECT n_scored_seasonal, sae_seasonal, n_scored_naive, sae_naive,
           round((sae_seasonal::DOUBLE / n_scored_seasonal)
                 / (sae_naive::DOUBLE / n_scored_naive), 4) AS mase,
           ((sae_seasonal::DOUBLE / n_scored_seasonal)
            / (sae_naive::DOUBLE / n_scored_naive) < 1.0)
               AS seasonal_beats_naive
    FROM seasonal CROSS JOIN naive
    """
)

oracle("graph_bfs_hops")(
    # Three unrolled BFS expansions over the same support->=2 edges, min
    # distance kept at each round; per-hop count + id-sum checksum.
    """
    WITH _ok_baskets AS (
        -- hot-basket guard (mirrors _mineable_baskets): baskets over the
        -- shared cap are excluded whole before any O(basket^k) join.
        -- Aggregate + semi-join form on purpose: the window form made
        -- DuckDB spill >80 GB of temp on the triple join at sf0.1.
        SELECT l_orderkey FROM (
            SELECT l_orderkey, count(DISTINCT l_partkey) AS _bsz
            FROM lineitem GROUP BY l_orderkey
        ) s WHERE _bsz <= __BASKET_CAP__
    ), baskets AS MATERIALIZED (
        -- MATERIALIZED: with the guard join inlined, DuckDB's optimizer
        -- flipped one basket join to a piecewise merge join on the part
        -- inequality (O(n^2) output, >80 GB temp spill at sf0.1);
        -- materializing restores hash joins on the order key
        SELECT DISTINCT l.l_orderkey, l.l_partkey
        FROM lineitem l JOIN _ok_baskets USING (l_orderkey)
    ), pairs AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM baskets a JOIN baskets b USING (l_orderkey)
        WHERE a.l_partkey < b.l_partkey
    ), edges AS (
        SELECT a, b FROM pairs GROUP BY a, b HAVING count(*) >= 2
    ), dir AS (
        SELECT a AS src, b AS dst FROM edges
        UNION ALL SELECT b, a FROM edges
    ), seed AS (
        SELECT min(src) AS n FROM dir
    ), r0 AS (
        SELECT n, 0 AS dist FROM seed
    ), r1 AS (
        SELECT n, min(dist) AS dist FROM (
            SELECT n, dist FROM r0
            UNION ALL
            SELECT d.dst AS n, r.dist + 1 FROM r0 r JOIN dir d ON r.n = d.src
        ) GROUP BY n
    ), r2 AS (
        SELECT n, min(dist) AS dist FROM (
            SELECT n, dist FROM r1
            UNION ALL
            SELECT d.dst AS n, r.dist + 1 FROM r1 r JOIN dir d ON r.n = d.src
        ) GROUP BY n
    ), r3 AS (
        SELECT n, min(dist) AS dist FROM (
            SELECT n, dist FROM r2
            UNION ALL
            SELECT d.dst AS n, r.dist + 1 FROM r2 r JOIN dir d ON r.n = d.src
        ) GROUP BY n
    )
    SELECT dist::INT AS hop,
           count(*)::BIGINT AS n_nodes,
           sum(n)::BIGINT AS id_checksum
    FROM r3 GROUP BY dist ORDER BY hop
    """
)

oracle("events_cumulative_users")(
    # First-seen day per user, daily new-user rollup, running total over
    # the bounded day axis.
    """
    WITH first_seen AS (
        SELECT user_id, min(ts::DATE) AS first_day
        FROM events GROUP BY user_id
    ), daily_new AS (
        SELECT first_day AS day, count(*)::BIGINT AS new_users
        FROM first_seen GROUP BY first_day
    )
    SELECT day, new_users,
           sum(new_users) OVER (ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)::BIGINT AS cumulative_users
    FROM daily_new ORDER BY day
    """
)

oracle("events_market_basket_triples")(
    # INDEPENDENT formulation: direct 3-way basket self-join with a<b<c —
    # no prefix-pair prune — so the hash match certifies the Apriori prune
    # output-invariant, not just mirrored.
    """
    WITH _ok_baskets AS (
        -- hot-basket guard (mirrors _mineable_baskets): baskets over the
        -- shared cap are excluded whole before any O(basket^k) join.
        -- Aggregate + semi-join form on purpose: the window form made
        -- DuckDB spill >80 GB of temp on the triple join at sf0.1.
        SELECT l_orderkey FROM (
            SELECT l_orderkey, count(DISTINCT l_partkey) AS _bsz
            FROM lineitem GROUP BY l_orderkey
        ) s WHERE _bsz <= __BASKET_CAP__
    ), baskets AS MATERIALIZED (
        -- MATERIALIZED: with the guard join inlined, DuckDB's optimizer
        -- flipped one basket join to a piecewise merge join on the part
        -- inequality (O(n^2) output, >80 GB temp spill at sf0.1);
        -- materializing restores hash joins on the order key
        SELECT DISTINCT l.l_orderkey, l.l_partkey
        FROM lineitem l JOIN _ok_baskets USING (l_orderkey)
    ), triples AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               c.l_partkey AS part_c, count(*)::BIGINT AS support
        FROM baskets a
        JOIN baskets b USING (l_orderkey)
        JOIN baskets c USING (l_orderkey)
        WHERE a.l_partkey < b.l_partkey AND b.l_partkey < c.l_partkey
        GROUP BY 1, 2, 3
        HAVING count(*) >= 2
    )
    SELECT part_a, part_b, part_c, support
    FROM triples
    ORDER BY support DESC, part_a, part_b, part_c
    LIMIT 20
    """
)

oracle("anomaly_cusum_daily")(
    # Same sequential cumsum over the day axis; mean = exact integer sum /
    # count; extremes tie-broken by day.
    """
    WITH daily AS (
        SELECT ts::DATE AS day, count(*)::BIGINT AS n
        FROM events GROUP BY day
    ), stats AS (
        SELECT sum(n)::DOUBLE / count(*) AS mean_n,
               count(*)::BIGINT AS n_days
        FROM daily
    ), cusum AS (
        SELECT day,
               sum(n - s.mean_n) OVER (ORDER BY day
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS s,
               s.n_days
        FROM daily CROSS JOIN stats s
    ), hi AS (
        SELECT day AS max_cusum_day, round(s, 4) AS max_cusum, n_days
        FROM cusum ORDER BY round(s, 6) DESC, day LIMIT 1
    ), lo AS (
        SELECT day AS min_cusum_day, round(s, 4) AS min_cusum
        FROM cusum ORDER BY round(s, 6) ASC, day LIMIT 1
    )
    SELECT n_days, max_cusum_day, max_cusum, min_cusum_day, min_cusum
    FROM hi CROSS JOIN lo
    """
)

oracle("sample_proportional_quota")(
    # Same integer largest-remainder allocation (k = n//10) and the same
    # md5 priority draw; the checksum certifies the exact picked set.
    """
    WITH sizes AS (
        SELECT c_mktsegment, count(*)::BIGINT AS stratum_n FROM customer
        GROUP BY c_mktsegment
    ), totals AS (
        SELECT sum(stratum_n)::BIGINT AS n,
               sum(stratum_n)::BIGINT // 10 AS k
        FROM sizes
    ), alloc AS (
        SELECT c_mktsegment, stratum_n,
               (t.k * stratum_n) // t.n AS base,
               (t.k * stratum_n) % t.n AS rem,
               t.k
        FROM sizes CROSS JOIN totals t
    ), quotas AS (
        SELECT c_mktsegment, stratum_n,
               base + CASE WHEN row_number() OVER (ORDER BY rem DESC,
                                                   c_mktsegment)
                           <= k - sum(base) OVER () THEN 1 ELSE 0 END
                   AS quota
        FROM alloc
    ), hashed AS (
        SELECT c_mktsegment, c_custkey,
               CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)
                                           || 'quota'), 1, 8)) AS UBIGINT)
                   AS h
        FROM customer
    ), ranked AS (
        SELECT c_mktsegment, c_custkey,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY h, c_custkey) AS rk
        FROM hashed
    ), picked AS (
        SELECT r.c_mktsegment, r.c_custkey, q.stratum_n, q.quota
        FROM ranked r JOIN quotas q USING (c_mktsegment)
        WHERE r.rk <= q.quota
    )
    SELECT c_mktsegment,
           max(stratum_n)::BIGINT AS stratum_n,
           max(quota)::BIGINT AS quota,
           count(*)::BIGINT AS n_picked,
           sum(c_custkey)::BIGINT AS custkey_checksum
    FROM picked GROUP BY c_mktsegment ORDER BY c_mktsegment
    """
)

oracle("agg_revenue_concentration")(
    # Same boundary definition (revenue >= rounded exact p99 over integer
    # cents), all-integer sums, divisions at the terminal sites.
    """
    WITH per_cust AS (
        SELECT o_custkey,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS rev_cents
        FROM orders GROUP BY o_custkey
    ), threshold AS (
        SELECT round(quantile_cont(rev_cents, 0.99::DOUBLE))::BIGINT
                   AS p99_cents
        FROM per_cust
    ), cells AS (
        SELECT count(*)::BIGINT AS n_customers,
               max(t.p99_cents) AS p99_cents,
               sum(CASE WHEN rev_cents >= t.p99_cents THEN 1 ELSE 0 END)
                   ::BIGINT AS n_whales,
               sum(CASE WHEN rev_cents >= t.p99_cents THEN rev_cents
                        ELSE 0 END)::BIGINT AS top_cents,
               sum(rev_cents)::BIGINT AS total_cents
        FROM per_cust CROSS JOIN threshold t
    )
    SELECT n_customers,
           round(p99_cents / 100.0, 2) AS p99_revenue,
           n_whales,
           round(top_cents / 100.0, 2) AS whale_revenue,
           round(total_cents / 100.0, 2) AS total_revenue,
           round(top_cents::DOUBLE / total_cents, 6) AS whale_share
    FROM cells
    """
)

oracle("orc_roundtrip_battery")(
    # The oracle never sees the ORC files: it aggregates the ORIGINAL
    # parquet — a hash match proves the ORC round-trip lossless for every
    # touched column type.
    """
    SELECT count(*)::BIGINT AS n_orders,
           sum(o_orderkey)::BIGINT AS key_checksum,
           sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS revenue_cents,
           count(DISTINCT o_orderstatus)::BIGINT AS n_statuses,
           min(o_orderdate::DATE) AS first_day,
           max(o_orderdate::DATE) AS last_day,
           sum(len(o_orderpriority))::BIGINT AS priority_strlen_sum
    FROM orders
    """
)

oracle("anomaly_bot_regularity")(
    # Same integer-second gaps (floor of the µs diff / 1e6), the same
    # exact-integer variance numerator, the same division/sqrt points.
    """
    WITH gaps AS (
        SELECT user_id,
               floor((epoch_us(ts) - lag(epoch_us(ts)) OVER (
                          PARTITION BY user_id ORDER BY ts, event_id))
                     / 1000000.0)::BIGINT AS gap_s
        FROM events
    ), per_user AS (
        SELECT user_id, count(*)::BIGINT AS n,
               sum(gap_s)::BIGINT AS sx,
               sum(gap_s * gap_s)::BIGINT AS sxx
        FROM gaps WHERE gap_s IS NOT NULL
        GROUP BY user_id
        HAVING count(*) >= 10 AND sum(gap_s) > 0
    ), scored AS (
        SELECT user_id,
               sqrt((n * sxx - sx * sx)::DOUBLE / (n * n))
               / (sx::DOUBLE / n) AS cv
        FROM per_user
    )
    SELECT count(*)::BIGINT AS n_scored,
           sum(CASE WHEN cv < 0.1 THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
           round(min(round(cv, 6)), 4) AS min_cv,
           round(max(round(cv, 6)), 4) AS max_cv
    FROM scored
    """
)

oracle("quality_knn_label_agreement")(
    # Same md5 1-in-8 audit sample, same integer dot products and
    # (dot desc, vec_id) neighbour order, same <3-of-5 suspicion rule.
    """
    WITH audited AS (
        SELECT vec_id AS q_id,
               list_transform(embedding,
                              v -> round(v::DOUBLE * 1000)::BIGINT) AS q_vec,
               label AS q_label
        FROM embeddings
        ORDER BY CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)
                                             || 'knn_audit'), 1, 8))
                      AS UBIGINT), vec_id
        LIMIT 256
    ), pairs AS (
        SELECT a.q_id, a.q_label, e.vec_id, e.label,
               unnest(list_transform(e.embedding,
                                     v -> round(v::DOUBLE * 1000)::BIGINT)) AS ev,
               unnest(a.q_vec) AS qv
        FROM embeddings e JOIN audited a ON e.vec_id <> a.q_id
    ), dots AS (
        SELECT q_id, q_label, vec_id, label, sum(ev * qv)::BIGINT AS dot_q
        FROM pairs GROUP BY q_id, q_label, vec_id, label
    ), knn AS (
        SELECT q_id, q_label, label FROM (
            SELECT q_id, q_label, label,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY dot_q DESC, vec_id) AS rk
            FROM dots
        ) WHERE rk <= 5
    ), votes AS (
        SELECT q_id, q_label,
               sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)::BIGINT
                   AS agree_votes
        FROM knn GROUP BY q_id, q_label
    )
    SELECT count(*)::BIGINT AS n_audited,
           sum(CASE WHEN agree_votes < 3 THEN 1 ELSE 0 END)::BIGINT
               AS n_suspect,
           sum(agree_votes)::BIGINT AS total_agree_votes,
           round(sum(CASE WHEN agree_votes < 3 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS suspect_rate
    FROM votes
    """
)

oracle("sample_negative_pairs")(
    # Same fixed-size user/item frames, the same anti-join and md5
    # priority draw.
    """
    WITH interactions AS (
        SELECT DISTINCT o.o_custkey, l.l_partkey
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), users AS (
        SELECT o_custkey FROM (SELECT DISTINCT o_custkey FROM orders)
        ORDER BY CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)
                                             || 'neg_u'), 1, 8)) AS UBIGINT),
                 o_custkey
        LIMIT 64
    ), items AS (
        SELECT l_partkey FROM (
            SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey
        ) ORDER BY c DESC, l_partkey LIMIT 128
    ), negatives AS (
        SELECT u.o_custkey, i.l_partkey
        FROM users u CROSS JOIN items i
        WHERE NOT EXISTS (
            SELECT 1 FROM interactions x
            WHERE x.o_custkey = u.o_custkey AND x.l_partkey = i.l_partkey
        )
    ), ranked AS (
        SELECT o_custkey, l_partkey,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY CAST(('0x' || substring(
                       md5(CAST(o_custkey AS VARCHAR) || ':'
                           || CAST(l_partkey AS VARCHAR) || 'neg_pick'),
                       1, 8)) AS UBIGINT), l_partkey) AS rk
        FROM negatives
    )
    SELECT o_custkey, l_partkey, rk::INT AS rank
    FROM ranked WHERE rk <= 5 ORDER BY o_custkey, rank
    """
)

oracle("text_rake_keywords")(
    # Same stopword-boundary split (RE2 and Java regex agree on this
    # alternation), same degree/freq word stats, same one-site round.
    """
    WITH occ AS (
        SELECT trim(p) AS phrase,
               len(string_split(trim(p), ' ')) AS n_words
        FROM (
            SELECT unnest(regexp_split_to_array(
                text,
                '\\b(?:the|a|an|of|and|or|to|in|is|it|for|on)\\b')) AS p
            FROM documents
        )
        WHERE len(trim(p)) > 0
          AND len(string_split(trim(p), ' ')) <= 3
    ), wstats AS (
        SELECT word, count(*)::BIGINT AS freq, sum(n_words)::BIGINT AS degree
        FROM (
            SELECT unnest(string_split(phrase, ' ')) AS word, n_words
            FROM occ
        )
        GROUP BY word
    ), phrases AS (
        SELECT phrase, count(*)::BIGINT AS n_occurrences
        FROM occ GROUP BY phrase
    ), scored AS (
        SELECT p.phrase, p.n_occurrences,
               round(sum(w.degree::DOUBLE / w.freq), 4) AS rake_score
        FROM (
            SELECT phrase, n_occurrences,
                   unnest(string_split(phrase, ' ')) AS word
            FROM phrases
        ) p JOIN wstats w USING (word)
        GROUP BY p.phrase, p.n_occurrences
    ), top AS (
        SELECT phrase, n_occurrences, rake_score,
               row_number() OVER (ORDER BY rake_score DESC, phrase)::INT
                   AS rank
        FROM scored ORDER BY rake_score DESC, phrase LIMIT 20
    )
    SELECT rank, phrase, n_occurrences, rake_score FROM top ORDER BY rank
    """
)

oracle("join_fifo_allocation")(
    # Same cumulative-interval formulation: FIFO matching == integer
    # interval overlap between per-part supply and demand unit ranges.
    """
    WITH li AS (
        SELECT l_partkey, l_orderkey, l_linenumber,
               l_quantity::BIGINT AS qty, l_shipdate::DATE AS d,
               l_returnflag
        FROM lineitem
    ), supply AS (
        SELECT l_partkey,
               sum(qty) OVER w - qty AS s_lo,
               sum(qty) OVER w AS s_hi
        FROM li WHERE l_returnflag <> 'R'
        WINDOW w AS (PARTITION BY l_partkey
                     ORDER BY d, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), demand AS (
        SELECT l_partkey,
               sum(qty) OVER w - qty AS d_lo,
               sum(qty) OVER w AS d_hi
        FROM li WHERE l_returnflag = 'R'
        WINDOW w AS (PARTITION BY l_partkey
                     ORDER BY d, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), matched AS (
        SELECT s.l_partkey,
               least(s.s_hi, dd.d_hi) - greatest(s.s_lo, dd.d_lo) AS m_qty
        FROM supply s JOIN demand dd USING (l_partkey)
        WHERE s.s_lo < dd.d_hi AND dd.d_lo < s.s_hi
    ), totals AS (
        SELECT sum(CASE WHEN l_returnflag = 'R' THEN qty ELSE 0 END)::BIGINT
                   AS total_demand,
               sum(CASE WHEN l_returnflag <> 'R' THEN qty ELSE 0 END)::BIGINT
                   AS total_supply
        FROM li
    ), rollup AS (
        SELECT count(DISTINCT l_partkey)::BIGINT AS n_parts_matched,
               count(*)::BIGINT AS n_matched_pairs,
               sum(m_qty)::BIGINT AS matched_qty
        FROM matched
    )
    SELECT n_parts_matched, n_matched_pairs, matched_qty, total_demand,
           (total_demand - matched_qty)::BIGINT AS unmatched_demand,
           total_supply
    FROM rollup CROSS JOIN totals
    """
)

oracle("quality_cohens_kappa")(
    # Same rule-based annotators; kappa = (N*A - E)/(N^2 - E) with E =
    # sum_k row_k*col_k — all-integer until the one terminal division.
    """
    WITH labeled AS (
        SELECT CASE WHEN n_chars < 250 THEN 'short'
                    WHEN n_chars < 400 THEN 'medium'
                    ELSE 'long' END AS label_a,
               CASE WHEN length(text) - length(replace(text, ' ', '')) < 45
                        THEN 'short'
                    WHEN length(text) - length(replace(text, ' ', '')) < 70
                        THEN 'medium'
                    ELSE 'long' END AS label_b
        FROM documents
    ), cells AS (
        SELECT label_a, label_b, count(*)::BIGINT AS c
        FROM labeled GROUP BY label_a, label_b
    ), stats AS (
        SELECT sum(c)::BIGINT AS n_docs,
               sum(CASE WHEN label_a = label_b THEN c ELSE 0 END)::BIGINT
                   AS n_agree
        FROM cells
    ), rows_m AS (
        SELECT label_a AS k, sum(c)::BIGINT AS row_tot FROM cells GROUP BY 1
    ), cols_m AS (
        SELECT label_b AS k, sum(c)::BIGINT AS col_tot FROM cells GROUP BY 1
    ), chance AS (
        SELECT sum(coalesce(row_tot, 0) * coalesce(col_tot, 0))::BIGINT
                   AS chance_weight
        FROM rows_m FULL JOIN cols_m USING (k)
    )
    SELECT n_docs, n_agree, chance_weight,
           round((n_docs * n_agree - chance_weight)::DOUBLE
                 / (n_docs * n_docs - chance_weight)::DOUBLE, 6) AS kappa
    FROM stats CROSS JOIN chance
    """
)

oracle("window_clamped_running_balance")(
    # Identical closed form: clamped balance = cumsum - least(0,
    # running_min(cumsum)); summary folds per part.
    """
    WITH li AS (
        SELECT l_partkey, l_orderkey, l_linenumber,
               l_shipdate::DATE AS d,
               CASE WHEN l_returnflag = 'R' THEN l_quantity::BIGINT
                    ELSE -(l_quantity::BIGINT) END AS delta
        FROM lineitem
    ), cum0 AS (
        SELECT l_partkey, l_orderkey, l_linenumber, d, delta,
               sum(delta) OVER w AS p
        FROM li
        WINDOW w AS (PARTITION BY l_partkey
                     ORDER BY d, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), cum AS (
        SELECT l_partkey, delta, p,
               least(min(p) OVER w, 0) AS m
        FROM cum0
        WINDOW w AS (PARTITION BY l_partkey
                     ORDER BY d, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), bal AS (
        SELECT l_partkey, delta, p, p - m AS bal FROM cum
    )
    SELECT l_partkey,
           count(*)::BIGINT AS n_moves,
           (sum(delta) - least(min(p), 0))::BIGINT AS final_balance,
           max(bal)::BIGINT AS peak_balance,
           sum(CASE WHEN bal = 0 AND delta < 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_stockouts
    FROM bal GROUP BY l_partkey ORDER BY l_partkey
    """
)

oracle("agg_rfm_segments")(
    # Same quartile-boundary scoring (1 + strict-greater counts; recency
    # inverted), integer cents, terminal division only.
    """
    WITH per_cust AS (
        SELECT o_custkey, count(*)::BIGINT AS freq,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS mon_cents,
               max(o_orderdate::DATE) AS last_d
        FROM orders GROUP BY o_custkey
    ), anchor AS (
        SELECT max(o_orderdate::DATE) AS g_max FROM orders
    ), rfm AS (
        SELECT o_custkey, freq, mon_cents,
               date_diff('day', last_d, g_max)::BIGINT AS rec_days
        FROM per_cust CROSS JOIN anchor
    ), bounds AS (
        SELECT quantile_cont(rec_days, 0.25::DOUBLE) AS r1,
               quantile_cont(rec_days, 0.5::DOUBLE)  AS r2,
               quantile_cont(rec_days, 0.75::DOUBLE) AS r3,
               quantile_cont(freq, 0.25::DOUBLE) AS f1,
               quantile_cont(freq, 0.5::DOUBLE)  AS f2,
               quantile_cont(freq, 0.75::DOUBLE) AS f3,
               quantile_cont(mon_cents, 0.25::DOUBLE) AS m1,
               quantile_cont(mon_cents, 0.5::DOUBLE)  AS m2,
               quantile_cont(mon_cents, 0.75::DOUBLE) AS m3
        FROM rfm
    ), scored AS (
        SELECT o_custkey, mon_cents,
               1 + (CASE WHEN rec_days <= r3 THEN 1 ELSE 0 END)
                 + (CASE WHEN rec_days <= r2 THEN 1 ELSE 0 END)
                 + (CASE WHEN rec_days <= r1 THEN 1 ELSE 0 END) AS r_score,
               1 + (CASE WHEN freq > f1 THEN 1 ELSE 0 END)
                 + (CASE WHEN freq > f2 THEN 1 ELSE 0 END)
                 + (CASE WHEN freq > f3 THEN 1 ELSE 0 END) AS f_score,
               1 + (CASE WHEN mon_cents > m1 THEN 1 ELSE 0 END)
                 + (CASE WHEN mon_cents > m2 THEN 1 ELSE 0 END)
                 + (CASE WHEN mon_cents > m3 THEN 1 ELSE 0 END) AS m_score
        FROM rfm CROSS JOIN bounds
    )
    SELECT r_score::VARCHAR || '-' || f_score::VARCHAR || '-'
               || m_score::VARCHAR AS segment,
           r_score::INTEGER AS r_score, f_score::INTEGER AS f_score,
           m_score::INTEGER AS m_score,
           count(*)::BIGINT AS n_customers,
           round(sum(mon_cents) / 100.0, 2) AS seg_revenue
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """
)

oracle("quality_spearman_corr")(
    # Same doubled-integer tie-averaged ranks over distinct values; the
    # two variance terms promote to DOUBLE before their product.
    """
    WITH part_xy AS (
        SELECT p_size::BIGINT AS x,
               round(p_retailprice * 100)::BIGINT AS y
        FROM part
    ), rx AS (
        SELECT x, 2 * (sum(cnt) OVER w - cnt) + cnt + 1 AS r2_x
        FROM (SELECT x, count(*)::BIGINT AS cnt FROM part_xy GROUP BY x)
        WINDOW w AS (ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), ry AS (
        SELECT y, 2 * (sum(cnt) OVER w - cnt) + cnt + 1 AS r2_y
        FROM (SELECT y, count(*)::BIGINT AS cnt FROM part_xy GROUP BY y)
        WINDOW w AS (ORDER BY y
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), ranked AS (
        SELECT r2_x, r2_y
        FROM part_xy JOIN rx USING (x) JOIN ry USING (y)
    ), m AS (
        SELECT count(*)::BIGINT AS n,
               sum(r2_x)::BIGINT AS sx, sum(r2_y)::BIGINT AS sy,
               sum(r2_x * r2_y)::BIGINT AS sxy,
               sum(r2_x * r2_x)::BIGINT AS sxx,
               sum(r2_y * r2_y)::BIGINT AS syy
        FROM ranked
    )
    SELECT n,
           (n * sxy - sx * sy)::BIGINT AS num,
           (n * sxx - sx * sx)::BIGINT AS den_x,
           (n * syy - sy * sy)::BIGINT AS den_y,
           round((n * sxy - sx * sy)::DOUBLE
                 / sqrt((n * sxx - sx * sx)::DOUBLE
                        * (n * syy - sy * sy)::DOUBLE), 6) AS spearman_rho
    FROM m
    """
)

oracle("quality_benford_digits")(
    # First digit from the INTEGER cents string; Benford expectations as
    # the same 6-decimal literals; contribution algebra on 9 rows.
    """
    WITH digits AS (
        SELECT substr((round(o_totalprice * 100)::BIGINT)::VARCHAR, 1, 1)
                   ::INTEGER AS digit
        FROM orders
    ), counts AS (
        SELECT digit, count(*)::BIGINT AS observed
        FROM digits GROUP BY digit
    ), total AS (
        SELECT count(*)::BIGINT AS n FROM digits
    ), expected AS (
        SELECT digit, observed, n,
               CASE digit
                   WHEN 1 THEN 0.301030::DOUBLE
                   WHEN 2 THEN 0.176091::DOUBLE
                   WHEN 3 THEN 0.124939::DOUBLE
                   WHEN 4 THEN 0.096910::DOUBLE
                   WHEN 5 THEN 0.079181::DOUBLE
                   WHEN 6 THEN 0.066947::DOUBLE
                   WHEN 7 THEN 0.057992::DOUBLE
                   WHEN 8 THEN 0.051153::DOUBLE
                   WHEN 9 THEN 0.045757::DOUBLE
               END AS expected_share
        FROM counts CROSS JOIN total
    )
    SELECT digit, observed,
           round(observed::DOUBLE / n, 6) AS observed_share,
           expected_share,
           round((observed::DOUBLE - n * expected_share)
                 * (observed::DOUBLE - n * expected_share)
                 / (n * expected_share), 6) AS chisq_contrib
    FROM expected ORDER BY digit
    """
)

oracle("stat_bootstrap_ci_mean")(
    # Same integer Poisson-CDF thresholds on the same 32-bit md5 hash;
    # replicate means divide exact integer sums; exact percentile pair.
    """
    WITH orders_c AS (
        SELECT o_orderkey, round(o_totalprice * 100)::BIGINT AS cents
        FROM orders
    ), rep AS (
        SELECT o_orderkey, cents, b.b
        FROM orders_c CROSS JOIN (
            SELECT unnest(range(1, 51))::BIGINT AS b
        ) b
    ), weighted AS (
        SELECT b, cents,
               CASE
                   WHEN h < 1580030168 THEN 0
                   WHEN h < 3160060337 THEN 1
                   WHEN h < 3950075421 THEN 2
                   WHEN h < 4213413783 THEN 3
                   WHEN h < 4279248373 THEN 4
                   ELSE 5
               END AS w
        FROM (
            SELECT b, cents,
                   CAST(('0x' || substring(
                       md5(o_orderkey::VARCHAR || '-boot-' || b::VARCHAR),
                       1, 8)) AS UBIGINT)::BIGINT AS h
            FROM rep
        )
    ), means AS (
        SELECT sum(w * cents)::DOUBLE / sum(w)::DOUBLE AS rep_mean
        FROM weighted GROUP BY b
    ), base AS (
        SELECT count(*)::BIGINT AS n_orders, sum(cents)::BIGINT AS cents_sum
        FROM orders_c
    ), ci AS (
        SELECT quantile_cont(rep_mean, 0.025::DOUBLE) AS lo,
               quantile_cont(rep_mean, 0.975::DOUBLE) AS hi,
               count(*)::BIGINT AS n_replicates
        FROM means
    )
    SELECT n_orders, n_replicates,
           round(cents_sum::DOUBLE / n_orders / 100.0, 4) AS point_mean,
           round(lo / 100.0, 4) AS ci_lo,
           round(hi / 100.0, 4) AS ci_hi
    FROM base CROSS JOIN ci
    """
)

oracle("events_daily_trend_slope")(
    # Same five integer moment sums; slope/intercept each one division.
    """
    WITH daily AS (
        SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
        FROM events GROUP BY 1, 2
    ), xy AS (
        SELECT event_type, y,
               date_diff('day', min(day) OVER (PARTITION BY event_type),
                         day)::BIGINT AS x
        FROM daily
    ), m AS (
        SELECT event_type,
               count(*)::BIGINT AS n,
               sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
               sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
        FROM xy GROUP BY event_type
    )
    SELECT event_type,
           n AS n_days,
           sy AS total_events,
           (n * sxy - sx * sy)::BIGINT AS slope_num,
           (n * sxx - sx * sx)::BIGINT AS slope_den,
           round((n * sxy - sx * sy)::DOUBLE
                 / (n * sxx - sx * sx)::DOUBLE, 6) AS slope_per_day,
           round((sy * sxx - sx * sxy)::DOUBLE
                 / (n * sxx - sx * sx)::DOUBLE, 6) AS intercept
    FROM m ORDER BY event_type
    """
)

oracle("events_autocorrelation_lag")(
    # Same n-scaled integer mean-centering; lag pairing via day-keyed
    # self-join; one terminal division per (type, lag).
    """
    WITH daily AS (
        SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT event_type, count(*)::BIGINT AS n, sum(c)::BIGINT AS s
        FROM daily GROUP BY event_type
    ), lags AS (
        SELECT unnest([1, 7])::BIGINT AS lag
    ), paired AS (
        SELECT d.event_type, l.lag, d.c, d2.c AS c_lead
        FROM daily d
        CROSS JOIN lags l
        JOIN daily d2
          ON d2.event_type = d.event_type
         AND d2.day = d.day + (l.lag::INTEGER)
    ), dev AS (
        SELECT p.event_type, p.lag,
               (t.n * p.c - t.s) AS d0,
               (t.n * p.c_lead - t.s) AS d1
        FROM paired p JOIN tot t USING (event_type)
    ), den_tab AS (
        SELECT d.event_type,
               sum((t.n * d.c - t.s) * (t.n * d.c - t.s))::BIGINT AS den
        FROM daily d JOIN tot t USING (event_type)
        GROUP BY d.event_type
    )
    SELECT event_type, lag::INTEGER AS lag,
           count(*)::BIGINT AS n_pairs,
           sum(d0 * d1)::BIGINT AS acf_num,
           max(den)::BIGINT AS acf_den,
           round(sum(d0 * d1)::DOUBLE / max(den)::DOUBLE, 6) AS acf
    FROM dev JOIN den_tab USING (event_type)
    GROUP BY event_type, lag
    ORDER BY event_type, lag
    """
)

oracle("quality_mann_whitney_u")(
    # Same doubled-integer tie-averaged ranks over the combined sample's
    # distinct values; z assembled from five exact integers terminally.
    """
    WITH sample AS (
        SELECT (o_orderpriority = '1-URGENT') AS g1,
               round(o_totalprice * 100)::BIGINT AS v
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), counts AS (
        SELECT v, count(*)::BIGINT AS cnt FROM sample GROUP BY v
    ), rank_tab AS (
        SELECT v, 2 * (sum(cnt) OVER w - cnt) + cnt + 1 AS r2, cnt
        FROM counts
        WINDOW w AS (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), tie AS (
        SELECT sum(cnt * cnt * cnt - cnt)::BIGINT AS tie_sum FROM rank_tab
    ), m AS (
        SELECT sum(CASE WHEN g1 THEN 1 ELSE 0 END)::BIGINT AS n1,
               sum(CASE WHEN g1 THEN 0 ELSE 1 END)::BIGINT AS n2,
               sum(CASE WHEN g1 THEN r2 ELSE 0 END)::BIGINT AS r1_x2
        FROM sample JOIN rank_tab USING (v)
    )
    SELECT n1, n2,
           (r1_x2 - n1 * (n1 + 1))::BIGINT AS u1_x2,
           tie_sum,
           round((r1_x2 - n1 * (n1 + 1))::DOUBLE / 2.0, 1) AS u1,
           round(((r1_x2 - n1 * (n1 + 1))::DOUBLE / 2.0
                  - n1::DOUBLE * n2 / 2.0)
                 / sqrt((n1::DOUBLE * n2 / 12.0)
                        * ((n1 + n2 + 1)::DOUBLE
                           - tie_sum::DOUBLE
                             / ((n1 + n2)::DOUBLE
                                * (n1 + n2 - 1)::DOUBLE))), 6) AS z_score
    FROM m CROSS JOIN tie
    """
)

oracle("window_rolling_median_daily")(
    # quantile_cont inside the same 7-row frame over the daily rollup.
    """
    WITH daily AS (
        SELECT o_orderpriority, o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS day_cents
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, day,
           round(day_cents / 100.0, 2) AS daily_revenue,
           round(quantile_cont(day_cents, 0.5::DOUBLE) OVER w / 100.0, 2)
               AS rolling_median_7d
    FROM daily
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY o_orderpriority, day
    """
)

oracle("graph_label_propagation")(
    # Three unrolled min-label rounds over the same support>=2 edges;
    # community-size histogram + label checksum.
    """
    WITH _ok_baskets AS (
        -- hot-basket guard (mirrors _mineable_baskets): baskets over the
        -- shared cap are excluded whole before any O(basket^k) join.
        -- Aggregate + semi-join form on purpose: the window form made
        -- DuckDB spill >80 GB of temp on the triple join at sf0.1.
        SELECT l_orderkey FROM (
            SELECT l_orderkey, count(DISTINCT l_partkey) AS _bsz
            FROM lineitem GROUP BY l_orderkey
        ) s WHERE _bsz <= __BASKET_CAP__
    ), baskets AS MATERIALIZED (
        -- MATERIALIZED: with the guard join inlined, DuckDB's optimizer
        -- flipped one basket join to a piecewise merge join on the part
        -- inequality (O(n^2) output, >80 GB temp spill at sf0.1);
        -- materializing restores hash joins on the order key
        SELECT DISTINCT l.l_orderkey, l.l_partkey
        FROM lineitem l JOIN _ok_baskets USING (l_orderkey)
    ), pairs AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM baskets a JOIN baskets b USING (l_orderkey)
        WHERE a.l_partkey < b.l_partkey
    ), edges AS (
        SELECT a, b FROM pairs GROUP BY a, b HAVING count(*) >= 2
    ), dir AS (
        SELECT a AS src, b AS dst FROM edges
        UNION ALL SELECT b, a FROM edges
    ), l0 AS (
        SELECT DISTINCT src AS n, src AS lbl FROM dir
    ), l1 AS (
        SELECT n, min(lbl) AS lbl FROM (
            SELECT n, lbl FROM l0
            UNION ALL
            SELECT d.dst AS n, l.lbl FROM l0 l JOIN dir d ON l.n = d.src
        ) GROUP BY n
    ), l2 AS (
        SELECT n, min(lbl) AS lbl FROM (
            SELECT n, lbl FROM l1
            UNION ALL
            SELECT d.dst AS n, l.lbl FROM l1 l JOIN dir d ON l.n = d.src
        ) GROUP BY n
    ), l3 AS (
        SELECT n, min(lbl) AS lbl FROM (
            SELECT n, lbl FROM l2
            UNION ALL
            SELECT d.dst AS n, l.lbl FROM l2 l JOIN dir d ON l.n = d.src
        ) GROUP BY n
    ), sizes AS (
        SELECT lbl, count(*)::BIGINT AS sz FROM l3 GROUP BY lbl
    )
    SELECT sz AS community_size,
           count(*)::BIGINT AS n_communities,
           sum(lbl)::BIGINT AS label_checksum
    FROM sizes GROUP BY sz ORDER BY community_size
    """
)

oracle("ml_target_encode_kfold")(
    # Same md5 fold hash; out-of-fold mean from integer sums, divided
    # once at the terminal site.
    """
    WITH rows_t AS (
        SELECT c.c_mktsegment,
               (CAST(('0x' || substring(
                    md5(o.o_orderkey::VARCHAR || 'fold'), 1, 8)) AS UBIGINT)
                % 5)::BIGINT AS fold,
               round(o.o_totalprice * 100)::BIGINT AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), cells AS (
        SELECT c_mktsegment, fold,
               count(*)::BIGINT AS n_f, sum(cents)::BIGINT AS s_f
        FROM rows_t GROUP BY 1, 2
    ), agg AS (
        SELECT c_mktsegment, fold, n_f, s_f,
               sum(n_f) OVER (PARTITION BY c_mktsegment) AS n_cat,
               sum(s_f) OVER (PARTITION BY c_mktsegment) AS s_cat
        FROM cells
    )
    SELECT c_mktsegment, fold::INTEGER AS fold,
           n_f AS n_in_fold,
           (n_cat - n_f)::BIGINT AS n_oof,
           round((s_cat - s_f)::DOUBLE / (n_cat - n_f)::DOUBLE / 100.0, 4)
               AS oof_mean_target
    FROM agg ORDER BY c_mktsegment, fold
    """
)

oracle("events_time_weighted_avg")(
    # Same integer micro-interval weighting via per-(type, user) lead.
    """
    WITH ev AS (
        SELECT event_type, user_id, event_id, epoch_us(ts) AS us,
               floor(epoch_us(ts) / 1000)::BIGINT AS ms,
               round(value * 100)::BIGINT AS v_cents
        FROM events
    ), held AS (
        SELECT event_type, v_cents,
               lead(ms) OVER (PARTITION BY event_type, user_id
                              ORDER BY us, event_id) - ms AS dt_ms
        FROM ev
    )
    SELECT event_type,
           count(*)::BIGINT AS n_intervals,
           sum(dt_ms)::BIGINT AS held_ms,
           round(sum(v_cents * dt_ms)::DOUBLE / sum(dt_ms)::DOUBLE
                 / 100.0, 6) AS time_weighted_avg
    FROM held WHERE dt_ms IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """
)

oracle("events_sessionize_capped")(
    # Same gap-flag cumsum + fixed-offset floor split, integer micros.
    """
    WITH ev AS (
        SELECT user_id, epoch_us(ts) AS us FROM events
    ), gapped AS (
        SELECT user_id, us,
               CASE WHEN us - lag(us) OVER (PARTITION BY user_id
                                            ORDER BY us) > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM ev
    ), flagged AS (
        SELECT user_id, us,
               sum(new_sess) OVER
                   (PARTITION BY user_id ORDER BY us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sess
        FROM gapped
    ), capped AS (
        SELECT user_id, sess,
               floor((us - min(us) OVER (PARTITION BY user_id, sess))
                     / 7200000000)::BIGINT AS sub
        FROM flagged
    ), per_sess AS (
        SELECT user_id, sess, sub, count(*)::BIGINT AS n_events
        FROM capped GROUP BY 1, 2, 3
    ), gap_s AS (
        SELECT count(*)::BIGINT AS n_gap_sessions
        FROM (SELECT DISTINCT user_id, sess FROM per_sess)
    ), tot AS (
        SELECT count(*)::BIGINT AS n_capped_sessions,
               max(n_events)::BIGINT AS max_events_per_session,
               sum(n_events)::BIGINT AS n_events_total
        FROM per_sess
    )
    SELECT n_gap_sessions, n_capped_sessions,
           (n_capped_sessions - n_gap_sessions)::BIGINT AS n_cap_splits,
           max_events_per_session, n_events_total
    FROM tot CROSS JOIN gap_s
    """
)

oracle("text_phrase_search")(
    # Same 1-based positional postings (generate_subscripts) and
    # adjacent-position join over the filtered phrase terms.
    """
    WITH toks AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), phrases AS (
        SELECT * FROM (VALUES ('order', 'key'), ('scan', 'column'),
                              ('window', 'agg')) AS t(t1, t2)
    ), a AS (
        SELECT doc_id, pos, tok AS t1 FROM toks
        WHERE tok IN ('order', 'scan', 'window')
    ), b AS (
        SELECT doc_id, pos - 1 AS pos, tok AS t2 FROM toks
        WHERE tok IN ('key', 'column', 'agg')
    ), matches AS (
        SELECT DISTINCT t1 || ' ' || t2 AS phrase, doc_id
        FROM a JOIN b USING (doc_id, pos) JOIN phrases USING (t1, t2)
    )
    SELECT phrase, count(*)::BIGINT AS n_docs,
           sum(doc_id)::BIGINT AS doc_checksum
    FROM matches GROUP BY phrase ORDER BY phrase
    """
)

# --- bitmap analytics, sweep-line concurrency ------------------------------

# Rebuilds the identical user bitmaps (word = user_id // 63, 63-bit words so the
# shift never reaches the int64 sign bit, which DuckDB rejects as overflow) and intersects them with the same integer bit arithmetic —
# bit-exact until the one terminal rate division. Parenthesization matters:
# DuckDB's <<//&/| precedence differs from C, so every bit expression is
# fully bracketed.
oracle("events_bitmap_retention")(
    """
    WITH w AS (
        SELECT ts::DATE AS day, (user_id // 63)::BIGINT AS word,
               bit_or(1::BIGINT << (user_id % 63)::INT) AS bits
        FROM events GROUP BY 1, 2
    ), act AS (
        SELECT day, sum(bit_count(bits))::BIGINT AS n_active
        FROM w GROUP BY day
    ), ret AS (
        SELECT a.day AS day, k.off AS "offset",
               sum(bit_count(a.bits & b.bits))::BIGINT AS n_retained
        FROM w a
        JOIN (VALUES (1), (7)) k(off) ON TRUE
        JOIN w b ON b.day = a.day + k.off AND b.word = a.word
        GROUP BY 1, 2
    )
    SELECT strftime(r.day, '%Y-%m-%d') AS day, r."offset", act.n_active,
           r.n_retained,
           round(r.n_retained / act.n_active::DOUBLE, 6) AS retention_rate
    FROM ret r JOIN act USING (day)
    ORDER BY day, "offset"
    """
)

# Same sweep line: gap sessions -> +1/-1 deltas (end + 1 us), collapsed per
# timestamp, day-carry running sum over per-day totals + within-day prefix
# max. Pure integer arithmetic end to end.
oracle("events_max_concurrency_daily")(
    """
    WITH o AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq,
               ts
        FROM o
    ), sess AS (
        SELECT user_id, session_seq,
               epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
        FROM s GROUP BY user_id, session_seq
    ), deltas AS (
        SELECT start_us AS us, 1 AS delta FROM sess
        UNION ALL
        SELECT end_us + 1 AS us, -1 AS delta FROM sess
    ), per_ts AS (
        SELECT make_timestamp(us)::DATE AS day, us,
               sum(delta)::BIGINT AS d,
               sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)::BIGINT AS starts
        FROM deltas GROUP BY 1, 2
    ), day_tot AS (
        SELECT day, sum(d)::BIGINT AS day_delta,
               sum(starts)::BIGINT AS sessions_started
        FROM per_ts GROUP BY day
    ), base AS (
        SELECT day, sessions_started,
               coalesce(sum(day_delta) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS carry
        FROM day_tot
    ), peaks AS (
        SELECT day, max(run)::BIGINT AS max_prefix FROM (
            SELECT day, sum(d) OVER (PARTITION BY day ORDER BY us
                       ROWS UNBOUNDED PRECEDING) AS run
            FROM per_ts
        ) GROUP BY day
    )
    SELECT strftime(p.day, '%Y-%m-%d') AS day,
           (b.carry + greatest(p.max_prefix, 0))::BIGINT AS peak_concurrency,
           b.carry AS day_start_concurrency,
           b.sessions_started
    FROM peaks p JOIN base b USING (day)
    ORDER BY day
    """
)

# Identical two-phase rank (bucket offsets + within-bucket row_number) and
# the same rank-formula Gini; SUM(i*x) is tie-order invariant so the engines
# need not agree on tied row numbers. HUGEINT sums cast ::BIGINT.
oracle("agg_gini_customer_revenue")(
    """
    WITH rc AS (
        SELECT o_custkey,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY o_custkey
    ), pc AS (
        SELECT c.c_mktsegment, rc.o_custkey, rc.cents,
               rc.cents // 500000 AS bucket
        FROM rc JOIN customer c ON c.c_custkey = rc.o_custkey
    ), pb AS (
        SELECT c_mktsegment, bucket, count(*)::BIGINT AS n_b
        FROM pc GROUP BY 1, 2
    ), offs AS (
        SELECT c_mktsegment, bucket,
               coalesce(sum(n_b) OVER (PARTITION BY c_mktsegment
                   ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS off
        FROM pb
    ), ranked AS (
        SELECT pc.c_mktsegment, pc.cents,
               o.off + row_number() OVER (
                   PARTITION BY pc.c_mktsegment, pc.bucket
                   ORDER BY pc.cents, pc.o_custkey) AS i
        FROM pc JOIN offs o
          ON o.c_mktsegment = pc.c_mktsegment AND o.bucket = pc.bucket
    )
    SELECT c_mktsegment, count(*)::BIGINT AS n_customers,
           sum(cents)::BIGINT AS revenue_cents,
           round((2.0 * sum(i * cents)::DOUBLE
                  - (count(*)::DOUBLE + 1.0) * sum(cents)::BIGINT)
                 / (count(*)::DOUBLE * sum(cents)::BIGINT), 6) AS gini
    FROM ranked GROUP BY c_mktsegment ORDER BY c_mktsegment
    """
)

# First-view -> first-qualifying-purchase latency in exact integer seconds;
# quantile_cont matches Spark percentile when rounded at the one float site.
oracle("events_funnel_latency")(
    """
    WITH f AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                   AS v_us
        FROM events GROUP BY user_id
    ), conv AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS p_us, min(f.v_us) AS v_us
        FROM events e JOIN f ON f.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND f.v_us IS NOT NULL
          AND epoch_us(e.ts) >= f.v_us
        GROUP BY e.user_id
    ), lat AS (
        SELECT make_timestamp(p_us)::DATE AS day,
               (p_us - v_us) // 1000000 AS latency_s
        FROM conv
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           count(*)::BIGINT AS n_conversions,
           round(quantile_cont(latency_s, 0.5), 4) AS median_latency_s,
           round(quantile_cont(latency_s, 0.9), 4) AS p90_latency_s
    FROM lat GROUP BY day ORDER BY day
    """
)

# Same support-bounded PMI: exact integer document frequencies, the one
# float site is ln of the int64 ratio, rounded identically.
oracle("text_pmi_cooccurrence")(
    """
    WITH n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
    tok AS (
        SELECT DISTINCT doc_id, t
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents)
        WHERE t <> ''
    ), dftok AS (
        SELECT t, count(*)::BIGINT AS c FROM tok GROUP BY t
    ), freq AS (
        SELECT t, c FROM dftok, n WHERE c >= ceil(n.n_docs * 0.05)
    ), ft AS (
        SELECT tok.doc_id, tok.t FROM tok JOIN freq USING (t)
    ), pairs AS (
        SELECT a.t AS t1, b.t AS t2, count(*)::BIGINT AS df_pair
        FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.t < b.t
        GROUP BY 1, 2
    )
    SELECT p.t1, p.t2, p.df_pair, x.c AS df_x, y.c AS df_y,
           round(ln((n.n_docs * p.df_pair)::DOUBLE
                    / (x.c * y.c)::DOUBLE), 6) AS pmi
    FROM pairs p
    JOIN freq x ON x.t = p.t1
    JOIN freq y ON y.t = p.t2
    CROSS JOIN n
    WHERE p.df_pair >= ceil(n.n_docs * 0.02)
    ORDER BY t1, t2
    """
)

# Same first-3-events path extraction; string_agg ORDER BY rn is the dual
# of Spark's sorted-struct concat. Integer sort keys only.
oracle("events_top_paths")(
    """
    WITH r AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), p AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path,
               count(*)::BIGINT AS path_len
        FROM r WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, path_len, count(*)::BIGINT AS n_users
    FROM p GROUP BY path, path_len
    ORDER BY n_users DESC, path
    """
)

# Same trigram contract (sub-3-token docs -> whole text) and the same
# gram-keyed doc-frequency; novelty is the one terminal division.
oracle("text_ngram_novelty")(
    f"""
    WITH grams AS (
        SELECT DISTINCT doc_id,
               unnest(CASE WHEN len({_TOKS}) < 3 THEN [text]
                      ELSE list_transform(range(1, len({_TOKS}) - 1),
                           i -> array_to_string(list_slice({_TOKS}, i, i + 2),
                                                ' '))
                      END) AS g
        FROM documents
    ), gf AS (
        SELECT g, count(*)::BIGINT AS df FROM grams GROUP BY g
    )
    SELECT doc_id, count(*)::BIGINT AS n_grams,
           sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
           round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)
                 / count(*)::DOUBLE, 6) AS novelty
    FROM grams JOIN gf USING (g)
    GROUP BY doc_id ORDER BY doc_id
    """
)

# Identical sorted-neighborhood construction: same ASCII key, same 2-char
# bucket two-phase rank (SUM(i*x)-style tie freedom does NOT apply here —
# ranks must match, so ties order by (sn_key, doc_id) in both engines),
# same gap-1..2 rank join and exact trigram Jaccard.
oracle("dedup_sorted_neighborhood")(
    f"""
    WITH keyed AS (
        SELECT doc_id, text,
               substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                         1, 16) AS sn_key
        FROM documents
    ), b AS (
        SELECT doc_id, text, sn_key, substring(sn_key, 1, 2) AS bkt
        FROM keyed
    ), pb AS (
        SELECT bkt, count(*)::BIGINT AS n_b FROM b GROUP BY bkt
    ), offs AS (
        SELECT bkt, coalesce(sum(n_b) OVER (ORDER BY bkt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS off
        FROM pb
    ), ranked AS (
        SELECT b.doc_id,
               o.off + row_number() OVER (PARTITION BY b.bkt
                                          ORDER BY b.sn_key, b.doc_id) AS r
        FROM b JOIN offs o USING (bkt)
    ), pairs AS (
        SELECT a.doc_id AS id_a, c.doc_id AS id_b, g.gap
        FROM ranked a
        JOIN (VALUES (1), (2)) g(gap) ON TRUE
        JOIN ranked c ON c.r = a.r + g.gap
    ), s AS (
        SELECT doc_id, {_SHINGLE_SET} AS ss FROM documents
    ), scored AS (
        SELECT p.id_a, p.id_b, p.gap,
               len(list_filter(sa.ss, x -> list_contains(sb.ss, x))) AS inter,
               len(sa.ss) + len(sb.ss)
                   - len(list_filter(sa.ss, x -> list_contains(sb.ss, x)))
                   AS uni
        FROM pairs p
        JOIN s sa ON sa.doc_id = p.id_a
        JOIN s sb ON sb.doc_id = p.id_b
    )
    SELECT id_a, id_b, gap,
           round(CASE WHEN uni > 0 THEN inter::double / uni ELSE 0.0 END, 4)
               AS jaccard_sim
    FROM scored
    WHERE round(CASE WHEN uni > 0 THEN inter::double / uni ELSE 0.0 END, 4)
          >= 0.3
    ORDER BY id_a, id_b
    """
)

# Identical CUPED construction: integer-cent per-user sums, the SAME
# double-promotion points in theta and the adjusted mean, one rounding
# site per output column.
oracle("events_cuped_adjusted")(
    """
    WITH pu AS (
        SELECT user_id,
               coalesce(sum(CASE WHEN date_part('day', ts) <= 15
                   THEN round(value * 100)::BIGINT END), 0)::BIGINT AS x,
               coalesce(sum(CASE WHEN date_part('day', ts) > 15
                   THEN round(value * 100)::BIGINT END), 0)::BIGINT AS y,
               (user_id % 2)::INT AS arm
        FROM events GROUP BY user_id
    ), pooled AS (
        SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
               sum(y)::BIGINT AS sy, sum(x * y) AS sxy,
               sum(x * x) AS sxx
        FROM pu
    ), arms AS (
        SELECT arm, count(*)::BIGINT AS n_users,
               sum(x)::BIGINT AS sx_a, sum(y)::BIGINT AS sy_a
        FROM pu GROUP BY arm
    )
    SELECT a.arm, a.n_users,
           round(a.sy_a::DOUBLE / a.n_users::DOUBLE / 100.0, 6) AS mean_y,
           round((a.sy_a::DOUBLE / a.n_users::DOUBLE
                  - ((p.n::DOUBLE * p.sxy::DOUBLE - p.sx::DOUBLE * p.sy::DOUBLE)
                     / (p.n::DOUBLE * p.sxx::DOUBLE - p.sx::DOUBLE * p.sx::DOUBLE))
                    * (a.sx_a::DOUBLE / a.n_users::DOUBLE
                       - p.sx::DOUBLE / p.n::DOUBLE)) / 100.0, 6)
               AS mean_y_cuped,
           round((p.n::DOUBLE * p.sxy::DOUBLE - p.sx::DOUBLE * p.sy::DOUBLE)
                 / (p.n::DOUBLE * p.sxx::DOUBLE - p.sx::DOUBLE * p.sx::DOUBLE),
                 6) AS theta
    FROM arms a CROSS JOIN pooled p
    ORDER BY arm
    """
)

# Same pairwise-slope construction on the daily rollup; each slope is the
# identical IEEE division of integer cents by an integer day gap, and
# quantile_cont interpolates the same doubles Spark's percentile does.
oracle("events_theilsen_trend")(
    """
    WITH daily AS (
        SELECT datediff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS x,
               sum(round(value * 100)::BIGINT)::BIGINT AS cents
        FROM events GROUP BY ts::DATE
    ), slopes AS (
        SELECT (b.cents - a.cents)::DOUBLE / (b.x - a.x)::DOUBLE AS slope
        FROM daily a JOIN daily b ON a.x < b.x
    ), m AS (
        SELECT quantile_cont(slope, 0.5) AS ts_slope,
               count(*)::BIGINT AS n_pairs
        FROM slopes
    )
    SELECT (SELECT count(*) FROM daily)::BIGINT AS n_days,
           m.n_pairs,
           round(m.ts_slope, 6) AS ts_slope_cents,
           round((SELECT quantile_cont(d.cents::DOUBLE
                                       - m.ts_slope * d.x::DOUBLE, 0.5)
                  FROM daily d), 6) AS ts_intercept_cents
    FROM m
    """
)

# Same KM estimator: integer d/c/n per week, reverse-cumulative at-risk,
# exp(running sum of ln(factor)) over the same t-order with the same
# zero-factor guard. ln/exp agree post-round at 6 dp (the terms are a
# handful of calendar weeks, not data-sized sums).
oracle("events_kaplan_meier")(
    """
    WITH pu AS (
        SELECT user_id, min(ts::DATE) AS f, max(ts::DATE) AS l
        FROM events GROUP BY user_id
    ), mx AS (SELECT max(ts::DATE) AS mx FROM events),
    d AS (
        SELECT datediff('day', f, l) // 7 AS t,
               CASE WHEN datediff('day', l, mx.mx) < 7 THEN 0 ELSE 1 END
                   AS dead
        FROM pu, mx
    ), week AS (
        SELECT t, sum(dead)::BIGINT AS d,
               sum(1 - dead)::BIGINT AS c
        FROM d GROUP BY t
    ), risk AS (
        SELECT t, d, c,
               sum(d + c) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING)::BIGINT AS n
        FROM week
    ), f AS (
        SELECT t, n, d, c, (n - d)::DOUBLE / n::DOUBLE AS factor
        FROM risk
    )
    SELECT t, n, d, c,
           round(CASE WHEN min(factor) OVER w = 0.0 THEN 0.0
                 ELSE exp(sum(ln(factor)) OVER w) END, 6) AS survival
    FROM f
    WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)
    ORDER BY t
    """
)

# The streamed bitmap table must reproduce the batch exact distinct count
# per day — replays absorbed, nothing lost.
oracle("streaming_bitmap_distinct")(
    """
    SELECT strftime(ts::DATE, '%Y-%m-%d') AS day,
           count(DISTINCT user_id)::BIGINT AS n_active
    FROM events GROUP BY 1 ORDER BY day
    """
)

# Exact rolling WAU the direct way (7-day trailing distinct users per
# active day) — the bitmap merge must reproduce it bit-for-bit.
oracle("events_rolling_wau_bitmap")(
    """
    WITH pairs AS (
        SELECT DISTINCT ts::DATE AS day, user_id FROM events
    ), expanded AS (
        SELECT (day + i::INT) AS anchor, user_id
        FROM pairs, (SELECT unnest(range(0, 7)) AS i)
    ), wau AS (
        SELECT anchor, count(DISTINCT user_id)::BIGINT AS wau_exact
        FROM expanded GROUP BY anchor
    )
    SELECT strftime(anchor, '%Y-%m-%d') AS day, wau_exact
    FROM wau
    WHERE anchor IN (SELECT day FROM pairs)
    ORDER BY day
    """
)

# DuckDB takes the direct global row_number over the same md5 order (a
# single node sorts fine); the two-phase rank must agree rank-for-rank.
oracle("sample_systematic")(
    """
    WITH drawn AS (
        SELECT doc_id, lang,
               CAST(('0x' || substring(md5(doc_id::VARCHAR || 'systematic'),
                                       1, 8)) AS UBIGINT)::BIGINT AS h
        FROM documents
    ), ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (ORDER BY h, doc_id) AS rk
        FROM drawn
    )
    SELECT doc_id, lang, rk FROM ranked
    WHERE rk % 20 = 1 ORDER BY rk
    """
)

# Same multiset Jaccard via the SUM(max) = totalA + totalB - SUM(min)
# identity; exact integer term frequencies, one terminal division.
oracle("dedup_weighted_jaccard_adjacent")(
    """
    WITH tf AS (
        SELECT doc_id, t, count(*)::BIGINT AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents)
        WHERE t <> ''
        GROUP BY doc_id, t
    ), totals AS (
        SELECT doc_id, sum(tf)::BIGINT AS total FROM tf GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS id_a,
               sum(least(a.tf, b.tf))::BIGINT AS s_min
        FROM tf a JOIN tf b ON b.doc_id = a.doc_id + 1 AND b.t = a.t
        GROUP BY a.doc_id
    )
    SELECT ta.doc_id AS id_a, ta.doc_id + 1 AS id_b,
           coalesce(s.s_min, 0)::BIGINT AS s_min,
           round(coalesce(s.s_min, 0)::DOUBLE
                 / (ta.total + tb.total - coalesce(s.s_min, 0))::DOUBLE,
                 4) AS weighted_jaccard
    FROM totals ta
    JOIN totals tb ON tb.doc_id = ta.doc_id + 1
    LEFT JOIN shared s ON s.id_a = ta.doc_id
    ORDER BY id_a
    """
)

# Same entropy with the same DEFINED-ORDER float fold: list(cnt ORDER BY
# ch) + list_reduce reproduces Spark's sorted-struct aggregate term for
# term, so the IEEE sum is identical before the one rounding site.
oracle("text_char_entropy")(
    """
    WITH c AS (
        SELECT doc_id, ch, count(*)::BIGINT AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
              FROM documents)
        WHERE ch <> ''
        GROUP BY doc_id, ch
    ), agg AS (
        SELECT doc_id, sum(cnt)::BIGINT AS n,
               count(*)::BIGINT AS n_distinct_chars,
               list_reduce(
                   list_prepend(0.0::DOUBLE,
                       list_transform(list(cnt ORDER BY ch),
                                      x -> x::DOUBLE * ln(x::DOUBLE))),
                   (a, b) -> a + b) AS s
        FROM c GROUP BY doc_id
    )
    SELECT doc_id, n, n_distinct_chars,
           round(ln(n::DOUBLE) - s / n::DOUBLE, 6) AS entropy
    FROM agg ORDER BY doc_id
    """
)

# Same customer-keyed md5 bucket split and the same from-the-data leakage
# audit (customers in >1 split counted, asserted zero as a column).
oracle("sample_group_split_no_leakage")(
    """
    WITH tagged AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)
                        || 'groupsplit'), 1, 8)) AS UBIGINT) % 10000 < 8000
                    THEN 'train'
                    WHEN CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)
                        || 'groupsplit'), 1, 8)) AS UBIGINT) % 10000 < 9000
                    THEN 'valid'
                    ELSE 'test' END AS split
        FROM orders
    ), leaked AS (
        SELECT coalesce(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END), 0)::BIGINT
                   AS n_leaked
        FROM (SELECT o_custkey, count(DISTINCT split) AS n_splits
              FROM tagged GROUP BY o_custkey)
    )
    SELECT split, count(*)::BIGINT AS n_orders,
           count(DISTINCT o_custkey)::BIGINT AS n_customers,
           (l.n_leaked = 0) AS leakage_free
    FROM tagged CROSS JOIN leaked l
    GROUP BY split, l.n_leaked
    ORDER BY split
    """
)

# Same lead bigrams, same argmax with the lexicographic tie pin, same
# in-sample scoring over the transition rollup.
oracle("events_markov_accuracy")(
    """
    WITH b AS (
        SELECT event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ), trans AS (
        SELECT cur, nxt, count(*)::BIGINT AS n
        FROM b WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ), pred AS (
        SELECT cur, nxt AS predicted FROM (
            SELECT cur, nxt,
                   row_number() OVER (PARTITION BY cur
                                      ORDER BY n DESC, nxt ASC) AS rk
            FROM trans
        ) WHERE rk = 1
    )
    SELECT t.cur, p.predicted,
           sum(t.n)::BIGINT AS n_transitions,
           sum(CASE WHEN t.nxt = p.predicted THEN t.n END)::BIGINT
               AS n_correct,
           round(sum(CASE WHEN t.nxt = p.predicted THEN t.n END)::DOUBLE
                 / sum(t.n)::DOUBLE, 6) AS accuracy
    FROM trans t JOIN pred p USING (cur)
    GROUP BY t.cur, p.predicted
    ORDER BY cur
    """
)

# Same three regexp counts (RE2 agrees with Java on these character
# classes) and the same literal-coefficient score, rounded once.
oracle("text_readability")(
    """
    WITH c AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
                   AS n_words,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT
                   AS n_sentences,
               len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT
                   AS n_syllables
        FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           round(206.835 - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
                 - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE), 4)
               AS flesch
    FROM c WHERE n_words > 0 ORDER BY doc_id
    """
)

# Same two rollup levels joined child-to-parent; integer cents, one
# rounded division per share.
oracle("agg_hierarchical_share")(
    """
    WITH nat AS (
        SELECT r.r_name, n.n_name,
               sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS nation_cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY r.r_name, n.n_name
    ), reg AS (
        SELECT r_name, sum(nation_cents)::BIGINT AS region_cents
        FROM nat GROUP BY r_name
    ), tot AS (
        SELECT sum(region_cents)::BIGINT AS global_cents FROM reg
    )
    SELECT nat.r_name, nat.n_name, nat.nation_cents,
           round(nat.nation_cents::DOUBLE / reg.region_cents::DOUBLE, 6)
               AS share_of_region,
           round(reg.region_cents::DOUBLE / tot.global_cents::DOUBLE, 6)
               AS region_share_of_global
    FROM nat JOIN reg USING (r_name) CROSS JOIN tot
    ORDER BY r_name, n_name
    """
)

# Same dyadic trick: cents << (30 - age) is exact int64, summed exactly
# (HUGEINT then ::BIGINT), one terminal division.
oracle("events_decay_score_dyadic")(
    """
    WITH mx AS (SELECT max(ts::DATE) AS mx FROM events),
    t AS (
        SELECT user_id,
               round(value * 100)::BIGINT
                   * (1::BIGINT << (30 - datediff('day', ts::DATE, mx.mx))::INT)
                   AS term
        FROM events, mx
        WHERE datediff('day', ts::DATE, mx.mx) <= 30
    )
    SELECT user_id,
           round(sum(term)::BIGINT::DOUBLE / 1073741824.0 / 100.0, 6)
               AS decay_score
    FROM t GROUP BY user_id ORDER BY user_id
    """
)

# Same planted retry clones (md5 1-in-64 bucket, +2 h, offset key) and the
# same (customer, cents)-keyed self-join with the 24 h band; integer micros
# end to end.
oracle("quality_duplicate_payments")(
    """
    WITH uni AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
        UNION ALL
        SELECT o_orderkey + 1000000000000, o_custkey, o_totalprice,
               o_orderdate + INTERVAL 2 HOUR
        FROM orders
        WHERE CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)
                  || 'doublecharge'), 1, 8)) AS UBIGINT) % 64 = 0
    ), base AS (
        SELECT o_orderkey, o_custkey,
               round(o_totalprice * 100)::BIGINT AS cents,
               epoch_us(o_orderdate) AS us
        FROM uni
    )
    SELECT a.o_custkey, a.cents,
           a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           (abs(a.us - b.us) // 3600000000)::BIGINT AS hours_apart
    FROM base a
    JOIN base b ON b.o_custkey = a.o_custkey AND b.cents = a.cents
               AND a.o_orderkey < b.o_orderkey
               AND abs(a.us - b.us) <= 86400000000
    ORDER BY a.o_custkey, key_a, key_b
    """
)

# Same top-100 (count desc, token asc), same defined-order moment fold:
# DuckDB lists the counts ORDER BY (n DESC, t ASC) and folds sequentially,
# reproducing Spark's sorted-array aggregate term for term.
oracle("text_zipf_slope")(
    """
    WITH counts AS (
        SELECT t, count(*)::BIGINT AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        WHERE t <> ''
        GROUP BY t
        ORDER BY n DESC, t ASC
        LIMIT 100
    ), arr AS (
        SELECT list(n ORDER BY n DESC, t ASC) AS a FROM counts
    ), terms AS (
        SELECT len(a)::BIGINT AS k,
               list_transform(a, x -> ln(x::DOUBLE)) AS ly,
               list_transform(range(1, len(a) + 1), i -> ln(i::DOUBLE)) AS lx
        FROM arr
    ), m AS (
        SELECT k,
               list_reduce(list_prepend(0.0::DOUBLE, lx), (p, q) -> p + q)
                   AS sx,
               list_reduce(list_prepend(0.0::DOUBLE, ly), (p, q) -> p + q)
                   AS sy,
               list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(lx, v -> v * v)), (p, q) -> p + q) AS sxx,
               list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(range(1, k::INT + 1),
                       i -> ln(i::DOUBLE) * ly[i::INT])), (p, q) -> p + q)
                   AS sxy
        FROM terms
    )
    SELECT k,
           round((k::DOUBLE * sxy - sx * sy)
                 / (k::DOUBLE * sxx - sx * sx), 4) AS zipf_slope
    FROM m
    """
)

# Same min-struct entry extraction (arg-min without a window; DuckDB
# struct_pack min compares fields lexicographically like Spark's struct
# min) and the same user-keyed conversion flag.
oracle("events_entry_channel_conversion")(
    """
    WITH pu AS (
        SELECT user_id,
               (min(struct_pack(ts := ts, event_id := event_id,
                                et := event_type))).et AS entry,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    )
    SELECT entry, count(*)::BIGINT AS n_users,
           sum(converted)::BIGINT AS n_converted,
           round(sum(converted)::DOUBLE / count(*)::DOUBLE, 6)
               AS conversion_rate
    FROM pu GROUP BY entry ORDER BY entry
    """
)

# Same per-column top-3 heavy keys with the same two rounded ratios.
oracle("quality_join_key_skew")(
    """
    WITH li AS (
        SELECT l_orderkey::VARCHAR AS key_value, count(*)::BIGINT AS n
        FROM lineitem GROUP BY 1
    ), li_t AS (
        SELECT sum(n)::BIGINT AS total_rows, count(*)::BIGINT AS n_keys
        FROM li
    ), o AS (
        SELECT o_custkey::VARCHAR AS key_value, count(*)::BIGINT AS n
        FROM orders GROUP BY 1
    ), o_t AS (
        SELECT sum(n)::BIGINT AS total_rows, count(*)::BIGINT AS n_keys
        FROM o
    ), e AS (
        SELECT user_id::VARCHAR AS key_value, count(*)::BIGINT AS n
        FROM events GROUP BY 1
    ), e_t AS (
        SELECT sum(n)::BIGINT AS total_rows, count(*)::BIGINT AS n_keys
        FROM e
    ), uni AS (
        SELECT 'lineitem.l_orderkey' AS join_key, key_value, n,
               round(n::DOUBLE / t.total_rows::DOUBLE, 6) AS share,
               round(n::DOUBLE * t.n_keys::DOUBLE / t.total_rows::DOUBLE, 4)
                   AS skew_vs_mean
        FROM (SELECT * FROM li ORDER BY n DESC, key_value ASC LIMIT 3)
             CROSS JOIN li_t t
        UNION ALL
        SELECT 'orders.o_custkey', key_value, n,
               round(n::DOUBLE / t.total_rows::DOUBLE, 6),
               round(n::DOUBLE * t.n_keys::DOUBLE / t.total_rows::DOUBLE, 4)
        FROM (SELECT * FROM o ORDER BY n DESC, key_value ASC LIMIT 3)
             CROSS JOIN o_t t
        UNION ALL
        SELECT 'events.user_id', key_value, n,
               round(n::DOUBLE / t.total_rows::DOUBLE, 6),
               round(n::DOUBLE * t.n_keys::DOUBLE / t.total_rows::DOUBLE, 4)
        FROM (SELECT * FROM e ORDER BY n DESC, key_value ASC LIMIT 3)
             CROSS JOIN e_t t
    )
    SELECT * FROM uni ORDER BY join_key, n DESC, key_value
    """
)

# Same first-day split over the distinct (day, user) pass.
oracle("events_new_vs_returning")(
    """
    WITH pairs AS (
        SELECT DISTINCT ts::DATE AS day, user_id FROM events
    ), firsts AS (
        SELECT user_id, min(day) AS first_day FROM pairs GROUP BY user_id
    )
    SELECT strftime(p.day, '%Y-%m-%d') AS day,
           sum(CASE WHEN p.day = f.first_day THEN 1 ELSE 0 END)::BIGINT
               AS new_users,
           sum(CASE WHEN p.day <> f.first_day THEN 1 ELSE 0 END)::BIGINT
               AS returning_users,
           round(sum(CASE WHEN p.day = f.first_day THEN 1 ELSE 0 END)::DOUBLE
                 / count(*)::DOUBLE, 6) AS new_share
    FROM pairs p JOIN firsts f USING (user_id)
    GROUP BY p.day ORDER BY day
    """
)

# Same three candidate FDs, each one distinct-count aggregate folded to
# a single audited row.
oracle("quality_functional_dependency")(
    """
    WITH a AS (
        SELECT p_partkey AS lhs_v, count(DISTINCT p_name) AS n_rhs
        FROM part GROUP BY 1
    ), b AS (
        SELECT p_name AS lhs_v, count(DISTINCT p_brand) AS n_rhs
        FROM part GROUP BY 1
    ), c AS (
        SELECT p_brand AS lhs_v, count(DISTINCT p_type) AS n_rhs
        FROM part GROUP BY 1
    ), uni AS (
        SELECT 'p_partkey -> p_name' AS dependency,
               count(*)::BIGINT AS n_lhs_values,
               sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)::BIGINT
                   AS n_violating_lhs,
               max(n_rhs)::BIGINT AS max_rhs_per_lhs
        FROM a
        UNION ALL
        SELECT 'p_name -> p_brand', count(*)::BIGINT,
               sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)::BIGINT,
               max(n_rhs)::BIGINT
        FROM b
        UNION ALL
        SELECT 'p_brand -> p_type', count(*)::BIGINT,
               sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)::BIGINT,
               max(n_rhs)::BIGINT
        FROM c
    )
    SELECT dependency, n_lhs_values, n_violating_lhs, max_rhs_per_lhs,
           (n_violating_lhs = 0) AS holds
    FROM uni ORDER BY dependency
    """
)


# Reuses the exact lang-id scoring fragments; |langs|^2-bounded rollup
# with one rounded recall per cell.
oracle("quality_langid_confusion")(
    f"""
    WITH scored AS (
        SELECT lang, {_EN} AS s_en, {_ES} AS s_es, {_FR} AS s_fr,
               {_DE} AS s_de
        FROM documents
    ), pred AS (
        SELECT lang,
               CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en > 0 THEN 'en'
                    WHEN s_es >= s_fr AND s_es >= s_de AND s_es > 0 THEN 'es'
                    WHEN s_fr >= s_de AND s_fr > 0 THEN 'fr'
                    WHEN s_de > 0 THEN 'de'
                    ELSE 'und' END AS predicted
        FROM scored
    ), cells AS (
        SELECT lang, predicted, count(*)::BIGINT AS n
        FROM pred GROUP BY lang, predicted
    ), totals AS (
        SELECT lang, sum(n)::BIGINT AS n_lang FROM cells GROUP BY lang
    )
    SELECT c.lang, c.predicted, c.n,
           round(c.n::DOUBLE / t.n_lang::DOUBLE, 6) AS share_of_declared
    FROM cells c JOIN totals t USING (lang)
    ORDER BY lang, predicted
    """
)

# Same one-scan datasheet; dup rate from the (cell, text) distinct pass.
oracle("pipeline_corpus_card")(
    """
    WITH cells AS (
        SELECT source, lang, count(*)::BIGINT AS n_docs,
               sum(len(list_filter(string_split(text, ' '),
                                   x -> x <> '')))::BIGINT AS n_tokens,
               sum(length(text))::BIGINT AS n_chars_total
        FROM documents GROUP BY source, lang
    ), d AS (
        SELECT source, lang, count(*)::BIGINT AS n_distinct_texts
        FROM (SELECT DISTINCT source, lang, text FROM documents)
        GROUP BY source, lang
    )
    SELECT c.source, c.lang, c.n_docs, c.n_tokens,
           round(1.0 - d.n_distinct_texts::DOUBLE / c.n_docs::DOUBLE, 6)
               AS exact_dup_rate,
           round(c.n_chars_total::DOUBLE / c.n_docs::DOUBLE, 4) AS mean_chars
    FROM cells c JOIN d USING (source, lang)
    ORDER BY source, lang
    """
)

oracle("quality_k_anonymity")(
    # Same QI bucketing (floor of an integer-valued cents quotient —
    # identical in both engines), same per-k group/row sums.
    """
    WITH qi AS (
        SELECT c_nationkey,
               floor(round(c_acctbal * 100)::BIGINT / 25000.0)::BIGINT
                   AS bal_band,
               c_mktsegment
        FROM customer
    ), groups AS (
        SELECT c_nationkey, bal_band,
               count(*)::BIGINT AS grp_n,
               count(DISTINCT c_mktsegment)::BIGINT AS l_div
        FROM qi GROUP BY c_nationkey, bal_band
    ), per_k AS (
        SELECT k.k, grp_n, l_div
        FROM groups CROSS JOIN (VALUES (2), (5), (10)) AS k(k)
    )
    SELECT k::INTEGER AS k,
           count(*)::BIGINT AS n_groups,
           sum(grp_n)::BIGINT AS n_rows,
           sum(CASE WHEN grp_n < k THEN 1 ELSE 0 END)::BIGINT
               AS groups_below_k,
           sum(CASE WHEN grp_n < k THEN grp_n ELSE 0 END)::BIGINT
               AS rows_at_risk,
           round(sum(CASE WHEN grp_n < k THEN grp_n ELSE 0 END)::DOUBLE
                 / sum(grp_n)::DOUBLE, 6) AS risk_share,
           min(grp_n)::BIGINT AS min_group_size,
           sum(CASE WHEN l_div < 2 THEN 1 ELSE 0 END)::BIGINT
               AS l2_violations
    FROM per_k GROUP BY k ORDER BY k
    """
)

oracle("quality_simpsons_reversal")(
    # Same cohort split; directions via HUGEINT cross products (the
    # native dual of Spark's decimal(38,0) sums), means rounded once.
    """
    WITH rows_j AS (
        SELECT c.c_mktsegment,
               round(o.o_totalprice * 100)::BIGINT AS cents,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS is_a
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), seg AS (
        SELECT c_mktsegment,
               sum(CASE WHEN is_a = 1 THEN 1 ELSE 0 END)::BIGINT AS n_a,
               sum(CASE WHEN is_a = 1 THEN cents ELSE 0 END)::HUGEINT AS s_a,
               sum(CASE WHEN is_a = 0 THEN 1 ELSE 0 END)::BIGINT AS n_b,
               sum(CASE WHEN is_a = 0 THEN cents ELSE 0 END)::HUGEINT AS s_b
        FROM rows_j GROUP BY c_mktsegment
    ), pooled AS (
        SELECT CASE WHEN sum(CASE WHEN is_a = 1 THEN cents ELSE 0 END)::HUGEINT
                         * sum(CASE WHEN is_a = 0 THEN 1 ELSE 0 END)::BIGINT
                       > sum(CASE WHEN is_a = 0 THEN cents ELSE 0 END)::HUGEINT
                         * sum(CASE WHEN is_a = 1 THEN 1 ELSE 0 END)::BIGINT
                    THEN 1
                    WHEN sum(CASE WHEN is_a = 1 THEN cents ELSE 0 END)::HUGEINT
                         * sum(CASE WHEN is_a = 0 THEN 1 ELSE 0 END)::BIGINT
                       < sum(CASE WHEN is_a = 0 THEN cents ELSE 0 END)::HUGEINT
                         * sum(CASE WHEN is_a = 1 THEN 1 ELSE 0 END)::BIGINT
                    THEN -1 ELSE 0 END AS pooled_dir
        FROM rows_j
    )
    SELECT s.c_mktsegment, s.n_a, s.n_b,
           CASE WHEN s.n_a > 0
                THEN round(s.s_a::DOUBLE / s.n_a / 100.0, 4)
                ELSE NULL END AS mean_a,
           CASE WHEN s.n_b > 0
                THEN round(s.s_b::DOUBLE / s.n_b / 100.0, 4)
                ELSE NULL END AS mean_b,
           (CASE WHEN s.s_a * s.n_b > s.s_b * s.n_a THEN 1
                 WHEN s.s_a * s.n_b < s.s_b * s.n_a THEN -1
                 ELSE 0 END)::INTEGER AS seg_dir,
           p.pooled_dir::INTEGER AS pooled_dir,
           (CASE WHEN (CASE WHEN s.s_a * s.n_b > s.s_b * s.n_a THEN 1
                            WHEN s.s_a * s.n_b < s.s_b * s.n_a THEN -1
                            ELSE 0 END) * p.pooled_dir = -1
                 THEN 1 ELSE 0 END)::INTEGER AS reversed
    FROM seg s CROSS JOIN pooled p
    ORDER BY s.c_mktsegment
    """
)

oracle("search_ndcg_bm25")(
    # Same BM25 CTE chain as text_bm25_topk; graded gains (1 << rel) - 1
    # are exact integers; both DCG folds run in EXPLICIT rank order
    # (list_reduce over list(v ORDER BY rank) — the char-entropy fold
    # pattern), mirrored by Spark's aggregate over array_sort.
    """
    WITH toks AS (
        SELECT doc_id,
               len(string_split(text, ' '))::BIGINT AS dl,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ), postings AS (
        SELECT doc_id, term, count(*)::BIGINT AS tf, max(dl) AS dl
        FROM toks GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, count(DISTINCT doc_id)::BIGINT AS doc_freq
        FROM toks GROUP BY term
    ), qterms AS (
        SELECT term, doc_freq FROM dfreq
        ORDER BY doc_freq DESC, term LIMIT 5
    ), stats AS (
        SELECT count(*)::BIGINT AS n_docs,
               sum(len(string_split(text, ' ')))::DOUBLE / count(*) AS avgdl
        FROM documents
    ), per_term AS (
        SELECT p.doc_id,
               ln((s.n_docs - q.doc_freq + 0.5::DOUBLE)
                  / (q.doc_freq + 0.5::DOUBLE) + 1.0::DOUBLE)
               * (p.tf * 2.2::DOUBLE)
               / (p.tf + 1.2::DOUBLE
                  * (0.25::DOUBLE + 0.75::DOUBLE * p.dl / s.avgdl))
                   AS term_score
        FROM postings p JOIN qterms q USING (term) CROSS JOIN stats s
    ), scored AS (
        SELECT doc_id,
               count(*)::BIGINT AS n_terms_matched,
               round(sum(term_score), 4) AS bm25
        FROM per_term GROUP BY doc_id
    ), sys_ranked AS (
        SELECT n_terms_matched,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10
    ), ideal_ranked AS (
        SELECT n_terms_matched,
               row_number() OVER (ORDER BY n_terms_matched DESC, doc_id)
                   AS rank
        FROM scored ORDER BY n_terms_matched DESC, doc_id LIMIT 10
    ), dcg AS (
        SELECT list_reduce(
                   list_prepend(0.0::DOUBLE, list_transform(
                       list(v ORDER BY rank), x -> x)),
                   (a, b) -> a + b) AS dcg
        FROM (SELECT rank,
                     ((1 << n_terms_matched) - 1)::DOUBLE
                         / log2(rank + 1.0) AS v
              FROM sys_ranked)
    ), idcg AS (
        SELECT list_reduce(
                   list_prepend(0.0::DOUBLE, list_transform(
                       list(v ORDER BY rank), x -> x)),
                   (a, b) -> a + b) AS idcg
        FROM (SELECT rank,
                     ((1 << n_terms_matched) - 1)::DOUBLE
                         / log2(rank + 1.0) AS v
              FROM ideal_ranked)
    ), n AS (
        SELECT count(*)::BIGINT AS n_matched_docs FROM scored
    )
    SELECT 10::INTEGER AS k,
           round(dcg, 6) AS dcg_at_k,
           round(idcg, 6) AS idcg_at_k,
           CASE WHEN idcg > 0 THEN round(dcg / idcg, 6)
                ELSE NULL END AS ndcg_at_k,
           n_matched_docs
    FROM dcg, idcg, n
    """
)

oracle("quality_split_contamination")(
    # Same md5 hash split; per-text split pivot; leak = eval text whose
    # exact duplicate also landed in train.
    f"""
    WITH tagged AS (
        SELECT text, {_SPLIT_CASE} AS split FROM documents
    ), per_text AS (
        SELECT text,
               sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)::BIGINT
                   AS n_train,
               sum(CASE WHEN split = 'valid' THEN 1 ELSE 0 END)::BIGINT
                   AS n_valid,
               sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)::BIGINT
                   AS n_test
        FROM tagged GROUP BY text
    ), rolled AS (
        SELECT 'valid' AS eval_split,
               sum(n_valid)::BIGINT AS n_docs,
               sum(CASE WHEN n_train > 0 THEN n_valid ELSE 0 END)::BIGINT
                   AS n_leaked_docs,
               sum(CASE WHEN n_train > 0 AND n_valid > 0 THEN 1 ELSE 0
                   END)::BIGINT AS n_leaked_texts
        FROM per_text
        UNION ALL
        SELECT 'test' AS eval_split,
               sum(n_test)::BIGINT AS n_docs,
               sum(CASE WHEN n_train > 0 THEN n_test ELSE 0 END)::BIGINT
                   AS n_leaked_docs,
               sum(CASE WHEN n_train > 0 AND n_test > 0 THEN 1 ELSE 0
                   END)::BIGINT AS n_leaked_texts
        FROM per_text
    )
    SELECT eval_split, n_docs, n_leaked_docs,
           CASE WHEN n_docs > 0
                THEN round(n_leaked_docs::DOUBLE / n_docs::DOUBLE, 6)
                ELSE NULL END AS leak_share,
           n_leaked_texts
    FROM rolled ORDER BY eval_split
    """
)

oracle("dedup_linkage_fs_weights")(
    # Same (brand, size) block, same data-estimated u = sum(n_v^2)/N^2
    # per field, same 0.9/0.1 literals, score rounded at the one site.
    """
    WITH parts AS (
        SELECT p_partkey, p_brand, p_size,
               split_part(p_name, ' ', 1) AS adj,
               split_part(p_name, ' ', 2) AS noun,
               p_type
        FROM part
    ), stats AS (
        SELECT (SELECT count(*)::BIGINT FROM parts) AS n_total,
               (SELECT sum(n_v * n_v)::BIGINT FROM (
                   SELECT count(*)::BIGINT AS n_v FROM parts GROUP BY adj
               )) AS sq_adj,
               (SELECT sum(n_v * n_v)::BIGINT FROM (
                   SELECT count(*)::BIGINT AS n_v FROM parts GROUP BY noun
               )) AS sq_noun,
               (SELECT sum(n_v * n_v)::BIGINT FROM (
                   SELECT count(*)::BIGINT AS n_v FROM parts GROUP BY p_type
               )) AS sq_p_type
    ), scored AS (
        SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
               (a.adj = b.adj)::INTEGER AS agree_adj,
               (a.noun = b.noun)::INTEGER AS agree_noun,
               (a.p_type = b.p_type)::INTEGER AS agree_p_type,
               round(
                   (CASE WHEN a.adj = b.adj
                         THEN log2(0.9 / (s.sq_adj::DOUBLE / s.n_total
                                          / s.n_total))
                         ELSE log2(0.1 / (1.0 - s.sq_adj::DOUBLE / s.n_total
                                          / s.n_total)) END)
                   + (CASE WHEN a.noun = b.noun
                           THEN log2(0.9 / (s.sq_noun::DOUBLE / s.n_total
                                            / s.n_total))
                           ELSE log2(0.1 / (1.0 - s.sq_noun::DOUBLE
                                            / s.n_total / s.n_total)) END)
                   + (CASE WHEN a.p_type = b.p_type
                           THEN log2(0.9 / (s.sq_p_type::DOUBLE / s.n_total
                                            / s.n_total))
                           ELSE log2(0.1 / (1.0 - s.sq_p_type::DOUBLE
                                            / s.n_total / s.n_total)) END),
                   4) AS match_weight
        FROM parts a
        JOIN parts b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
        CROSS JOIN stats s
    ), top AS (
        SELECT *, row_number() OVER (ORDER BY match_weight DESC, part_a,
                                     part_b)::INT AS rank
        FROM scored
        ORDER BY match_weight DESC, part_a, part_b LIMIT 20
    )
    SELECT rank, part_a, part_b, agree_adj, agree_noun, agree_p_type,
           match_weight
    FROM top ORDER BY rank
    """
)

from .extensions import lsh_planner_params as _lsh_params  # noqa: E402

_LSH_PARAM_VALUES = ",\n            ".join(
    f"({p['b']}, {p['r']}, {p['s50_num']}, {p['s50']!r}::DOUBLE, "
    f"{p['p_at_05']!r}::DOUBLE, {p['p_at_07']!r}::DOUBLE)"
    for p in _lsh_params()
)

oracle("dedup_lsh_param_planner")(
    # Same exact-integer pair frame as the weighted-Jaccard verifier;
    # the curve landmarks are the SAME Python-computed literals (imported
    # from the query module); threshold compare in integers.
    f"""
    WITH tf AS (
        SELECT doc_id, t, count(*)::BIGINT AS tf FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents
        ) WHERE t <> '' GROUP BY doc_id, t
    ), totals AS (
        SELECT doc_id, sum(tf)::BIGINT AS total FROM tf GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS id_a,
               sum(least(a.tf, b.tf))::BIGINT AS s_min
        FROM tf a JOIN tf b ON b.doc_id = a.doc_id + 1 AND a.t = b.t
        GROUP BY a.doc_id
    ), pairs AS (
        SELECT coalesce(s.s_min, 0) AS s_min,
               ta.total + tb.total - coalesce(s.s_min, 0) AS uni
        FROM totals ta
        JOIN totals tb ON tb.doc_id = ta.doc_id + 1
        LEFT JOIN shared s ON s.id_a = ta.doc_id
    ), params(b, r, s50_num, s50, p_at_05, p_at_07) AS (
        VALUES {_LSH_PARAM_VALUES}
    )
    SELECT b::INTEGER AS b, r::INTEGER AS r, s50, p_at_05, p_at_07,
           sum(CASE WHEN 10000 * s_min >= s50_num * uni THEN 1 ELSE 0
               END)::BIGINT AS n_pairs_targeted,
           count(*)::BIGINT AS n_pairs_scored
    FROM pairs CROSS JOIN params
    GROUP BY 1, 2, 3, 4, 5 ORDER BY b DESC
    """
)

oracle("join_spatial_grid_neighbors")(
    # Same md5-derived micro-degree positions, same 0.25-degree cells,
    # same lossless 3x3 probe and exact integer planar distance.
    """
    WITH pts AS (
        SELECT c_custkey AS key,
               (CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)
                    || 'lat'), 1, 8)) AS UBIGINT) % 10000000)::BIGINT
                   AS lat_i,
               (CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)
                    || 'lon'), 1, 8)) AS UBIGINT) % 10000000)::BIGINT
                   AS lon_i
        FROM customer
    ), cells AS (
        SELECT key, lat_i, lon_i,
               floor(lat_i / 250000.0)::BIGINT AS cl,
               floor(lon_i / 250000.0)::BIGINT AS cn
        FROM pts
    ), probes AS (
        SELECT c.key AS key_a, c.lat_i AS lat_a, c.lon_i AS lon_a,
               c.cl + o.dl AS pcl, c.cn + o.dn AS pcn
        FROM cells c CROSS JOIN (
            SELECT dl, dn FROM (VALUES (-1), (0), (1)) a(dl)
            CROSS JOIN (VALUES (-1), (0), (1)) b(dn)
        ) o
    ), pairs AS (
        SELECT p.key_a, c.key AS key_b,
               (p.lat_a - c.lat_i) * (p.lat_a - c.lat_i)
               + (p.lon_a - c.lon_i) * (p.lon_a - c.lon_i) AS dist2
        FROM probes p
        JOIN cells c
          ON p.pcl = c.cl AND p.pcn = c.cn AND p.key_a < c.key
        WHERE (p.lat_a - c.lat_i) * (p.lat_a - c.lat_i)
              + (p.lon_a - c.lon_i) * (p.lon_a - c.lon_i)
              <= 62500000000
    ), total AS (
        SELECT count(*)::BIGINT AS n_pairs_total FROM pairs
    ), top AS (
        SELECT key_a, key_b, dist2,
               row_number() OVER (ORDER BY dist2, key_a, key_b)::INT AS rank
        FROM pairs ORDER BY dist2, key_a, key_b LIMIT 20
    )
    SELECT rank, key_a, key_b, dist2, n_pairs_total
    FROM top CROSS JOIN total ORDER BY rank
    """
)

oracle("quality_embedding_proximity_audit")(
    # Same vec_id hash split, same bounded md5-priority eval audit, same
    # integer-quantized dots; nearest = max(dot) per audited vector.
    """
    WITH tagged AS (
        SELECT vec_id, embedding,
               CASE WHEN CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)
                        || 'split'), 1, 8)) AS UBIGINT) % 10000 < 8000
                    THEN 'train'
                    WHEN CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)
                        || 'split'), 1, 8)) AS UBIGINT) % 10000 < 9000
                    THEN 'valid'
                    ELSE 'test' END AS split
        FROM embeddings
    ), audited AS (
        SELECT vec_id AS q_id,
               list_transform(embedding,
                              v -> round(v::DOUBLE * 1000)::BIGINT) AS q_vec
        FROM tagged WHERE split <> 'train'
        ORDER BY CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)
                     || 'proximity'), 1, 8)) AS UBIGINT), vec_id
        LIMIT 256
    ), train AS (
        SELECT vec_id,
               list_transform(embedding,
                              v -> round(v::DOUBLE * 1000)::BIGINT) AS c_vec
        FROM tagged WHERE split = 'train'
    ), pairs AS (
        SELECT a.q_id, t.vec_id,
               unnest(t.c_vec) AS ev, unnest(a.q_vec) AS qv
        FROM train t CROSS JOIN audited a
    ), dots AS (
        SELECT q_id, vec_id, sum(ev * qv)::BIGINT AS dot
        FROM pairs GROUP BY q_id, vec_id
    ), nearest AS (
        SELECT q_id, max(dot)::BIGINT AS dot_q FROM dots GROUP BY q_id
    ), nt AS (
        SELECT count(*)::BIGINT AS n_train FROM train
    )
    SELECT count(*)::BIGINT AS n_audited,
           nt.n_train,
           sum(CASE WHEN dot_q >= 900000 THEN 1 ELSE 0 END)::BIGINT
               AS n_suspicious,
           min(dot_q)::BIGINT AS min_nearest_dot,
           max(dot_q)::BIGINT AS max_nearest_dot,
           round(sum(dot_q)::DOUBLE / count(*), 4) AS mean_nearest_dot
    FROM nearest CROSS JOIN nt
    GROUP BY nt.n_train
    """
)

oracle("ml_kmeans_separation")(
    # Same unrolled Lloyd chain as ml_kmeans_quantized; the final ranking
    # keeps rank 1 (own centroid, cohesion) AND rank 2 (runner-up,
    # separation); one division per cluster, integer compares for the
    # well-separated cut.
    """
    WITH vecs AS (
        SELECT vec_id, u.i - 1 AS pos,
               round(embedding[u.i]::DOUBLE * 1000)::BIGINT AS val
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
    ), c0 AS (
        SELECT vec_id AS cluster_id, pos, val AS code
        FROM vecs WHERE vec_id < 3
    ), d1 AS (
        SELECT v.vec_id, c.cluster_id,
               sum((v.val - c.code) * (v.val - c.code))::BIGINT AS sqdist
        FROM vecs v JOIN c0 c USING (pos)
        GROUP BY v.vec_id, c.cluster_id
    ), a1 AS (
        SELECT vec_id, cluster_id FROM (
            SELECT vec_id, cluster_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sqdist, cluster_id) AS rn
            FROM d1
        ) WHERE rn = 1
    ), c1 AS (
        SELECT a.cluster_id, v.pos, round(avg(v.val))::BIGINT AS code
        FROM vecs v JOIN a1 a USING (vec_id)
        GROUP BY a.cluster_id, v.pos
    ), d2 AS (
        SELECT v.vec_id, c.cluster_id,
               sum((v.val - c.code) * (v.val - c.code))::BIGINT AS sqdist
        FROM vecs v JOIN c1 c USING (pos)
        GROUP BY v.vec_id, c.cluster_id
    ), a2 AS (
        SELECT vec_id, cluster_id FROM (
            SELECT vec_id, cluster_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sqdist, cluster_id) AS rn
            FROM d2
        ) WHERE rn = 1
    ), c2 AS (
        SELECT a.cluster_id, v.pos, round(avg(v.val))::BIGINT AS code
        FROM vecs v JOIN a2 a USING (vec_id)
        GROUP BY a.cluster_id, v.pos
    ), d3 AS (
        SELECT v.vec_id, c.cluster_id,
               sum((v.val - c.code) * (v.val - c.code))::BIGINT AS sqdist
        FROM vecs v JOIN c2 c USING (pos)
        GROUP BY v.vec_id, c.cluster_id
    ), ranked AS (
        SELECT vec_id, cluster_id, sqdist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sqdist, cluster_id) AS rn
        FROM d3
    ), own AS (
        SELECT vec_id, cluster_id, sqdist AS a2 FROM ranked WHERE rn = 1
    ), runner AS (
        SELECT vec_id, sqdist AS b2 FROM ranked WHERE rn = 2
    ), per_vec AS (
        SELECT o.cluster_id, o.a2, r.b2
        FROM own o JOIN runner r USING (vec_id)
    )
    SELECT cluster_id::BIGINT AS cluster_id,
           count(*)::BIGINT AS n_vectors,
           sum(a2)::BIGINT AS cohesion_a2,
           sum(b2)::BIGINT AS separation_b2,
           CASE WHEN sum(a2) > 0
                THEN round(sum(b2)::DOUBLE / sum(a2)::DOUBLE, 4)
                ELSE NULL END AS separation_ratio,
           sum(CASE WHEN b2 >= 4 * a2 THEN 1 ELSE 0 END)::BIGINT
               AS n_well_separated,
           round(sum(CASE WHEN b2 >= 4 * a2 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*)::DOUBLE, 6) AS well_separated_share
    FROM per_vec GROUP BY cluster_id ORDER BY cluster_id
    """
)

# Same Laplace-smoothed bigram LM: bigrams from the raw-split adjacency
# (empty tokens preserved), identical integer counts (c2 per bigram, c1
# per context, V over the unigram vocab), the char-entropy defined-order
# fold (list ORDER BY bigram -> list_reduce), one rounding site; docs
# with < 2 tokens drop out of both engines.
oracle("quality_bigram_logloss")(
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), big AS (
        SELECT doc_id, array_to_string(l[i:i+1], ' ') AS g
        FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i
              FROM toks WHERE len(l) >= 2)
    ), tfb AS (
        SELECT doc_id, g, count(*)::BIGINT AS tf FROM big GROUP BY doc_id, g
    ), c2 AS (
        SELECT g, sum(tf)::BIGINT AS c2 FROM tfb GROUP BY g
    ), c1 AS (
        SELECT split_part(g, ' ', 1) AS t1, sum(c2)::BIGINT AS c1
        FROM c2 GROUP BY split_part(g, ' ', 1)
    ), vocab AS (
        SELECT count(DISTINCT t)::BIGINT AS v FROM (
            SELECT unnest(string_split(text, ' ')) AS t FROM documents)
    ), terms AS (
        SELECT tfb.doc_id, tfb.g, tfb.tf,
               tfb.tf::DOUBLE * ln((c2.c2 + 1)::DOUBLE
                                   / (c1.c1 + vocab.v)::DOUBLE) AS term
        FROM tfb
        JOIN c2 USING (g)
        JOIN c1 ON c1.t1 = split_part(tfb.g, ' ', 1)
        CROSS JOIN vocab
    ), agg AS (
        SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
               count(*)::BIGINT AS n_distinct_bigrams,
               list_reduce(
                   list_prepend(0.0::DOUBLE, list(term ORDER BY g)),
                   (a, b) -> a + b) AS s
        FROM terms GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, n_distinct_bigrams,
           round(-s / n_bigrams::DOUBLE, 6) AS xent_nats
    FROM agg ORDER BY doc_id
    """
)

# Same raw-split 8-gram windows (empty tokens preserved — the tokens()
# wire-format contract), same df <= 50 frequency cap, same
# gaps-and-islands span chaining; integers end to end.
oracle("dedup_longest_shared_ngram")(
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), grams AS (
        SELECT doc_id, i::BIGINT AS pos, array_to_string(l[i:i+7], ' ') AS g
        FROM (SELECT doc_id, l, unnest(range(1, len(l) - 6)) AS i
              FROM toks WHERE len(l) >= 8)
    ), rare AS (
        SELECT g FROM grams GROUP BY g
        HAVING count(DISTINCT doc_id) <= 50
    ), kept AS (
        SELECT grams.* FROM grams JOIN rare USING (g)
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb,
               a.pos - b.pos AS diag
        FROM kept a JOIN kept b USING (g)
        WHERE a.doc_id < b.doc_id
    ), runs AS (
        SELECT id_a, id_b, diag, pa,
               pa - row_number() OVER (
                   PARTITION BY id_a, id_b, diag ORDER BY pa) AS grp
        FROM pairs
    ), spans AS (
        SELECT id_a, id_b, (count(*) + 7)::BIGINT AS span_tokens
        FROM runs GROUP BY id_a, id_b, diag, grp
    ), summary AS (
        SELECT id_a, id_b, max(span_tokens) AS longest_span_tokens
        FROM spans GROUP BY id_a, id_b
    ), counts AS (
        SELECT id_a, id_b, count(*)::BIGINT AS n_shared_windows
        FROM pairs GROUP BY id_a, id_b
    )
    SELECT s.id_a, s.id_b, s.longest_span_tokens, c.n_shared_windows
    FROM summary s JOIN counts c USING (id_a, id_b)
    ORDER BY longest_span_tokens DESC, id_a, id_b LIMIT 20
    """
)


# --- rank correlation, divergence, diff-in-differences, mix weights --------

# Kendall tau-b from the bounded (size, $1-price-bucket) value grid:
# concordant/discordant sums over dominating cell pairs, tie pairs from
# the per-axis marginals, exact integers until the terminal sqrt.
oracle("quality_kendall_tau")(
    """
    WITH pts AS (
        SELECT p_size::BIGINT AS x,
               CAST(floor(CAST(round(p_retailprice * 100) AS BIGINT) / 100)
                    AS BIGINT) AS y
        FROM part
    ), grid AS (
        SELECT x, y, count(*)::BIGINT AS n_c FROM pts GROUP BY x, y
    ), conc AS (
        SELECT coalesce(sum(a.n_c * b.n_c), 0)::BIGINT AS n_concordant
        FROM grid a JOIN grid b ON a.x < b.x AND a.y < b.y
    ), disc AS (
        SELECT coalesce(sum(a.n_c * b.n_c), 0)::BIGINT AS n_discordant
        FROM grid a JOIN grid b ON a.x < b.x AND a.y > b.y
    ), totals AS (
        SELECT count(*)::BIGINT AS n FROM pts
    ), tx AS (
        SELECT CAST(sum(t * (t - 1)) / 2 AS BIGINT) AS ties_x_pairs
        FROM (SELECT count(*)::BIGINT AS t FROM pts GROUP BY x)
    ), ty AS (
        SELECT CAST(sum(t * (t - 1)) / 2 AS BIGINT) AS ties_y_pairs
        FROM (SELECT count(*)::BIGINT AS t FROM pts GROUP BY y)
    ), joined AS (
        SELECT n, CAST(n * (n - 1) / 2 AS BIGINT) AS n_pairs,
               n_concordant, n_discordant, ties_x_pairs, ties_y_pairs
        FROM totals, conc, disc, tx, ty
    )
    SELECT n, n_pairs, n_concordant, n_discordant, ties_x_pairs,
           ties_y_pairs,
           CASE WHEN (n_pairs - ties_x_pairs) > 0
                 AND (n_pairs - ties_y_pairs) > 0
                THEN round(
                    (n_concordant - n_discordant)::DOUBLE
                    / sqrt((n_pairs - ties_x_pairs)::DOUBLE
                           * (n_pairs - ties_y_pairs)::DOUBLE), 6)
           END AS tau_b
    FROM joined
    """
)

# Per-source Jensen-Shannon divergence vs the pooled corpus over the
# top-50 tokens + exact-remainder OTHER bucket; the only order-sensitive
# float sum folds over the bucket-sorted bounded list (list_reduce), the
# char-entropy technique.
oracle("quality_js_divergence_sources")(
    """
    WITH toks AS (
        SELECT source, t
        FROM (SELECT source, unnest(string_split(text, ' ')) AS t
              FROM documents)
        WHERE t <> ''
    ), corpus_counts AS (
        SELECT t, count(*)::BIGINT AS c_corpus FROM toks GROUP BY t
    ), top AS (
        SELECT t AS bucket, c_corpus FROM corpus_counts
        ORDER BY c_corpus DESC, t ASC LIMIT 50
    ), src_counts AS (
        SELECT source, t, count(*)::BIGINT AS c_src
        FROM toks GROUP BY source, t
    ), src_totals AS (
        SELECT source, count(*)::BIGINT AS n_src FROM toks GROUP BY source
    ), corpus_total AS (
        SELECT count(*)::BIGINT AS n_corpus FROM toks
    ), dense_top AS (
        SELECT s.source, tp.bucket,
               coalesce(sc.c_src, 0)::BIGINT AS c_src, tp.c_corpus
        FROM src_totals s CROSS JOIN top tp
        LEFT JOIN src_counts sc
               ON sc.source = s.source AND sc.t = tp.bucket
    ), other AS (
        SELECT s.source, chr(0) || 'OTHER' AS bucket,
               (s.n_src - st.top_c_src)::BIGINT AS c_src,
               (ct.n_corpus - tt.top_c_corpus)::BIGINT AS c_corpus
        FROM src_totals s
        JOIN (SELECT source, sum(c_src)::BIGINT AS top_c_src
              FROM dense_top GROUP BY source) st USING (source)
        CROSS JOIN (SELECT sum(c_corpus)::BIGINT AS top_c_corpus
                    FROM top) tt
        CROSS JOIN corpus_total ct
    ), cells AS (
        SELECT source, bucket, c_src, c_corpus FROM dense_top
        UNION ALL
        SELECT source, bucket, c_src, c_corpus FROM other
    ), terms AS (
        SELECT c.source, s.n_src, c.bucket,
               (CASE WHEN c.c_src > 0 THEN
                    0.5 * (c.c_src::DOUBLE / s.n_src::DOUBLE)
                        * ln(2.0 * (c.c_src::DOUBLE / s.n_src::DOUBLE)
                             / ((c.c_src::DOUBLE / s.n_src::DOUBLE)
                                + (c.c_corpus::DOUBLE / ct.n_corpus::DOUBLE)))
                ELSE 0.0 END
                + CASE WHEN c.c_corpus > 0 THEN
                    0.5 * (c.c_corpus::DOUBLE / ct.n_corpus::DOUBLE)
                        * ln(2.0 * (c.c_corpus::DOUBLE / ct.n_corpus::DOUBLE)
                             / ((c.c_src::DOUBLE / s.n_src::DOUBLE)
                                + (c.c_corpus::DOUBLE / ct.n_corpus::DOUBLE)))
                ELSE 0.0 END) AS term
        FROM cells c
        JOIN src_totals s USING (source)
        CROSS JOIN corpus_total ct
    )
    SELECT source, n_src AS n_tokens,
           round(list_reduce(
               list_prepend(0.0::DOUBLE, list_transform(
                   list(term ORDER BY bucket), x -> x)),
               (a, b) -> a + b), 6) AS js_vs_corpus
    FROM terms GROUP BY source, n_src ORDER BY source
    """
)

# DiD with the CUPED assignment discipline (parity arms, day-of-month
# pre/post split), exact integer cents, HUGEINT/decimal accumulation of
# d^2, factor-wise DOUBLE promotion, one rounding site per column.
oracle("events_diff_in_differences")(
    """
    WITH per_user AS (
        SELECT user_id,
               coalesce(sum(CASE WHEN day(ts) <= 15
                   THEN CAST(round(value * 100) AS BIGINT) END), 0) AS pre,
               coalesce(sum(CASE WHEN day(ts) > 15
                   THEN CAST(round(value * 100) AS BIGINT) END), 0) AS post
        FROM events GROUP BY user_id
    ), deltas AS (
        SELECT (user_id % 2)::INT AS arm, (post - pre) AS d FROM per_user
    ), per_arm AS (
        SELECT arm, count(*)::BIGINT AS n, sum(d)::BIGINT AS sd,
               sum(d * d) AS sdd
        FROM deltas GROUP BY arm
    ), row_ AS (
        SELECT t.n AS n_treat, t.sd AS sd_t, t.sdd AS sdd_t,
               c.n AS n_control, c.sd AS sd_c, c.sdd AS sdd_c
        FROM (SELECT * FROM per_arm WHERE arm = 1) t
        CROSS JOIN (SELECT * FROM per_arm WHERE arm = 0) c
    )
    SELECT n_treat, n_control,
           round(sd_t::DOUBLE / n_treat::DOUBLE / 100.0, 6)
               AS mean_delta_treat,
           round(sd_c::DOUBLE / n_control::DOUBLE / 100.0, 6)
               AS mean_delta_control,
           round((sd_t::DOUBLE / n_treat::DOUBLE
                  - sd_c::DOUBLE / n_control::DOUBLE) / 100.0, 6)
               AS did_estimate,
           round(sqrt(
               ((n_treat::DOUBLE * sdd_t::DOUBLE
                 - sd_t::DOUBLE * sd_t::DOUBLE)
                / (n_treat::DOUBLE * (n_treat::DOUBLE - 1.0)))
               / n_treat::DOUBLE
               + ((n_control::DOUBLE * sdd_c::DOUBLE
                   - sd_c::DOUBLE * sd_c::DOUBLE)
                  / (n_control::DOUBLE * (n_control::DOUBLE - 1.0)))
               / n_control::DOUBLE) / 100.0, 6) AS se,
           CASE WHEN sqrt(
               ((n_treat::DOUBLE * sdd_t::DOUBLE
                 - sd_t::DOUBLE * sd_t::DOUBLE)
                / (n_treat::DOUBLE * (n_treat::DOUBLE - 1.0)))
               / n_treat::DOUBLE
               + ((n_control::DOUBLE * sdd_c::DOUBLE
                   - sd_c::DOUBLE * sd_c::DOUBLE)
                  / (n_control::DOUBLE * (n_control::DOUBLE - 1.0)))
               / n_control::DOUBLE) > 0
           THEN round((sd_t::DOUBLE / n_treat::DOUBLE
                  - sd_c::DOUBLE / n_control::DOUBLE)
                 / sqrt(
               ((n_treat::DOUBLE * sdd_t::DOUBLE
                 - sd_t::DOUBLE * sd_t::DOUBLE)
                / (n_treat::DOUBLE * (n_treat::DOUBLE - 1.0)))
               / n_treat::DOUBLE
               + ((n_control::DOUBLE * sdd_c::DOUBLE
                   - sd_c::DOUBLE * sd_c::DOUBLE)
                  / (n_control::DOUBLE * (n_control::DOUBLE - 1.0)))
               / n_control::DOUBLE), 6)
           END AS t_stat
    FROM row_
    """
)

# Temperature-0.5 mixing weights: exact token counts, IEEE-exact sqrt,
# normalizer folded over the source-sorted bounded list.
oracle("sample_temperature_mix_weights")(
    """
    WITH per_source AS (
        SELECT source,
               sum(len(regexp_split_to_array(trim(text), ' +'))::BIGINT)
                   ::BIGINT AS n_tokens
        FROM documents GROUP BY source
    ), z AS (
        SELECT sum(n_tokens)::BIGINT AS total_tokens,
               list_reduce(
                   list_prepend(0.0::DOUBLE, list_transform(
                       list(n_tokens ORDER BY source),
                       x -> sqrt(x::DOUBLE))),
                   (a, b) -> a + b) AS z
        FROM per_source
    )
    SELECT source, n_tokens,
           round(n_tokens::DOUBLE / total_tokens::DOUBLE, 6)
               AS share_proportional,
           round(sqrt(n_tokens::DOUBLE) / z, 6) AS weight_t05,
           round((sqrt(n_tokens::DOUBLE) / z)
                 / (n_tokens::DOUBLE / total_tokens::DOUBLE), 6) AS boost
    FROM per_source CROSS JOIN z ORDER BY source
    """
)

# Pearson matrix from one pass of exact moment sums (DuckDB sums BIGINT
# into HUGEINT — the exact dual of Spark's decimal(38,0) accumulation),
# factor-wise DOUBLE promotion, sqrt halves multiplied in double.
oracle("agg_pearson_matrix")(
    """
    WITH li AS (
        SELECT l_quantity::BIGINT AS q,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
               CAST(round(l_discount * 100) AS BIGINT) AS d,
               CAST(round(l_tax * 100) AS BIGINT) AS t
        FROM lineitem
    ), m AS (
        SELECT count(*)::BIGINT AS n,
               sum(q)::BIGINT AS s_q, sum(p)::BIGINT AS s_p,
               sum(d)::BIGINT AS s_d, sum(t)::BIGINT AS s_t,
               sum(q * q) AS s_qq, sum(q * p) AS s_qp,
               sum(q * d) AS s_qd, sum(q * t) AS s_qt,
               sum(p * p) AS s_pp, sum(p * d) AS s_pd,
               sum(p * t) AS s_pt, sum(d * d) AS s_dd,
               sum(d * t) AS s_dt, sum(t * t) AS s_tt
        FROM li
    ), pairs AS (
        SELECT n, 'quantity' AS col_a, 'price' AS col_b,
               round((n::DOUBLE * s_qp::DOUBLE - s_q::DOUBLE * s_p::DOUBLE)
                 / (sqrt(n::DOUBLE * s_qq::DOUBLE - s_q::DOUBLE * s_q::DOUBLE)
                  * sqrt(n::DOUBLE * s_pp::DOUBLE - s_p::DOUBLE * s_p::DOUBLE)),
                 6) AS pearson_r FROM m
        UNION ALL
        SELECT n, 'quantity', 'discount',
               round((n::DOUBLE * s_qd::DOUBLE - s_q::DOUBLE * s_d::DOUBLE)
                 / (sqrt(n::DOUBLE * s_qq::DOUBLE - s_q::DOUBLE * s_q::DOUBLE)
                  * sqrt(n::DOUBLE * s_dd::DOUBLE - s_d::DOUBLE * s_d::DOUBLE)),
                 6) FROM m
        UNION ALL
        SELECT n, 'quantity', 'tax',
               round((n::DOUBLE * s_qt::DOUBLE - s_q::DOUBLE * s_t::DOUBLE)
                 / (sqrt(n::DOUBLE * s_qq::DOUBLE - s_q::DOUBLE * s_q::DOUBLE)
                  * sqrt(n::DOUBLE * s_tt::DOUBLE - s_t::DOUBLE * s_t::DOUBLE)),
                 6) FROM m
        UNION ALL
        SELECT n, 'price', 'discount',
               round((n::DOUBLE * s_pd::DOUBLE - s_p::DOUBLE * s_d::DOUBLE)
                 / (sqrt(n::DOUBLE * s_pp::DOUBLE - s_p::DOUBLE * s_p::DOUBLE)
                  * sqrt(n::DOUBLE * s_dd::DOUBLE - s_d::DOUBLE * s_d::DOUBLE)),
                 6) FROM m
        UNION ALL
        SELECT n, 'price', 'tax',
               round((n::DOUBLE * s_pt::DOUBLE - s_p::DOUBLE * s_t::DOUBLE)
                 / (sqrt(n::DOUBLE * s_pp::DOUBLE - s_p::DOUBLE * s_p::DOUBLE)
                  * sqrt(n::DOUBLE * s_tt::DOUBLE - s_t::DOUBLE * s_t::DOUBLE)),
                 6) FROM m
        UNION ALL
        SELECT n, 'discount', 'tax',
               round((n::DOUBLE * s_dt::DOUBLE - s_d::DOUBLE * s_t::DOUBLE)
                 / (sqrt(n::DOUBLE * s_dd::DOUBLE - s_d::DOUBLE * s_d::DOUBLE)
                  * sqrt(n::DOUBLE * s_tt::DOUBLE - s_t::DOUBLE * s_t::DOUBLE)),
                 6) FROM m
    )
    SELECT n, col_a, col_b, pearson_r FROM pairs ORDER BY col_a, col_b
    """
)

oracle("dedup_incremental_batch")(
    # Recompute-from-scratch dual: EVERY batch-involving pair's exact
    # 3-gram Jaccard (same shingle CTE as the dedup_minhash oracle),
    # then the same greedy policy — drop iff a >=0.3 partner exists in
    # the store or earlier in the batch; best partner = max jaccard,
    # ties to the smallest id. Incremental == full is the check.
    """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                    ELSE [array_to_string(string_split(text, ' ')[i:i+2], ' ')
                          FOR i IN range(1, len(string_split(text, ' ')) - 1)]
               END
             ) AS s
      FROM documents
    ), hits AS (
      SELECT b.doc_id AS bid, o.doc_id AS oid,
             (o.doc_id % 10 <> 0) AS partner_in_store,
             round(len(list_intersect(b.s, o.s))::double
                   / len(list_distinct(list_concat(b.s, o.s))), 4) AS j
      FROM sh b JOIN sh o
        ON b.doc_id <> o.doc_id
       AND (o.doc_id % 10 <> 0 OR o.doc_id < b.doc_id)
      WHERE b.doc_id % 10 = 0
        AND round(len(list_intersect(b.s, o.s))::double
                  / len(list_distinct(list_concat(b.s, o.s))), 4) >= 0.3
    ), agg AS (
      SELECT bid,
             count(*) FILTER (WHERE partner_in_store) AS n_store_matches,
             count(*) FILTER (WHERE NOT partner_in_store)
                 AS n_prior_batch_matches,
             max(j) AS bj
      FROM hits GROUP BY bid
    ), bestid AS (
      SELECT h.bid, min(h.oid) AS best_match_id
      FROM hits h JOIN agg a ON h.bid = a.bid AND h.j = a.bj
      GROUP BY h.bid
    )
    SELECT d.doc_id,
           CASE WHEN a.bid IS NULL THEN 'keep' ELSE 'drop' END AS action,
           COALESCE(a.n_store_matches, 0)::BIGINT AS n_store_matches,
           COALESCE(a.n_prior_batch_matches, 0)::BIGINT
               AS n_prior_batch_matches,
           i.best_match_id,
           a.bj AS best_jaccard
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
    LEFT JOIN agg a ON d.doc_id = a.bid
    LEFT JOIN bestid i ON d.doc_id = i.bid
    """
)

# The partitioned-bucket-store layout must produce IDENTICAL decisions
# to the signature-store variant — layout never changes answers — so its
# dual is the same exhaustive recompute.
ORACLES["dedup_incremental_batch_pruned"] = ORACLES["dedup_incremental_batch"]

oracle("ann_ivf_incremental_upsert")(
    # Same derived-n_returned discipline as the IVF oracle; same probe
    # density PRECONDITION (4 of 16 cells hold >= k non-query vectors
    # from sf0.001 up). The incremental-specific contracts — merged
    # search == from-scratch rebuild, delta visibility — are pytest-
    # pinned (no SQL engine can replay the IVF probe). The
    # dual RECOMPUTES exact_top1 by brute force over the full merged
    # corpus (same integer-quantized dot, same tie-break), so the
    # certification is data-dependent, not shape-only.
    """
    WITH q AS (
        SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3
    ), pairs AS (
        SELECT q.query_id, e.vec_id,
               unnest(list_transform(e.embedding, v -> round(v::double * 1000)::bigint)) AS ev,
               unnest(list_transform(q.embedding, v -> round(v::double * 1000)::bigint)) AS qv
        FROM embeddings e JOIN q ON e.vec_id <> q.query_id
    ), dots AS (
        SELECT query_id, vec_id, sum(ev * qv)::bigint AS dot_q
        FROM pairs GROUP BY 1, 2
    ), top1 AS (
        SELECT query_id, vec_id AS exact_top1
        FROM dots
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY dot_q DESC, vec_id) = 1
    )
    SELECT query_id,
           least(10, (SELECT count(*) - 1 FROM embeddings))::BIGINT AS n_returned,
           TRUE AS recall_ok,
           exact_top1
    FROM top1 ORDER BY query_id
    """
)

oracle("ann_ivf_index_compaction")(
    # Same dual shape as ann_ivf_incremental_upsert (exact_top1 is
    # recomputed by brute force over the merged corpus — data-dependent);
    # the compaction-specific invariants (losslessness digest, fragment
    # count strictly reduced) are in-Spark facts stated as booleans, and
    # the bit-for-bit search-equality contract is pytest-pinned (no SQL
    # engine can replay a parquet file layout).
    """
    WITH q AS (
        SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3
    ), pairs AS (
        SELECT q.query_id, e.vec_id,
               unnest(list_transform(e.embedding, v -> round(v::double * 1000)::bigint)) AS ev,
               unnest(list_transform(q.embedding, v -> round(v::double * 1000)::bigint)) AS qv
        FROM embeddings e JOIN q ON e.vec_id <> q.query_id
    ), dots AS (
        SELECT query_id, vec_id, sum(ev * qv)::bigint AS dot_q
        FROM pairs GROUP BY 1, 2
    ), top1 AS (
        SELECT query_id, vec_id AS exact_top1
        FROM dots
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY dot_q DESC, vec_id) = 1
    )
    SELECT query_id,
           least(10, (SELECT count(*) - 1 FROM embeddings))::BIGINT AS n_returned,
           TRUE AS recall_ok,
           exact_top1,
           TRUE AS compaction_lossless,
           TRUE AS files_reduced_ok
    FROM top1 ORDER BY query_id
    """
)

oracle("embedding_store_drift")(
    # EXACT dual by the quantized-moments discipline: per-dimension sums
    # of round(v*1000) are exact integers on both engines; each mean is
    # one division, each emitted float rounds at one site. The top-10
    # selection sorts on the rounded shift (deterministic: identical
    # IEEE operands on both engines), ties by dim.
    """
    WITH store AS (
        SELECT unnest(range(len(embedding)))::INT AS dim,
               round(unnest(embedding)::DOUBLE * 1000)::BIGINT AS qv
        FROM embeddings WHERE vec_id % 10 <> 0
    ), batch AS (
        SELECT unnest(range(len(embedding)))::INT AS dim,
               round(unnest(embedding)::DOUBLE * 1000)::BIGINT AS qv
        FROM embeddings WHERE vec_id % 10 = 0
    ), ms AS (
        SELECT dim, count(*)::BIGINT AS n_s, sum(qv)::BIGINT AS s_s,
               sum(qv * qv)::BIGINT AS ss_s
        FROM store GROUP BY dim
    ), mb AS (
        SELECT dim, count(*)::BIGINT AS n_b, sum(qv)::BIGINT AS s_b
        FROM batch GROUP BY dim
    ), scored AS (
        SELECT ms.dim,
               round((s_s::DOUBLE / n_s) / 1000.0, 6) AS mean_store,
               round((s_b::DOUBLE / n_b) / 1000.0, 6) AS mean_batch,
               round(abs(s_b::DOUBLE / n_b - s_s::DOUBLE / n_s) / 1000.0, 6)
                   AS abs_shift,
               CASE WHEN (ss_s::DOUBLE / n_s
                          - (s_s::DOUBLE / n_s) * (s_s::DOUBLE / n_s)) > 0
                    THEN round(abs(s_b::DOUBLE / n_b - s_s::DOUBLE / n_s)
                               / sqrt((ss_s::DOUBLE / n_s
                                       - (s_s::DOUBLE / n_s)
                                         * (s_s::DOUBLE / n_s))
                                      / n_b), 4)
                    END AS shift_z
        FROM ms JOIN mb ON ms.dim = mb.dim
    )
    SELECT dim, mean_store, mean_batch, abs_shift, shift_z
    FROM scored ORDER BY abs_shift DESC, dim LIMIT 10
    """
)

# Incremental cluster maintenance must equal the full recompute EXACTLY,
# so its dual IS the full query's recursive-CTE closure (same SQL text:
# the strongest possible incremental == full statement).
ORACLES["dedup_incremental_clusters"] = ORACLES["dedup_near_duplicate_clusters"]

oracle("sketch_incremental_kmv")(
    # Recompute-from-scratch dual: each stage's sketch rebuilt in SQL,
    # and the MERGED row computed from the FULL token set — valid
    # because KMV is closed under union (k smallest of A∪B ⊆ union of
    # each side's k smallest), which is exactly the incremental == full
    # claim the Spark side makes by merging the persisted store sketch.
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    hb AS (
        SELECT DISTINCT CAST(('0x' || substring(md5(token || 'kmv'), 1, 8))
                             AS UBIGINT)::BIGINT AS h
        FROM toks WHERE doc_id % 10 = 0
    ),
    hs AS (
        SELECT DISTINCT CAST(('0x' || substring(md5(token || 'kmv'), 1, 8))
                             AS UBIGINT)::BIGINT AS h
        FROM toks WHERE doc_id % 10 <> 0
    ),
    ha AS (
        SELECT DISTINCT CAST(('0x' || substring(md5(token || 'kmv'), 1, 8))
                             AS UBIGINT)::BIGINT AS h
        FROM toks
    ),
    sk_b AS (SELECT h FROM hb ORDER BY h LIMIT 64),
    sk_s AS (SELECT h FROM hs ORDER BY h LIMIT 64),
    sk_m AS (SELECT h FROM ha ORDER BY h LIMIT 64),
    est AS (
        SELECT 'batch' AS stage, count(*)::BIGINT AS n_sketch,
               round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                          ELSE 63.0 * 4294967296.0 / max(h) END, 4)
                   AS kmv_estimate,
               (SELECT count(DISTINCT token) FROM toks
                WHERE doc_id % 10 = 0)::BIGINT AS exact_distinct
        FROM sk_b
        UNION ALL
        SELECT 'merged', count(*)::BIGINT,
               round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                          ELSE 63.0 * 4294967296.0 / max(h) END, 4),
               (SELECT count(DISTINCT token) FROM toks)::BIGINT
        FROM sk_m
        UNION ALL
        SELECT 'store', count(*)::BIGINT,
               round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                          ELSE 63.0 * 4294967296.0 / max(h) END, 4),
               (SELECT count(DISTINCT token) FROM toks
                WHERE doc_id % 10 <> 0)::BIGINT
        FROM sk_s
    )
    SELECT stage, n_sketch, kmv_estimate, exact_distinct FROM est
    ORDER BY stage
    """
)

oracle("ann_ivf_centroid_retrain")(
    # Same dual shape as ann_ivf_index_compaction (exact_top1 is
    # recomputed by brute force over the full corpus — data-dependent);
    # the migration-specific invariants (vec_id-digest losslessness,
    # stored cell == nearest new centroid) are in-Spark facts stated as
    # booleans, and the rowset-equals-rebuild / untouched-cell-mtime
    # contracts are pytest-pinned (no SQL engine can replay a parquet
    # file layout).
    """
    WITH q AS (
        SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3
    ), pairs AS (
        SELECT q.query_id, e.vec_id,
               unnest(list_transform(e.embedding, v -> round(v::double * 1000)::bigint)) AS ev,
               unnest(list_transform(q.embedding, v -> round(v::double * 1000)::bigint)) AS qv
        FROM embeddings e JOIN q ON e.vec_id <> q.query_id
    ), dots AS (
        SELECT query_id, vec_id, sum(ev * qv)::bigint AS dot_q
        FROM pairs GROUP BY 1, 2
    ), top1 AS (
        SELECT query_id, vec_id AS exact_top1
        FROM dots
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY dot_q DESC, vec_id) = 1
    )
    SELECT query_id,
           least(10, (SELECT count(*) - 1 FROM embeddings))::BIGINT AS n_returned,
           TRUE AS recall_ok,
           exact_top1,
           TRUE AS migration_lossless,
           TRUE AS migrated_assign_ok
    FROM top1 ORDER BY query_id
    """
)

oracle("dedup_incremental_stream_store")(
    # Recompute-from-scratch dual of the SEQUENTIAL streaming semantics:
    # arrival 1 (doc_id % 20 = 0) plays the greedy policy against the
    # store ∪ earlier-in-arrival-1; arrival 2 (doc_id % 20 = 10) against
    # the store ∪ KEPT arrival-1 (a store partner by then — its
    # signatures were appended) ∪ earlier-in-arrival-2. Same shingle CTE
    # and >= 0.3 exact-Jaccard policy as the dedup_incremental_batch
    # dual; stream-maintained == from-scratch at every arrival point is
    # the check.
    """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                    ELSE [array_to_string(string_split(text, ' ')[i:i+2], ' ')
                          FOR i IN range(1, len(string_split(text, ' ')) - 1)]
               END
             ) AS s
      FROM documents
    ), h1 AS (
      SELECT b.doc_id AS bid, o.doc_id AS oid,
             (o.doc_id % 10 <> 0) AS partner_in_store,
             round(len(list_intersect(b.s, o.s))::double
                   / len(list_distinct(list_concat(b.s, o.s))), 4) AS j
      FROM sh b JOIN sh o
        ON b.doc_id <> o.doc_id
       AND (o.doc_id % 10 <> 0 OR (o.doc_id % 20 = 0 AND o.doc_id < b.doc_id))
      WHERE b.doc_id % 20 = 0
        AND round(len(list_intersect(b.s, o.s))::double
                  / len(list_distinct(list_concat(b.s, o.s))), 4) >= 0.3
    ), a1 AS (
      SELECT bid,
             count(*) FILTER (WHERE partner_in_store) AS n_store_matches,
             count(*) FILTER (WHERE NOT partner_in_store)
                 AS n_prior_batch_matches,
             max(j) AS bj
      FROM h1 GROUP BY bid
    ), i1 AS (
      SELECT h.bid, min(h.oid) AS best_match_id
      FROM h1 h JOIN a1 a ON h.bid = a.bid AND h.j = a.bj
      GROUP BY h.bid
    ), keep1 AS (
      SELECT doc_id FROM documents
      WHERE doc_id % 20 = 0 AND doc_id NOT IN (SELECT bid FROM a1)
    ), h2 AS (
      SELECT b.doc_id AS bid, o.doc_id AS oid,
             (o.doc_id % 10 <> 0
              OR o.doc_id IN (SELECT doc_id FROM keep1)) AS partner_in_store,
             round(len(list_intersect(b.s, o.s))::double
                   / len(list_distinct(list_concat(b.s, o.s))), 4) AS j
      FROM sh b JOIN sh o
        ON b.doc_id <> o.doc_id
       AND (o.doc_id % 10 <> 0
            OR (o.doc_id % 20 = 0
                AND o.doc_id IN (SELECT doc_id FROM keep1))
            OR (o.doc_id % 20 = 10 AND o.doc_id < b.doc_id))
      WHERE b.doc_id % 20 = 10
        AND round(len(list_intersect(b.s, o.s))::double
                  / len(list_distinct(list_concat(b.s, o.s))), 4) >= 0.3
    ), a2 AS (
      SELECT bid,
             count(*) FILTER (WHERE partner_in_store) AS n_store_matches,
             count(*) FILTER (WHERE NOT partner_in_store)
                 AS n_prior_batch_matches,
             max(j) AS bj
      FROM h2 GROUP BY bid
    ), i2 AS (
      SELECT h.bid, min(h.oid) AS best_match_id
      FROM h2 h JOIN a2 a ON h.bid = a.bid AND h.j = a.bj
      GROUP BY h.bid
    )
    SELECT d.doc_id, 1::INT AS arrival,
           CASE WHEN a.bid IS NULL THEN 'keep' ELSE 'drop' END AS action,
           COALESCE(a.n_store_matches, 0)::BIGINT AS n_store_matches,
           COALESCE(a.n_prior_batch_matches, 0)::BIGINT
               AS n_prior_batch_matches,
           i.best_match_id, a.bj AS best_jaccard
    FROM (SELECT doc_id FROM documents WHERE doc_id % 20 = 0) d
    LEFT JOIN a1 a ON d.doc_id = a.bid
    LEFT JOIN i1 i ON d.doc_id = i.bid
    UNION ALL
    SELECT d.doc_id, 2::INT AS arrival,
           CASE WHEN a.bid IS NULL THEN 'keep' ELSE 'drop' END AS action,
           COALESCE(a.n_store_matches, 0)::BIGINT AS n_store_matches,
           COALESCE(a.n_prior_batch_matches, 0)::BIGINT
               AS n_prior_batch_matches,
           i.best_match_id, a.bj AS best_jaccard
    FROM (SELECT doc_id FROM documents WHERE doc_id % 20 = 10) d
    LEFT JOIN a2 a ON d.doc_id = a.bid
    LEFT JOIN i2 i ON d.doc_id = i.bid
    ORDER BY doc_id
    """
)

oracle("dedup_bucket_store_compaction")(
    # The compacted bucket store holds exactly the % 10 != 0 corpus's
    # buckets, so decisions are the dedup_incremental_batch exhaustive
    # recompute verbatim; compaction must never change answers. The
    # compaction-specific invariants (count + content digest of
    # compacted == base ∪ delta, fragment count strictly dropped) are
    # in-Spark facts stated as booleans; the fragment ceiling /
    # untouched-leaf mtimes / crash sweep are pytest-pinned (no SQL
    # engine can replay a parquet file layout).
    """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                    ELSE [array_to_string(string_split(text, ' ')[i:i+2], ' ')
                          FOR i IN range(1, len(string_split(text, ' ')) - 1)]
               END
             ) AS s
      FROM documents
    ), hits AS (
      SELECT b.doc_id AS bid, o.doc_id AS oid,
             (o.doc_id % 10 <> 0) AS partner_in_store,
             round(len(list_intersect(b.s, o.s))::double
                   / len(list_distinct(list_concat(b.s, o.s))), 4) AS j
      FROM sh b JOIN sh o
        ON b.doc_id <> o.doc_id
       AND (o.doc_id % 10 <> 0 OR o.doc_id < b.doc_id)
      WHERE b.doc_id % 10 = 0
        AND round(len(list_intersect(b.s, o.s))::double
                  / len(list_distinct(list_concat(b.s, o.s))), 4) >= 0.3
    ), agg AS (
      SELECT bid,
             count(*) FILTER (WHERE partner_in_store) AS n_store_matches,
             count(*) FILTER (WHERE NOT partner_in_store)
                 AS n_prior_batch_matches,
             max(j) AS bj
      FROM hits GROUP BY bid
    ), bestid AS (
      SELECT h.bid, min(h.oid) AS best_match_id
      FROM hits h JOIN agg a ON h.bid = a.bid AND h.j = a.bj
      GROUP BY h.bid
    )
    SELECT d.doc_id,
           CASE WHEN a.bid IS NULL THEN 'keep' ELSE 'drop' END AS action,
           COALESCE(a.n_store_matches, 0)::BIGINT AS n_store_matches,
           COALESCE(a.n_prior_batch_matches, 0)::BIGINT
               AS n_prior_batch_matches,
           i.best_match_id,
           a.bj AS best_jaccard,
           TRUE AS compaction_lossless,
           TRUE AS files_reduced_ok
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
    LEFT JOIN agg a ON d.doc_id = a.bid
    LEFT JOIN bestid i ON d.doc_id = i.bid
    ORDER BY doc_id
    """
)

oracle("ann_ivf_stream_upsert")(
    # Same dual shape as ann_ivf_incremental_upsert (exact_top1
    # recomputed by brute force over the full merged corpus); the
    # streaming-specific invariant (stream-built delta == arrival
    # population, count + vec_id digest) is an in-Spark fact stated as a
    # boolean, and stream-delta == batch-assign rowset equality plus
    # replay idempotency are pytest-pinned (checkpoint surgery and file
    # layout are outside SQL).
    """
    WITH q AS (
        SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3
    ), pairs AS (
        SELECT q.query_id, e.vec_id,
               unnest(list_transform(e.embedding, v -> round(v::double * 1000)::bigint)) AS ev,
               unnest(list_transform(q.embedding, v -> round(v::double * 1000)::bigint)) AS qv
        FROM embeddings e JOIN q ON e.vec_id <> q.query_id
    ), dots AS (
        SELECT query_id, vec_id, sum(ev * qv)::bigint AS dot_q
        FROM pairs GROUP BY 1, 2
    ), top1 AS (
        SELECT query_id, vec_id AS exact_top1
        FROM dots
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY dot_q DESC, vec_id) = 1
    )
    SELECT query_id,
           least(10, (SELECT count(*) - 1 FROM embeddings))::BIGINT AS n_returned,
           TRUE AS recall_ok,
           exact_top1,
           TRUE AS delta_lossless
    FROM top1 ORDER BY query_id
    """
)

oracle("sketch_kmv_stream_store")(
    # Recompute-from-scratch dual of the stream-maintained versions:
    # stage arrival1's sketch rebuilt from the store ∪ first-arrival
    # token set, arrival2's from the full corpus — valid because KMV is
    # closed under union, which is exactly the claim the stream sink
    # makes by merging version N-1 with batch N's partial.
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    h1 AS (
        SELECT DISTINCT CAST(('0x' || substring(md5(token || 'kmv'), 1, 8))
                             AS UBIGINT)::BIGINT AS h
        FROM toks WHERE doc_id % 10 <> 0 OR doc_id % 20 = 0
    ),
    h2 AS (
        SELECT DISTINCT CAST(('0x' || substring(md5(token || 'kmv'), 1, 8))
                             AS UBIGINT)::BIGINT AS h
        FROM toks
    ),
    sk_1 AS (SELECT h FROM h1 ORDER BY h LIMIT 64),
    sk_2 AS (SELECT h FROM h2 ORDER BY h LIMIT 64),
    est AS (
        SELECT 'arrival1' AS stage, count(*)::BIGINT AS n_sketch,
               round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                          ELSE 63.0 * 4294967296.0 / max(h) END, 4)
                   AS kmv_estimate,
               (SELECT count(DISTINCT token) FROM toks
                WHERE doc_id % 10 <> 0 OR doc_id % 20 = 0)::BIGINT
                   AS exact_distinct
        FROM sk_1
        UNION ALL
        SELECT 'arrival2', count(*)::BIGINT,
               round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                          ELSE 63.0 * 4294967296.0 / max(h) END, 4),
               (SELECT count(DISTINCT token) FROM toks)::BIGINT
        FROM sk_2
    )
    SELECT stage, n_sketch, kmv_estimate, exact_distinct
    FROM est ORDER BY stage
    """
)

oracle("ann_ivf_drift_gated_retrain")(
    # The gate's data-dependence is max_shift_z — recomputed exactly
    # from the same integer moments as the embedding_store_drift dual
    # (max over the per-dim rounded z). The thresholds derive from the
    # observed statistic (2x+1 / half), so gate_high is FALSE and
    # gate_low TRUE by construction; branch behavior (untouched index ==
    # old-centroid rebuild; migrated index == new-centroid rebuild) is
    # an in-Spark digest equality, TRUE in the dual, with the
    # no-rewrite/mtime side pytest-pinned.
    """
    WITH store AS (
        SELECT unnest(range(len(embedding)))::INT AS dim,
               round(unnest(embedding)::DOUBLE * 1000)::BIGINT AS qv
        FROM embeddings WHERE vec_id % 10 <> 0
    ), batch AS (
        SELECT unnest(range(len(embedding)))::INT AS dim,
               round(unnest(embedding)::DOUBLE * 1000)::BIGINT AS qv
        FROM embeddings WHERE vec_id % 10 = 0
    ), ms AS (
        SELECT dim, count(*)::BIGINT AS n_s, sum(qv)::BIGINT AS s_s,
               sum(qv * qv)::BIGINT AS ss_s
        FROM store GROUP BY dim
    ), mb AS (
        SELECT dim, count(*)::BIGINT AS n_b, sum(qv)::BIGINT AS s_b
        FROM batch GROUP BY dim
    ), scored AS (
        SELECT ms.dim,
               CASE WHEN (ss_s::DOUBLE / n_s
                          - (s_s::DOUBLE / n_s) * (s_s::DOUBLE / n_s)) > 0
                    THEN round(abs(s_b::DOUBLE / n_b - s_s::DOUBLE / n_s)
                               / sqrt((ss_s::DOUBLE / n_s
                                       - (s_s::DOUBLE / n_s)
                                         * (s_s::DOUBLE / n_s))
                                      / n_b), 4)
                    END AS shift_z
        FROM ms JOIN mb ON ms.dim = mb.dim
    ), mz AS (
        SELECT max(shift_z) AS max_shift_z FROM scored
    )
    SELECT 'gate_high' AS gate, FALSE AS triggered, max_shift_z,
           TRUE AS index_matches_rebuild
    FROM mz
    UNION ALL
    SELECT 'gate_low', TRUE, max_shift_z, TRUE FROM mz
    ORDER BY gate
    """
)
