"""Query batteries: ``curation`` (plans.extensions) and ``sql`` (plans.relational).

One operation is one registered query. The benchmark times the
query-function call (plan build, including any job the query function
launches eagerly) apart from the action that runs the plan, and releases
every scoped persist and cached frame after each query so no query reads
frames an earlier one left behind.
"""

from __future__ import annotations

import json
import os
import random
import time

CURATION = (
    "dedup_exact_documents",
    "dedup_minhash_near_duplicates",
    "dedup_simhash_near_duplicates",
    "dedup_sorted_neighborhood",
    "ann_ivf_topk",
    "ann_ivf_pq_topk",
    "ann_two_stage_rerank",
    "text_quality_scores",
    "text_bm25_topk",
    "pack_sequences_documents",
    "sample_token_budget_mix",
)

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def registry() -> dict:
    from pinterest_data_pipeline_spark.plans import analytics
    from pinterest_data_pipeline_spark.plans import extensions  # noqa: F401
    from pinterest_data_pipeline_spark.plans import relational  # noqa: F401

    return analytics.QUERIES


def sql_names(queries: dict) -> tuple[str, ...]:
    """The 22 ``tpch_q<N>_*`` queries, in TPC-H number order."""
    by_num = {int(n.split("_")[1][1:]): n for n in queries if n.startswith("tpch_q")}
    return tuple(by_num[i] for i in sorted(by_num))


def battery_names(kind: str, queries: dict) -> tuple[str, ...]:
    return CURATION if kind == "curation" else sql_names(queries)


def seeded_order(names, seed: int, pass_no: int) -> list[str]:
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def load_digests() -> dict:
    with open(DIGESTS_PATH) as f:
        return json.load(f)["queries"]


def release(spark) -> None:
    from pinterest_data_pipeline_spark.session import release_scoped

    release_scoped()
    spark.catalog.clearCache()


def run_query(spark, fn, sf_dir: str, tag=None, collect: bool = False):
    """Run one query: returns (plan_s, exec_s, columns, rows-or-None).

    The action is the ``noop`` sink (the whole plan runs, nothing comes
    back) unless ``collect`` is set. ``tag(phase)`` labels the jobs of the
    plan-build and execute phases.
    """
    if tag:
        tag("plan")
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    if tag:
        tag("exec")
    rows = None
    if collect:
        rows = df.collect()
    else:
        df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return t1 - t0, t2 - t1, df.columns, rows


def run_pass(spark, order, queries: dict, sf_dir: str, expected: dict | None = None, tag=None):
    """One pass over ``order``: {name: (plan_s, exec_s)}, {name: error} and,
    on a check pass, {name: result rows}.

    With ``expected`` digests every result is collected and compared (the
    check pass); otherwise results go to the ``noop`` sink (a timed pass).
    Every exception and every digest mismatch is an error.
    """
    from common import digest, digest_mismatch, error_text

    times: dict[str, tuple[float, float]] = {}
    errors: dict[str, str | None] = {}
    rows_out: dict[str, int] = {}
    for name in order:
        try:
            plan_s, exec_s, cols, rows = run_query(
                spark, queries[name], sf_dir,
                (lambda phase, n=name: tag(n, phase)) if tag else None,
                collect=expected is not None,
            )
            times[name] = (plan_s, exec_s)
            if expected is None:
                errors[name] = None
            else:
                rows_out[name] = len(rows)
                errors[name] = digest_mismatch(expected[name], digest(cols, rows))
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            errors[name] = error_text(exc)
        release(spark)
    return times, errors, rows_out
