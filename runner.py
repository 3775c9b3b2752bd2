#!/usr/bin/env python
"""End-to-end batch pipeline runner — the local analogue of the reference's
daily Airflow job (M1, ``python_files/12471ce1b695_dag.py:24-36``).

One idempotent, re-runnable invocation does what the scheduled notebook run
did (``pintrest_batch_data_transformation.py`` top to bottom):

  1. land (or reuse) raw pin/geo/user JSON in a landing directory,
  2. read with explicit schemas, run the shared cleaning chains,
  3. register temp views,
  4. execute the Q1-Q9 analytical battery,
  5. write each answer to parquet under the output directory.

Usage::

    python runner.py [--landing DIR] [--out DIR] [--rows N] [--approx]

Idempotency comes from overwrite-mode writes keyed by query name — the
retry semantics the reference delegated to Airflow (retries=2) reduce to
"run it again".
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import Observation
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators import cleaning
from pinterest_data_pipeline_spark.plans import reference_queries as rq
from pinterest_data_pipeline_spark.schemas import (
    GEO_RAW_SCHEMA,
    PIN_RAW_SCHEMA,
    USER_RAW_SCHEMA,
)
from pinterest_data_pipeline_spark.session import get_spark
from pinterest_data_pipeline_spark.sources.generator import make_raw_entities


def with_retries(fn, retries: int = 2, delay_seconds: float = 120.0, on_error=None):
    """Run ``fn`` with the reference DAG's retry policy (retries=2,
    retry_delay=2 min — ``python_files/12471ce1b695_dag.py:20-21``).

    The task bodies are idempotent (overwrite-mode writes keyed by query
    name; streaming checkpoints make replays no-ops), so a retry is
    literally "run it again" — the property Airflow relied on.
    """
    import time

    last: Exception | None = None
    for attempt in range(retries + 1):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — scheduler-style catch-all
            last = exc
            if on_error is not None:
                on_error(attempt, exc)
            if attempt < retries:
                time.sleep(delay_seconds)
    assert last is not None
    raise last


def land_raw(landing_dir: str, rows: int, seed: int = 42) -> None:
    """Write raw entity JSON-lines into the landing zone (skip if present).

    One consolidated file per entity — deliberately NOT the reference's
    one-object-per-file layout (``flush.size=1``,
    ``implementation_details.md:71``): the small-files pathology is the
    single worst scan-time decision at scale, and compaction is the
    documented fix (SURVEY.md §4.1).
    """
    for entity, entity_rows in zip(
        ("pin", "geo", "user"), make_raw_entities(n=rows, seed=seed)
    ):
        path = os.path.join(landing_dir, entity)
        os.makedirs(path, exist_ok=True)
        target = os.path.join(path, "part-0.json")
        if not os.path.exists(target):
            with open(target, "w") as f:
                f.write("\n".join(json.dumps(r) for r in entity_rows) + "\n")


def run_batch(spark, landing_dir: str, out_dir: str, approx: bool = False) -> dict[str, int]:
    """Clean -> views -> Q1-Q9 -> parquet answers. Returns row counts."""
    pin_raw = spark.read.schema(PIN_RAW_SCHEMA).json(os.path.join(landing_dir, "pin"))
    geo_raw = spark.read.schema(GEO_RAW_SCHEMA).json(os.path.join(landing_dir, "geo"))
    user_raw = spark.read.schema(USER_RAW_SCHEMA).json(os.path.join(landing_dir, "user"))

    # Cache the cleaned frames: all nine queries re-derive them otherwise
    # (the reference re-ran the full lineage per SQL cell, SURVEY.md §4.1).
    pin = cleaning.clean_pin(pin_raw).cache()
    geo = cleaning.clean_geo(geo_raw).cache()
    user = cleaning.clean_user(user_raw).cache()
    for name, df in (("pin", pin), ("geo", geo), ("user", user)):
        df.createOrReplaceTempView(f"cleaned_{name}")

    answers = {
        "q1_top_category_per_country": rq.q1_top_category_per_country(pin, geo),
        "q2_category_counts_per_year": rq.q2_category_counts_per_year(pin, geo),
        "q3_top_user_per_country": rq.q3_top_user_per_country(pin, geo),
        "q4_country_with_top_user": rq.q4_country_with_top_user(pin, geo),
        "q5_top_category_per_age_group": rq.q5_top_category_per_age_group(pin, user),
        "q6_median_followers_per_age_group": rq.q6_median_followers_per_age_group(
            pin, user, approx=approx
        ),
        "q7_users_joined_per_year": rq.q7_users_joined_per_year(user),
        "q8_median_followers_by_join_year": rq.q8_median_followers_by_join_year(
            pin, user, approx=approx
        ),
        "q9_median_followers_by_join_year_and_age": rq.q9_median_followers_by_join_year_and_age(
            pin, user, approx=approx
        ),
    }
    # each write reports its own row count: no job re-reads an answer
    counts = {}
    for name, df in answers.items():
        written = Observation(name)
        df.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, name))
        counts[name] = written.get["rows"]
    return counts


def run_stream(spark, landing_dir: str, out_dir: str, rows: int) -> dict[str, int]:
    """Streaming catchup: land envelopes, drain the three entity streams.

    The availableNow trigger gives the streaming pipeline batch-job
    semantics (drain everything, then stop) — the daily-catchup analogue of
    the reference's always-on Kinesis consumers, with the same checkpoints
    making reruns no-ops.
    """
    from pinterest_data_pipeline_spark import streaming
    from pinterest_data_pipeline_spark.sources.emitter import write_envelope_files

    pins, geos, users = make_raw_entities(n=rows, seed=42)
    if not os.path.exists(os.path.join(landing_dir, "pin")):
        write_envelope_files({"pin": pins, "geo": geos, "user": users}, landing_dir)
    queries = streaming.run_streaming_pipeline(spark, landing_dir, out_dir, available_now=True)
    for q in queries:
        q.awaitTermination(600)
    return {e: spark.read.parquet(os.path.join(out_dir, e)).count() for e in ("pin", "geo", "user")}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--landing", default="/tmp/spark_graft/landing")
    ap.add_argument("--out", default="/tmp/spark_graft/answers")
    ap.add_argument("--rows", type=int, default=2000)
    ap.add_argument(
        "--approx",
        action="store_true",
        help="percentile_approx medians (the 100 TB path) instead of exact",
    )
    ap.add_argument(
        "--stream",
        action="store_true",
        help="run the streaming ELT (envelope landing -> cleaned tables) instead of batch",
    )
    ap.add_argument("--retries", type=int, default=2, help="retry attempts (DAG parity: 2)")
    ap.add_argument(
        "--retry-delay", type=float, default=120.0, help="seconds between retries (DAG parity: 120)"
    )
    args = ap.parse_args()

    spark = get_spark("runner")
    if args.stream:
        counts = with_retries(
            lambda: run_stream(
                spark, args.landing + "_stream", args.out + "_stream", args.rows
            ),
            retries=args.retries,
            delay_seconds=args.retry_delay,
        )
        print(json.dumps({"tables": counts, "out": args.out + "_stream"}))
        return
    land_raw(args.landing, args.rows)
    counts = with_retries(
        lambda: run_batch(spark, args.landing, args.out, approx=args.approx),
        retries=args.retries,
        delay_seconds=args.retry_delay,
    )
    print(json.dumps({"answers": counts, "out": args.out}))


if __name__ == "__main__":
    main()
