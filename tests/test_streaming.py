"""Streaming pipeline tests: parse, watermarked dedup, batch/stream parity.

The reference's streaming path is verified here the way SURVEY.md §5.2.3
prescribes: land envelope files, drain with an availableNow trigger, and
compare the sink contents against the batch cleaning functions run on the
same raw rows — one cleaning module, two runners, identical results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark import streaming
from pinterest_data_pipeline_spark.operators import cleaning
from pinterest_data_pipeline_spark.schemas import (
    GEO_RAW_SCHEMA,
    PIN_RAW_SCHEMA,
    USER_RAW_SCHEMA,
)
from pinterest_data_pipeline_spark.sources.emitter import write_envelope_files
from pinterest_data_pipeline_spark.sources.generator import make_raw_entities

RAW_SCHEMAS = {"pin": PIN_RAW_SCHEMA, "geo": GEO_RAW_SCHEMA, "user": USER_RAW_SCHEMA}


@pytest.fixture(scope="module")
def streamed_outputs(spark, tmp_path_factory):
    """Run the full three-stream pipeline once over generated envelopes."""
    base = tmp_path_factory.mktemp("stream")
    landing, out = str(base / "landing"), str(base / "out")
    pins, geos, users = make_raw_entities(n=120, seed=11)
    write_envelope_files({"pin": pins, "geo": geos, "user": users}, landing)
    queries = streaming.run_streaming_pipeline(spark, landing, out, available_now=True)
    for q in queries:
        q.awaitTermination(120)
    return {"pin": pins, "geo": geos, "user": users}, out


def _rows(df, key="ind"):
    return sorted([tuple(r) for r in df.collect()], key=lambda t: (t[0] is None, t))


def _state_rows_total(q) -> int:
    """Sum of ``stateOperators[*].numRowsTotal`` from the query's LAST
    progress event — the engine's own report of rows held in state stores
    (state bounds are asserted directly, not via timing or output
    size). Works on both dict- and object-shaped progress."""
    p = q.lastProgress
    if p is None:
        return 0
    ops = p["stateOperators"] if isinstance(p, dict) else p.stateOperators
    total = 0
    for op in ops:
        total += op["numRowsTotal"] if isinstance(op, dict) else op.numRowsTotal
    return total


@pytest.mark.parametrize("entity", ["pin", "geo", "user"])
def test_stream_matches_batch_clean(spark, streamed_outputs, entity):
    """Batch/stream parity: same cleaning module, identical output rows."""
    raw_rows, out = streamed_outputs
    streamed = spark.read.parquet(f"{out}/{entity}")
    batch_raw = spark.createDataFrame(raw_rows[entity], RAW_SCHEMAS[entity])
    batch_clean = {
        "pin": cleaning.clean_pin,
        "geo": cleaning.clean_geo,
        "user": cleaning.clean_user,
    }[entity](batch_raw)
    # Coordinates arrays compare fine as tuples-of-tuple; normalize arrays.
    s_rows = _rows(streamed.select(*batch_clean.columns))
    b_rows = _rows(batch_clean)
    assert [tuple(map(str, r)) for r in s_rows] == [tuple(map(str, r)) for r in b_rows]
    assert streamed.schema == batch_clean.schema


def test_stream_dedups_within_watermark(spark, streamed_outputs):
    """Planted full-row duplicates must not survive the watermarked dedup."""
    raw_rows, out = streamed_outputs
    pin = spark.read.parquet(f"{out}/pin")
    n_raw = len(raw_rows["pin"])  # includes planted duplicates
    n_distinct = len({tuple(sorted(r.items())) for r in raw_rows["pin"]})
    assert n_distinct < n_raw  # fixture really planted dups
    assert pin.count() == n_distinct


def test_envelope_parse_roundtrip(spark, tmp_path):
    """from_json envelope -> payload parse reproduces the original fields."""
    pins, _, _ = make_raw_entities(n=10, seed=3)
    write_envelope_files({"pin": pins}, str(tmp_path), files_per_entity=1)
    raw = spark.read.format("text").load(str(tmp_path / "pin"))
    parsed = streaming.parse_envelope_stream(raw, "pin")
    got = {r["index"]: r["title"] for r in parsed.collect()}
    want = {p["index"]: (p["title"] if p["title"] != "" else "") for p in pins}
    # duplicates collapse onto the same index with identical payloads
    assert {k: v for k, v in want.items()} == got


def test_stream_static_enrichment_matches_batch_join(spark, tmp_path):
    """Stream-static join: enriched stream output == the batch join."""
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    if dict(events.dtypes).get("ts") == "bigint":
        events = events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    events = events.select("event_id", "user_id", "value")
    dim = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    src_dir = str(tmp_path / "ev")
    events.write.parquet(src_dir)

    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    q = (
        streaming.enrich_stream(stream, dim, on=("user_id", "c_custkey"))
        .writeStream.format("memory")
        .queryName("enrich_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("enrich_test").collect()))
    want = sorted(
        map(tuple, streaming.enrich_stream(events, dim, on=("user_id", "c_custkey")).collect())
    )
    assert got == want and len(got) == events.count()
    # every event with a matching customer is enriched
    assert any(r[-1] is not None for r in got)


def test_corrupt_records_dropped_not_fatal(spark, tmp_path):
    """Malformed wire lines (bad JSON, bad envelope, bad payload) are
    filtered by the parse stage; the valid records still flow through the
    whole pipeline."""
    pins, _, _ = make_raw_entities(n=10, seed=9)
    landing = str(tmp_path / "landing")
    write_envelope_files({"pin": pins}, landing, files_per_entity=1)
    with open(f"{landing}/pin/part-junk.json", "w") as f:
        f.write(
            "this is not json\n"
            '{"StreamName": "x"}\n'  # envelope without Data
            '{"StreamName": "x", "Data": "not a pin object", "PartitionKey": "0"}\n'
        )
    out = str(tmp_path / "out")
    (q,) = streaming.run_streaming_pipeline(
        spark, landing, out, entities=("pin",), available_now=True
    )
    q.awaitTermination(120)
    n_distinct = len({tuple(sorted(r.items())) for r in pins})
    assert spark.read.parquet(f"{out}/pin").count() == n_distinct


def test_streaming_window_matches_batch(spark, tmp_path):
    """Tumbling windowed agg over a stream == the same agg over the batch DF.

    Complete output mode to a memory sink so every window is emitted
    regardless of watermark progress; batch/stream results must be
    identical because event-time windows depend only on the data.
    """
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    if dict(events.dtypes).get("ts") == "bigint":
        events = events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    src_dir = str(tmp_path / "events_src")
    events.write.parquet(src_dir)

    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    q = (
        streaming.windowed_event_counts(stream, "6 hours")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("win_test").collect()))
    want = sorted(map(tuple, streaming.windowed_event_counts(events, "6 hours").collect()))
    assert got == want and len(got) > 0


def test_late_event_beyond_watermark_is_dropped(spark, tmp_path):
    """Append-mode windowed agg: a window emits once the watermark passes
    its end; an event for that window arriving later is dropped.

    Two availableNow runs against one checkpoint make watermark progress
    deterministic: run 1 ingests on-time data (watermark advances to
    max_ts - delay, closing the first hour's window); run 2 ingests an
    event 3 hours late, which must not re-open the emitted window.
    """
    import datetime

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "ts timestamp, event_type string"
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def run_batch(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        q = (
            streaming.windowed_event_counts(
                spark.readStream.schema(schema).parquet(src),
                "1 hour",
                watermark="30 minutes",
            )
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    on_time = [
        (t0 + datetime.timedelta(minutes=5), "click"),
        (t0 + datetime.timedelta(minutes=10), "click"),
        (t0 + datetime.timedelta(hours=3), "view"),  # pushes watermark to 02:30
    ]
    run_batch(on_time)
    late = [(t0 + datetime.timedelta(minutes=20), "click")]  # 00:00 window, closed
    run_batch(late)

    got = {
        (r.window_start, r.event_type): r.event_count
        for r in spark.read.parquet(out).collect()
    }
    # the 00:00 window was emitted with the on-time count; the late event
    # neither re-emits nor increments it
    assert got.get(("2024-01-01 00:00:00", "click")) == 2


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """Session-window agg over a stream == the same agg over the batch DF."""
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    if dict(events.dtypes).get("ts") == "bigint":
        events = events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    events = events.select("ts", "user_id", "value")
    src_dir = str(tmp_path / "ev_src")
    events.write.parquet(src_dir)

    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    q = (
        streaming.session_event_counts(stream, gap="30 minutes")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("sess_test").collect()))
    want = sorted(
        map(tuple, streaming.session_event_counts(events, gap="30 minutes").collect())
    )
    assert got == want and len(got) > 0
    # direct state bound: complete-mode session state holds exactly the
    # merged sessions — one state row per emitted session, never the raw
    # event count (the merge happened IN state)
    assert _state_rows_total(q) == len(got)
    assert len(got) < events.count()


def test_stateful_running_totals_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-key state survives micro-batch (and
    checkpoint-restart) boundaries and keeps accumulating."""
    from pinterest_data_pipeline_spark.streaming.stateful import running_user_totals

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "user_id long, value double"

    def run_batch(rows, run_tag):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        # memory sink cannot recover from a checkpoint; foreachBatch +
        # parquet append can, and exercises that sink surface too
        q = (
            running_user_totals(spark.readStream.schema(schema).parquet(src))
            .withColumn("run_tag", F.lit(run_tag))
            .writeStream.foreachBatch(
                lambda batch, _id: batch.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.read.parquet(out).filter(F.col("run_tag") == run_tag).collect()
        }

    first = run_batch([(1, 2.0), (1, 3.0), (2, 10.0)], 1)
    assert first[1] == (2, 5.0) and first[2] == (1, 10.0)
    second = run_batch([(1, 1.0), (3, 7.0)], 2)
    assert second[1] == (3, 6.0)  # accumulated across batches via state
    assert second[3] == (1, 7.0)
    assert 2 not in second  # untouched key not re-emitted in update mode


def test_checkpoint_makes_restart_idempotent(spark, tmp_path):
    """Re-running the drained stream must append nothing (checkpoint replay)."""
    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    pins, geos, users = make_raw_entities(n=40, seed=5)
    write_envelope_files({"pin": pins}, landing)
    for _ in range(2):
        (q,) = streaming.run_streaming_pipeline(
            spark, landing, out, entities=("pin",), available_now=True
        )
        q.awaitTermination(120)
    n_distinct = len({tuple(sorted(r.items())) for r in pins})
    assert spark.read.parquet(f"{out}/pin").count() == n_distinct


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream attribution join (two file-source streams) must emit
    exactly the batch dual's rows once both watermarks pass."""
    from pinterest_data_pipeline_spark.session import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    views = events.filter(F.col("event_type") == "view")
    purchases = events.filter(F.col("event_type") == "purchase")
    vdir, pdir = str(tmp_path / "views"), str(tmp_path / "purchases")
    views.write.parquet(vdir)
    purchases.write.parquet(pdir)

    vs = spark.readStream.schema(views.schema).parquet(vdir)
    ps = spark.readStream.schema(purchases.schema).parquet(pdir)
    q = (
        streaming.attributed_conversions(vs, ps)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("attrib_test").collect()))
    want = sorted(
        map(tuple, streaming.attributed_conversions(views, purchases).collect())
    )
    # append mode emits a pair only once the watermark passes; with a finite
    # drain the tail inside the final watermark is withheld — the emitted
    # set must be a prefix-consistent subset of the batch result, and the
    # bulk of it must have been released
    assert set(got) <= set(want)
    assert len(got) >= max(1, int(0.5 * len(want)))


def test_upsert_sink_latest_per_key_wins(spark, tmp_path):
    """foreachBatch MERGE sink: re-keyed records update, new keys insert,
    untouched keys survive across micro-batches."""
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, val double"

    def run_batch(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        q = streaming.upsert_sink(
            spark.readStream.schema(schema).parquet(src),
            table,
            ckpt,
            keys=["id"],
            available_now=True,
        )
        assert q.name == f"upsert_sink:{table}"
        q.awaitTermination(120)
        return {r.id: r.val for r in spark.read.parquet(table).collect()}

    first = run_batch([(1, 1.0), (2, 2.0)])
    assert first == {1: 1.0, 2: 2.0}
    second = run_batch([(2, 99.0), (3, 3.0)])
    assert second == {1: 1.0, 2: 99.0, 3: 3.0}


def test_incremental_rollup_equals_batch_rollup(spark, tmp_path):
    """Incremental materialized view: a streamed daily rollup maintained
    through the upsert sink must equal the batch rollup over all data.

    Update-mode aggregation emits refreshed (day, type) rows per batch;
    merging them by key keeps the table current without recomputing
    history — the incremental-MV pattern."""
    from pinterest_data_pipeline_spark.session import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    half = events.count() // 2
    first = events.filter(F.col("event_id") < half)
    second = events.filter(F.col("event_id") >= half)

    def rollup(df):
        return (
            df.withColumn("day", F.to_date(F.date_trunc("day", F.col("ts"))))
            .groupBy("day", "event_type")
            .agg(F.count(F.lit(1)).alias("event_count"))
        )

    for chunk in (first, second):
        chunk.write.mode("append").parquet(src)
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = streaming.upsert_sink(
            rollup(stream),
            table,
            ckpt,
            keys=["day", "event_type"],
            available_now=True,
        )
        q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(table).collect()))
    want = sorted(map(tuple, rollup(events).collect()))
    assert got == want


def test_dead_letter_queue_captures_each_corruption_kind(spark, tmp_path):
    """corrupt_records must classify every malformed line with a reason,
    and the DLQ + clean path together must account for every input line."""
    pins, _, _ = make_raw_entities(n=5, seed=21)
    landing = str(tmp_path / "landing")
    write_envelope_files({"pin": pins}, landing, files_per_entity=1)
    with open(f"{landing}/pin/part-junk.json", "w") as f:
        f.write(
            "{not json at all\n"
            '{"StreamName": "x", "PartitionKey": "0"}\n'
            '{"StreamName": "x", "Data": "[1, 2", "PartitionKey": "0"}\n'
            '{"StreamName": "x", "Data": "{\\"title\\": \\"no index field\\"}", "PartitionKey": "0"}\n'
        )
    raw = spark.read.format("text").load(f"{landing}/pin")
    clean = streaming.parse_envelope_stream(raw, "pin")
    dlq = streaming.corrupt_records(raw, "pin")
    reasons = sorted(r.reason for r in dlq.collect())
    assert reasons == [
        "invalid_envelope",  # not json at all
        "invalid_envelope",  # envelope without Data
        "invalid_payload",  # Data is broken JSON
        "invalid_payload",  # payload without the key field
    ]
    assert clean.count() + dlq.count() == raw.count()


def test_interval_join_state_survives_restart(spark, tmp_path):
    """Stream-stream join across two checkpointed drains: a view arriving
    in run 1 must still match a purchase arriving in run 2 — join state
    recovers from the checkpoint, and nothing is emitted twice."""
    import datetime

    src_v = str(tmp_path / "views")
    src_p = str(tmp_path / "purchases")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "event_id long, ts timestamp, user_id long, value double"
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def row(eid, mins, uid, val=1.0):
        return (eid, t0 + datetime.timedelta(minutes=mins), uid, val)

    # materialize both source dirs up front (a file stream needs the path)
    empty = spark.createDataFrame([], schema)
    empty.write.mode("append").parquet(src_v)
    empty.write.mode("append").parquet(src_p)

    def drain(views, purchases):
        if views:
            spark.createDataFrame(views, schema).write.mode("append").parquet(src_v)
        if purchases:
            spark.createDataFrame(purchases, schema).write.mode("append").parquet(src_p)
        q = (
            streaming.attributed_conversions(
                spark.readStream.schema(schema).parquet(src_v),
                spark.readStream.schema(schema).parquet(src_p),
            )
            .writeStream.foreachBatch(
                lambda b, _id: b.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: a lone view — no match yet, it parks in join state.
    # (inner stream-stream joins emit on match; the watermark only
    # bounds state retention, so nothing must "flush" the result.)
    drain([row(1, 0, 7)], [])
    # run 2 (fresh query, same checkpoint): the matching purchase arrives;
    # the recovered state must produce the pair exactly once
    drain([], [row(2, 30, 7, 42.0)])
    got = {
        (r.view_id, r.purchase_id): r.purchase_value
        for r in spark.read.parquet(out).collect()
    }
    assert (1, 2) in got  # cross-restart match via recovered state
    assert got[(1, 2)] == 42.0
    assert len([k for k in got if k == (1, 2)]) == 1  # exactly once


def test_upsert_sink_recovers_from_crash_between_renames(spark, tmp_path):
    """A crash after the live table was renamed aside (.old present, table
    missing) must not lose previously merged keys: the next batch recovers
    the .old copy and merges into it."""
    import os

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, val double"

    def run_batch(rows, ckpt_dir):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        q = streaming.upsert_sink(
            spark.readStream.schema(schema).parquet(src),
            table,
            ckpt_dir,
            keys=["id"],
            available_now=True,
        )
        q.awaitTermination(120)
        return {r.id: r.val for r in spark.read.parquet(table).collect()}

    first = run_batch([(1, 1.0), (2, 2.0)], ckpt)
    assert first == {1: 1.0, 2: 2.0}
    # simulate the crash window: table renamed aside, replacement never landed
    os.rename(table, table + ".old")
    # fresh checkpoint so the engine replays everything (worst case)
    second = run_batch([(3, 3.0)], str(tmp_path / "ckpt2"))
    assert second == {1: 1.0, 2: 2.0, 3: 3.0}
    assert not os.path.exists(table + ".old")


def test_upsert_sink_order_col_decides_intra_batch_winner(spark, tmp_path):
    """With an explicit event-time column, the winning duplicate inside one
    micro-batch is the latest by that column, independent of partition
    layout."""
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, seq long, val double"
    rows = [(1, 10, 111.0), (1, 20, 222.0), (1, 15, 999.0), (2, 1, 7.0)]
    # many partitions: physical order differs from seq order
    spark.createDataFrame(rows, schema).repartition(4).write.parquet(src)
    q = streaming.upsert_sink(
        spark.readStream.schema(schema).parquet(src),
        table,
        ckpt,
        keys=["id"],
        available_now=True,
        order_col="seq",
    )
    q.awaitTermination(120)
    got = {r.id: (r.seq, r.val) for r in spark.read.parquet(table).collect()}
    assert got == {1: (20, 222.0), 2: (1, 7.0)}


def test_sink_format_resolution_matches_environment(spark, tmp_path):
    """default_sink_format flips to delta exactly when delta-spark exists;
    the active branch is exercised end-to-end either way."""
    import importlib.util

    has_delta = importlib.util.find_spec("delta") is not None
    fmt = streaming.pipeline.default_sink_format()
    assert fmt == ("delta" if has_delta else "parquet")

    src = str(tmp_path / "src")
    schema = "id long, val double"
    spark.createDataFrame([(1, 1.0), (2, 2.0)], schema).write.parquet(src)
    q = streaming.pipeline.write_entity_stream(
        spark.readStream.schema(schema).parquet(src),
        "fmt_probe",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    got = spark.read.format(fmt).load(str(tmp_path / "out" / "fmt_probe"))
    assert got.count() == 2


def test_availablenow_roundtrip_dedups_and_is_idempotent(spark, tmp_path):
    """The driver-row streaming query end to end at sf0.001: the sink must
    hold exactly the distinct shipped subset (planted duplicates dropped by
    the watermarked dedup), and a second invocation — same work dir, fresh
    landing/checkpoint/sink — must produce the identical result."""
    from pyspark.sql import functions as F

    from pinterest_data_pipeline_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    work = str(tmp_path / "roundtrip")
    out = streaming.pipeline.availablenow_events_roundtrip(spark, sf, work)
    expected = (
        load_table(spark, sf, "events").filter(F.col("event_id") % 20 == 0).count()
    )
    first_rows = {tuple(r) for r in out.collect()}
    assert len(first_rows) == expected  # duplicates dropped, nothing lost
    assert out.select("event_id").distinct().count() == expected

    # re-run wipes and rebuilds the work dir, so materialize before comparing
    again = streaming.pipeline.availablenow_events_roundtrip(spark, sf, work)
    assert {tuple(r) for r in again.collect()} == first_rows


def test_stream_funnel_matches_batch(spark, tmp_path):
    """The incrementally maintained funnel (two event-time-ordered drains
    through the stateful operator + keyed upsert) must equal the batch
    conditional-min funnel row-for-row on the same events."""
    from pinterest_data_pipeline_spark.plans.relational import (
        events_funnel_steps,
        funnel_steps_rollup,
    )
    from pinterest_data_pipeline_spark.streaming.pipeline import (
        availablenow_funnel_steps,
    )

    sf = "/root/testdata/sf0.001"
    per_user = availablenow_funnel_steps(spark, sf, str(tmp_path / "funnel"))
    streamed = [tuple(r) for r in funnel_steps_rollup(per_user).collect()]
    batch = [tuple(r) for r in events_funnel_steps(spark, sf).collect()]
    assert streamed == batch
    assert streamed[0][2] > 0  # n_view positive: the parity is non-vacuous


def test_funnel_state_strict_ordering_across_batches(spark, tmp_path):
    """Crafted sequences pin the strictness semantics: a click at the same
    timestamp as the first view does NOT count, a click BEFORE the first
    view does not count but a later one does, and state carries the funnel
    across two separate drains."""
    from pinterest_data_pipeline_spark.streaming.pipeline import upsert_sink
    from pinterest_data_pipeline_spark.streaming.stateful import funnel_first_times

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, ts timestamp, event_type string"

    def t(sec):
        from datetime import datetime, timedelta

        return datetime(2024, 1, 1) + timedelta(seconds=sec)

    batch1 = [
        (1, t(1), "view"), (1, t(2), "click"),           # u1 view+click
        (2, t(1), "click"), (2, t(2), "view"),           # u2 early click ignored
        (3, t(1), "view"), (3, t(1), "click"),           # u3 same-ts click: strict
    ]
    batch2 = [
        (1, t(3), "purchase"),                            # u1 completes across drains
        (2, t(4), "click"), (2, t(5), "purchase"),        # u2 click counts now
        (3, t(6), "purchase"),                            # u3 purchase without click
    ]
    for rows in (batch1, batch2):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        q = upsert_sink(
            funnel_first_times(spark.readStream.schema(schema).parquet(src)),
            table,
            ckpt,
            keys=["user_id"],
            available_now=True,
        )
        q.awaitTermination(120)

    got = {
        r.user_id: (r.t_view, r.t_click, r.t_purchase)
        for r in spark.read.parquet(table).collect()
    }
    assert got[1] == (t(1), t(2), t(3))
    assert got[2] == (t(2), t(4), t(5))
    assert got[3] == (t(1), None, None)


def test_stream_outer_attribution_matches_batch_left_join(spark, tmp_path):
    """Crafted strictness for the stream-stream LEFT OUTER interval join:
    a purchase exactly AT the horizon matches, one second past does not,
    and every non-converting view emits exactly one null row once the
    two-sided heartbeats advance the global watermark."""
    import os

    from pinterest_data_pipeline_spark.streaming.pipeline import (
        attributed_conversions,
    )

    rows = [
        # user 1: purchase exactly at +1h -> match
        (10, "2024-01-01 00:00:00", 1, "view", 0.0),
        (11, "2024-01-01 01:00:00", 1, "purchase", 5.0),
        # user 2: purchase at +1h1s -> outside horizon -> null row
        (20, "2024-01-01 00:00:00", 2, "view", 0.0),
        (21, "2024-01-01 01:00:01", 2, "purchase", 7.0),
        # user 3: never purchases -> null row
        (30, "2024-01-01 02:00:00", 3, "view", 0.0),
        # two-sided watermark heartbeats far in the future
        (-1, "2024-01-02 00:00:00", -1, "view", 0.0),
        (-2, "2024-01-02 00:00:00", -2, "purchase", 0.0),
        (-1, "2024-01-03 00:00:00", -1, "view", 0.0),
        (-2, "2024-01-03 00:00:00", -2, "purchase", 0.0),
    ]
    schema = "event_id long, ts string, user_id long, event_type string, value double"
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    from pyspark.sql import functions as F

    # three event-time-ordered drains: real events, heartbeat 1, heartbeat 2
    batches = [rows[:5], rows[5:7], rows[7:9]]
    for batch in batches:
        df = spark.createDataFrame(batch, schema).withColumn(
            "ts", F.to_timestamp("ts")
        )
        df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).parquet(src)
        q = (
            attributed_conversions(
                stream.filter(F.col("event_type") == "view"),
                stream.filter(F.col("event_type") == "purchase"),
                how="leftOuter",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = {
        (r.view_id, r.purchase_id, r.lag_seconds)
        for r in spark.read.parquet(out).filter(F.col("user_id") >= 0).collect()
    }
    assert got == {(10, 11, 3600), (20, None, None), (30, None, None)}
    # direct state bound: the symmetric-hash join may hold at most the
    # horizon+watermark-live rows — never more than the 9 distinct input
    # rows across all drains (no re-buffering of already-drained files),
    # and after the final heartbeat the day-1 real events are evicted,
    # so state is strictly below the input total
    final_state = _state_rows_total(q)
    assert 0 < final_state < 9, final_state


def test_incremental_tdigest_matches_batch_ranks(spark, tmp_path):
    """The custom stateful per-day t-digest (applyInPandasWithState with
    centroid-array state) maintained across two drains must count every
    value exactly and land p50/p95 within 0.02 rank of each day's exact
    quantiles; the state store must hold exactly one row per day."""
    import os

    from pinterest_data_pipeline_spark.streaming.pipeline import (
        availablenow_tdigest_daily,
    )

    out = availablenow_tdigest_daily(
        spark, "/root/testdata/sf0.001", str(tmp_path / "td")
    )
    got = {r.day: r for r in out.collect()}
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    by_day: dict = {}
    for r in ev.select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"), "value"
    ).collect():
        by_day.setdefault(r.day, []).append(float(r.value))
    assert set(got) == set(by_day)
    for day, vals in by_day.items():
        row = got[day]
        assert row.n_values == len(vals), day
        for q, est in ((0.5, row.p50), (0.95, row.p95)):
            frac = sum(1 for v in vals if v <= est) / len(vals)
            # + 1/n: a day with ~25 values cannot place an estimate
            # closer than one rank step to the target
            assert abs(frac - q) <= 0.02 + 1.0 / len(vals), (day, q, frac)


def test_incremental_cms_equals_batch_sketch(spark, tmp_path):
    """The incrementally-maintained CMS cell table must equal the
    batch-built sketch over the same events, bit for bit — cells merge by
    addition, which is exactly what streaming aggregation state computes."""
    from pyspark.sql import functions as F

    from pinterest_data_pipeline_spark.operators import sketches
    from pinterest_data_pipeline_spark.session import load_table
    from pinterest_data_pipeline_spark.streaming.pipeline import (
        availablenow_cms_rollup,
    )

    streamed = availablenow_cms_rollup(
        spark, "/root/testdata/sf0.001", str(tmp_path / "cms")
    ).select("row_idx", "bucket", "cell_count")
    batch = sketches.cms_cells(
        load_table(spark, "/root/testdata/sf0.001", "events"),
        "user_id",
        depth=4,
        width=256,
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_cms_soak_twenty_drains_bounded_state_and_exact(spark, tmp_path):
    """Soak for the deliberately-watermark-free CMS:
    twenty genuinely separate availableNow drains (each sees only its new
    file through the shared checkpoint) maintain the sketch, and after
    EVERY drain the materialized cell table stays inside its depth*width
    = 1024 construction bound — the property that makes unbounded-
    lifetime streaming state safe here. The converged table must equal
    the batch-built sketch bit for bit."""
    import os

    from pyspark.sql import functions as F

    from pinterest_data_pipeline_spark.operators import sketches
    from pinterest_data_pipeline_spark.session import load_table
    from pinterest_data_pipeline_spark.streaming.pipeline import upsert_sink

    work = str(tmp_path / "cms_soak")
    src = os.path.join(work, "src")
    table_dir = os.path.join(work, "state")
    ckpt_dir = os.path.join(work, "ckpt")

    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id"
    )
    n_drains = 20
    for i in range(n_drains):
        events.filter(F.col("event_id") % n_drains == i).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema("event_id long, user_id long").parquet(src)
        q = upsert_sink(
            sketches.cms_cells(stream, "user_id", depth=4, width=256),
            table_dir,
            ckpt_dir,
            keys=["row_idx", "bucket"],
            available_now=True,
        )
        q.awaitTermination()
        assert spark.read.parquet(table_dir).count() <= 4 * 256
        # direct state bound: the streaming aggregate's
        # OWN state store — not just the materialized table — must stay
        # inside the depth*width construction bound at every drain
        assert _state_rows_total(q) <= 4 * 256

    streamed = spark.read.parquet(table_dir).select(
        "row_idx", "bucket", "cell_count"
    )
    batch = sketches.cms_cells(events, "user_id", depth=4, width=256)
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_bitmap_distinct_state_bounded_by_key_domain(spark, tmp_path):
    """The bitmap-distinct aggregate's state is |days| x |occupied
    words| rows — the engine's own numRowsTotal must equal that key
    domain and never the event count (the distinct set lives inside
    the BIT_OR words, not in per-user state rows)."""
    import os

    rows = []
    eid = 0
    for day in (1, 2, 3):
        for uid in range(200):          # users 0..199 -> words 0..3
            eid += 1
            rows.append((eid, uid, f"2020-01-{day:02d} 10:00:00"))
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    src = str(tmp_path / "src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    words = (
        stream.withColumn("day", F.to_date("ts"))
        .withColumn("word", F.expr("user_id div 63").cast("long"))
        .withColumn("bit", F.expr("shiftleft(1L, CAST(user_id % 63 AS INT))"))
        .groupBy("day", "word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    q = (
        words.writeStream.outputMode("complete")
        .format("memory")
        .queryName("bitmap_state_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("bitmap_state_test")
    n_cells = got.count()
    assert n_cells == 3 * 4                      # 3 days x 4 words
    assert _state_rows_total(q) == n_cells       # state == key domain
    total = got.agg(F.sum(F.bit_count("bits"))).first()[0]
    assert total == 3 * 200                      # exact distinct per day
