"""Streaming ELT pipeline: landing files -> parse -> clean -> append sink.

Local idiomatic stand-in for the reference's Kinesis -> Databricks -> Delta
path (``pintrest_stream_data_transformation.py``, STREAM for short):

* **Source** (STREAM:45-53, S4): a file-source ``readStream`` over a landing
  directory of envelope JSON lines — same shape the reference's emulator PUTs
  to Kinesis (``{StreamName, Data, PartitionKey}``,
  ``python_files/user_posting_emulation_streaming.py:76-104``). A file source
  is the open-Spark equivalent: replayable, checkpointable offsets, and the
  exact ``maxFilesPerTrigger`` batching knobs a Kafka/Kinesis source exposes.
* **Parse** (STREAM:54-56, S5-S7): CAST to string -> ``from_json`` with the
  explicit per-entity schema -> struct flatten.
* **Clean** (STREAM:114-190, T4): the SAME projection chain the batch path
  uses (``operators.cleaning.project_*``) — one module, two runners.
* **Dedup** (T2): the reference calls unwatermarked ``dropDuplicates()`` on an
  unbounded stream — state grows forever. Here dedup is watermarked
  (``dropDuplicatesWithinWatermark``): bounded state, the non-negotiable fix
  at 100 TB/day stream volume.
* **Sink** (STREAM:201-232, S8/T3): per-entity append sink with a checkpoint
  per query. Parquet here (Delta is not in this container); the writer is
  format-parameterized so a Delta-enabled cluster flips one string.

Three independent queries (one per entity), mirroring STREAM:224-232 — no
cross-stream coordination, each with its own checkpoint and failure domain.

The ``availablenow_*`` functions are bounded drives: each certifies an
operator or sink against a batch dual. A drive wipes its ``work_dir``,
lands its input in chunks and, after landing chunk k, drains the file
source with an ``availableNow`` query before landing chunk k+1, so state
and checkpoints carry from one chunk to the next as they would between a
live stream's triggers. Exactly-once output rests on three parts: a
replayable file source, the checkpoint's offset log, and an idempotent
sink. The ``foreachBatch`` sinks that keep a store write batch N into a
directory named ``batch=N`` and read only lower ids, so a replayed batch
overwrites its own directory with the same rows.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import cleaning
from ..schemas import (
    GEO_RAW_SCHEMA,
    PIN_RAW_SCHEMA,
    STREAM_ENVELOPE_SCHEMA,
    USER_RAW_SCHEMA,
)
from ..session import fan_out, load_table, normalize_ntz

RAW_SCHEMAS = {
    "pin": PIN_RAW_SCHEMA,
    "geo": GEO_RAW_SCHEMA,
    "user": USER_RAW_SCHEMA,
}

PROJECTORS = {
    "pin": cleaning.project_pin,
    "geo": cleaning.project_geo,
    "user": cleaning.project_user,
}

# Event-time column per entity used to bound dedup state. pin carries no
# event time on the wire, so it falls back to arrival (ingest) time — the
# watermark then bounds state by wall-clock arrival, which is the only
# meaningful bound available for that stream.
EVENT_TIME = {"pin": None, "geo": "timestamp", "user": "date_joined"}

DEFAULT_WATERMARK = "10 minutes"


def parse_envelope_payload(
    raw: DataFrame, payload_schema, key_col: str, drop_corrupt: bool = True
) -> DataFrame:
    """Generic S5-S7 parse: envelope struct -> payload struct -> flat columns.

    The entity-agnostic core of :func:`parse_envelope_stream`; ``key_col``
    names the payload field whose NULL-ness marks a corrupt/undeliverable
    record (the entity streams use ``index``, the events stream
    ``event_id``).
    """
    parsed = raw.select(
        F.from_json(F.col("value"), STREAM_ENVELOPE_SCHEMA).alias("envelope")
    ).select(F.from_json(F.col("envelope.Data"), payload_schema).alias("parsed_data"))
    if drop_corrupt:
        parsed = parsed.filter(F.col(f"parsed_data.{key_col}").isNotNull())
    return parsed.select("parsed_data.*")


def parse_envelope_stream(raw: DataFrame, entity: str, drop_corrupt: bool = True) -> DataFrame:
    """S5-S7: value -> envelope struct -> entity struct -> flat columns.

    ``raw`` must have a string ``value`` column (text file source or
    Kafka's ``CAST(value AS STRING)``). Two ``from_json`` hops mirror the
    wire format: the transport envelope, then the entity payload.

    ``from_json`` yields a NULL struct for unparseable input and an
    all-null struct for parseable-but-wrong-shape input, so a poison record
    can never kill the query; with ``drop_corrupt`` both cases are filtered
    via the join key (``index``) — a record without its key is
    undeliverable regardless. A production deployment would tee the
    filtered rows to a dead-letter sink instead (same predicate, inverted).
    """
    return parse_envelope_payload(raw, RAW_SCHEMAS[entity], "index", drop_corrupt)


def corrupt_records(raw: DataFrame, entity: str) -> DataFrame:
    """Dead-letter view: the raw lines ``parse_envelope_stream`` rejects.

    Inverted predicate of the parse filter, keeping the ORIGINAL wire bytes
    plus a diagnosis — the two things a replay/repair job needs. Teeing this
    to its own sink turns silent drops into an auditable DLQ; volume is the
    corruption rate, so the sink costs nothing when the pipeline is healthy.

    Two observable classes only: PERMISSIVE ``from_json`` renders both
    unparseable JSON and parseable-but-wrong-shape as all-null structs, so
    "bad envelope" vs "missing field" cannot be told apart post-parse —
    the raw line is retained precisely so a repair job can re-diagnose.
    """
    env = F.from_json(F.col("value"), STREAM_ENVELOPE_SCHEMA)
    payload = F.from_json(env["Data"], RAW_SCHEMAS[entity])
    return (
        raw.withColumn("envelope", env)
        .withColumn("parsed_data", payload)
        .filter(F.col("parsed_data.index").isNull())
        .select(
            F.col("value").alias("raw_line"),
            F.when(F.col("envelope.Data").isNull(), "invalid_envelope")
            .otherwise("invalid_payload")
            .alias("reason"),
        )
    )


def read_entity_stream(
    spark: SparkSession, landing_dir: str, entity: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S4: file-source readStream over ``landing_dir/<entity>/*.json``.

    Each landing file holds envelope JSON lines. Reading as ``text`` (not
    ``json``) keeps the parse explicit and schema-checked via ``from_json`` —
    exactly the reference's CAST-then-parse shape, and the schema mismatch
    failure mode is a NULL struct (inspectable), not a corrupted inference.
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(os.path.join(landing_dir, entity))
    return parse_envelope_stream(raw, entity)


def watermarked_dedup(
    df: DataFrame,
    event_time_col: str | None,
    delay: str = DEFAULT_WATERMARK,
    keys: list[str] | None = None,
) -> DataFrame:
    """T2: bounded-state streaming dedup (the reference's is unbounded).

    ``dropDuplicatesWithinWatermark`` keeps a key's state only until the
    watermark passes its first-seen event time: duplicates arriving within
    the delay window are dropped, state is evicted afterwards. When the
    entity has no event-time column, an ingest-time column is synthesized
    from the micro-batch clock — the only sound bound for such a stream.
    """
    synthetic = event_time_col is None
    if synthetic:
        event_time_col = "_arrival_ts"
        df = df.withColumn(event_time_col, F.current_timestamp())
    else:
        df = df.withColumn(event_time_col, F.to_timestamp(F.col(event_time_col)))
    keys = keys or [c for c in df.columns if c != event_time_col]
    out = df.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(keys)
    if synthetic:
        out = out.drop(event_time_col)
    return out


def stream_clean_entity(
    df: DataFrame, entity: str, watermark_delay: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Watermarked dedup + the shared batch/stream projection chain (T4).

    For entities whose event-time column the projector parses anyway
    (geo.timestamp, user.date_joined) the watermark cast is a no-op on the
    value — the projector's ``to_timestamp`` sees an already-typed column.
    """
    deduped = watermarked_dedup(df, EVENT_TIME[entity], watermark_delay)
    return PROJECTORS[entity](deduped)


def delta_available() -> bool:
    """True when the delta-spark package is importable.

    The reference's sink is Delta (``write_table_to_delta``,
    STREAM:201-220); this environment ships without delta-spark, so sinks
    fall back to parquet. The detection keeps the Delta code path live: on
    a Delta-enabled cluster no call site changes.
    """
    import importlib.util

    return importlib.util.find_spec("delta") is not None


def default_sink_format() -> str:
    """Sink format for entity streams: delta when installed, else parquet."""
    return "delta" if delta_available() else "parquet"


def write_entity_stream(
    df: DataFrame,
    name: str,
    out_dir: str,
    checkpoint_dir: str,
    fmt: str | None = None,
    available_now: bool = False,
):
    """S8/T3: append sink with a per-query checkpoint, started.

    Mirrors the reference's ``write_table_to_delta`` (STREAM:201-220):
    append mode, checkpoint keyed by table name. ``fmt=None`` resolves via
    :func:`default_sink_format` — Delta when the package is present,
    parquet otherwise. ``available_now=True`` drains everything currently
    in the source then stops — the batch-like trigger used by tests and
    the daily-catchup runner.
    """
    writer = (
        df.writeStream.format(fmt or default_sink_format())
        .outputMode("append")
        .option("path", os.path.join(out_dir, name))
        .option("checkpointLocation", os.path.join(checkpoint_dir, name))
        .queryName(f"stream_{name}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: tuple[str, str],
    how: str = "left",
) -> DataFrame:
    """Stream-static join: enrich in-flight records with a dimension table.

    The static side is broadcast to every micro-batch (re-resolved per
    batch, so a refreshed dim parquet is picked up without restarting the
    query). Stream-static equi-joins are stateless — no watermark, no
    state store — which makes this the cheapest enrichment point in the
    pipeline: at 100 TB/day it beats a post-hoc batch join because the
    shuffle never happens.
    """
    skey, dkey = on
    return stream.join(F.broadcast(dim), stream[skey] == dim[dkey], how).drop(dim[dkey])


def attributed_conversions(
    views: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: purchases attributed to a prior view.

    The canonical two-stream pattern the reference lacks entirely: an
    inner join keyed on user with an event-time band (purchase within
    ``horizon`` after the view). Both sides carry watermarks and the join
    condition bounds event time in both directions, so each side's state
    store holds only ``horizon + watermark`` of history — bounded state,
    the non-negotiable property for an unbounded 100 TB/day stream pair.

    Works identically on batch DataFrames (watermarks no-op), which is
    what the oracle-checked dual ``events_view_purchase_attribution``
    exercises.
    """
    views, purchases = normalize_ntz(views), normalize_ntz(purchases)
    v = views.withWatermark("ts", watermark).select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    cond = (
        (v.user_id == p.p_user_id)
        & (p.purchase_ts >= v.view_ts)
        & (p.purchase_ts <= v.view_ts + F.expr(f"INTERVAL {horizon}"))
    )
    # leftOuter: a view with no purchase inside the horizon emits ONCE with
    # null purchase columns — but only after the watermark passes
    # view_ts + horizon, which is what bounds the join state. The null-safe
    # expressions below yield null lag/value for those rows, matching the
    # batch LEFT JOIN dual exactly.
    return v.join(p, cond, how).select(
        "view_id",
        "purchase_id",
        "user_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts")).alias(
            "lag_seconds"
        ),
        F.round("purchase_value", 2).alias("purchase_value"),
    )


def windowed_event_counts(
    events: DataFrame,
    duration: str = "6 hours",
    slide: str | None = None,
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling/sliding event-time aggregation (reference gap).

    The reference has no event-time windows at all (SURVEY.md §2.9); this is
    the canonical Structured Streaming form: watermark bounds state, late
    events inside the delay still land in their window, and in append mode a
    window emits exactly once when the watermark passes its end. Works
    identically on a batch DataFrame (the watermark is a no-op there), which
    is what the oracle-checked duals ``events_tumbling_window`` /
    ``events_sliding_window`` exercise.
    """
    events = normalize_ntz(events)
    win = F.window(ts_col, duration, slide) if slide else F.window(ts_col, duration)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "event_count",
        )
    )


def session_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked session windows per user (streaming stateful operator).

    ``session_window`` merges events separated by less than ``gap``; state
    per open session is evicted once the watermark passes session end.
    Batch dual: ``events_session_window`` (oracle-checked).
    """
    events = normalize_ntz(events)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), "user_id")
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
    )


def run_streaming_pipeline(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    entities: tuple[str, ...] = ("pin", "geo", "user"),
    watermark_delay: str = DEFAULT_WATERMARK,
    available_now: bool = False,
):
    """Start the three independent entity streams (STREAM:224-232).

    Returns the list of StreamingQuery handles; callers own lifecycle
    (``awaitTermination`` / ``processAllAvailable`` / ``stop``).
    """
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoints")
    queries = []
    for entity in entities:
        src = read_entity_stream(spark, landing_dir, entity)
        cleaned = stream_clean_entity(src, entity, watermark_delay)
        queries.append(
            write_entity_stream(
                cleaned, entity, out_dir, checkpoint_dir, available_now=available_now
            )
        )
    return queries


# Wire payload of the two envelope roundtrips: the events columns, with
# the timestamp as epoch micros (lossless for the driver's micro-precision
# events and directly reproducible in DuckDB as ``epoch_us(ts)``).
_EVENTS_WIRE = (
    "event_id long, user_id long, event_type string, ts_us long, value double"
)


def _fresh_dir(path: str) -> str:
    """Delete ``path`` if it exists and return it: each bounded drive
    starts from an empty work dir, so repeated runs replay identically."""
    if os.path.exists(path):
        shutil.rmtree(path)
    return path


def _to_envelopes(df: DataFrame) -> DataFrame:
    """One envelope JSON line per row, in the ``{StreamName, Data,
    PartitionKey}`` shape the reference's Kinesis emulator PUTs."""
    payload = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    return df.select(
        F.to_json(
            F.struct(
                F.lit("events").alias("StreamName"),
                payload.alias("Data"),
                F.col("user_id").cast("string").alias("PartitionKey"),
            )
        ).alias("value")
    )


def _envelope_stream(
    spark: SparkSession, sf_dir: str, work_dir: str, every: int, replay_every: int = 0
) -> DataFrame:
    """Wipe ``work_dir``, land every ``every``-th event (by ``event_id``)
    as envelope lines in ONE text file under ``work_dir/landing/events``
    (each ``replay_every``-th of them twice), and return the parsed
    :data:`_EVENTS_WIRE` stream over it. One file drains as one
    micro-batch."""
    subset = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % every == 0)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "value",
        )
    )
    lines = _to_envelopes(subset)
    if replay_every:
        lines = lines.unionAll(
            _to_envelopes(subset.filter(F.col("event_id") % replay_every == 0))
        )
    landing = os.path.join(_fresh_dir(work_dir), "landing", "events")
    lines.coalesce(1).write.mode("overwrite").text(landing)
    raw = spark.readStream.format("text").load(landing)
    return parse_envelope_payload(raw, _EVENTS_WIRE, "event_id")


def _split_at_midpoint(
    df: DataFrame, col: str, halve_max: bool = False
) -> list[DataFrame]:
    """The two chunks of a bounded drive: rows with ``col`` at or below
    the midpoint, then the rest. The midpoint lies halfway between the
    min and max of ``col``, or at ``max // 2`` with ``halve_max`` (the
    event-id split). An empty input gives two empty chunks, so the drive
    still runs and its sink reads back 0 rows with its usual columns."""
    lo, hi = df.agg(F.min(col), F.max(col)).first()
    if hi is None:
        return [df, df]
    mid = F.lit(hi // 2 if halve_max else lo + (hi - lo) / 2)
    return [df.filter(F.col(col) <= mid), df.filter(F.col(col) > mid)]


def _drive_chunks(
    spark: SparkSession, work_dir: str, chunks: list[DataFrame], schema, start
) -> None:
    """One bounded drive (see the module docstring): wipe ``work_dir``,
    then append each chunk to ``work_dir/src`` and drain it with the
    ``availableNow`` query ``start`` opens on the file source, before
    landing the next."""
    src = os.path.join(_fresh_dir(work_dir), "src")
    for chunk in chunks:
        chunk.write.mode("append").parquet(src)
        start(spark.readStream.schema(schema).parquet(src)).awaitTermination()


def _drive_upsert(
    spark: SparkSession,
    work_dir: str,
    name: str,
    chunks: list[DataFrame],
    schema,
    view,
    keys: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """:func:`_drive_chunks` with ``view(stream)`` feeding the keyed
    :func:`upsert_sink` at ``work_dir/state/<name>`` (checkpoint
    ``work_dir/checkpoints/<name>``); returns the final table."""
    table_dir = os.path.join(work_dir, "state", name)
    ckpt_dir = os.path.join(work_dir, "checkpoints", name)
    _drive_chunks(
        spark, work_dir, chunks, schema,
        lambda s: upsert_sink(
            view(s), table_dir, ckpt_dir, keys, available_now=True, order_col=order_col
        ),
    )
    return spark.read.parquet(table_dir)


def _drive_append(
    spark: SparkSession, work_dir: str, chunks: list[DataFrame], schema, view
) -> DataFrame:
    """:func:`_drive_chunks` with ``view(stream)`` feeding a parquet
    :func:`write_entity_stream` sink at ``work_dir/out``; returns the
    sink's rows without the heartbeat rows (negative ``user_id``)."""
    ckpt_dir = os.path.join(work_dir, "ckpt")
    _drive_chunks(
        spark, work_dir, chunks, schema,
        lambda s: write_entity_stream(
            view(s), "out", work_dir, ckpt_dir, fmt="parquet", available_now=True
        ),
    )
    out = spark.read.parquet(os.path.join(work_dir, "out"))
    return out.filter(F.col("user_id") >= 0)


def _start_foreach_batch(
    sink: str,
    store: str,
    stream: DataFrame,
    apply_batch,
    checkpoint_dir: str,
    available_now: bool,
):
    """Start ``stream`` into ``apply_batch(batch_df, batch_id)`` with its
    offsets checkpointed at ``checkpoint_dir``: the one writer set-up of
    the ``foreachBatch`` sinks. The query is named ``<sink>:<store>``
    (the sink function and the directory it maintains), so its progress
    records say what it writes, and a second query on the same store
    cannot start while the first is active in the session (the sinks'
    single-writer contract)."""
    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .queryName(f"{sink}:{store}")
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def availablenow_events_roundtrip(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Drive the WHOLE streaming surface as one bounded, oracle-checkable
    run: envelope JSON landing files -> readStream -> envelope parse ->
    typed payload -> watermarked dedup -> checkpointed append sink ->
    read the sink back.

    This is the reference's core streaming path (STREAM:45-232) executed
    with ``availableNow`` so the result is deterministic and a DuckDB dual
    can certify it from the same parquet the envelopes were derived from:

    * Envelope lines are serialized from ``events`` rows (every 20th
      ``event_id``), and every 3rd selected record is emitted TWICE —
      planted duplicates the watermarked dedup (T2) must drop for the row
      count to match the oracle.
    * All lines land in ONE text file, so ``dropDuplicatesWithinWatermark``
      state covers every planted duplicate regardless of arrival order —
      the result is exactly DISTINCT-by-key, which is what the SQL dual
      asserts.
    * The sink is the real checkpointed ``write_entity_stream`` writer
      (S8/T3), format-resolved via :func:`default_sink_format` so a
      Delta-enabled cluster certifies its Delta path with the same row.
    """
    typed = _envelope_stream(spark, sf_dir, work_dir, every=20, replay_every=3)
    deduped = watermarked_dedup(
        typed.withColumn("ts", F.timestamp_micros(F.col("ts_us"))),
        "ts", delay="1 day", keys=["event_id"],
    ).drop("ts")
    out_dir = os.path.join(work_dir, "sink")
    ckpt_dir = os.path.join(work_dir, "checkpoints")
    write_entity_stream(
        deduped, "events", out_dir, ckpt_dir, available_now=True
    ).awaitTermination()
    return spark.read.format(default_sink_format()).load(
        os.path.join(out_dir, "events")
    )


def upsert_sink(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    available_now: bool = False,
    order_col: str | None = None,
):
    """Keyed upsert sink: each micro-batch MERGEs into a parquet table.

    The engine-native version of Delta's streaming ``MERGE`` sink —
    ``foreachBatch`` gives batch-DataFrame semantics per trigger, so the
    relational ``merge_into`` applies directly: latest record per key wins,
    inserts append, untouched keys survive.

    ``order_col`` names the column (event-time or sequence) that decides
    which duplicate of a key wins WITHIN a batch. Without it the tie-break
    falls back to physical position (``monotonically_increasing_id``), which
    depends on partition layout — fine when upstream already deduplicates or
    emits one record per key per trigger, arbitrary otherwise.

    Crash safety: the new table is written to ``<dir>.tmp`` and committed
    by :func:`~..sources.layout.swap_dir` with ``<dir>.old`` as the aside,
    so every window leaves the previous table or its ``.old`` copy on disk.
    Batch start runs :func:`~..sources.layout.recover_dir`, so a crash at
    any point replays the batch against the previous table rather than an
    empty one (exactly-once at the table level).

    A full rewrite per batch is O(table); Delta/Iceberg cut that to
    O(touched files) with min-max pruning — pair with z-order clustering
    (``sources/layout``) and the same pruning logic applies to which
    files a MERGE must rewrite.
    """
    from ..operators.merge import merge_into
    from ..sources import layout

    spark = stream.sparkSession
    old_dir = table_dir + ".old"

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        # crash recovery: a previous batch died mid-swap
        layout.recover_dir(table_dir, old_dir)
        # last-wins within the batch so merge sees unique keys
        tie_break = (
            [F.col(order_col).desc()] if order_col else []
        ) + [F.monotonically_increasing_id().desc()]
        w = Window.partitionBy(*keys).orderBy(*tie_break)
        deduped = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if os.path.exists(table_dir):
            target = spark.read.parquet(table_dir)
            merged = merge_into(target, deduped, keys)
        else:
            merged = deduped
        tmp = table_dir + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        layout.swap_dir(tmp, table_dir, old_dir)

    return _start_foreach_batch(
        "upsert_sink", table_dir, stream, apply_batch, checkpoint_dir, available_now
    )


def availablenow_upsert_roundtrip(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Drive the keyed upsert sink end-to-end as a bounded, oracle-checkable
    run: events -> wire envelopes -> readStream -> :func:`upsert_sink`
    keyed by ``user_id`` -> read the final table back.

    The streamed slice is every 10th event; the sink's final state is the
    LATEST event per user (order = event time, then event_id — carried as
    one struct ``ord`` column so the winner is deterministic even for equal
    timestamps). That is exactly a per-key ``row_number() = 1`` over the
    same slice, which is what the DuckDB dual asserts — certifying the
    whole foreachBatch MERGE path (last-wins dedup, full-outer merge,
    atomic table swap) through the parity check, not just from pytest.

    All envelope lines land in one file (one micro-batch); cross-batch
    upsert semantics are pinned separately by the streaming pytest suite.
    """
    typed = _envelope_stream(spark, sf_dir, work_dir, every=10)
    table_dir = os.path.join(work_dir, "state", "latest_events")
    upsert_sink(
        typed.withColumn("ord", F.struct(F.col("ts_us"), F.col("event_id"))),
        table_dir,
        os.path.join(work_dir, "checkpoints", "latest_events"),
        keys=["user_id"],
        available_now=True,
        order_col="ord",
    ).awaitTermination()
    return spark.read.parquet(table_dir).drop("ord")


def availablenow_incremental_rollup(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Incremental materialized view, driven end-to-end as a bounded run:
    an update-mode streaming aggregation (day x event_type counts + value
    sum) is maintained through the keyed :func:`upsert_sink` over two
    chunks split by ``event_id``, and the final table must equal the batch
    rollup over all data.

    This is the pattern that replaces nightly full recomputes at 100 TB:
    each trigger emits only the (day, type) rows the new files touched,
    the MERGE rewrites only those keys, and aggregation state lives in the
    checkpoint — history is never re-read. The second drain sees only the
    second chunk, so the cross-batch merge is load-bearing: if the sink
    ever dropped or duplicated a key the totals would diverge from the
    oracle's whole-table GROUP BY.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )

    def rollup(df: DataFrame) -> DataFrame:
        # value accumulates as exact integer cents: streaming state adds
        # per-batch partials in a different order than a whole-table sum,
        # and integer addition is the one order-insensitive formulation
        # (the source values are cent-quantized, so this is lossless);
        # the read edge divides back to currency at a single site
        return (
            df.withColumn("day", F.to_date(F.date_trunc("day", F.col("ts"))))
            .groupBy("day", "event_type")
            .agg(
                F.count(F.lit(1)).alias("event_count"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "value_cents"
                ),
            )
        )

    return _drive_upsert(
        spark, work_dir, "daily_rollup",
        _split_at_midpoint(events, "event_id", halve_max=True),
        events.schema, rollup, keys=["day", "event_type"],
    )


def availablenow_funnel_steps(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Streaming ordered funnel, driven end-to-end as a bounded run over
    two event-time-ordered chunks (split at the time-range midpoint — the
    log-ingestion arrival order the stateful operator's precondition
    names); ``funnel_first_times`` maintains per-user (t_view, t_click,
    t_purchase) in O(1) state across both drains, the keyed upsert sink
    converges the monotone per-user rows, and the result is the final
    per-user funnel table. The caller rolls it up with the SAME
    presentation edge as the batch funnel, so the two must agree
    row-for-row on the same events.

    The 100 TB posture: per-user state is three longs (no event buffering),
    emission touches only users seen in the batch, and the upsert rewrites
    only their keys — history is never re-read across triggers.
    """
    from .stateful import funnel_first_times

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    return _drive_upsert(
        spark, work_dir, "funnel_times", _split_at_midpoint(events, "ts"),
        events.schema, funnel_first_times, keys=["user_id"],
    )


def availablenow_attribution_outer(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join, driven end-to-end bounded.

    The outer side of the two-stream attribution trade: views with no
    purchase inside the horizon must still emit (with null purchase
    columns) — but a streaming outer join may only do so once the
    watermark passes ``view_ts + horizon``, because until then a matching
    purchase could still arrive. That makes outer emission WATERMARK-
    DRIVEN, and a bounded drive has to advance the watermark past the last
    real view: after the two real event-time-ordered chunks, two
    far-future sentinel chunks (negative user_id, join-inert) push the
    checkpoint watermark beyond every real view's expiry — the second one
    is needed because batch N evicts with the watermark computed at the
    end of batch N-1. This is the standard event-time-heartbeat pattern
    for draining outer-join/timeout state in replayed or low-traffic
    streams; on a live 100 TB/day stream the next day's traffic plays the
    sentinels' role and state stays bounded at horizon + watermark of
    history per side.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    hi = events.agg(F.max("ts").alias("hi"))

    def sentinel(hours: int) -> DataFrame:
        # one heartbeat PER SIDE: the global watermark is the MIN over all
        # watermark nodes (multipleWatermarkPolicy=min), so advancing only
        # the views branch would pin the join's watermark at the last real
        # purchase and the trailing unmatched views would never flush.
        # Distinct negative user_ids keep the two heartbeats join-inert.
        ts = f"hi + INTERVAL {hours} HOURS AS ts"
        return hi.selectExpr(
            "-1L AS event_id", ts, "-1L AS user_id", "'view' AS event_type",
            "0D AS value",
        ).unionAll(hi.selectExpr("-2L", ts, "-2L", "'purchase'", "0D"))

    def outer(stream: DataFrame) -> DataFrame:
        views = stream.filter(F.col("event_type") == "view")
        purchases = stream.filter(F.col("event_type") == "purchase")
        return attributed_conversions(views, purchases, how="leftOuter")

    return _drive_append(
        spark, work_dir,
        _split_at_midpoint(events, "ts") + [sentinel(8), sentinel(16)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
        outer,
    )


def availablenow_cms_rollup(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Incrementally-maintained count-min sketch, driven end-to-end bounded.

    The sketch twin of :func:`availablenow_incremental_rollup`: the CMS
    cell table (depth 4 x width 256 over ``user_id``) is maintained as an
    update-mode streaming aggregation through the keyed upsert sink.
    Count-min cells merge by per-cell ADDITION, which is exactly what
    streaming aggregation state computes — so the incrementally-maintained
    sketch must equal the batch-built sketch over all data, bit for bit
    (the oracle rebuilds it in SQL). The aggregate runs WITHOUT a
    watermark deliberately: its state domain is bounded at depth*width =
    1024 keys by construction, the one case where unbounded-lifetime
    streaming state is safe at any volume. At 100 TB/day this maintains
    frequency estimates for an unbounded key domain in constant state and
    constant sink size.
    """
    from ..operators import sketches

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    return _drive_upsert(
        spark, work_dir, "cms_cells",
        _split_at_midpoint(events, "event_id", halve_max=True),
        "event_id long, user_id long",
        lambda s: sketches.cms_cells(s, "user_id", depth=4, width=256),
        keys=["row_idx", "bucket"],
    )


def availablenow_tdigest_daily(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Incrementally-maintained per-day t-digest quantiles, driven
    end-to-end bounded: the custom stateful operator
    (:func:`..streaming.stateful.daily_quantile_digests`) folds each
    chunk into the per-day centroid state; the keyed upsert sink keeps
    the latest (day, n, p50, p95) row per day (``n_values`` is monotone,
    so it is the order column). Which rows go in which chunk changes the
    digests, so the ``event_id`` split is part of the result. The
    non-algebraic sketch twin of :func:`availablenow_cms_rollup`: CMS
    cells merge by addition inside a built-in aggregate, quantile
    digests need ``applyInPandasWithState`` — together they cover both
    halves of the incremental-sketch story. Per-key state <= ~2*delta
    centroids.
    """
    from .stateful import daily_quantile_digests

    events = load_table(spark, sf_dir, "events").select(
        "event_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"), "value"
    )
    return _drive_upsert(
        spark, work_dir, "daily_digests",
        _split_at_midpoint(events, "event_id", halve_max=True),
        "event_id long, day date, value double",
        lambda s: daily_quantile_digests(s.drop("event_id")),
        keys=["day"], order_col="n_values",
    )


def availablenow_session_rollup(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Streaming session windows (built-in ``session_window`` state
    merge), driven end-to-end bounded over two event-time-ordered chunks:
    the 30-minute-gap session aggregate maintains per-user open sessions
    across the drains — a session SPANNING the chunk boundary must merge
    its two halves in state, which is the load-bearing property — and
    append mode emits each session exactly once, when the watermark
    passes its close. Two far-future sentinel chunks (negative user_id,
    filtered on read) push the watermark past every real session's
    close, because batch N evicts with the watermark computed at the end
    of batch N-1; on a live stream the next day's traffic plays that
    role and state stays bounded at the open-session frontier per user.

    Session value accumulates as exact integer cents (the source values
    are cent-quantized) because streaming state merges partials in a
    different order than a batch sum — integer addition is the
    order-insensitive formulation; the read edge divides once.
    """
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    hi = events.agg(F.max("ts").alias("hi"))

    def sentinel(hours: int) -> DataFrame:
        return hi.selectExpr(
            "-1L AS user_id", f"hi + INTERVAL {hours} HOURS AS ts", "0D AS value"
        )

    def sessions(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            )
            .select(
                "user_id",
                F.col("w.start").alias("session_start_ts"),
                "n_events",
                "cents",
            )
        )

    return _drive_append(
        spark, work_dir,
        _split_at_midpoint(events, "ts") + [sentinel(8), sentinel(16)],
        "user_id long, ts timestamp, value double",
        sessions,
    )


def _with_replays(chunk: DataFrame) -> DataFrame:
    """``chunk`` with every ``event_id % 5 == 0`` row delivered twice —
    the duplicate delivery a Kinesis/Kafka consumer contract allows."""
    return chunk.unionByName(chunk.filter(F.col("event_id") % 5 == 0))


def availablenow_dedup_rollup(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Exactly-once rollup over an AT-LEAST-ONCE source, driven end-to-end
    as a bounded run: two event-time-ordered chunks, each polluted with
    planted replays (:func:`_with_replays`), pass through
    ``dropDuplicatesWithinWatermark`` keyed on event_id, and feed the
    update-mode day x type counting aggregate through the keyed upsert
    sink. The final table must equal the batch DISTINCT-event rollup —
    a green row certifies the dedup absorbed every replay and dropped
    nothing real.

    100 TB posture: dedup state holds only event_ids younger than the
    watermark delay (eviction is the operator's whole point — unlike
    plain streaming ``dropDuplicates``, whose state grows forever); the
    time-ordered split keeps every replay inside the watermark so
    nothing is late-dropped, which is exactly the delivery guarantee a
    log-ordered source provides. Downstream the upsert rewrites only the
    keys the new files touched, as in ``availablenow_incremental_rollup``.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )

    def rollup(stream: DataFrame) -> DataFrame:
        deduped = stream.withWatermark("ts", "7 days").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        return (
            deduped.withColumn("day", F.to_date(F.date_trunc("day", F.col("ts"))))
            .groupBy("day", "event_type")
            .agg(F.count(F.lit(1)).alias("event_count"))
        )

    return _drive_upsert(
        spark, work_dir, "dedup_rollup",
        [_with_replays(c) for c in _split_at_midpoint(events, "ts")],
        events.schema, rollup, keys=["day", "event_type"],
    )


def availablenow_bitmap_distinct(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Streaming DISTINCT-USER counting with ZERO dedup state: the daily
    active-user set is maintained as 63-bit bitmap words (word =
    user_id div 63, folded with BIT_OR — the batch
    ``events_bitmap_retention`` representation) in an update-mode
    aggregate + keyed upsert sink. BIT_OR is idempotent, so the planted
    at-least-once replays (:func:`_with_replays`) are absorbed for free —
    no ``dropDuplicatesWithinWatermark``, no per-event-id state. Contrast
    with ``availablenow_dedup_rollup``, which must hold event ids to
    protect a COUNT from replays.

    100 TB posture: streaming state is |days| x |users|/63 bitmap rows
    (bounded by the key domain, not the event volume), and each
    incremental batch shuffles only the (day, word) cells it touches.
    The popcount finalization runs on the maintained table, outside the
    stream.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )

    def words(stream: DataFrame) -> DataFrame:
        return (
            stream.withColumn("day", F.to_date("ts"))
            .withColumn("word", F.expr("user_id div 63").cast("long"))
            .withColumn("bit", F.expr("shiftleft(1L, CAST(user_id % 63 AS INT))"))
            .groupBy("day", "word")
            .agg(F.bit_or("bit").alias("bits"))
        )

    return _drive_upsert(
        spark, work_dir, "bitmap_distinct",
        [_with_replays(c) for c in _split_at_midpoint(events, "ts")],
        events.schema, words, keys=["day", "word"],
    ).groupBy("day").agg(F.sum(F.bit_count("bits")).cast("long").alias("n_active"))


def incremental_dedup_store_sink(
    stream_docs: DataFrame,
    work_dir: str,
    base_sigs: DataFrame,
    base_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.3,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
):
    """Streaming ARRIVAL path for the incremental MinHash dedup store:
    each micro-batch of documents dedups against the signature store as
    of the PREVIOUS batch and appends its kept signatures — the
    production arrival the reference's landing zone implies
    (STREAM:45-232 is arrival-at-a-time into persistent tables; this is
    the LLM-pipeline analogue of that surface, driven by the engine's own
    streaming runtime instead of an external batch scheduler).

    Store layout under ``work_dir`` (the base store is READ-ONLY input —
    ``base_sigs``/``base_docs`` frames, typically the fingerprint-cached
    ``_incr_sig_store`` parquet and the store documents):

    * ``sig_delta/batch=N/`` — batch N's kept signature rows
    * ``doc_delta/batch=N/`` — batch N's kept documents (the text the
      NEXT batches' Jaccard verification fetches candidates from)
    * ``decisions/batch=N/`` — batch N's per-document decision rows

    Replays are idempotent by batch-id directory (module docstring): a
    stale partial directory from a dead incarnation is invisible to the
    batches that follow until its id replays. This is the same
    idempotency contract Delta encodes with ``txnAppId``/``txnVersion``;
    directory-per-batch is the scaffold's manifest.

    Determinism contract: decisions depend on micro-batch COMPOSITION
    (greedy-within-batch policy), so certifying runs must pin the
    file-to-batch mapping (one landing file per arrival +
    ``maxFilesPerTrigger=1``) — see
    :func:`availablenow_incremental_dedup_roundtrip`.

    Scale shape per trigger: O(batch) signatures + the size-guarded
    broadcast probe of the store scan (``incremental_minhash_dedup``'s
    contract); the delta-dir union adds one parquet scan per PRIOR batch
    — fragmentation the band-bucket-store compactor merges on schedule,
    exactly like the IVF cell index.
    """
    from ..operators import dedup as dedup_ops

    spark = stream_docs.sparkSession
    sig_delta_root = os.path.join(work_dir, "sig_delta")
    doc_delta_root = os.path.join(work_dir, "doc_delta")
    dec_root = os.path.join(work_dir, "decisions")

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        store_sigs = base_sigs
        for p in _committed_batch_dirs(sig_delta_root, batch_id):
            store_sigs = store_sigs.unionByName(spark.read.parquet(p))
        store_docs = base_docs
        for p in _committed_batch_dirs(doc_delta_root, batch_id):
            store_docs = store_docs.unionByName(spark.read.parquet(p))
        decisions, sig_delta = dedup_ops.incremental_minhash_dedup(
            fan_out(batch), store_sigs, store_docs, text_col, id_col,
            threshold=threshold,
        )
        # three consumers (decision rows, kept sigs, kept docs) hang off
        # the verify pipeline; persist the O(batch) decision frame once
        decisions = decisions.persist()
        try:
            decisions.write.mode("overwrite").parquet(
                os.path.join(dec_root, f"batch={batch_id}")
            )
            kept = decisions.filter(F.col("action") == "keep").select(id_col)
            sig_delta.write.mode("overwrite").parquet(
                os.path.join(sig_delta_root, f"batch={batch_id}")
            )
            batch.join(kept, id_col, "left_semi").write.mode(
                "overwrite"
            ).parquet(os.path.join(doc_delta_root, f"batch={batch_id}"))
        finally:
            decisions.unpersist()

    return _start_foreach_batch(
        "incremental_dedup_store_sink", work_dir, stream_docs, apply_batch,
        checkpoint_dir or os.path.join(work_dir, "_checkpoint"), available_now,
    )


def availablenow_incremental_dedup_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    base_sigs: DataFrame,
    base_docs: DataFrame,
    arrivals: list[DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.3,
) -> DataFrame:
    """Drive :func:`incremental_dedup_store_sink` as one bounded,
    oracle-checkable run over :func:`_landed_stream` (arrival k IS batch
    k, so the greedy within-batch policy is deterministic cross-engine).

    Returns the accumulated decisions table with the directory-encoded
    ``batch`` id surfaced as ``arrival`` (1-based).
    """
    incremental_dedup_store_sink(
        _landed_stream(spark, work_dir, arrivals), work_dir, base_sigs, base_docs,
        text_col, id_col, threshold, available_now=True,
    ).awaitTermination()
    return spark.read.parquet(os.path.join(work_dir, "decisions")).withColumn(
        "arrival", (F.col("batch") + 1).cast("int")
    ).drop("batch")


def _committed_batch_dirs(root: str, before: int) -> list[str]:
    """Batch-id-named delta directories with id < ``before``, in batch
    order — the replay-idempotency discipline shared by the store-
    maintenance sinks: batch N consumes only deltas it could not itself
    have written, so a replayed batch regenerates identical content and
    a dead incarnation's partial directory stays invisible until its id
    replays."""
    import glob

    return sorted(
        (
            p
            for p in glob.glob(os.path.join(root, "batch=*"))
            if int(os.path.basename(p).split("=", 1)[1]) < before
        ),
        key=lambda p: int(os.path.basename(p).split("=", 1)[1]),
    )


def _landed_stream(spark: SparkSession, work_dir: str, arrivals: list[DataFrame]):
    """Wipe ``work_dir``, land each arrival frame as ONE file under
    ``work_dir/landing`` (sequential writes, distinct mtimes) and open a
    ``maxFilesPerTrigger=1`` file-source stream over it, so arrival k IS
    micro-batch k — the determinism pin every oracle-checkable store
    roundtrip needs."""
    landing = os.path.join(_fresh_dir(work_dir), "landing")
    for arr in arrivals:
        arr.coalesce(1).write.mode("append").parquet(landing)
    return (
        spark.readStream.schema(arrivals[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )


def ivf_stream_upsert_sink(
    stream_vecs: DataFrame,
    work_dir: str,
    centroids: list[list[float]],
    checkpoint_dir: str | None = None,
    available_now: bool = False,
):
    """Streaming ARRIVAL path for the IVF index: each micro-batch of
    vectors assigns to the FIXED stored centroids (O(batch) map-side
    Arrow kernel — FAISS ``IVF.add`` semantics, no retrain, no store read
    at all) and lands as a cell-partitioned delta directory named by the
    micro-batch id under ``work_dir/delta/batch=N/``. Readers take base ∪
    deltas; the partition compactor (``sources.layout.compact_partitions``)
    merges deltas into base cells on schedule (``ann_ivf_index_compaction``),
    and the centroid-drift gate with ``similarity.ivf_retrain_migrate``
    (``ann_ivf_drift_gated_retrain``) closes the lifecycle.

    Replays are idempotent by batch-id directory (module docstring);
    assignment is deterministic given the centroids, so a replayed batch
    rewrites identical content.
    """
    from ..operators import similarity

    delta_root = os.path.join(work_dir, "delta")

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        similarity.ivf_assign_cells(batch, centroids).write.mode(
            "overwrite"
        ).partitionBy("cell").parquet(
            os.path.join(delta_root, f"batch={batch_id}")
        )

    return _start_foreach_batch(
        "ivf_stream_upsert_sink", work_dir, stream_vecs, apply_batch,
        checkpoint_dir or os.path.join(work_dir, "_checkpoint"), available_now,
    )


def availablenow_ivf_upsert_roundtrip(
    spark: SparkSession,
    work_dir: str,
    arrivals: list[DataFrame],
    centroids: list[list[float]],
) -> DataFrame:
    """Drive :func:`ivf_stream_upsert_sink` as one bounded run over
    :func:`_landed_stream` and return the accumulated index DELTA (all
    committed batches, cell column intact).

    An empty micro-batch leaves a batch directory with no parquet file
    (``partitionBy`` writes none), so the directories are read in one
    scan with the sink's own schema rather than an inferred one; the
    ``batch`` partition column that scan discovers is dropped."""
    from ..operators import similarity

    ivf_stream_upsert_sink(
        _landed_stream(spark, work_dir, arrivals), work_dir, centroids,
        available_now=True,
    ).awaitTermination()
    delta_root = os.path.join(work_dir, "delta")
    schema = similarity.ivf_assign_cells(arrivals[0], centroids).schema
    return (
        spark.read.schema(schema)
        .option("basePath", delta_root)
        .parquet(*_committed_batch_dirs(delta_root, 1 << 62))
        .drop("batch")
    )


def kmv_stream_merge_sink(
    stream_docs: DataFrame,
    work_dir: str,
    base_sketch: DataFrame,
    text_col: str = "text",
    k: int = 64,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
):
    """Streaming ARRIVAL path for the KMV vocabulary sketch: each
    micro-batch tokenizes its documents (O(batch)), sketches them, and
    MERGES into the store sketch as of the previous batch — the store
    corpus is never re-read; the arrival cost is the batch's tokens plus
    a ≤k-row store read. The merged sketch is VERSIONED per batch
    (``work_dir/sketch/batch=N/`` holds the full ≤k-row sketch AFTER
    batch N), which is what makes replay exact: a replayed batch re-reads
    the version its id mandates (largest id < N — never its own output)
    and overwrites its own directory with identical content. KMV is
    closed under union, so the stream-maintained sketch equals the
    from-scratch sketch of store ∪ arrivals bit-for-bit (the
    oracle-checked contract).
    """
    from ..operators import sketches

    spark = stream_docs.sparkSession
    sketch_root = os.path.join(work_dir, "sketch")

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        prev_dirs = _committed_batch_dirs(sketch_root, batch_id)
        prev = (
            spark.read.parquet(prev_dirs[-1]) if prev_dirs else base_sketch
        )
        toks = batch.select(
            F.explode(F.split(F.col(text_col), " ")).alias("token")
        )
        merged = sketches.kmv_merge(
            prev, sketches.kmv_sketch(toks, "token", k=k), k=k
        )
        merged.write.mode("overwrite").parquet(
            os.path.join(sketch_root, f"batch={batch_id}")
        )

    return _start_foreach_batch(
        "kmv_stream_merge_sink", work_dir, stream_docs, apply_batch,
        checkpoint_dir or os.path.join(work_dir, "_checkpoint"), available_now,
    )


def availablenow_kmv_merge_roundtrip(
    spark: SparkSession,
    work_dir: str,
    base_sketch: DataFrame,
    arrivals: list[DataFrame],
    text_col: str = "text",
    k: int = 64,
) -> list[DataFrame]:
    """Drive :func:`kmv_stream_merge_sink` as one bounded run over
    :func:`_landed_stream` and return the per-batch sketch VERSIONS in
    batch order (version i = the store sketch after arrival i)."""
    kmv_stream_merge_sink(
        _landed_stream(spark, work_dir, arrivals), work_dir, base_sketch, text_col, k,
        available_now=True,
    ).awaitTermination()
    return [
        spark.read.parquet(p)
        for p in _committed_batch_dirs(
            os.path.join(work_dir, "sketch"), 1 << 62
        )
    ]
