"""``stream_ingest``: envelope files in, watermarked dedup, checkpointed sink.

Two phases share one session:

* **Open loop.** A single generator thread lands one envelope file per
  entity per tick at a fixed offered rate while ``run_streaming_pipeline``
  consumes them under its default trigger. A file's latency runs from the
  moment it was due to the commit of the micro-batch that read it; the
  file-to-batch mapping comes from ``<checkpoint>/<entity>/sources/0/*``
  and the commit time from ``commits/<batchId>``.
* **Drain.** A fixed pre-landed backlog is drained with
  ``available_now=True``; one drain is one operation. Its rate comes from
  the queries' own progress reports (``drain_rate``), so starting and
  stopping the three queries is not counted as draining.

Each entity's records arrive in event-time order (geo by ``timestamp``,
user by ``date_joined``; pin has no event time and uses arrival time), the
way a live producer emits them, so the watermark never classes a fresh
record as late.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import threading
import time

ENTITIES = ("pin", "geo", "user")
EVENT_TIME = {"pin": None, "geo": "timestamp", "user": "date_joined"}


def ordered_records(n: int, seed: int) -> dict[str, list[dict]]:
    from pinterest_data_pipeline_spark.sources.generator import make_raw_entities

    pins, geos, users = make_raw_entities(n=n, seed=seed)
    out = {}
    for entity, rows in zip(ENTITIES, (pins, geos, users)):
        key = EVENT_TIME[entity]
        out[entity] = sorted(rows, key=lambda r: r[key]) if key else rows
    return out


def land_tick(records: dict[str, list[dict]], landing: str, tick: int, lo: int, hi: int) -> None:
    """Land rows [lo, hi) of every entity as one file each, atomically."""
    from pinterest_data_pipeline_spark.sources.emitter import write_envelope_files

    staging = os.path.join(landing, "_staging", str(tick))
    write_envelope_files({e: records[e][lo:hi] for e in ENTITIES}, staging, files_per_entity=1)
    for e in ENTITIES:
        os.rename(
            os.path.join(staging, e, "part-0.json"),
            os.path.join(landing, e, f"tick-{tick:06d}.json"),
        )


class OpenLoopGenerator(threading.Thread):
    """Lands tick ``k`` (1..ticks) at ``t0 + (k - 1) * interval`` regardless
    of the consumer."""

    def __init__(self, records, landing: str, rows_per_tick: int, interval: float, ticks: int):
        super().__init__(daemon=True)
        self.records, self.landing = records, landing
        self.rows_per_tick, self.interval, self.ticks = rows_per_tick, interval, ticks
        self.due: dict[str, float] = {}  # file name -> due time (epoch s)
        self.lag: list[float] = []  # landed - due, per tick
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            t0 = time.time()
            for k in range(1, self.ticks + 1):
                due = t0 + (k - 1) * self.interval
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                land_tick(self.records, self.landing, k,
                          k * self.rows_per_tick, (k + 1) * self.rows_per_tick)
                self.lag.append(time.time() - due)
                self.due[f"tick-{k:06d}.json"] = due
        except BaseException as exc:  # noqa: BLE001 — surfaced by the caller
            self.error = exc


def file_batches(checkpoint: str) -> dict[str, int]:
    """Landed file name -> id of the micro-batch that read it."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Micro-batch id -> commit time (mtime of ``commits/<id>``)."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.path.getmtime(path)
    return out


def file_latencies(checkpoint: str, due: dict[str, float]) -> dict[str, float]:
    """Due-to-commit seconds for every landed file that was committed."""
    batches, commits = file_batches(checkpoint), commit_times(checkpoint)
    return {
        name: commits[batches[name]] - t
        for name, t in due.items()
        if name in batches and batches[name] in commits
    }


def backlog_max(due: dict[str, float], committed_at: dict[str, float]) -> int:
    """Most files landed but not yet committed at any landing instant."""
    best = 0
    for t in due.values():
        best = max(best, sum(1 for n, d in due.items() if d <= t < committed_at.get(n, float("inf"))))
    return best


def dirs(root: str, name: str) -> tuple[str, str, str]:
    landing, out, ckpt = (os.path.join(root, name, d) for d in ("landing", "out", "ckpt"))
    for e in ENTITIES:
        os.makedirs(os.path.join(landing, e), exist_ok=True)
    return landing, out, ckpt


def open_loop(spark, root: str, records, rows_per_tick: int, interval: float, ticks: int):
    """Run the open-loop phase; returns (latencies by entity, generator, sink dir).

    Tick 0 lands and is consumed before the generator starts, so the
    latencies of ticks 1..``ticks`` measure running queries rather than
    their start-up (the first micro-batch took over 3 s).
    """
    from pinterest_data_pipeline_spark import streaming

    landing, out, ckpt = dirs(root, "live")
    queries = streaming.run_streaming_pipeline(spark, landing, out, ckpt)
    gen = OpenLoopGenerator(records, landing, rows_per_tick, interval, ticks)
    try:
        land_tick(records, landing, 0, 0, rows_per_tick)
        for q in queries:
            q.processAllAvailable()
        gen.start()
        gen.join()
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    if gen.error:
        raise gen.error
    lat = {e: file_latencies(os.path.join(ckpt, e), gen.due) for e in ENTITIES}
    return lat, gen, out


def drain(spark, root: str, name: str, records) -> tuple[list[dict], str]:
    """Pre-land ``records``, then run one available-now drain; returns the
    drain queries' progress reports and the sink directory."""
    from pinterest_data_pipeline_spark import streaming
    from pinterest_data_pipeline_spark.sources.emitter import write_envelope_files

    landing, out, ckpt = dirs(root, name)
    write_envelope_files(records, landing)
    queries = streaming.run_streaming_pipeline(spark, landing, out, ckpt, available_now=True)
    for q in queries:
        q.awaitTermination(170)
        if q.exception():
            raise RuntimeError(str(q.exception()))
    return [json.loads(p.json) for q in queries for p in q.recentProgress], out


def drain_rate(progress: list[dict]) -> float:
    """Input records per second from the first micro-batch's start to the
    last one's end, over every query's progress reports (0 without input)."""
    spans, rows = [], 0
    for p in progress:
        if p.get("numInputRows", 0) > 0:
            start = datetime.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
                tzinfo=datetime.timezone.utc).timestamp()
            spans.append((start, start + p["durationMs"]["triggerExecution"] / 1000.0))
            rows += p["numInputRows"]
    if not spans:
        return 0.0
    return rows / (max(e for _, e in spans) - min(s for s, _ in spans))


def check_sink(out: str, records, landed: dict[str, int]) -> list[tuple[str, str | None]]:
    """Each entity's sink must hold exactly its distinct landed records,
    cleaned the way the batch chain cleans them (recomputed in Python)."""
    import reference
    from common import error_text

    results = []
    for e in ENTITIES:
        try:
            err = reference.check_table(os.path.join(out, e), e, records[e][: landed[e]])
        except Exception as exc:  # noqa: BLE001 — an unreadable sink is a failure
            err = error_text(exc)
        results.append((f"{e}_sink", err))
    return results


def sink_files(out: str) -> int:
    return sum(len(glob.glob(os.path.join(out, e, "*.parquet"))) for e in ENTITIES)
