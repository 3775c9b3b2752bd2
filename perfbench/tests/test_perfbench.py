"""Fast self-tests of the benchmark's own code (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import common  # noqa: E402
import data  # noqa: E402
import reference  # noqa: E402
import stream  # noqa: E402
import trace  # noqa: E402


# --- percentiles -------------------------------------------------------------


def test_percentile_interpolates_and_counts_samples():
    xs = [float(i) for i in range(1, 101)]
    assert common.percentile(xs, 50) == pytest.approx(50.5)
    assert common.percentile(xs, 99) == pytest.approx(99.01)
    assert common.percentile([3.0], 99) == 3.0
    s = common.summarize(xs)
    assert s["n"] == 100 and s["p50"] == pytest.approx(50.5)
    assert s["tail_q"] == 90 and s["tail"] == pytest.approx(90.1)  # 10 samples beyond p90
    assert common.tail_q(48) == 79 and common.tail_q(1000) == 99
    assert common.summarize([2.0] * 10) == {"n": 10, "p50": 2.0, "tail_q": 0, "tail": None}
    with pytest.raises(ValueError):
        common.percentile([], 50)


# --- digests -----------------------------------------------------------------


def test_digest_ignores_row_and_column_order():
    a = common.digest(["x", "y"], [(1, 2.0), (3, None)])
    b = common.digest(["y", "x"], [(None, 3), (2.0000001, 1)])
    assert common.digest_mismatch(a, b) is None
    c = common.digest(["x", "y"], [(1, 2.5), (3, None)])
    assert "sha256" in common.digest_mismatch(a, c)
    d = common.digest(["x", "z"], [(1, 2.0), (3, None)])
    assert "columns" in common.digest_mismatch(a, d)
    assert "rows" in common.digest_mismatch(a, common.digest(["x", "y"], [(1, 2.0)]))


def test_norm_value_covers_engine_types():
    utc = dt.datetime(2020, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc)
    assert common.norm_value(utc) == common.norm_value(dt.datetime(2020, 1, 2, 3, 4, 5))
    assert common.norm_value([1.0, None]) == "[1,NULL]"
    assert common.norm_value({"a": 1, "b": "x"}) == "[1,x]"
    assert common.norm_value(float("nan")) == "NaN"
    assert common.norm_value(True) == "True"


# --- event log ---------------------------------------------------------------


def _task(stage, start_ms, end_ms, cpu_ns=0, failed=False, shuffle=0, py=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": start_ms,
            "Finish Time": end_ms,
            "Failed": failed,
            "Accumulables": [{"Name": "data sent to Python workers", "Update": py}],
        },
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 10,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def test_event_log_window_counts_busy_and_driver_only_time(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Properties": {"spark.jobGroup.id": "curation.plan.q"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500, "Properties": {}},
        _task(0, 1000, 2000, cpu_ns=5e8, shuffle=2_000_000, py=1_000_000),
        _task(0, 1500, 2500, cpu_ns=5e8),
        _task(1, 3000, 3500, failed=True),
        _task(2, 9000, 9500),  # outside the window
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "time": 4000,
         "physicalPlanDescription": "Execute InsertIntoHadoopFsRelationCommand file:/o/q1, false"},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
         "executionId": 7, "time": 4750},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = trace.EventLog(trace.read_event_log(str(tmp_path)))
    w = log.window(1.0, 5.0, cores=2)
    assert w["jobs"] == 2 and w["tasks"] == 3 and w["failed_tasks"] == 1
    assert w["task_busy_s"] == pytest.approx(2.5)
    assert w["task_cpu_s"] == pytest.approx(1.0)
    assert w["gc_s"] == pytest.approx(0.03)
    assert w["slot_busy_frac"] == pytest.approx(2.5 / (4.0 * 2))
    assert w["driver_only_s"] == pytest.approx(4.0 - 2.0)  # tasks cover [1, 2.5) and [3, 3.5)
    assert w["shuffle_mb"] == pytest.approx(2.0) and w["python_mb"] == pytest.approx(1.0)
    assert log.jobs_in_group("curation.plan.q") == 1
    assert log.jobs_in_group("curation.plan.q", 1.5, 5.0) == 0  # submitted before the window
    assert log.write_seconds("/o/q1") == pytest.approx(0.75)
    assert log.write_seconds("/o/q2") == 0


def test_union_length_merges_overlaps():
    assert trace.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)
    assert trace.union_length([]) == 0


def test_stream_stats_sums_progress_reports():
    reports = [
        {"id": "a", "numInputRows": 10, "durationMs": {"addBatch": 500, "queryPlanning": 100,
         "walCommit": 50, "commitOffsets": 30, "latestOffset": 20, "getBatch": 5},
         "stateOperators": [{"numRowsTotal": 9, "numRowsUpdated": 9, "memoryUsedBytes": 2_000_000}],
         "sink": {"numOutputRows": -1}},
        {"id": "a", "numInputRows": 0, "durationMs": {"latestOffset": 10},
         "stateOperators": [{"numRowsTotal": 9, "numRowsUpdated": 0, "memoryUsedBytes": 3_000_000}]},
    ]
    s = trace.stream_stats(reports)
    assert s["batches"] == 1
    assert s["add_batch_s"] == pytest.approx(0.5) and s["planning_s"] == pytest.approx(0.1)
    assert s["commit_s"] == pytest.approx(0.08) and s["source_list_s"] == pytest.approx(0.035)
    assert s["state_rows"] == 9 and s["state_mb"] == pytest.approx(3.0)
    assert s["dedup_out_in_ratio"] == pytest.approx(0.9)


# --- checkpoint latency join -------------------------------------------------


def test_file_latencies_join_source_log_and_commits(tmp_path):
    ckpt = tmp_path / "ckpt"
    (ckpt / "sources" / "0").mkdir(parents=True)
    (ckpt / "commits").mkdir()

    def entry(name, batch):
        return json.dumps({"path": f"file:///land/pin/{name}", "timestamp": 0, "batchId": batch})

    (ckpt / "sources" / "0" / "0").write_text("v1\n" + entry("tick-000000.json", 0) + "\n")
    (ckpt / "sources" / "0" / "1.compact").write_text(
        "v1\n" + entry("tick-000000.json", 0) + "\n" + entry("tick-000001.json", 1) + "\n"
        + entry("tick-000002.json", 1) + "\n")
    for batch, t in ((0, 105.0), (1, 107.5)):
        p = ckpt / "commits" / str(batch)
        p.write_text("v1\n{}\n")
        os.utime(p, (t, t))
    (ckpt / "commits" / ".1.crc").write_text("")
    due = {"tick-000000.json": 100.0, "tick-000001.json": 101.0,
           "tick-000002.json": 102.0, "tick-000003.json": 103.0}
    lat = stream.file_latencies(str(ckpt), due)
    assert lat == pytest.approx({"tick-000000.json": 5.0, "tick-000001.json": 6.5, "tick-000002.json": 5.5})
    committed = {n: due[n] + v for n, v in lat.items()}
    # at t=103 all four ticks have landed and none has committed (tick 3 never does)
    assert stream.backlog_max(due, committed) == 4
    del due["tick-000003.json"]
    assert stream.backlog_max(due, committed) == 3


def test_drain_rate_spans_first_batch_start_to_last_batch_end():
    def report(ts, ms, rows):
        return {"timestamp": ts, "numInputRows": rows, "durationMs": {"triggerExecution": ms}}

    progress = [
        report("2024-01-01T00:00:10.000Z", 2000, 3000),
        report("2024-01-01T00:00:10.500Z", 2500, 1000),  # another query, overlapping
        report("2024-01-01T00:00:13.000Z", 10, 0),  # an empty trigger is not draining
    ]
    assert stream.drain_rate(progress) == pytest.approx(4000 / 3.0)
    assert stream.drain_rate(progress[2:]) == 0.0


# --- generated inputs and the plain-Python oracle ----------------------------


def test_tables_are_deterministic_at_tiny_scale():
    a = data.build_tables(sf=0.001, corpus_sf=0.001)
    b = data.build_tables(sf=0.001, corpus_sf=0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    for name in a:
        assert a[name].equals(b[name]), name
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 50
    assert str(a["embeddings"].schema.field("embedding").type.value_type) == "float"


def test_reference_cleaning_nulls_sentinels_and_dedups():
    pins = [
        {"index": 1, "unique_id": "", "title": "No Title Data Available", "description": "d",
         "poster_name": "Ada", "follower_count": "25k", "tag_list": "a,b", "is_image_or_video": "image",
         "image_src": "Image src error", "downloaded": "1", "save_location": "Local save in /data/art",
         "category": "art"},
    ]
    cols, rows = reference.clean_rows("pin", pins + [dict(pins[0])])
    assert len(rows) == 1
    row = dict(zip(cols, rows[0]))
    assert row["unique_id"] is None and row["title"] is None and row["image_src"] is None
    assert row["follower_count"] == 25_000 and row["downloaded"] is True
    assert row["save_location"] == " /data/art"
    geo = [{"index": 1, "timestamp": "2019-05-06T07:08:09", "latitude": "1.5",
            "longitude": "-2.0", "country": " France "}]
    cols, rows = reference.clean_rows("geo", geo)
    assert rows == [(1, "France", ["1.5", "-2.0"], dt.datetime(2019, 5, 6, 7, 8, 9))]


def test_reference_answers_on_tiny_generated_rows():
    from pinterest_data_pipeline_spark.sources.generator import make_raw_entities

    answers = reference.reference_answers(*make_raw_entities(n=200, seed=5))
    assert set(answers) == set(reference.ANSWERS)
    q7 = dict(answers["q7_users_joined_per_year"][1])
    assert set(q7) <= set(range(2015, 2021)) and sum(q7.values()) > 0
    q1_cols, q1 = answers["q1_top_category_per_country"]
    assert q1_cols == ["country", "category", "category_count"] and q1
    assert reference._median([1, None, 3, 10]) == 3.0
    assert reference._median([None]) is None
