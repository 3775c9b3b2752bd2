"""Per-layer numbers for the traced run.

Spans come from the benchmark's own timers around calls into the engine's
public functions; Spark's event log supplies what happened underneath
(jobs, tasks, CPU, GC, shuffle, spill, Python worker traffic), and a
streaming query listener records each micro-batch's progress. Nothing
inside the engine is instrumented.
"""

from __future__ import annotations

import glob
import json
import os

PYTHON_BYTES_METRICS = ("data sent to Python workers", "data returned from Python workers")


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


# the only events EventLog reads; the rest (stage, executor, plan-update
# events) make up most of the log and are skipped unparsed
EVENTS_READ = ("SparkListenerTaskEnd", "SparkListenerJobStart", "SQLExecutionStart", "SQLExecutionEnd")


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                if any(e in line[:120] for e in EVENTS_READ):
                    events.append(json.loads(line))
    return events


class EventLog:
    """Indexed view of one application's event log."""

    def __init__(self, events: list[dict]):
        self.tasks: list[dict] = []
        self.jobs: dict[int, dict] = {}
        self.sql: dict[int, dict] = {}
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
                py = sum(_num(acc.get(n)) for n in PYTHON_BYTES_METRICS)
                self.tasks.append(
                    {
                        "start": info["Launch Time"] / 1000.0,
                        "end": info["Finish Time"] / 1000.0,
                        "failed": bool(info.get("Failed")),
                        "cpu_s": (m.get("Executor CPU Time", 0) + m.get("Executor Deserialize CPU Time", 0)) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "python_bytes": py,
                    }
                )
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                self.jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "group": props.get("spark.jobGroup.id"),
                }
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                self.sql[ev["executionId"]] = {
                    "start": ev["time"] / 1000.0,
                    "plan": ev.get("physicalPlanDescription", ""),
                }
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in self.sql:
                    self.sql[ev["executionId"]]["end"] = ev["time"] / 1000.0

    def window(self, t0: float, t1: float, cores: int) -> dict[str, float]:
        """Execution counters for tasks launched and jobs submitted in [t0, t1)."""
        tasks = [t for t in self.tasks if t0 <= t["start"] < t1]
        busy = sum(t["end"] - t["start"] for t in tasks)
        wall = max(t1 - t0, 1e-9)
        covered = union_length([(max(t["start"], t0), min(t["end"], t1)) for t in tasks])
        return {
            "jobs": sum(1 for j in self.jobs.values() if t0 <= j["submit"] < t1),
            "tasks": len(tasks),
            "task_busy_s": busy,
            "task_cpu_s": sum(t["cpu_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "slot_busy_frac": busy / (wall * cores),
            "driver_only_s": wall - covered,
            "shuffle_mb": sum(t["shuffle_bytes"] for t in tasks) / 1e6,
            "spill_mb": sum(t["spill_bytes"] for t in tasks) / 1e6,
            "python_mb": sum(t["python_bytes"] for t in tasks) / 1e6,
            "failed_tasks": sum(1 for t in tasks if t["failed"]),
        }

    def jobs_in_group(self, group: str, t0: float = float("-inf"), t1: float = float("inf")) -> int:
        """Jobs labelled ``group`` and submitted in [t0, t1)."""
        return sum(1 for j in self.jobs.values() if j["group"] == group and t0 <= j["submit"] < t1)

    def write_seconds(self, path_fragment: str) -> float:
        """Wall time of the SQL executions whose plan writes to a path."""
        return sum(
            e.get("end", e["start"]) - e["start"]
            for e in self.sql.values()
            if "InsertIntoHadoopFsRelationCommand" in e["plan"] and path_fragment in e["plan"]
        )


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [a, b) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def progress_listener():
    """A StreamingQueryListener that keeps every progress report as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.reports: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.reports.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def stream_stats(reports: list[dict]) -> dict[str, float]:
    """Micro-batch counters summed over every progress report."""

    def dur(r, *keys):
        d = r.get("durationMs") or {}
        return sum(d.get(k, 0) for k in keys) / 1000.0

    batches = [r for r in reports if r.get("numInputRows", 0) > 0]
    last_state: dict[str, dict] = {}
    for r in reports:
        for op in r.get("stateOperators") or []:
            last_state[r["id"]] = op
    rows_in = sum(r.get("numInputRows", 0) for r in reports)
    # a dedup operator's updated rows are the first sightings it lets through
    rows_out = sum(op.get("numRowsUpdated", 0) for r in reports for op in r.get("stateOperators") or [])
    return {
        "batches": len(batches),
        "add_batch_s": sum(dur(r, "addBatch") for r in reports),
        "planning_s": sum(dur(r, "queryPlanning") for r in reports),
        "commit_s": sum(dur(r, "walCommit", "commitOffsets") for r in reports),
        "source_list_s": sum(dur(r, "latestOffset", "getBatch") for r in reports),
        "state_rows": sum(op.get("numRowsTotal", 0) for op in last_state.values()),
        "state_mb": sum(op.get("memoryUsedBytes", 0) for op in last_state.values()) / 1e6,
        "dedup_out_in_ratio": rows_out / rows_in if rows_in else 0.0,
    }
