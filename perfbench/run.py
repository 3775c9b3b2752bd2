#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the engine (see perfbench/README.md).

    python3 perfbench/run.py --workload batch_elt --seed 1 --seconds 12 --trace 0

Run it from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A run works in a fresh directory under
``perfbench/_work/runs`` and deletes it on exit; the generated analytic
tables are kept under ``perfbench/_work`` and reused.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from common import error_text, steal_s, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# Timed end-to-end workloads; the traced run covers two more.
WORKLOADS = ("batch_elt", "curation")
TRACE_ORDER = ("curation", "sql_battery", "batch_elt", "stream_ingest")

BATCH_ROWS = 40_000  # pin/geo/user records per entity (plus 5% duplicates)
STREAM_TICK_S = 0.25  # open loop: one file per entity every tick ...
STREAM_TICK_ROWS = 1_250  # ... of 1,250 records: 15,000 records/s offered,
# about half the backlog drain rate (28,000-32,000 records/s on 4 vCPUs)
STREAM_TICKS = 12  # timed ticks, after one warm-up tick
STREAM_BACKLOG_ROWS = 30_000  # records per entity in the drained backlog (plus 5% duplicates)

REBUILDS = 5  # session rebuilds after the cold set-up; setup_s is their median CPU time

E2E_UNITS = {"setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}


def pin_environment(run_dir: str, sf_dir: str) -> dict[str, str]:
    """Fix every input the engine reads from the environment."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYTHONPATH": ROOT,
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "TZ": "UTC",
        # the launcher JVM behind spark-submit: no perf-data file in /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    for key in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_MIN_TASK_BYTES",
                "SPARK_GRAFT_TARGET_PARTITION_BYTES", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(key, None)
    os.environ.update(env)
    time.tzset()
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return env


class Bench:
    """One benchmark process: the session (rebuilt at each set-up), the
    operation counters, and where the run's time went."""

    def __init__(self, args, run_dir: str, sf_dir: str):
        self.args, self.run_dir, self.sf_dir = args, run_dir, sf_dir
        self.traced = bool(args.trace)
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.setups: list[dict[str, float]] = []
        self.marks: list[tuple[str, float]] = []
        self._last_mark = time.perf_counter()
        self.listener = None
        self.timed_steal_s = 0.0
        self.extra_conf = {
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # a fixed-size heap: peak memory then reflects the program, not
            # when the collector chose to grow the heap; no perf-data file
            # in /tmp
            "spark.driver.extraJavaOptions":
                f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.showConsoleProgress": "false",
        }

    def record(self, name: str, err: str | None) -> None:
        self.attempted += 1
        if err:
            self.failures.append((name, err))
            print(f"FAIL {name}: {err}", file=sys.stderr, flush=True)

    def mark(self, label: str) -> None:
        now = time.perf_counter()
        self.marks.append((label, round(now - self._last_mark, 2)))
        self._last_mark = now

    def tag(self, group: str) -> None:
        """Label the jobs that follow (traced runs), so the event log joins
        them to a span."""
        if self.traced:
            self.spark.sparkContext.setJobGroup(group, group)

    # --- session -----------------------------------------------------------

    def setup(self, t_start: float, cpu_start: float) -> None:
        """Build the session and run a first query; wall and CPU seconds
        count from ``t_start`` and ``cpu_start``."""
        from pinterest_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cores, extra_conf=self.extra_conf)
        if self.listener is not None:
            self.spark.streams.addListener(self.listener)
        t1 = time.perf_counter()
        self.spark.range(100_000).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        self.setups.append({"total": t2 - t_start, "cpu": tree_cpu_s() - cpu_start,
                            "get_spark": t1 - t0, "first_query": t2 - t1})

    def set_up(self, t_start: float) -> None:
        """One cold set-up from process start, then ``REBUILDS`` rebuilds in
        the same process; ``setup_s`` is the median CPU time of the rebuilds."""
        self.setup(t_start, 0.0)
        for _ in range(REBUILDS):
            self.stop()
            self.setup(time.perf_counter(), tree_cpu_s())
        self.mark("setups")

    def stop(self) -> None:
        from pinterest_data_pipeline_spark.session import release_scoped

        if self.spark is not None:
            release_scoped()
            self.spark.stop()
            self.spark = None

    def setups_median(self, key: str) -> float:
        return statistics.median(s[key] for s in self.setups[1:])

    def passes(self, run_one, seconds: float) -> list:
        """Closed loop: one pass after another while the next is expected to
        end within ``seconds``; at least one."""
        results, t0, s0 = [], time.perf_counter(), steal_s()
        while True:
            results.append(run_one(len(results)))
            used = time.perf_counter() - t0
            if used + used / len(results) > seconds:
                self.timed_steal_s = steal_s() - s0
                return results

    # --- batch_elt ---------------------------------------------------------

    def batch_elt(self, seconds: float, mode: str = "timed") -> dict:
        """Land the seeded records (untimed), one cold pass, then timed
        passes (mode "timed"); mode "once" stops after the cold pass. Every
        pass's answers are checked; a pass that raises is a failed one, and
        its time is its time to the error."""
        import reference
        import runner
        from pinterest_data_pipeline_spark.sources.generator import make_raw_entities

        root = os.path.join(self.run_dir, "batch")
        landing = os.path.join(root, "landing")
        t0 = time.perf_counter()
        raw = make_raw_entities(n=BATCH_ROWS, seed=self.args.seed)
        runner.land_raw(landing, BATCH_ROWS, seed=self.args.seed)
        expected = reference.reference_answers(*raw)
        land_s = time.perf_counter() - t0
        self.mark("batch.land")

        def one(label: str) -> tuple[float, str, float, tuple[float, float]]:
            out = os.path.join(root, f"out-{label}")
            self.tag("batch_elt.pass")
            w0, c, t = time.time(), tree_cpu_s(), time.perf_counter()
            err = None
            try:
                runner.run_batch(self.spark, landing, out)
            except Exception as exc:  # noqa: BLE001 — every failure is counted
                err = error_text(exc)
            dt, cpu = time.perf_counter() - t, tree_cpu_s() - c
            window = (w0, time.time())
            self.spark.catalog.clearCache()
            if err is None:
                err = "; ".join(f"{n}: {e}" for n, e in reference.check_answers(out, expected) if e)
            self.record("batch_elt", err or None)
            return dt, out, cpu, window

        runs = [one("cold")]
        self.mark("batch.cold")
        if mode == "timed":
            runs = self.passes(lambda i: one(f"p{i}"), seconds)
            self.mark("batch.passes")
        times = [r[0] for r in runs]
        return {"pass_s": times, "pass_cpu_s": [r[2] for r in runs], "latency": times,
                "window": runs[-1][3], "out": runs[-1][1], "landing": landing, "land_s": land_s,
                "output_files": reference.output_files(runs[-1][1])}

    def json_scan(self, landing: str) -> None:
        from pinterest_data_pipeline_spark.schemas import GEO_RAW_SCHEMA, PIN_RAW_SCHEMA, USER_RAW_SCHEMA

        for entity, schema in (("pin", PIN_RAW_SCHEMA), ("geo", GEO_RAW_SCHEMA), ("user", USER_RAW_SCHEMA)):
            df = self.spark.read.schema(schema).json(os.path.join(landing, entity))
            df.write.format("noop").mode("overwrite").save()

    # --- stream_ingest -----------------------------------------------------

    def stream_ingest(self) -> dict:
        """Open-loop phase, then one drain of a pre-landed backlog (traced).
        An exception in either phase is a failed operation."""
        import stream

        root = os.path.join(self.run_dir, "stream")
        t0 = time.perf_counter()
        backlog = stream.ordered_records(STREAM_BACKLOG_ROWS, self.args.seed)
        # one warm-up tick, then the timed ticks
        live = stream.ordered_records((STREAM_TICKS + 1) * STREAM_TICK_ROWS, self.args.seed + 1)
        generate_s = time.perf_counter() - t0
        self.mark("stream.generate")

        self.tag("stream_ingest.live")
        lat, due, lag, sink_files = {e: {} for e in stream.ENTITIES}, {}, [], 0
        try:
            lat, gen, live_out = stream.open_loop(self.spark, root, live, STREAM_TICK_ROWS,
                                                  STREAM_TICK_S, STREAM_TICKS)
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            self.record("stream_live", error_text(exc))
        else:
            due, lag = gen.due, gen.lag
            for e in stream.ENTITIES:
                for _ in range(len(lat[e])):
                    self.record("stream_file", None)
                for _ in range(len(due) - len(lat[e])):
                    self.record("stream_file", f"{e}: landed file never committed")
            landed = {e: (STREAM_TICKS + 1) * STREAM_TICK_ROWS for e in stream.ENTITIES}
            for name, err in stream.check_sink(live_out, live, landed):
                self.record(name, err)
            sink_files += stream.sink_files(live_out)
        self.mark("stream.live")

        self.tag("stream_ingest.drain")
        w0, progress, drain_out = time.time(), [], None
        try:
            progress, drain_out = stream.drain(self.spark, root, "drain", backlog)
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            self.record("stream_drain", error_text(exc))
        w1 = time.time()
        if drain_out:
            for name, err in stream.check_sink(drain_out, backlog, {e: len(r) for e, r in backlog.items()}):
                self.record(name, err)
            sink_files += stream.sink_files(drain_out)
        self.mark("stream.drain")
        committed = {}
        for e in stream.ENTITIES:
            for n, v in lat[e].items():
                committed[n] = max(committed.get(n, 0.0), due[n] + v)
        return {
            "drain_rps": stream.drain_rate(progress),
            "latency": [v for per in lat.values() for v in per.values()],
            "window": (w0, w1),
            "generator_lag_s": max(lag, default=0.0),
            "backlog_files_max": stream.backlog_max(due, committed),
            "sink_files": sink_files,
            "generate_s": generate_s,
        }

    # --- query batteries ---------------------------------------------------

    def battery(self, kind: str, seconds: float, mode: str = "timed") -> dict:
        """A check pass (collect every result and compare its digest; the
        cold pass, untimed), then, in mode "timed", timed passes to the
        ``noop`` sink in seeded orders. Mode "once": the check pass alone."""
        import battery

        queries = battery.registry()
        names = battery.battery_names(kind, queries)
        tag = (lambda q, phase: self.tag(f"{kind}.{phase}.{q}")) if self.traced else None

        def one(order: list[str], expected=None):
            w0, t0, c0 = time.time(), time.perf_counter(), tree_cpu_s()
            times, errors, rows = battery.run_pass(self.spark, order, queries, self.sf_dir, expected, tag)
            total, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
            for n in order:
                self.record(n, errors[n])
            return total, times, (w0, time.time()), cpu, rows

        # the check pass runs in registry order, so every run warms the same way
        runs = [one(list(names), battery.load_digests())]
        result_rows = runs[0][4]
        self.mark(f"{kind}.check")
        if mode == "timed":
            runs = self.passes(lambda i: one(battery.seeded_order(names, self.args.seed, i)), seconds)
            self.mark(f"{kind}.passes")
        return {
            "pass_s": [r[0] for r in runs],
            "pass_cpu_s": [r[3] for r in runs],
            "latency": [p + e for r in runs for p, e in r[1].values()],
            "per_query": runs[-1][1],
            "window": runs[-1][2],
            "result_rows": result_rows,
        }

    def run(self, workload: str, seconds: float, mode: str = "timed") -> dict:
        if workload == "batch_elt":
            return self.batch_elt(seconds, mode)
        if workload == "stream_ingest":
            return self.stream_ingest()
        if workload == "sql_battery":
            return self.battery("sql", seconds, "once")
        return self.battery("curation", seconds, mode)


def stop_jvm() -> None:
    """Shut the JVM behind the session down and wait until it and the
    Python workers it started have exited."""
    from common import descendant_pids
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    children = descendant_pids(os.getpid())
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in children) and time.monotonic() < deadline:
        time.sleep(0.1)


def end_to_end(bench: Bench, res: dict) -> dict:
    from common import peak_rss_mb, summarize

    lat = summarize(res["latency"])
    values = {
        "setup_s": bench.setups_median("cpu"),
        "pass_cpu_s": statistics.median(res["pass_cpu_s"]),
        "peak_rss_mb": peak_rss_mb(),
    }
    log = {"passes": [round(t, 3) for t in res["pass_s"]],
           "pass_cpu_s": [round(t, 2) for t in res["pass_cpu_s"]],
           "host_steal_s": round(bench.timed_steal_s, 2),
           "op_latency_s": lat,
           "setups": bench.setups, "phases": bench.marks}
    print(json.dumps(log), file=sys.stderr)
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def _unit(key: str) -> str:
    if key.endswith("_s"):
        return "s"
    if key.endswith("_mb"):
        return "MB"
    if key.endswith("_frac") or key.endswith("_ratio") or key.endswith("_precision"):
        return "frac"
    return "count"


def candidate_pairs(bench: Bench) -> int:
    """MinHash-LSH candidate pairs on documents, with the settings
    ``dedup_minhash_near_duplicates`` verifies them under."""
    from pinterest_data_pipeline_spark.operators import dedup
    from pinterest_data_pipeline_spark.session import load_table

    bench.tag("dedup.candidates")
    docs = load_table(bench.spark, bench.sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", 3, 32)
    return dedup.minhash_lsh_candidates(sigs, "doc_id", 32, 8).count()


def traced_run(bench: Bench, args, t_start: float) -> dict:
    """All four workloads under Spark's event log and a streaming listener.

    The chosen workload runs first and exactly as in an untraced run, so
    its ``trace.*`` figures minus the untraced runs' medians are the
    tracing overhead. The other workloads run once: the cold, checked
    pass of ``batch_elt``, ``curation`` and ``sql_battery``, and the whole
    of ``stream_ingest``.
    """
    import reference
    import trace
    from common import peak_rss_mb, summarize
    from pinterest_data_pipeline_spark.session import register_views

    log_dir = os.path.join(bench.run_dir, "eventlog")
    bench.extra_conf.update(trace.event_log_conf(log_dir))
    bench.listener = trace.progress_listener()
    bench.set_up(t_start)
    partitions = int(bench.spark.conf.get("spark.sql.shuffle.partitions"))
    res = {}
    for w in (args.workload, *(w for w in TRACE_ORDER if w != args.workload)):
        if w == "sql_battery":
            t0 = time.perf_counter()
            register_views(bench.spark, bench.sf_dir)
            register_views_s = time.perf_counter() - t0
        res[w] = bench.run(w, args.seconds, "timed" if w == args.workload else "once")
        if w == args.workload:
            rss = peak_rss_mb()
    bench.tag("batch_elt.json_scan")
    t0 = time.perf_counter()
    bench.json_scan(res["batch_elt"]["landing"])
    json_scan_s = time.perf_counter() - t0
    cands = candidate_pairs(bench)
    # the verified pairs are the MinHash query's result rows, counted in
    # its check pass
    verified = res["curation"]["result_rows"].get("dedup_minhash_near_duplicates", 0)
    reports = list(bench.listener.reports)
    bench.stop()
    bench.mark("scan+dedup")
    log = trace.EventLog(trace.read_event_log(log_dir))
    bench.mark("event_log")
    print(json.dumps({"phases": bench.marks}), file=sys.stderr)

    m: dict[str, float] = {
        "session.get_spark_s": bench.setups_median("get_spark"),
        "session.register_views_s": register_views_s,
        "session.first_query_s": bench.setups_median("first_query"),
        "session.shuffle_partitions": partitions,
        "sources.generate_s": res["stream_ingest"]["generate_s"],
        "sources.land_raw_s": res["batch_elt"]["land_s"],
    }
    for w in TRACE_ORDER:
        for k, v in log.window(*res[w]["window"], bench.cores).items():
            m[f"{w}.exec.{k}"] = v
    for w in ("curation", "sql_battery"):
        per = res[w]["per_query"]
        m[f"{w}.plan_build_s"] = sum(p for p, _ in per.values())
        m[f"{w}.execute_s"] = sum(e for _, e in per.values())
        for q, (p, e) in per.items():
            m[f"{w}.{q}_s"] = p + e
    m["curation.eager_jobs"] = sum(log.jobs_in_group(f"curation.plan.{q}", *res["curation"]["window"])
                                   for q in res["curation"]["per_query"])
    out = res["batch_elt"]["out"]
    for a in reference.ANSWERS:
        m[f"batch_elt.{a}_s"] = log.write_seconds(os.path.join(out, a))
    m["batch_elt.json_scan_s"] = json_scan_s
    m["batch_elt.output_files"] = res["batch_elt"]["output_files"]
    m["dedup.candidate_pairs"] = cands
    m["dedup.verified_pairs"] = verified
    m["dedup.candidate_precision"] = verified / cands if cands else 0.0
    st = res["stream_ingest"]
    for k, v in trace.stream_stats(reports).items():
        m[f"stream.{k}"] = v
    m["stream.sink_files"] = st["sink_files"]
    m["stream.backlog_files_max"] = st["backlog_files_max"]
    m["stream.generator_lag_s"] = st["generator_lag_s"]
    lat = summarize(st["latency"] or [0.0])
    m["stream.latency_p50_s"] = lat["p50"]
    m["stream.latency_tail_s"] = lat["tail"] if lat["tail"] is not None else max(st["latency"] or [0.0])
    m["stream.drain_rps"] = st["drain_rps"]
    m["trace.setup_s"] = bench.setups_median("cpu")
    m["trace.pass_s"] = statistics.median(res[args.workload]["pass_s"])
    m["trace.pass_cpu_s"] = statistics.median(res[args.workload]["pass_cpu_s"])
    m["trace.peak_rss_mb"] = rss
    m["failed_frac"] = len(bench.failures) / max(bench.attempted, 1)
    return {k: {"value": v, "unit": "1/s" if k.endswith("_rps") else _unit(k)} for k, v in m.items()}


def main() -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing (set and dict order during plan building) is an
        # input too: fix it for the driver and the workers it launches
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "pinterest_data_pipeline_spark", "session.py")):
        print("engine sources not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import data

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    bench = None
    try:
        sf_dir = data.ensure_tables(WORK)
        env = pin_environment(run_dir, sf_dir)
        print(json.dumps({"env": env}), file=sys.stderr)
        bench = Bench(args, run_dir, sf_dir)
        if args.trace:
            metrics = traced_run(bench, args, t_start)
        else:
            bench.set_up(t_start)
            metrics = end_to_end(bench, bench.run(args.workload, args.seconds))
        result = {
            "correct": not bench.failures,
            "attempted": bench.attempted,
            "failed": len(bench.failures),
            "metrics": metrics,
        }
    finally:
        if bench is not None:
            bench.stop()
            stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
