"""SparkSession factory.

One place to encode the engine's execution posture:

* AQE on (runtime shuffle-partition coalescing, skew-join splitting) — this is
  the 100 TB answer to skewed `groupBy`/`join` keys without hand-tuned salting.
* `spark.sql.shuffle.partitions` derived from the INPUT SIZE (see
  :func:`derived_shuffle_partitions`), not the core count: tiny inputs get few
  partitions (task overhead floor), large inputs get bytes/128MB partitions
  (guide §2.2); cluster deployments override it through ``extra_conf``.
* UTC session timezone — all `to_timestamp`/`year()` semantics are stable and
  match the DuckDB oracle regardless of host timezone.
* Arrow enabled — every Pandas-UDF extension operator (similarity kernels,
  multimodal decode) rides vectorized Arrow batches, never per-row pickling.

What the engine keeps between queries — everything else a query builds
(expression trees, row counts, planner probes, temp views) is rebuilt from
its arguments and session on every call:

* ``load_table``'s lazy source plans, per (session, directory, table); an
  entry dies with its session (weak keys).
* ``persist_scoped`` frames: at most one live generation per scope, replaced
  by the next call under that scope or dropped by ``release_scoped``.
* ``plans.extensions._cached_store`` work directories: on disk, rebuilt when
  the source parquet's size/mtime fingerprint or the build parameters change.
  A store several queries share has one owner, the only code that names its
  work dir: ``_ivf_cell_index``, ``_incr_sig_store`` and ``_incr_kmv_store``.
  Each other store is defined in the one query that uses it.
* Generated classes, in Spark's ``CodeGenerator`` cache: one per JVM, so it
  survives ``spark.stop()`` and a rebuilt session; it evicts in LRU order
  once it holds ``CODEGEN_CACHE_ENTRIES`` classes. The size is a static
  conf, so only the first session built in a JVM sets it.

Environment variables read: ``SPARK_GRAFT_SF_DIR`` (input directory that
sizes the shuffle partitions) and ``SPARK_GRAFT_DRIVER_MEM`` (driver heap,
default 8g). The local core count is the process's CPU affinity count unless
``get_spark(cpus=...)`` says otherwise.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# sizing constants of derived_shuffle_partitions (see its docstring)
MIN_TASK_BYTES = 2 * 1024**2
TARGET_PARTITION_BYTES = 128 * 1024**2

# spark.sql.codegen.cache.maxEntries. Spark's default of 100 is smaller than
# one pass of our own plans (run_batch on 300 rows generates 135 classes, a
# curation pass 370-407), so at 100 a repeat pass misses the LRU on most
# classes and re-runs Janino and then C2 on the new bytecode. Counted with
# CodegenMetrics' compilation-time histogram: a repeat run_batch compiles
# 64-79 classes at 100 entries and 0 at 4000, and one traced perfbench run
# (all four workloads in one JVM) compiles 791 distinct classes, so 4000
# holds about five such runs. Peak RSS did not move at 4000.
CODEGEN_CACHE_ENTRIES = 4000


def _dir_bytes(path: str) -> int:
    """Total bytes under ``path`` (0 if missing) — cheap os.walk, no Spark."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def derived_shuffle_partitions(cpus: int) -> int:
    """Size ``spark.sql.shuffle.partitions`` from the INPUT data, not cores.

    Guide §2.2: partitions should be sized so each holds a sensible chunk
    of data; flooring the count at the core count manufactures tiny tasks
    whose scheduling overhead exceeds their work. Measured with an
    interleaved same-host A/B at sf0.1 = 17.5 MB of parquet: 32
    partitions ran 1.3-3.3x SLOWER than 8 across the heavy battery
    (quality_js_divergence_sources 2.12 -> 0.91 s, dedup_longest_shared_ngram
    1.96 -> 0.60, quality_bigram_logloss 2.34 -> 1.33), while 2 partitions
    lost compute parallelism on the heavy joins (text_sparse_cosine_pairs
    1.41x worse than 8). AQE coalescing could NOT recover the win
    (parallelismFirst=false + advisory size measured at best flat, and a
    high initialPartitionNum was 3-9x slower from map-side fan-out), so
    the right-sizing must happen statically, from the data size.

    The rule, scale-adaptive and core-count-free until data is plentiful:

        partitions = min(ceil(bytes / MIN_TASK_BYTES),
                         max(cpus,  ceil(bytes / TARGET_PARTITION_BYTES)))

    * ``MIN_TASK_BYTES`` (2 MB) is the floor on useful per-partition
      input: below it, task overhead dominates (the measured local sweet
      spot above).
    * ``TARGET_PARTITION_BYTES`` (128 MB) is the guide's 100 MB-1 GB
      partition sizing for large inputs; once data outgrows the cores the
      count grows as bytes/target (e.g. 100 TB -> ~800k partitions), the
      textbook cluster posture.
    * Small data (sf0.1: 17.5 MB -> 9 partitions) gets the same count at
      ANY core count.

    Deployments that know their shuffle volume set
    ``spark.sql.shuffle.partitions`` through ``get_spark(extra_conf=...)``;
    with no readable input dir the cores floor applies.
    """
    size = _dir_bytes(os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    if size <= 0:
        return cpus
    by_overhead = max(1, -(-size // MIN_TASK_BYTES))
    by_size = max(cpus, -(-size // TARGET_PARTITION_BYTES))
    return min(by_overhead, by_size)

# Per-session memo of load_table's lazy source plans (see load_table).
_TABLE_PLANS: "weakref.WeakKeyDictionary[SparkSession, dict]" = None  # type: ignore[assignment]


def get_spark(
    app_name: str = "pinterest_data_pipeline_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    In local mode the driver is the whole cluster, so ``spark.driver.memory``
    is the only memory knob. On a real cluster the same conf names apply;
    nothing here is local-mode-specific except the master URL.

    ``cpus`` defaults to the CPUs this process may run on
    (``os.sched_getaffinity``). ``spark.sql.shuffle.partitions`` comes from
    :func:`derived_shuffle_partitions`, which sizes every shuffle from the
    directory in ``SPARK_GRAFT_SF_DIR`` at session build, not from the
    directory a query is later given; a session that queries other data
    keeps that count unless ``extra_conf`` sets it.
    """
    n = cpus or len(os.sched_getaffinity(0))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(derived_shuffle_partitions(n)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Disable PySpark's per-call DataFrame debugging context (call-site
        # capture for error messages): every Column/functions API call
        # otherwise pays a conf RPC + Python stack walk + two JVM calls —
        # measured 8.4 ms per F.lit vs 0.16 ms with it off. The
        # engine's expression-heavy operators (32-perm MinHash, banded LSH,
        # sketch batteries) build thousands of Columns per plan, so this is
        # pure driver-side overhead with no effect on results; plans,
        # execution, and error *types* are unchanged (only the enriched
        # call-site line in error messages is dropped).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # The driver's events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so read them as raw longs and convert
        # at the read edge (load_table) with integer division — lossless,
        # and truncation matches DuckDB's micro precision.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-generated parquet table (TESTDATA.md).

    ``events.ts`` is TIMESTAMP(NANOS) on disk; with nanosAsLong it arrives as
    a long which we convert to a proper timestamp via integer division (``div``
    keeps all 64 bits — a double round-trip would lose sub-microsecond bits).

    The nanosAsLong conf is (re)applied here at runtime, not only in
    :func:`get_spark`, because callers (tests, notebooks) may
    hand us a session built elsewhere; the conf is runtime-settable and
    idempotent, and without it the events scan throws PARQUET_TYPE_ILLEGAL.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # normalize_ntz's NTZ->TIMESTAMP cast is a pure reinterpretation ONLY
    # under a UTC session timezone; on a session built elsewhere the cast
    # would shift the underlying instant and unix_micros / watermarks /
    # oracle comparisons drift silently. Pin it here, at the same runtime
    # edge that re-applies nanosAsLong.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Memoized per (session, dir, table): building this frame costs
    # ~250 ms (file listing + parquet footer schema inference + the NTZ
    # normalization's py4j casts), and the battery's queries call this
    # 1-4x per build. The cached object is an UNRESOLVED LAZY PLAN over
    # the read-only source parquet — no data, no results; every action
    # against it still scans the files — and DataFrames are immutable,
    # so sharing one plan object across queries is safe. Weak keys drop
    # entries with their session; a restarted or newSession() session
    # rebuilds from scratch.
    global _TABLE_PLANS
    if _TABLE_PLANS is None:
        import weakref

        _TABLE_PLANS = weakref.WeakKeyDictionary()
    cache = _TABLE_PLANS.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    cached = cache.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    df = normalize_ntz(df)
    cache[key] = df
    return df


def normalize_ntz(df):
    """Cast any TIMESTAMP_NTZ column to session-zoned TIMESTAMP.

    Driver-generated parquet has flip-flopped between TIMESTAMP(NANOS)
    (handled above via nanosAsLong) and plain TIMESTAMP(MICROS) with no
    timezone, which Spark 4 infers as TIMESTAMP_NTZ
    (``spark.sql.parquet.inferTimestampNTZ.enabled`` defaults true). NTZ is
    rejected by event-time operators (``withWatermark``:
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and ``unix_micros``. With the
    session timezone pinned to UTC the cast is a pure reinterpretation —
    wall-clock values, ``date_format`` output, and the DuckDB oracle's naive
    timestamps are all unchanged — so normalizing at the read edge keeps
    every downstream operator agnostic to which variant the driver wrote.

    NTZ fields nested inside struct/array/map columns are normalized too:
    the whole column is cast to its NTZ-free twin type (Spark casts structs
    and arrays field-wise), so an ``array<struct<ts: timestamp_ntz>>``
    column comes out event-time-ready like a flat one.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    def strip_ntz(dt):
        if isinstance(dt, TimestampNTZType):
            return TimestampType()
        if isinstance(dt, StructType):
            out = StructType()
            for f in dt.fields:
                out.add(f.name, strip_ntz(f.dataType), f.nullable, f.metadata)
            return out
        if isinstance(dt, ArrayType):
            return ArrayType(strip_ntz(dt.elementType), dt.containsNull)
        if isinstance(dt, MapType):
            return MapType(
                strip_ntz(dt.keyType), strip_ntz(dt.valueType), dt.valueContainsNull
            )
        return dt

    for f in df.schema.fields:
        target = strip_ntz(f.dataType)
        if target != f.dataType:
            df = df.withColumn(f.name, F.col(f.name).cast(target))
    return df


_SCOPED_CACHE: dict[str, object] = {}


def persist_scoped(df, scope: str):
    """``persist()`` with a bounded lifetime: one live generation per scope.

    Operators persist small intermediate frames (LSH candidate pairs, SimHash
    chunk signatures) that are consumed lazily by the DataFrame they return,
    so they cannot unpersist before returning. A bare ``persist()`` there
    leaks one cached frame per call for the session lifetime — a long
    query battery accumulates executor storage. This helper
    unpersists the PREVIOUS frame registered under the same scope before
    persisting the new one, capping storage at one generation per call site.

    Unpersisting never breaks correctness: a still-held older result simply
    recomputes its lineage. ``release_scoped`` drops a scope eagerly once a
    caller has fully materialized the result (perfbench calls it between
    queries; the pytest session fixture calls it at teardown).
    """
    release_scoped(scope)
    _SCOPED_CACHE[scope] = df.persist()
    return df


def release_scoped(scope: str | None = None) -> None:
    """Eagerly unpersist one scope (or all) registered via persist_scoped."""
    scopes = [scope] if scope is not None else list(_SCOPED_CACHE)
    for s in scopes:
        df = _SCOPED_CACHE.pop(s, None)
        if df is not None:
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001  (session already stopped)
                pass


def fan_out(df, partitions: int | None = None):
    """Repartition narrow inputs before CPU-heavy per-row compute.

    A small parquet file arrives as ONE input split (parquet can't split
    inside a row group), so an expression-heavy stage would run on a single
    core no matter how many the cluster has. When the scan already has >=
    target partitions — the normal case on a real cluster reading many
    files — this is a no-op, so big inputs never pay a gratuitous shuffle.

    Call it on a source scan. The partition-count probe plans the frame,
    and under AQE that runs every Exchange already in it as an eager job,
    so a frame that was fanned (or shuffled) once must not be fanned again.
    """
    target = partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)



def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (SQL entry path).

    Every call re-registers all ten views, so they always point at
    ``sf_dir``; the source plans come from :func:`load_table`'s memo, so
    a repeat call costs only the view replacement (~0.16 s).
    """
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
