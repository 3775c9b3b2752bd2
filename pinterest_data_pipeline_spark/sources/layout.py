"""Multi-dimensional data layout: z-order clustering for scan pruning.

Parquet scans prune at file/row-group granularity from footer min-max
stats, so pruning quality is decided by HOW data is laid out at write
time, not by the reader. A linear sort clusters one column perfectly and
leaves every other column's min-max spanning the whole domain — a filter
on the second column reads everything. Interleaving the bits of two key
columns (Morton / z-order curve) makes file boundaries axis-aligned boxes
in (c1, c2) space, so range predicates on EITHER column (or both) overlap
only O(perimeter) of the files instead of all of them.

This is the single biggest 100 TB lever after partitioning: the same
query over the same bytes does 10-100× less IO purely from write-side
clustering. Delta/Iceberg expose this as ``OPTIMIZE ZORDER BY``; this
module is the engine-native equivalent: a z-value expression (pure
codegen — shifts and masks, no UDF) + ``repartitionByRange`` on it +
``sortWithinPartitions`` so both the file ranges AND the row groups
inside each file are z-clustered.

Normalization matters: interleaving RAW values lets the wider-domain
column's high bits dominate the curve (its 11th bit sits above every bit
of a 7-bit column), collapsing z-order back to a linear sort on one
column. ``write_zordered`` therefore first maps each column onto equal-
width buckets (``width_bucket`` over the column's min/max — one tiny
pre-aggregation), so both dimensions contribute the same number of
interleaved bits. Real lakehouse z-ordering (Delta OPTIMIZE ZORDER BY)
uses sampled *quantile* boundaries instead, which additionally absorbs
value skew; equal-width is the transparent version and exact for
uniform-ish key domains.

The module also owns every in-place rewrite of a partitioned parquet
store: small-file compaction, the incremental z-order merge, and the
crash-safe directory commit the engine's stores share (the IVF cell
index, the ``(band, bh_part)`` bucket store and the streaming upsert
table). That commit is :func:`swap_dir`, an aside-and-swap of ONE
directory, with :func:`recover_dir` / :func:`recover_partitions` as its
recovery and :func:`compact_partitions` as its main user. It commits
each leaf on its own, which is enough for a layout-only rewrite: every
leaf holds the same rows before and after, so a crash between two leaf
swaps leaves a store that answers the same. The z-order merge
(:func:`compact_zorder_incremental`) keeps its own two-phase transaction
instead, because it merges NEW rows in: a retry of the same delta must
see all touched partitions old or all new, never a mix, or it would
merge the delta twice.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BITS = 16
_NORM_BITS = 8  # 256 buckets per dimension = 65536 z-cells, ample for file-level pruning


def z_value(c1: Column, c2: Column, bits: int = _BITS) -> Column:
    """Morton interleave of the low ``bits`` of two non-negative ints.

    Bit i of c1 lands at z-bit 2i, bit i of c2 at 2i+1 — a pure
    shift/mask/OR expression tree that whole-stage codegen flattens into
    straight-line JVM integer ops.
    """
    z = F.lit(0).cast("long")
    a = c1.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    b = c2.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftrightunsigned(a, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
        ).bitwiseOR(
            F.shiftrightunsigned(b, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
        )
    return z


def write_zordered(
    df: DataFrame, path: str, col1: str, col2: str, n_files: int = 16
) -> None:
    """Write parquet clustered along the z-curve of (col1, col2).

    Each column is first normalized onto 2^_NORM_BITS equal-width buckets
    (min/max from one scalar pre-aggregation — at cluster scale a
    footer-stats lookup) so both dimensions contribute equally to the
    curve regardless of domain width. ``repartitionByRange`` on the
    z-value gives each output file a contiguous z-range (an axis-aligned
    box set in bucket space); ``sortWithinPartitions`` extends the
    clustering to row groups inside each file. One range shuffle — the
    same cost as any global sort.
    """
    bounds = df.agg(
        F.min(col1).alias("lo1"),
        F.max(col1).alias("hi1"),
        F.min(col2).alias("lo2"),
        F.max(col2).alias("hi2"),
    ).first()
    n_buckets = 1 << _NORM_BITS
    # width_bucket returns n_buckets+1 for values equal to the column max;
    # unclamped, that index would wrap through the _NORM_BITS mask to z-cell
    # 0 and widen the lowest file's min-max stats. Clamp max-holders into
    # the top bucket instead.
    b1 = F.least(
        F.width_bucket(F.col(col1), F.lit(bounds.lo1), F.lit(bounds.hi1), F.lit(n_buckets)) - 1,
        F.lit(n_buckets - 1),
    )
    b2 = F.least(
        F.width_bucket(F.col(col2), F.lit(bounds.lo2), F.lit(bounds.hi2), F.lit(n_buckets)) - 1,
        F.lit(n_buckets - 1),
    )
    (
        df.withColumn("__z", z_value(b1, b2, bits=_NORM_BITS))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_linear(df: DataFrame, path: str, col1: str, n_files: int = 16) -> None:
    """Control layout: plain range-sort on one column (what naive ETL does)."""
    (
        df.repartitionByRange(n_files, col1)
        .sortWithinPartitions(col1)
        .write.mode("overwrite")
        .parquet(path)
    )


def files_overlapping(path: str, col: str, lo: int, hi: int) -> tuple[int, int]:
    """(n_overlapping, n_total) parquet files whose [min, max] footer stats
    for ``col`` intersect [lo, hi] — the file-level IO a filtered scan pays.

    Uses pyarrow footer metadata directly: this is the same statistic the
    reader's pruning consults, measured without running a query.
    """
    import pyarrow.parquet as pq

    total = overlapping = 0
    paths = []
    for root, dirs, names in os.walk(path):  # flat AND partitioned layouts
        # never count renamed-aside compaction dirs as table content
        dirs[:] = [d for d in dirs if not d.endswith(".old")]
        paths.extend(os.path.join(root, n) for n in names if n.endswith(".parquet"))
    for fpath in sorted(paths):
        total += 1
        meta = pq.ParquetFile(fpath).metadata
        idx = meta.schema.to_arrow_schema().get_field_index(col)
        mn = min(meta.row_group(g).column(idx).statistics.min for g in range(meta.num_row_groups))
        mx = max(meta.row_group(g).column(idx).statistics.max for g in range(meta.num_row_groups))
        if mx >= lo and mn <= hi:
            overlapping += 1
    return overlapping, total


def compact_small_files(
    spark,
    df: DataFrame,
    work_dir: str,
    bucket_col: Column,
    schema,
    n_landing_files: int = 64,
) -> tuple[DataFrame, int, int]:
    """Small-files landing zone -> compacted bucket-partitioned parquet.

    Reproduces the reference's batch-source pathology and its cure in one
    operator: the S3 sink connector writes ONE JSON file per record
    (``flush.size=1``, IMPL:71), so the landing zone accumulates millions
    of tiny files whose open/footer overhead dominates any later scan.
    Compaction is the standard answer: read the landing files once, assign
    each row a bucket, and rewrite as parquet partitioned by bucket with
    exactly one file per bucket.

    Mechanics (each piece is the at-scale shape, not a local shortcut):

    * the landing write fans ``df`` over ``n_landing_files`` round-robin
      partitions — a bounded stand-in for per-record files; the read back
      uses the EXPLICIT ``schema`` (no inference pass — §4.1's free win).
    * the compaction's only shuffle is ``repartition(bucket)``: all rows
      of a bucket land in one task, so ``partitionBy(bucket)`` emits one
      file per bucket — file count goes from O(records) to O(buckets).
    * rows never visit the driver; returns (compacted df read back from
      parquet, landing file count, compacted file count) so callers can
      assert the file-count collapse.
    """
    if os.path.exists(work_dir):
        shutil.rmtree(work_dir)
    landing = os.path.join(work_dir, "landing")
    compacted = os.path.join(work_dir, "compacted")
    df.repartition(n_landing_files).write.mode("overwrite").json(landing)
    n_landing = len(glob.glob(os.path.join(landing, "part-*")))
    reread = spark.read.schema(schema).json(landing).withColumn("bucket", bucket_col)
    (
        reread.repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(compacted)
    )
    n_compacted = len(glob.glob(os.path.join(compacted, "bucket=*", "part-*")))
    return spark.read.parquet(compacted), n_landing, n_compacted


# ===========================================================================
# Incremental z-order maintenance (liquid-clustering-style).
#
# `write_zordered` re-sorts the WHOLE table per run — correct, but at 100 TB
# an append of 0.1% of the data cannot pay a full-table shuffle. The managed
# variant below keeps the table as explicit z-range partitions plus a tiny
# manifest (normalization bounds + partition cut points, fixed at creation),
# so maintenance after an append rewrites ONLY the partitions the new rows
# land in: cost O(delta + touched partitions), never O(table). This is the
# engine-native analogue of Delta Lake liquid clustering / incremental
# OPTIMIZE ZORDER.
# ===========================================================================

_MANIFEST = "_zorder_manifest.json"
_ZP = "__zp"  # partition-directory column
_ZC = "__z"  # stored z-value (kept so later compactions re-sort cheaply)


def _z_bucketed(df: DataFrame, m: dict) -> DataFrame:
    """Attach __z (from manifest bounds, clamped both ends) and __zp."""
    n_buckets = 1 << _NORM_BITS

    def bucket(col: str, lo, hi) -> Column:
        return F.greatest(
            F.least(
                F.width_bucket(F.col(col), F.lit(lo), F.lit(hi), F.lit(n_buckets)) - 1,
                F.lit(n_buckets - 1),
            ),
            F.lit(0),
        )

    z = z_value(
        bucket(m["col1"], m["lo1"], m["hi1"]),
        bucket(m["col2"], m["lo2"], m["hi2"]),
        bits=_NORM_BITS,
    )
    out = df.withColumn(_ZC, z)
    pid = F.lit(0)
    for cut in m["cuts"]:
        pid = pid + F.when(F.col(_ZC) >= F.lit(cut), 1).otherwise(0)
    return out.withColumn(_ZP, pid.cast("int"))


def write_zordered_table(
    df: DataFrame, path: str, col1: str, col2: str, n_files: int = 16
) -> dict:
    """Create a managed z-ordered table: z-range partition dirs + manifest.

    Partition cut points come from approxQuantile over the z-values, so
    partitions are balanced even under value skew (the quantile variant of
    the equal-width normalization used by `write_zordered`). Bounds and
    cuts are FROZEN in the manifest: later appends normalize with the same
    parameters (out-of-range values clamp into the edge buckets), which is
    what keeps incremental maintenance local.
    """
    import json

    bounds = df.agg(
        F.min(col1).alias("lo1"),
        F.max(col1).alias("hi1"),
        F.min(col2).alias("lo2"),
        F.max(col2).alias("hi2"),
    ).first()
    m = {
        "col1": col1,
        "col2": col2,
        "lo1": bounds.lo1,
        "hi1": bounds.hi1,
        "lo2": bounds.lo2,
        "hi2": bounds.hi2,
        "cuts": [],
        "n_files": n_files,
    }
    with_z = _z_bucketed(df, m)
    qs = [i / n_files for i in range(1, n_files)]
    m["cuts"] = sorted(set(with_z.stat.approxQuantile(_ZC, qs, 0.001)))
    (
        _z_bucketed(df, m)
        .repartition(n_files, F.col(_ZP))
        .sortWithinPartitions(_ZC)
        .write.mode("overwrite")
        .partitionBy(_ZP)
        .parquet(path)
    )
    with open(os.path.join(path, _MANIFEST), "w") as f:
        json.dump(m, f)
    return m


def read_zordered_table(spark, path: str) -> DataFrame:
    """Read a managed z-ordered table without its maintenance columns."""
    return spark.read.parquet(path).drop(_ZP, _ZC)


_COMMIT_MARKER = "_zcompact_commit"  # "_"-prefixed: invisible to parquet readers
_INTENT_MARKER = "_zcompact_intent"  # written before the swap: lists touched
# partitions that had NO live dir pre-swap, so uncommitted recovery can tell a
# promoted brand-new partition (must be rolled back by deletion — it has no
# ``.old``) from an original dir the crash reached before renaming aside.


def recover_zorder_table(path: str) -> int:
    """Restore table consistency after a crashed compaction. Idempotent;
    called at the start of every compaction.

    The compaction protocol (see ``compact_zorder_incremental``) makes the
    commit marker the decision point:

    - marker PRESENT: every touched partition was already swapped to its
      merged contents — ROLL FORWARD by deleting the remaining ``.old``
      copies (and the marker). The crash hit only the cleanup phase.
    - marker ABSENT: the swap may be partial — ROLL BACK every partition
      that has a ``.old`` copy (delete the half-swapped live dir if one
      exists, rename ``.old`` back), restoring the exact pre-compaction
      table so a retry with the same delta is duplicate-free.

    Either way no ``__zp=k.old`` directory survives recovery: a stale
    ``.old`` inside the table dir would otherwise be discovered by
    ``spark.read.parquet`` as a partition with value ``"k.old"`` — silently
    duplicating rows and flipping the partition column's inferred type to
    string. Returns the number of partitions rolled back or forward.
    """
    marker = os.path.join(path, _COMMIT_MARKER)
    committed = os.path.exists(marker)
    changed = 0
    intent = os.path.join(path, _INTENT_MARKER)
    if not committed and os.path.exists(intent):
        # Partitions listed here had no live dir when the swap started, so a
        # live dir now can only be the promoted staged copy — roll it back by
        # deletion (there is no ``.old`` to restore for it).
        with open(intent) as f:
            born_in_swap = [ln for ln in f.read().splitlines() if ln]
        for part in born_in_swap:
            live = os.path.join(path, f"{_ZP}={part}")
            if os.path.exists(live):
                shutil.rmtree(live)
                changed += 1
    for name in sorted(os.listdir(path)):
        if name.startswith(_ZP + "=") and name.endswith(".old"):
            old = os.path.join(path, name)
            live = os.path.join(path, name[: -len(".old")])
            if committed:  # swap complete: .old is garbage
                shutil.rmtree(old)
            else:  # swap may be partial: restore the previous contents
                if os.path.exists(live):
                    shutil.rmtree(live)
                os.rename(old, live)
            changed += 1
    if committed:
        os.remove(marker)
    if os.path.exists(intent):
        os.remove(intent)
    return changed


def compact_zorder_incremental(spark, path: str, delta: DataFrame) -> dict:
    """Merge appended rows into a managed z-ordered table, touching only
    the z-range partitions the delta lands in.

    The delta is z-assigned from the manifest, the existing rows of ONLY
    the touched partitions are read back (partition pruning on the
    directory column), and the merged partitions replace exactly those
    directories — every other partition's files stay byte-identical.
    Returns {"touched": k, "total": n} so callers can assert locality.

    Crash safety — a two-phase commit over directory renames:

    1. STAGE: merged partitions are fully materialized under
       ``<path>.tmpcompact`` (a sibling, outside the read path) BEFORE any
       live file is touched — the self-overwrite read/write race is
       impossible regardless of ``partitionOverwriteMode``.
    2. SWAP: every touched live dir is renamed aside to ``.old``, then
       every staged dir is renamed in. No ``.old`` is deleted yet.
    3. COMMIT: a ``_zcompact_commit`` marker is written (the atomic commit
       point), THEN all ``.old`` copies are deleted, THEN the marker.

    ``recover_zorder_table`` (run at the start of every compaction) uses
    the marker to decide direction: marker present -> the swap finished,
    roll forward (delete leftover ``.old``); marker absent -> the swap may
    be partial, roll back (restore every ``.old``), returning the exact
    pre-compaction table so re-running with the SAME delta is safe —
    without the marker a retry would union the delta into already-merged
    partitions a second time and duplicate rows.

    At 100 TB this is the difference between a daily OPTIMIZE that reads
    the whole table and one that reads a few percent: rewrite work scales
    with delta volume (times partition granularity), not table size. On an
    object store the marker becomes the table format's atomic commit
    (Delta/Iceberg snapshot swap); the stage-swap-commit shape is the same.
    """
    import json

    recover_zorder_table(path)
    with open(os.path.join(path, _MANIFEST)) as f:
        m = json.load(f)
    delta_z = _z_bucketed(delta, m)
    touched = sorted(r[_ZP] for r in delta_z.select(_ZP).distinct().collect())
    existing = spark.read.parquet(path).filter(F.col(_ZP).isin(touched))
    merged = existing.unionByName(delta_z)
    tmp = path.rstrip("/") + ".tmpcompact"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    (
        merged.repartition(max(len(touched), 1), F.col(_ZP))
        .sortWithinPartitions(_ZC)
        .write.mode("overwrite")
        .partitionBy(_ZP)
        .parquet(tmp)
    )
    swaps = []  # (staged src, live dir, renamed-aside old)
    for part in touched:
        dirname = f"{_ZP}={part}"
        swaps.append(
            (
                os.path.join(tmp, dirname),
                os.path.join(path, dirname),
                os.path.join(path, dirname + ".old"),
            )
        )
    intent = os.path.join(path, _INTENT_MARKER)
    with open(intent, "w") as f:  # before any rename: record brand-new partitions
        f.write(
            "\n".join(
                str(p)
                for p, (_, live, _) in zip(touched, swaps)
                if not os.path.exists(live)
            )
        )
    for _, live, old in swaps:  # phase 2a: set every previous dir aside
        if os.path.exists(live):
            os.rename(live, old)
    for src, live, _ in swaps:  # phase 2b: promote every staged dir
        os.rename(src, live)
    marker = os.path.join(path, _COMMIT_MARKER)
    with open(marker, "w") as f:  # phase 3: commit point
        f.write("\n".join(str(p) for p in touched))
    for _, _, old in swaps:
        if os.path.exists(old):
            shutil.rmtree(old)
    os.remove(marker)
    os.remove(intent)
    shutil.rmtree(tmp)
    return {"touched": len(touched), "total": len(m["cuts"]) + 1}


# ===========================================================================
# Partitioned stores: the aside-and-swap commit, its recovery, compaction.
#
# A store is a parquet directory partitioned by ``part_cols`` (one level,
# ``cell=N``, or two, ``band=B/bh_part=P``); a LEAF is one bottom-level
# partition directory. A leaf's aside is its sibling ``_old_<leaf name>``
# (``_old_cell=N``, ``band=B/_old_bh_part=P``). Single-writer contract:
# never run two maintenance jobs on one store at once.
# ===========================================================================


def write_partitioned(df: DataFrame, path: str, part_cols: list[str]) -> None:
    """Overwrite ``path`` with ``df`` partitioned by ``part_cols``, and
    stamp the store's schema into a Parquet ``_common_metadata`` summary.

    ``partitionBy`` writes no file at all for an empty frame, and Spark
    infers a store's schema from its files, so every later read of an
    empty store would fail with UNABLE_TO_INFER_SCHEMA. The summary is
    the schema travelling with the store: Spark's Parquet reader consults
    it first and never reads it as data, and a file-copy of the store
    carries it. Its columns are in the order a plain read returns them —
    data columns, then ``part_cols`` — so a non-empty store reads back
    exactly as before."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    df.write.mode("overwrite").partitionBy(*part_cols).parquet(path)
    fields = {f.name: f for f in df.schema.fields}
    order = [c for c in fields if c not in part_cols] + list(part_cols)
    pq.write_metadata(
        to_arrow_schema(StructType([fields[c] for c in order])),
        os.path.join(path, "_common_metadata"),
    )


def swap_dir(staged: str, live: str, aside: str) -> None:
    """Replace directory ``live`` with ``staged``: the aside-and-swap commit.

    ``live`` is renamed to ``aside`` before ``staged`` moves in, and the
    aside is deleted only after, so a crash at any instant leaves the
    data on disk — as ``live``, as ``aside``, or both — and
    :func:`recover_dir` restores it. A missing ``staged`` means the
    directory ends empty: ``live`` is set aside and deleted. A concurrent
    reader may briefly miss ``live``.

    Object-store mapping: POSIX rename is the local stand-in. On S3/GCS
    the same step is a table-format commit (Delta ``OPTIMIZE`` / ``REPLACE
    WHERE``, Iceberg rewrite_data_files): new files land beside the old
    ones and one log entry swaps which are live, so readers see wholly
    old or wholly new and uncommitted files need no sweep.
    """
    shutil.rmtree(aside, ignore_errors=True)
    if os.path.exists(live):
        os.rename(live, aside)
    if os.path.exists(staged):
        os.rename(staged, live)
    shutil.rmtree(aside, ignore_errors=True)


def recover_dir(live: str, aside: str) -> None:
    """Undo an interrupted :func:`swap_dir`. If ``live`` is missing the
    aside IS the directory (rename it back); if both exist the aside is a
    stale pre-swap copy (delete it). Idempotent."""
    if not os.path.exists(aside):
        return
    if os.path.exists(live):
        shutil.rmtree(aside, ignore_errors=True)
    else:
        os.rename(aside, live)


def _leaf(part_cols: list[str], key: tuple[int, ...]) -> str:
    return os.path.join(*(f"{c}={v}" for c, v in zip(part_cols, key)))


def swap_partitions(
    path: str, staged: str, part_cols: list[str], keys: list[tuple[int, ...]]
) -> None:
    """Commit the leaves ``keys`` from the ``staged`` store into ``path``,
    one :func:`swap_dir` per leaf. A leaf with no staged copy ends empty;
    those leaves swap last, so an emptied leaf's rows leave it only after
    every leaf with a staged copy is committed."""
    leaves = [_leaf(part_cols, key) for key in keys]
    for leaf in sorted(leaves, key=lambda lf: not os.path.exists(os.path.join(staged, lf))):
        head, name = os.path.split(leaf)
        swap_dir(
            os.path.join(staged, leaf),
            os.path.join(path, leaf),
            os.path.join(path, head, "_old_" + name),
        )


def recover_partitions(path: str, part_cols: list[str]) -> None:
    """Sweep every leaf aside of the store at ``path`` with
    :func:`recover_dir`. Until swept, an aside breaks every plain reader:
    Spark's partition inference sees ``_old_<col>`` as a second partition
    column and fails with CONFLICTING_PARTITION_COLUMN_NAMES."""
    *parents, leaf = part_cols
    for aside in glob.glob(
        os.path.join(path, *(f"{c}=*" for c in parents), f"_old_{leaf}=*")
    ):
        head, name = os.path.split(aside)
        recover_dir(os.path.join(head, name.removeprefix("_old_")), aside)


def open_partitions(
    spark, path: str, part_cols: list[str], refresh: bool = True
) -> DataFrame:
    """Read a partitioned store after the recovery sweep.

    ``refresh`` drops Spark's cached file listing for ``path``: a sweep,
    a swap or a caller's copytree changes files behind it, and a stale
    listing fails the read with FAILED_READ_FILE.FILE_NOT_EXIST. Pass
    ``False`` only for a store changed solely through Spark writes,
    which invalidate the cache themselves."""
    recover_partitions(path, part_cols)
    if refresh:
        spark.catalog.refreshByPath(path)
    return spark.read.parquet(path)


def _leaf_files(path: str, part_cols: list[str]) -> dict[tuple[int, ...], list[str]]:
    out = {}
    for d in glob.glob(os.path.join(path, *(f"{c}=*" for c in part_cols))):
        names = os.path.relpath(d, path).split(os.sep)
        key = tuple(int(n.split("=", 1)[1]) for n in names)
        out[key] = sorted(glob.glob(os.path.join(d, "part-*")))
    return out


def compact_partitions(
    spark,
    path: str,
    part_cols: list[str],
    id_col: str,
    target_rows_per_file: int,
) -> tuple[DataFrame, int, int, int]:
    """Compact a partitioned store in place — the OPTIMIZE step after
    appends leave each leaf as per-batch file fragments (the reference's
    ``flush.size=1`` landing pathology, implementation_details.md:71).

    Each leaf is rewritten into AT MOST ``ceil(rows /
    target_rows_per_file)`` files; hash-slot collisions can merge target
    files, so the guarantee is the file-count ceiling, not a per-file
    row count. Only FRAGMENTED leaves pay: a leaf at or under its
    ceiling keeps its files and their mtimes, so the job is O(touched
    leaves), never O(store). Per-leaf row counts come from the parquet
    footers (no Spark job). The rewrite's only shuffle is
    ``repartition(Σ ceilings, *part_cols, _slot)`` over the touched
    leaves' rows, with ``_slot = pmod(xxhash64(id_col), ceiling)``;
    each rewritten leaf commits by :func:`swap_dir`, after the recovery
    sweep has run on the whole store.

    Partition values must be ints in ``[0, 2^20)``. ``path`` must be on
    a local POSIX filesystem: the leaf listing and the footer reads go
    through local paths, and the commit relies on POSIX renames.

    Returns ``(compacted_store_df, n_files_before, n_files_after,
    n_leaves_rewritten)``; the store's rowset is unchanged.
    """
    import functools
    import math

    import pyarrow.parquet as pq

    store = open_partitions(spark, path, part_cols)
    before = _leaf_files(path, part_cols)
    rows = {key: sum(pq.read_metadata(f).num_rows for f in files) for key, files in before.items()}
    targets = {key: max(1, math.ceil(n / target_rows_per_file)) for key, n in rows.items()}
    touched = sorted(key for key, files in before.items() if len(files) > targets[key])
    if touched:
        # one long per leaf: each partition value fills a 20-bit field
        leaf_id = F.col(part_cols[0]).cast("long")
        for c in part_cols[1:]:
            leaf_id = leaf_id * (1 << 20) + F.col(c)

        def leaf_num(key: tuple[int, ...]) -> int:
            return functools.reduce(lambda n, v: (n << 20) + v, key)

        ceiling = F.create_map(
            *[F.lit(x) for key in touched for x in (leaf_num(key), targets[key])]
        )
        staged = path + "__compacting"
        shutil.rmtree(staged, ignore_errors=True)
        (
            store.filter(leaf_id.isin([leaf_num(key) for key in touched]))
            .withColumn("_slot", F.pmod(F.xxhash64(id_col), ceiling[leaf_id]))
            .repartition(
                sum(targets[key] for key in touched),
                *[F.col(c) for c in part_cols],
                F.col("_slot"),
            )
            .drop("_slot")
            .write.mode("overwrite")
            .partitionBy(*part_cols)
            .parquet(staged)
        )
        swap_partitions(path, staged, part_cols, touched)
        shutil.rmtree(staged, ignore_errors=True)
        spark.catalog.refreshByPath(path)
    n_before = sum(len(v) for v in before.values())
    n_after = sum(len(v) for v in _leaf_files(path, part_cols).values())
    return spark.read.parquet(path), n_before, n_after, len(touched)
