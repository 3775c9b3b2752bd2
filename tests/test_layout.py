"""Z-order layout: file-level pruning must beat a linear sort on the
non-sorted dimension, and the z-value must be a correct Morton interleave.
Partitioned-store compaction must survive an interrupted swap, and the
swap's directory renames must stay in ``sources/layout.py``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.session import load_table
from pinterest_data_pipeline_spark.sources import layout

SF = "/root/testdata/sf0.01"


def _morton_ref(a: int, b: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_z_value_matches_reference_interleave(spark):
    rows = [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame(rows, "a int, b int").withColumn(
        "z", layout.z_value(F.col("a"), F.col("b"))
    )
    for r in df.collect():
        assert r.z == _morton_ref(r.a, r.b), (r.a, r.b)


def test_zorder_prunes_second_dimension_linear_does_not(spark, tmp_path):
    """A filter on l_suppkey alone: the l_partkey-sorted layout overlaps
    (nearly) every file; the z-ordered layout overlaps a strict subset."""
    lineitem = load_table(spark, SF, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "linear")
    layout.write_zordered(lineitem, zpath, "l_partkey", "l_suppkey", n_files=16)
    layout.write_linear(lineitem, lpath, "l_partkey", n_files=16)

    # narrow band on the SECOND dimension
    lo, hi = 10, 40
    z_hit, z_total = layout.files_overlapping(zpath, "l_suppkey", lo, hi)
    l_hit, l_total = layout.files_overlapping(lpath, "l_suppkey", lo, hi)
    assert z_total == 16 and l_total == 16
    assert l_hit >= 15  # linear layout cannot prune the unsorted column
    assert z_hit < l_hit  # z-order strictly better
    # materially so: ≥25% of files skipped (range-boundary sampling makes
    # the exact count vary by ±1 with session state, so no tight margin)
    assert z_hit <= 12

    # first dimension still prunes under z-order (boxes, not stripes)
    z1_hit, _ = layout.files_overlapping(zpath, "l_partkey", 100, 400)
    assert z1_hit < z_total

    # correctness: both layouts hold exactly the same rows
    a = spark.read.parquet(zpath)
    b = spark.read.parquet(lpath)
    assert a.count() == b.count() == lineitem.count()
    assert a.exceptAll(b).count() == 0


def test_max_value_rows_stay_in_top_z_cell(spark, tmp_path):
    """Rows holding a column's max must land with their neighbors, not wrap
    to z-cell 0 (width_bucket returns n_buckets+1 at the max; unclamped that
    wrapped through the bit mask and widened the lowest file's stats)."""
    import os

    import pyarrow.parquet as pq

    rows = [(i, i) for i in range(1024)]
    df = spark.createDataFrame(rows, "x int, y int")
    path = str(tmp_path / "z")
    layout.write_zordered(df, path, "x", "y", n_files=8)

    full_span = 1023
    widths = []
    for name in os.listdir(path):
        if not name.endswith(".parquet"):
            continue
        meta = pq.ParquetFile(os.path.join(path, name)).metadata
        lo = min(
            meta.row_group(g).column(0).statistics.min for g in range(meta.num_row_groups)
        )
        hi = max(
            meta.row_group(g).column(0).statistics.max for g in range(meta.num_row_groups)
        )
        widths.append(hi - lo)
    # with the wrap bug the file holding x=1023 also held x=0 (full span);
    # clamped, every file covers a narrow contiguous band
    assert max(widths) < full_span / 2, widths


def _file_snapshot(path):
    import os

    snap = {}
    for root, _, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                p = os.path.join(root, name)
                st = os.stat(p)
                snap[p] = (st.st_size, st.st_mtime_ns)
    return snap


def test_incremental_zorder_touches_only_delta_partitions(spark, tmp_path):
    """Liquid-clustering property: merging a narrow-keyed delta must rewrite
    only the z-range partitions the delta lands in; every other partition's
    files stay byte-identical (same inode stats), and the merged table holds
    exactly the union of the rows."""
    lineitem = load_table(spark, SF, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    base = lineitem.filter(F.col("l_orderkey").isNotNull()) if "l_orderkey" in lineitem.columns else lineitem
    path = str(tmp_path / "managed")
    m = layout.write_zordered_table(base, path, "l_partkey", "l_suppkey", n_files=16)
    assert len(m["cuts"]) >= 8

    before = _file_snapshot(path)
    # delta confined to a narrow corner of (partkey, suppkey) space
    delta = (
        base.limit(0)
        .unionByName(
            spark.range(50).select(
                (F.col("id") % 7 + 1).alias("l_partkey"),
                (F.col("id") % 5 + 1).alias("l_suppkey"),
                F.lit(1.0).alias("l_quantity"),
            )
        )
    )
    stats = layout.compact_zorder_incremental(spark, path, delta)
    after = _file_snapshot(path)

    assert stats["touched"] < stats["total"] / 2, stats
    untouched_same = [
        p for p in before if p in after and after[p] == before[p]
    ]
    # at least (total - touched) partitions' files must be physically intact
    assert len(untouched_same) > 0
    changed = {p for p in after if p not in before or after[p] != before[p]}
    assert changed, "the delta must have rewritten something"

    got = layout.read_zordered_table(spark, path)
    assert got.count() == base.count() + 50
    assert got.exceptAll(base.unionByName(delta)).count() == 0
    assert base.unionByName(delta).exceptAll(got).count() == 0


def _partition_dirs(path):
    import os

    return sorted(
        d
        for d in os.listdir(path)
        if d.startswith(layout._ZP + "=") and not d.endswith(".old")
    )


def _small_managed_table(spark, tmp_path, name="crash"):
    rows = spark.range(2000).select(
        (F.col("id") % 97).alias("x"),
        (F.col("id") % 89).alias("y"),
        F.col("id").alias("v"),
    )
    path = str(tmp_path / name)
    layout.write_zordered_table(rows, path, "x", "y", n_files=8)
    return path, rows


def test_recover_rolls_back_uncommitted_partial_swap(spark, tmp_path):
    """Crash mid-swap with NO commit marker: recovery must restore every
    renamed-aside partition (deleting any half-promoted live dir) so the
    table reads exactly as before the compaction began."""
    import os
    import shutil

    path, rows = _small_managed_table(spark, tmp_path)
    n = rows.count()
    parts = _partition_dirs(path)
    p1, p2 = os.path.join(path, parts[0]), os.path.join(path, parts[1])
    # p1: phase 2b done (live holds "new" data, .old holds the original)
    shutil.copytree(p1, p1 + ".old")
    for f in os.listdir(p1):
        os.remove(os.path.join(p1, f))
    for f in os.listdir(p2):
        shutil.copy(os.path.join(p2, f), os.path.join(p1, f))
    # p2: phase 2a done only (renamed aside, nothing promoted yet)
    os.rename(p2, p2 + ".old")

    recovered = layout.recover_zorder_table(path)
    assert recovered == 2
    assert not any(d.endswith(".old") for d in os.listdir(path))
    got = layout.read_zordered_table(spark, path)
    assert got.count() == n
    assert got.exceptAll(rows).count() == 0


def test_recover_rolls_forward_after_commit_marker(spark, tmp_path):
    """Crash AFTER the commit marker but before .old cleanup: a stale
    __zp=k.old would otherwise be read as a partition with value
    'k.old' — duplicating its rows and flipping the partition
    column's type to string. Recovery must delete it and keep the live dir."""
    import os
    import shutil

    path, rows = _small_managed_table(spark, tmp_path)
    n = rows.count()
    parts = _partition_dirs(path)
    p1 = os.path.join(path, parts[0])
    shutil.copytree(p1, p1 + ".old")
    with open(os.path.join(path, layout._COMMIT_MARKER), "w") as f:
        f.write(parts[0])

    recovered = layout.recover_zorder_table(path)
    assert recovered == 1
    assert not os.path.exists(p1 + ".old")
    assert not os.path.exists(os.path.join(path, layout._COMMIT_MARKER))
    got = layout.read_zordered_table(spark, path)
    assert got.count() == n  # no duplicated partition rows


def test_compaction_retry_after_crash_is_duplicate_free(spark, tmp_path):
    """A crash mid-swap followed by a
    retry with the SAME delta must not union the delta twice into the
    already-swapped partitions. The retry's built-in recovery rolls the
    table back first, so the final state is exactly base + delta."""
    import os
    import shutil

    path, rows = _small_managed_table(spark, tmp_path)
    delta = spark.range(100).select(
        (F.col("id") % 7).alias("x"),
        (F.col("id") % 5).alias("y"),
        (F.col("id") + 1_000_000).alias("v"),
    )
    # simulate an uncommitted mid-swap crash on two partitions
    parts = _partition_dirs(path)
    p1, p2 = os.path.join(path, parts[0]), os.path.join(path, parts[1])
    shutil.copytree(p1, p1 + ".old")
    os.rename(p2, p2 + ".old")

    layout.compact_zorder_incremental(spark, path, delta)
    assert not any(d.endswith(".old") for d in os.listdir(path))
    got = layout.read_zordered_table(spark, path)
    want = rows.unionByName(delta)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_incremental_zorder_preserves_pruning(spark, tmp_path):
    """After several appends the managed table must still prune like a
    freshly z-ordered one: a narrow band on either dimension overlaps a
    strict subset of files."""
    lineitem = load_table(spark, SF, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    half = lineitem.filter(F.col("l_partkey") % 2 == 0)
    rest = lineitem.filter(F.col("l_partkey") % 2 == 1)
    path = str(tmp_path / "managed")
    layout.write_zordered_table(half, path, "l_partkey", "l_suppkey", n_files=16)
    layout.compact_zorder_incremental(spark, path, rest)

    hit, total = layout.files_overlapping(path, "l_suppkey", 10, 40)
    assert total >= 16
    assert hit <= 0.8 * total, (hit, total)


def test_recover_deletes_promoted_brand_new_partition(spark, tmp_path):
    """A touched partition whose live dir did NOT exist
    before the swap gets no ``.old`` in phase 2a, so after a crash between
    phase 2b and the commit marker the promoted dir would survive a
    rollback and the retry would union the same delta into it twice. The
    intent file written before the swap lists such brand-new partitions;
    uncommitted recovery must delete the promoted dir."""
    import os
    import shutil

    path, rows = _small_managed_table(spark, tmp_path)
    n = rows.count()
    parts = _partition_dirs(path)
    p1 = os.path.join(path, parts[0])
    # fabricate a "brand-new" partition promoted in phase 2b: a live dir
    # with data but no .old, listed in the intent file
    newpart = "999"
    pnew = os.path.join(path, f"{layout._ZP}={newpart}")
    shutil.copytree(p1, pnew)
    # and a normal mid-swap partition for good measure
    os.rename(p1, p1 + ".old")
    with open(os.path.join(path, layout._INTENT_MARKER), "w") as f:
        f.write(newpart)

    recovered = layout.recover_zorder_table(path)
    assert recovered == 2
    assert not os.path.exists(pnew)
    assert not os.path.exists(os.path.join(path, layout._INTENT_MARKER))
    got = layout.read_zordered_table(spark, path)
    assert got.count() == n
    assert got.exceptAll(rows).count() == 0


# --- partitioned-store compaction and the shared aside-and-swap commit ------


@pytest.mark.parametrize(
    "part_cols, id_col",
    [(["cell"], "vec_id"), (["band", "bh_part"], "doc_id")],
    ids=["cell_index", "bucket_store"],
)
def test_compact_partitions_survives_interrupted_swap(
    spark, tmp_path, monkeypatch, part_cols, id_col
):
    """A compaction interrupted after its first leaf's swap — the second
    leaf already renamed aside, its staged copy not yet moved in — leaves
    a store that opens with the full rowset, and re-running the
    compaction gives the same rowset within every leaf's file ceiling.
    Covers the one-level ``cell=`` index and the two-level
    ``band=/bh_part=`` store."""
    import glob
    import math
    import os

    path = str(tmp_path / "store")
    keys = [(F.col("id") % m).cast("int").alias(c) for c, m in zip(part_cols, (3, 4))]
    rows = spark.range(3000).select(
        F.col("id").alias(id_col), F.sha2(F.col("id").cast("string"), 256).alias("v"), *keys
    )
    rows.repartition(8).write.partitionBy(*part_cols).parquet(path)

    def rowset(df):
        return sorted(tuple(r) for r in df.select(id_col, "v", *part_cols).collect())

    full = rowset(rows)
    real_rename = os.rename
    calls = []

    def rename(src, dst):
        calls.append(dst)
        # leaf 1: set aside, promote; leaf 2: set aside, then the promote fails
        if len(calls) == 4:
            raise OSError("injected crash")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError, match="injected crash"):
        layout.compact_partitions(spark, path, part_cols, id_col, 200)
    monkeypatch.undo()
    assert glob.glob(os.path.join(path, "**", "_old_*"), recursive=True) == [calls[2]]
    assert not os.path.exists(calls[3])

    assert rowset(layout.open_partitions(spark, path, part_cols)) == full
    compacted, _, _, n_touched = layout.compact_partitions(
        spark, path, part_cols, id_col, 200
    )
    assert n_touched > 0
    assert rowset(compacted) == full
    counts = compacted.groupBy(*part_cols).count().collect()
    for r in counts:
        leaf = os.path.join(path, *(f"{c}={r[c]}" for c in part_cols))
        assert 1 <= len(glob.glob(os.path.join(leaf, "part-*"))) <= math.ceil(r["count"] / 200)


def test_directory_renames_live_only_in_layout():
    """The aside-and-swap commit has one owner: no engine module but
    ``sources/layout.py`` renames a directory, so a second copy of the
    protocol cannot creep back."""
    import re
    from pathlib import Path

    import pinterest_data_pipeline_spark as pkg

    root = Path(pkg.__file__).parent
    rename = re.compile(r"\brename\(|\bos\.replace\(|\bshutil\.move\(")
    offenders = [
        f"{src.relative_to(root)}:{n}"
        for src in sorted(root.rglob("*.py"))
        if src != root / "sources" / "layout.py"
        for n, line in enumerate(src.read_text().splitlines(), 1)
        if rename.search(line)
    ]
    assert offenders == []
