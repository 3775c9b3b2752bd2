"""Tests for drift-triggered IVF centroid retrain + touched-cells index
migration, the read-path crash-recovery sweep, bucket-store compaction
and the streaming arrival paths of the incremental stores.

The file-layout contracts no SQL dual can express live here:
migrated-index rowset == from-scratch rebuild with the new centroids,
untouched cells are never rewritten (mtimes preserved), migration cost
tracks MOVED vectors (only cells losing/gaining rewrite), a crash that
leaves a vector in two cells converges on re-run, and a reader opening
an index with a mid-swap ``_old_cell=N`` aside sees the full index.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators import similarity
from pinterest_data_pipeline_spark.sources import layout

# Unit anchors in R^4: dot-product nearest-cell assignment is exact and
# tie-free for members placed exactly at an anchor.
ANCHORS = [
    [1.0, 0.0, 0.0, 0.0],
    [0.0, 1.0, 0.0, 0.0],
    [0.0, 0.0, 1.0, 0.0],
    [0.0, 0.0, 0.0, 1.0],
]
# Outliers sit between anchors 2 and 3, barely on anchor 2's side under
# the OLD centroids (dot 0.71 vs 0.70); the retrained centroid 3 leans
# toward them (dot 0.985) so exactly these five vectors migrate 2 -> 3.
OUTLIER = [0.0, 0.0, 0.71, 0.70]
NEW_C3 = [0.0, 0.0, 0.5, 0.9]


def _corpus(spark):
    rows = []
    vid = 0
    for c in ANCHORS:
        for _ in range(10):
            rows.append((vid, [float(x) for x in c]))
            vid += 1
    for _ in range(5):
        rows.append((vid, [float(x) for x in OUTLIER]))
        vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _new_centroids():
    return [ANCHORS[0], ANCHORS[1], ANCHORS[2], NEW_C3]


def _rowset(df):
    return {
        (r["vec_id"], int(r["cell"])) for r in df.select("vec_id", "cell").collect()
    }


def _build_index(spark, tmp_path, name="ivf_idx"):
    path = os.path.join(str(tmp_path), name)
    similarity.ivf_assign_cells(_corpus(spark), ANCHORS).write.partitionBy(
        "cell"
    ).parquet(path)
    return path


def _cell_file_mtimes(path):
    out = {}
    for d in os.listdir(path):
        if not d.startswith("cell="):
            continue
        cell = int(d.split("=", 1)[1])
        full = os.path.join(path, d)
        out[cell] = {
            f: os.path.getmtime(os.path.join(full, f))
            for f in os.listdir(full)
            if f.startswith("part-")
        }
    return out


def test_retrain_migrate_matches_rebuild(spark, tmp_path):
    """Migrated index == ivf_assign_cells(corpus, new_centroids) as a
    rowset (bit-for-bit modulo order), and the outliers really moved."""
    path = _build_index(spark, tmp_path)
    corpus = _corpus(spark)
    new_c = _new_centroids()
    migrated, n_moved, n_touched = similarity.ivf_retrain_migrate(
        spark, path, new_c
    )
    rebuild = similarity.ivf_assign_cells(corpus, new_c)
    assert _rowset(migrated) == _rowset(rebuild)
    assert n_moved == 5  # exactly the planted outliers
    assert n_touched == 2  # source cell 2 + destination cell 3
    moved = {
        r["vec_id"]
        for r in migrated.filter(F.col("cell") == 3)
        .select("vec_id")
        .collect()
    }
    assert set(range(40, 45)) <= moved


def test_retrain_migrate_untouched_cells_not_rewritten(spark, tmp_path):
    """Cells that neither lose nor gain a vector keep their files
    byte-untouched (mtimes preserved) — migration cost is O(moved
    vectors' cells), never O(index)."""
    path = _build_index(spark, tmp_path)
    before = _cell_file_mtimes(path)
    similarity.ivf_retrain_migrate(spark, path, _new_centroids())
    after = _cell_file_mtimes(path)
    for untouched in (0, 1):
        assert after[untouched] == before[untouched]
    # touched cells were rewritten: fresh files
    assert after[2] != before[2]
    assert after[3] != before[3]


def test_retrain_migrate_noop_when_nothing_moves(spark, tmp_path):
    """Retraining to the SAME centroids touches nothing: zero moved,
    zero cells rewritten, every file mtime preserved."""
    path = _build_index(spark, tmp_path)
    before = _cell_file_mtimes(path)
    migrated, n_moved, n_touched = similarity.ivf_retrain_migrate(
        spark, path, ANCHORS
    )
    assert (n_moved, n_touched) == (0, 0)
    assert _cell_file_mtimes(path) == before
    assert _rowset(migrated) == _rowset(
        similarity.ivf_assign_cells(_corpus(spark), ANCHORS)
    )


def test_retrain_migrate_crash_rerun_exact(spark, tmp_path):
    """A crash between a mover's destination swap and its source swap
    leaves the vector in BOTH cells; re-running the migration converges
    to the exact rebuild (the dropDuplicates re-run protocol)."""
    path = os.path.join(str(tmp_path), "dup_idx")
    base = similarity.ivf_assign_cells(_corpus(spark), ANCHORS)
    # simulate the half-committed state: outliers present in their old
    # cell (2, from assignment) AND already swapped into cell 3
    dup = base.unionByName(
        base.filter(F.col("vec_id") >= 40).withColumn("cell", F.lit(3))
    )
    dup.write.partitionBy("cell").parquet(path)
    migrated, _, _ = similarity.ivf_retrain_migrate(
        spark, path, _new_centroids()
    )
    assert _rowset(migrated) == _rowset(
        similarity.ivf_assign_cells(_corpus(spark), _new_centroids())
    )
    counts = migrated.groupBy("vec_id").count().filter(F.col("count") > 1)
    assert counts.count() == 0


def test_align_centroids_recovers_permutation():
    """Aligning a shuffled, slightly-perturbed retrain output restores
    the old cell numbering (each slot gets the perturbed twin of its old
    centroid); mismatched counts raise instead of silently rebuilding."""
    import pytest

    perturbed = [[v + 0.01 for v in c] for c in ANCHORS]
    shuffled = [perturbed[2], perturbed[0], perturbed[3], perturbed[1]]
    aligned = similarity.align_centroids(ANCHORS, shuffled)
    assert aligned == perturbed
    with pytest.raises(ValueError, match="centroid counts differ"):
        similarity.align_centroids(ANCHORS, perturbed[:3])


def test_open_partitions_recovers_mid_swap_cell_aside(spark, tmp_path):
    """A reader opening an index left mid-swap (live cell dir
    missing, ``_old_cell=N`` aside present) must see the FULL index —
    open_partitions runs the recovery sweep before reading. A plain
    parquet read of the same state is BROKEN until someone sweeps:
    Spark's partition inference sees ``_old_cell`` as a second partition
    column and fails with CONFLICTING_PARTITION_COLUMN_NAMES (measured —
    loud, not a silent partial index, but every reader is still down
    until a maintenance run happens by)."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    path = _build_index(spark, tmp_path, "crash_idx")
    full = _rowset(spark.read.parquet(path))
    os.rename(
        os.path.join(path, "cell=1"), os.path.join(path, "_old_cell=1")
    )
    # the hazard: the aside dir breaks partition inference for readers
    with pytest.raises(SparkRuntimeException, match="CONFLICTING_PARTITION"):
        spark.read.parquet(path).collect()
    recovered = layout.open_partitions(spark, path, ["cell"])
    assert _rowset(recovered) == full
    assert os.path.exists(os.path.join(path, "cell=1"))
    # stale-aside case: both live and aside exist -> aside swept
    os.makedirs(os.path.join(path, "_old_cell=2"), exist_ok=True)
    layout.open_partitions(spark, path, ["cell"])
    assert not os.path.exists(os.path.join(path, "_old_cell=2"))


# --- streaming arrival path for the incremental dedup store ----------------

from pinterest_data_pipeline_spark.operators import dedup
from pinterest_data_pipeline_spark.plans.extensions import load_documents
from pinterest_data_pipeline_spark.streaming import pipeline as streaming

SF001 = "/root/testdata/sf0.001"


def _dedup_fixtures(spark, tmp_path):
    docs = load_documents(spark, SF001)
    base_docs = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) != 0)
    sig_path = os.path.join(str(tmp_path), "base_sigs")
    dedup.minhash_signatures(base_docs, "text", "doc_id").write.parquet(
        sig_path
    )
    base_sigs = spark.read.parquet(sig_path)
    arrivals = [
        docs.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 0),
        docs.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 10),
    ]
    return base_docs, base_sigs, arrivals


def _frozen(df):
    return {tuple(r) for r in df.collect()}


def test_stream_store_equals_sequential_batches(spark, tmp_path):
    """The stream-maintained store is identical (as rowsets: decisions
    AND accumulated signature store) to driving the same two arrivals
    through sequential batch calls of incremental_minhash_dedup — the
    streaming runtime adds delivery, not semantics."""
    base_docs, base_sigs, arrivals = _dedup_fixtures(spark, tmp_path)
    work = os.path.join(str(tmp_path), "stream_store")
    out = streaming.availablenow_incremental_dedup_roundtrip(
        spark, SF001, work, base_sigs, base_docs, arrivals
    )
    # sequential reference
    d1, delta1 = dedup.incremental_minhash_dedup(
        arrivals[0], base_sigs, base_docs, "text", "doc_id", threshold=0.3
    )
    kept1 = d1.filter(F.col("action") == "keep").select("doc_id")
    store2_sigs = base_sigs.unionByName(delta1)
    store2_docs = base_docs.unionByName(
        arrivals[0].join(kept1, "doc_id", "left_semi")
    )
    d2, delta2 = dedup.incremental_minhash_dedup(
        arrivals[1], store2_sigs, store2_docs, "text", "doc_id", threshold=0.3
    )
    cols = [
        "doc_id", "action", "n_store_matches", "n_prior_batch_matches",
        "best_match_id", "best_jaccard",
    ]
    assert _frozen(out.filter(F.col("arrival") == 1).select(*cols)) == _frozen(
        d1.select(*cols)
    )
    assert _frozen(out.filter(F.col("arrival") == 2).select(*cols)) == _frozen(
        d2.select(*cols)
    )
    stream_store = base_sigs.unionByName(
        spark.read.parquet(os.path.join(work, "sig_delta"))
        .drop("batch")
    )
    batch_store = base_sigs.unionByName(delta1).unionByName(delta2)
    assert _frozen(stream_store) == _frozen(batch_store)


def test_stream_store_replay_idempotent(spark, tmp_path):
    """Exactly-once at the table level: replaying a micro-batch whose
    checkpoint commit was lost (crash between the delta writes and the
    commit — simulated by deleting commits/1) overwrites its own
    batch-id-named directories with identical content; a further restart
    with nothing to do changes nothing."""
    base_docs, base_sigs, arrivals = _dedup_fixtures(spark, tmp_path)
    work = os.path.join(str(tmp_path), "replay_store")
    streaming.availablenow_incremental_dedup_roundtrip(
        spark, SF001, work, base_sigs, base_docs, arrivals
    )

    def state():
        return (
            _frozen(spark.read.parquet(os.path.join(work, "decisions"))),
            _frozen(spark.read.parquet(os.path.join(work, "sig_delta"))),
            _frozen(spark.read.parquet(os.path.join(work, "doc_delta"))),
        )

    first = state()
    # crash simulation: batch 1's delta dirs exist but its commit is gone.
    # Spark commits via atomic temp-write + rename of the entry AND its
    # Hadoop checksum sidecar, so a real crash leaves both or neither —
    # remove both (a stale .crc alone fails the replay's rename loudly).
    os.remove(os.path.join(work, "_checkpoint", "commits", "1"))
    crc = os.path.join(work, "_checkpoint", "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    landing = os.path.join(work, "landing")
    stream = (
        spark.readStream.schema(arrivals[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = streaming.incremental_dedup_store_sink(
        stream, work, base_sigs, base_docs, available_now=True
    )
    assert q.name == f"incremental_dedup_store_sink:{work}"
    q.awaitTermination()
    assert state() == first
    # clean restart: no new files, no new batches, nothing changes
    stream = (
        spark.readStream.schema(arrivals[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = streaming.incremental_dedup_store_sink(
        stream, work, base_sigs, base_docs, available_now=True
    )
    q.awaitTermination()
    assert state() == first


# --- bucket-store compaction -----------------------------------------------


def _bucket_store(spark, tmp_path, name="bucket_store"):
    """(band, bh_part)-partitioned store over the sf0.001 base docs: one
    file per leaf (clean build), then an 8-way-fragmented delta append."""
    docs = load_documents(spark, SF001)
    base = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)).isin(1, 2, 3, 4))
    delta_docs = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)).isin(5, 6))
    path = os.path.join(str(tmp_path), name)
    (
        dedup.band_bucket_store(
            dedup.minhash_signatures(base, "text", "doc_id"), "doc_id"
        )
        .repartition("band", "bh_part")
        .write.partitionBy("band", "bh_part")
        .parquet(path)
    )
    delta = dedup.band_bucket_store(
        dedup.minhash_signatures(delta_docs, "text", "doc_id"), "doc_id"
    )
    delta.repartition(8).write.mode("append").partitionBy(
        "band", "bh_part"
    ).parquet(path)
    return path


def _leaf_file_stats(path):
    import glob

    out = {}
    for d in glob.glob(os.path.join(path, "band=*", "bh_part=*")):
        files = sorted(glob.glob(os.path.join(d, "part-*")))
        out[d[len(path) + 1 :]] = [
            (os.path.basename(f), os.path.getmtime(f)) for f in files
        ]
    return out


def test_bucket_compact_ceiling_and_lossless(spark, tmp_path):
    """After compaction every leaf is at its ceil(rows/target) file
    ceiling, total file count strictly dropped, and the rowset is
    unchanged."""
    path = _bucket_store(spark, tmp_path)
    before_rows = {tuple(r) for r in spark.read.parquet(path).collect()}
    compacted, n_before, n_after, n_touched = layout.compact_partitions(
        spark, path, ["band", "bh_part"], "doc_id", 65536
    )
    assert n_after < n_before and n_touched > 0
    stats = _leaf_file_stats(path)
    counts = {
        (r["band"], r["bh_part"]): r["n"]
        for r in spark.read.parquet(path)
        .groupBy("band", "bh_part")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    import math

    for (band, part), n in counts.items():
        leaf = os.path.join(f"band={band}", f"bh_part={part}")
        assert len(stats[leaf]) <= max(1, math.ceil(n / 65536))
    assert {tuple(r) for r in compacted.collect()} == before_rows


def test_bucket_compact_untouched_leaves_not_rewritten(spark, tmp_path):
    """A leaf already at its file ceiling is never rewritten: same file
    names, same mtimes. Fragmented leaves are; a second compaction run
    touches nothing."""
    path = _bucket_store(spark, tmp_path)
    stats0 = _leaf_file_stats(path)
    untouched0 = {k: v for k, v in stats0.items() if len(v) == 1}
    assert untouched0 is not None
    layout.compact_partitions(spark, path, ["band", "bh_part"], "doc_id", 65536)
    stats1 = _leaf_file_stats(path)
    for leaf, files in untouched0.items():
        assert stats1[leaf] == files
    _, n_before2, n_after2, n_touched2 = layout.compact_partitions(
        spark, path, ["band", "bh_part"], "doc_id", 65536
    )
    assert n_touched2 == 0 and n_before2 == n_after2
    assert _leaf_file_stats(path) == stats1


def test_open_partitions_sweeps_bucket_store_asides(spark, tmp_path):
    """Both crash states converge: aside-without-live renames back
    (the leaf's data is the aside); aside-with-live sweeps the stale
    copy. open_partitions runs the sweep on the read path."""
    import shutil

    path = _bucket_store(spark, tmp_path)
    all_rows = {tuple(r) for r in spark.read.parquet(path).collect()}
    live = os.path.join(path, "band=0", "bh_part=3")
    aside = os.path.join(path, "band=0", "_old_bh_part=3")
    # crash state A: live renamed aside, replacement never arrived
    os.rename(live, aside)
    assert {
        tuple(r) for r in layout.open_partitions(spark, path, ["band", "bh_part"]).collect()
    } == all_rows
    assert os.path.exists(live) and not os.path.exists(aside)
    # crash state B: both exist — the aside is the stale pre-swap copy
    shutil.copytree(live, aside)
    assert {
        tuple(r) for r in layout.open_partitions(spark, path, ["band", "bh_part"]).collect()
    } == all_rows
    assert not os.path.exists(aside)


def test_bucket_compact_decisions_identical(spark, tmp_path):
    """Compaction never changes answers: incremental dedup decisions
    against the compacted store equal decisions against the fragmented
    store, row for row."""
    docs = load_documents(spark, SF001)
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    store_docs = docs.filter(
        F.pmod(F.col("doc_id"), F.lit(10)).isin(1, 2, 3, 4, 5, 6)
    )
    path = _bucket_store(spark, tmp_path)
    d_frag, _ = dedup.incremental_minhash_dedup(
        batch, None, store_docs, "text", "doc_id", threshold=0.3,
        store_buckets=spark.read.parquet(path),
    )
    frag_rows = _frozen(d_frag)
    compacted, _, _, _ = layout.compact_partitions(
        spark, path, ["band", "bh_part"], "doc_id", 65536
    )
    d_comp, _ = dedup.incremental_minhash_dedup(
        batch, None, store_docs, "text", "doc_id", threshold=0.3,
        store_buckets=compacted,
    )
    assert _frozen(d_comp) == frag_rows


def test_bucket_store_meta_sidecar(spark, tmp_path):
    """The probe's bh_part modulus must be the n_parts the
    store was BUILT with — a mismatch silently drops candidates (no
    error, decisions just change). The _BUCKET_STORE_META sidecar makes
    the layout travel with the store: open_bucket_store returns it,
    meta-driven decisions equal the default-layout decisions, and a
    store without the sidecar fails loudly."""
    import pytest

    docs = load_documents(spark, SF001)
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    store_docs = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) != 0)
    sigs = dedup.minhash_signatures(store_docs, "text", "doc_id")
    path = os.path.join(str(tmp_path), "meta_store")
    dedup.write_bucket_store(sigs, "doc_id", path, n_parts=8)
    store, meta = dedup.open_bucket_store(spark, path)
    assert meta == {"n_parts": 8, "k": 32, "bands": 8}
    d_meta, _ = dedup.incremental_minhash_dedup(
        batch, None, store_docs, "text", "doc_id", threshold=0.3,
        store_buckets=store, store_parts=meta["n_parts"],
    )
    # reference: the signature-store (layout-free) path
    d_ref, _ = dedup.incremental_minhash_dedup(
        batch, sigs, store_docs, "text", "doc_id", threshold=0.3
    )
    assert _frozen(d_meta) == _frozen(d_ref)
    # the hazard the sidecar prevents: a guessed n_parts=16 against the
    # 8-part store raises nothing and silently loses store CANDIDATES —
    # pmod(h,16) lands on pmod(h,8) or pmod(h,8)+8 with ~even odds, so
    # about half the probe's bucket keys miss their store partition
    # (decisions can survive at tiny SF because near-dup pairs match on
    # several bands; the candidate loss is the structural defect)
    batch_sigs = dedup.minhash_signatures(batch, "text", "doc_id")
    bbuckets = dedup.band_buckets(batch_sigs, "doc_id")

    def band_hits(parts: int) -> int:
        probe = bbuckets.select(
            F.col("doc_id").alias("bid"), "band", "band_hash"
        ).withColumn(
            "bh_part", F.pmod(F.col("band_hash"), F.lit(parts)).cast("int")
        )
        return store.join(probe, ["band", "bh_part", "band_hash"]).count()

    # measured on sf0.001: 66 band-level hits with the true modulus, 27
    # with the guessed one — at larger corpora the lost bands become
    # lost PAIRS and thus lost drop decisions
    assert band_hits(16) < band_hits(8)
    # no sidecar -> loud failure, not silent candidate loss
    os.remove(os.path.join(path, dedup.BUCKET_STORE_META))
    with pytest.raises(FileNotFoundError, match="sidecar"):
        dedup.open_bucket_store(spark, path)


# --- streaming arrival paths: IVF upsert + KMV merge ----------------------


def _replay_crash(work):
    """Simulate a crash between batch 1's writes and its checkpoint
    commit: remove the commit entry AND its checksum sidecar (an atomic
    rename crash leaves both or neither)."""
    os.remove(os.path.join(work, "_checkpoint", "commits", "1"))
    crc = os.path.join(work, "_checkpoint", "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _restart_sink(spark, work, schema, start):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(work, "landing"))
    )
    q = start(stream)
    q.awaitTermination()


def test_ivf_stream_delta_equals_batch_assign(spark, tmp_path):
    """The stream-built index delta is identical (as a rowset) to a
    batch ivf_assign_cells over the same arrivals — the streaming
    runtime adds delivery, not semantics — and replaying a lost-commit
    batch changes nothing."""
    corpus = _corpus(spark)
    arrivals = [
        corpus.filter(F.col("vec_id") < 20),
        corpus.filter(F.col("vec_id") >= 20),
    ]
    work = os.path.join(str(tmp_path), "ivf_stream")
    delta = streaming.availablenow_ivf_upsert_roundtrip(
        spark, work, arrivals, ANCHORS
    )
    assert _rowset(delta) == _rowset(
        similarity.ivf_assign_cells(corpus, ANCHORS)
    )
    first = _rowset(spark.read.parquet(os.path.join(work, "delta")))
    _replay_crash(work)
    _restart_sink(
        spark, work, arrivals[0].schema,
        lambda s: streaming.ivf_stream_upsert_sink(
            s, work, ANCHORS, available_now=True
        ),
    )
    assert _rowset(spark.read.parquet(os.path.join(work, "delta"))) == first


@pytest.mark.parametrize("shape", ["all_empty", "mixed"])
def test_ivf_stream_delta_with_empty_batches(spark, tmp_path, shape):
    """An empty arrival is an ordinary micro-batch: its delta directory
    holds no parquet file, and the roundtrip still returns the batch
    assignment of the union of the arrivals, with the same columns."""
    corpus = _corpus(spark)
    empty = corpus.limit(0)
    arrivals = [empty, empty] if shape == "all_empty" else [empty, corpus, empty]
    work = os.path.join(str(tmp_path), "ivf_stream_empty")
    delta = streaming.availablenow_ivf_upsert_roundtrip(
        spark, work, arrivals, ANCHORS
    )
    union = arrivals[0]
    for arr in arrivals[1:]:
        union = union.unionByName(arr)
    expected = similarity.ivf_assign_cells(union, ANCHORS)
    assert delta.columns == expected.columns
    assert _rowset(delta) == _rowset(expected)


def test_kmv_stream_versions_equal_sequential_merges(spark, tmp_path):
    """Each stream-maintained sketch version equals the sequential batch
    merge at the same arrival point, row for row; a replayed batch
    regenerates identical versions."""
    from pinterest_data_pipeline_spark.operators import sketches

    docs = load_documents(spark, SF001)

    def toks(df):
        return df.select(
            F.explode(F.split(F.col("text"), " ")).alias("token")
        )

    base = sketches.kmv_sketch(
        toks(docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) != 0)),
        "token", k=64,
    )
    arrivals = [
        docs.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 0),
        docs.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 10),
    ]
    work = os.path.join(str(tmp_path), "kmv_stream")
    versions = streaming.availablenow_kmv_merge_roundtrip(
        spark, work, base, arrivals
    )
    seq1 = sketches.kmv_merge(
        base, sketches.kmv_sketch(toks(arrivals[0]), "token", k=64), k=64
    )
    seq2 = sketches.kmv_merge(
        seq1, sketches.kmv_sketch(toks(arrivals[1]), "token", k=64), k=64
    )
    assert _frozen(versions[0]) == _frozen(seq1)
    assert _frozen(versions[1]) == _frozen(seq2)
    state = [_frozen(v) for v in versions]
    _replay_crash(work)
    _restart_sink(
        spark, work, arrivals[0].schema,
        lambda s: streaming.kmv_stream_merge_sink(
            s, work, base, available_now=True
        ),
    )
    after = [
        _frozen(spark.read.parquet(p))
        for p in streaming._committed_batch_dirs(
            os.path.join(work, "sketch"), 1 << 62
        )
    ]
    assert after == state


def test_store_surgery_queries_rerun_in_session(spark):
    """Regression (caught by a benchmark's pre-warm + timed pass): a
    query that rebuilds its work dir with OS-level copytree/rename must
    run twice in the SAME session with identical results — Spark's
    shared file-listing cache otherwise serves the first run's deleted
    files (FAILED_READ_FILE.FILE_NOT_EXIST). The operators now
    refreshByPath after every out-of-band mutation."""
    from pinterest_data_pipeline_spark.plans import extensions

    first = _frozen(extensions.dedup_bucket_store_compaction(spark, SF001))
    assert _frozen(
        extensions.dedup_bucket_store_compaction(spark, SF001)
    ) == first
    mig1 = _frozen(extensions.ann_ivf_centroid_retrain(spark, SF001))
    assert _frozen(extensions.ann_ivf_centroid_retrain(spark, SF001)) == mig1


def test_stream_upsert_compact_retrain_lifecycle(spark, tmp_path):
    """End-to-end lifecycle: a stream-fed delta folds into
    the base index, compaction merges the fragments, and a drift
    retrain migrates the result — after all three maintenance
    verbs the index rowset equals a from-scratch rebuild of the full
    corpus under the final centroids."""
    corpus = _corpus(spark)
    base = corpus.filter(F.col("vec_id") < 20)
    arrivals = [
        corpus.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 35)),
        corpus.filter(F.col("vec_id") >= 35),
    ]
    index_path = os.path.join(str(tmp_path), "lifecycle_idx")
    similarity.ivf_assign_cells(base, ANCHORS).write.partitionBy(
        "cell"
    ).parquet(index_path)
    # arrival: stream-fed delta directories
    work = os.path.join(str(tmp_path), "lifecycle_stream")
    delta = streaming.availablenow_ivf_upsert_roundtrip(
        spark, work, arrivals, ANCHORS
    )
    # fold the deltas into the base cells (fragmented append), compact
    delta.select("vec_id", "embedding", "cell").repartition(4).write.mode(
        "append"
    ).partitionBy("cell").parquet(index_path)
    compacted, n_before, n_after, _ = layout.compact_partitions(
        spark, index_path, ["cell"], "vec_id", 4096
    )
    assert n_after < n_before
    assert _rowset(compacted) == _rowset(
        similarity.ivf_assign_cells(corpus, ANCHORS)
    )
    # drift retrain: the planted outliers migrate, rowset == rebuild
    migrated, n_moved, _ = similarity.ivf_retrain_migrate(
        spark, index_path, _new_centroids()
    )
    assert n_moved == 5
    assert _rowset(migrated) == _rowset(
        similarity.ivf_assign_cells(corpus, _new_centroids())
    )


def test_gated_retrain_untriggered_never_rewrites(spark, tmp_path):
    """The gate's no-op branch costs nothing but the rescoring pass: a
    threshold above the observed drift leaves every cell file
    byte-untouched (mtimes preserved), while the triggered branch
    migrates. Driven at the operator level with the planted-outlier
    corpus (the registered query's digest certifies rowsets; mtimes are
    file-layout territory)."""
    path = _build_index(spark, tmp_path, "gated_idx")
    before = _cell_file_mtimes(path)
    # untriggered: same centroids stand in for "gate said stale? no" —
    # the migrate call is what the gate skips; nothing may move
    migrated, n_moved, n_touched = similarity.ivf_retrain_migrate(
        spark, path, ANCHORS
    )
    assert (n_moved, n_touched) == (0, 0)
    assert _cell_file_mtimes(path) == before
    # triggered: the drifted centroids migrate exactly the outliers
    migrated, n_moved, n_touched = similarity.ivf_retrain_migrate(
        spark, path, _new_centroids()
    )
    assert n_moved == 5 and n_touched == 2
