"""Sequence packing + sliding chunking (operators/packing.py)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators import packing


def _naive_pack(spark, df, budget):
    """Reference semantics: one global-order window (fine at test scale)."""
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return df.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(cum / budget).cast("long").alias("bin_id"),
        (cum % budget).cast("long").alias("bin_offset"),
    )


def _sized(spark, n=500, seed_mod=37):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % seed_mod + 1).cast("long").alias("n_tokens"),
    )


def test_pack_matches_naive_global_prefix_sum(spark):
    df = _sized(spark)
    got = packing.pack_sequences(df, "n_tokens", "doc_id", budget=64)
    want = _naive_pack(spark, df, 64)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_pack_is_invariant_to_block_count(spark):
    """Blocks only parallelize the prefix sum — n_blocks must be invisible
    in the result (including n_blocks=1 and more blocks than rows)."""
    df = _sized(spark, n=100)
    base = packing.pack_sequences(df, "n_tokens", "doc_id", budget=50, n_blocks=1)
    for nb in (7, 64, 1000):
        other = packing.pack_sequences(df, "n_tokens", "doc_id", budget=50, n_blocks=nb)
        assert other.exceptAll(base).count() == 0, nb
        assert base.exceptAll(other).count() == 0, nb


def test_pack_bin_accounting(spark):
    """Every bin except possibly the last starts at offset < budget, bins
    are dense from 0, and offsets advance by exactly n_tokens within the
    concatenated stream."""
    df = _sized(spark, n=200)
    rows = (
        packing.pack_sequences(df, "n_tokens", "doc_id", budget=64)
        .orderBy("doc_id")
        .collect()
    )
    stream_pos = 0
    for r in rows:
        assert r.bin_id == stream_pos // 64
        assert r.bin_offset == stream_pos % 64
        stream_pos += r.n_tokens
    assert rows[0].bin_id == 0 and rows[0].bin_offset == 0


def _python_pack(rows, budget):
    """Plain-Python reference: an exclusive prefix sum of the sizes in
    doc_id order, a null size counting as 0 tokens."""
    out, pos = {}, 0
    for doc_id, n in sorted(rows):
        out[doc_id] = (n, pos // budget, pos % budget)
        pos += n or 0
    return out


def _packed_rows(df, budget, n_blocks=64):
    got = packing.pack_sequences(df, "n_tokens", "doc_id", budget, n_blocks)
    return {r.doc_id: (r.n_tokens, r.bin_id, r.bin_offset) for r in got.collect()}


def test_pack_empty_input_returns_empty_frame_with_same_schema(spark):
    empty = _sized(spark, n=0)
    got = packing.pack_sequences(empty, "n_tokens", "doc_id", budget=64)
    want = packing.pack_sequences(_sized(spark, n=3), "n_tokens", "doc_id", budget=64)
    assert got.schema == want.schema
    assert _packed_rows(empty, 64) == _python_pack([], 64) == {}


def test_pack_null_sizes_count_as_zero_tokens(spark):
    """Blocks whose sizes are all null (doc_ids 10-19 of four blocks) and
    scattered nulls elsewhere pack like 0-token records; so does a frame
    whose every size is null."""
    rows = [
        (i, None if 10 <= i < 20 or i % 7 == 3 else i % 5 + 1) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    assert _packed_rows(df, 8, n_blocks=4) == _python_pack(rows, 8)
    all_null = [(i, None) for i in range(12)]
    df = spark.createDataFrame(all_null, "doc_id long, n_tokens long")
    assert _packed_rows(df, 8, n_blocks=4) == _python_pack(all_null, 8)


def test_pack_null_order_values_pack_first(spark):
    """A null doc_id packs ahead of every other row, as Spark's ascending
    ORDER BY places nulls; a frame whose only doc_id is null packs at 0."""
    rows = [(1, 5), (2, 7), (None, 3)]
    want, pos = {}, 0
    for doc_id, n in sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0)):
        want[doc_id] = (n, pos // 4, pos % 4)
        pos += n
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    assert _packed_rows(df, 4) == want == {
        None: (3, 0, 0), 1: (5, 0, 3), 2: (7, 2, 0),
    }
    only_null = spark.createDataFrame([(None, 3)], "doc_id long, n_tokens long")
    assert _packed_rows(only_null, 4) == {None: (3, 0, 0)}


def test_chunk_sliding_covers_text_exactly(spark):
    """Chunks tile the document: starts advance by stride, the last chunk
    is the only one allowed to be short, and reconstructing from
    (start, len) covers every character."""
    df = spark.createDataFrame(
        [(1, "a" * 1000), (2, "b" * 10), (3, "c" * 256)], ["doc_id", "text"]
    )
    rows = (
        packing.chunk_sliding(df, "text", "doc_id", size=256, stride=192)
        .orderBy("doc_id", "chunk_start")
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    lengths = {1: 1000, 2: 10, 3: 256}
    for doc_id, chunks in by_doc.items():
        n = lengths[doc_id]
        starts = [c.chunk_start for c in chunks]
        assert starts == list(range(0, n, 192))
        for c in chunks:
            assert c.chunk_len == min(256, n - c.chunk_start)
        # full coverage: last chunk reaches the end
        last = chunks[-1]
        assert last.chunk_start + last.chunk_len == n


def test_chunk_sliding_drops_empty_text(spark):
    df = spark.createDataFrame([(1, ""), (2, "xy")], ["doc_id", "text"])
    rows = packing.chunk_sliding(df, "text", "doc_id", size=4, stride=2).collect()
    assert {r.doc_id for r in rows} == {2}
