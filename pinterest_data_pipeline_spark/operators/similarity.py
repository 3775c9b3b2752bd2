"""Approximate-nearest-neighbor search over embedding columns.

Three tiers, increasing scale-fitness:

* ``cosine_topk`` — brute force: broadcast the (small) query set, score every
  corpus vector with built-in array lambdas (``zip_with`` + ``aggregate`` —
  JVM-side, no Python), rank per query. Exact baseline; O(n·q·d) but embar-
  rassingly parallel with zero shuffle until the final per-query top-k.
* ``cosine_topk_quantized`` — same plan on integer-quantized components;
  bit-exact across engines, so it carries the DuckDB oracle for the family.
* ``lsh_topk`` — random-hyperplane LSH: sign-bit bucket key per vector,
  candidates = bucket collisions with the query (multi-probe over 1-bit
  flips), exact re-rank on candidates. At 100 TB the bucket join replaces
  the full scan; recall is tunable via n_planes/probes.

Hyperplanes are derived from a seeded RNG at plan-build time and inlined as
literal arrays — every run and every engine sees identical planes.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources import layout
from .litutil import array_sql, fast_array_literal


def _stack_vectors(series: pd.Series, dim: int | None, ctx: str):
    """np.vstack an Arrow batch of embeddings with a descriptive failure.

    A null or ragged vector otherwise surfaces as an opaque ValueError deep
    inside worker-side numpy reshape/vstack; validate up front and name the
    offending condition. Returns a (batch, dim) float array.
    """
    import numpy as np

    if len(series) == 0:  # Arrow hands empty batches to UDFs on empty splits
        if dim is not None:
            return np.empty((0, dim), dtype=np.float64)
        raise ValueError(
            f"{ctx}: empty Arrow batch with no declared dim — pass the "
            "expected embedding dim so a (0, dim) frame can be produced"
        )
    if series.isna().any():
        raise ValueError(
            f"{ctx}: {int(series.isna().sum())} null embedding(s) in batch — "
            "filter nulls (e.g. .filter(col(vec).isNotNull())) before this operator"
        )
    lengths = series.map(len)
    if lengths.nunique() > 1 or (dim is not None and int(lengths.iloc[0]) != dim):
        seen = sorted(set(int(x) for x in lengths.unique()))
        raise ValueError(
            f"{ctx}: ragged/mis-sized embeddings — expected fixed dim "
            f"{dim if dim is not None else seen[0]}, saw lengths {seen[:10]}"
        )
    mat = np.vstack(series.to_numpy())
    if not np.issubdtype(mat.dtype, np.number):  # None inside a vector
        raise ValueError(
            f"{ctx}: null/non-numeric element inside embedding vector(s) — "
            "vectors must be dense arrays of numbers"
        )
    return mat


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns via zip_with + aggregate."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def as_double(a: Column) -> Column:
    return F.transform(a, lambda v: v.cast("double"))


def quantize(a: Column, scale: int = 1000) -> Column:
    """Integer-quantize an embedding: round(x*scale) per component.

    float32 -> double -> round is deterministic and identical in Spark and
    DuckDB, which makes integer dot products bit-exact cross-engine.
    """
    return F.transform(a, lambda v: F.round(v.cast("double") * scale).cast("long"))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for every query vector (brute-force baseline).

    ``queries`` must be small (it is broadcast); the corpus scan is a single
    narrow pass. The only shuffle is the per-query rank, keyed on query_id.
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("query_vec")
    )
    scored = (
        corpus.join(F.broadcast(q), F.col(id_col) != F.col(query_id_col))
        .withColumn(
            "cosine_sim",
            F.round(cosine(as_double(F.col(vec_col)), as_double(F.col("query_vec"))), 6),
        )
        .select(query_id_col, id_col, "cosine_sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "cosine_sim", F.col("rk").alias("rank"))
    )


def cosine_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scale: int = 1000,
) -> DataFrame:
    """Top-k by integer-quantized dot product — the oracle-exact variant."""
    q = queries.select(
        F.col(id_col).alias(query_id_col), quantize(F.col(vec_col), scale).alias("query_vec")
    )
    scored = (
        corpus.select(F.col(id_col), quantize(F.col(vec_col), scale).alias("qvec"))
        .join(F.broadcast(q), F.col(id_col) != F.col(query_id_col))
        .withColumn(
            "dot_q",
            F.aggregate(
                F.zip_with(F.col("qvec"), F.col("query_vec"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )
        .select(query_id_col, id_col, "dot_q")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("dot_q"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "dot_q", F.col("rk").alias("rank"))
    )


def knn_partial_topk_matmul(
    corpus: DataFrame,
    audited_rows,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "c_vec",
    label_col: str = "label",
    extra: int = 1,
) -> DataFrame:
    """Exact integer-dot top-k candidates per query via one GEMM per
    Arrow batch, with per-batch partial selection.

    ``corpus`` carries ALREADY-QUANTIZED integer vectors (``quantize``
    output), so the kernel never rounds a float — the one cross-engine
    knife-edge stays Spark-side. The float64 BLAS product is EXACT
    because every intermediate partial sum is an exactly-representable
    integer: the kernel asserts the true per-batch bound
    ``max|x| * max|q| * dim < 2**53`` (a flat component cap alone would
    NOT suffice — 2**25 components at dim 64 can reach 2**56).
    ``audited_rows`` is the bounded query set (collected Rows of
    (q_id, q_vec, q_label)).

    Scale shape: the global top-k per query under the total order (dot desc,
    id asc) is a subset of every batch's local top-k under the same order,
    so each Arrow batch emits at most ``q*(k+extra)`` rows — Python->JVM
    traffic is corpus-size-independent and the caller finishes with one
    WindowGroupLimit rank. Replaces a q*n interpreted zip_with/aggregate
    evaluation (a measured ~10x higher-order-function tax) with one C-side
    matmul.

    CONTRACT: ``extra`` must be >= the maximum number of
    rows the caller drops per (query, batch) AFTER this kernel — the
    per-batch partial has already truncated to k+extra, so any larger
    post-filter silently loses true top-k candidates. The default
    ``extra=1`` covers exactly one dropped row per query (the self-match
    ``vec_id == q_id``); a caller excluding a label set or an id list
    must pass a matching slack. Call sites pass
    ``extra`` EXPLICITLY with a comment naming the post-filter it
    covers, so the slack-vs-filter pairing is reviewable at each caller
    (see plans/extensions.py quality_embedding_proximity_audit /
    quality_knn_label_agreement).
    """
    import numpy as np

    out_schema_empty = (
        "q_id long, q_label int, vec_id long, label int, dot_q long"
    )
    if not audited_rows:  # empty corpus/audit -> empty frame, not a crash
        spark = corpus.sparkSession
        return spark.createDataFrame([], out_schema_empty)
    q_ids = np.array([int(r[0]) for r in audited_rows], dtype=np.int64)
    q_mat = np.array([list(r[1]) for r in audited_rows], dtype=np.float64)
    q_labels = [r[2] for r in audited_rows]
    n_q, dim = q_mat.shape
    q_absmax = float(np.abs(q_mat).max()) if q_mat.size else 0.0
    out_schema = (
        "q_id long, q_label int, vec_id long, label int, dot_q long"
    )
    if extra < 0:
        raise ValueError(f"extra must be >= 0, got {extra}")
    take = k + extra  # slack for caller-side post-ranking drops (see docstring)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            labels = pdf[label_col].to_numpy()
            x = _stack_vectors(pdf[vec_col], dim, "knn_partial_topk_matmul")
            x_absmax = float(np.abs(x).max()) if x.size else 0.0
            # correctness-critical: must survive `python -O`,
            # so an explicit raise rather than an assert
            if not x_absmax * q_absmax * dim < 2**53:
                raise ValueError(
                    "quantized components too large for exact float64 GEMM "
                    f"(max|x|={x_absmax:g}, max|q|={q_absmax:g}, dim={dim})"
                )
            # pre-sort by id so a stable sort on -dot yields (dot desc, id asc)
            order_ids = np.argsort(ids, kind="stable")
            ids, labels, x = ids[order_ids], labels[order_ids], x[order_ids]
            dots = x @ q_mat.T  # (n, q) exact integer-valued float64
            sel = np.argsort(-dots, axis=0, kind="stable")[: min(take, len(ids))]
            rows = []
            for j in range(n_q):
                idx = sel[:, j]
                rows.append(
                    pd.DataFrame(
                        {
                            "q_id": q_ids[j],
                            "q_label": q_labels[j],
                            "vec_id": ids[idx],
                            "label": labels[idx],
                            "dot_q": dots[idx, j].astype(np.int64),
                        }
                    )
                )
            yield pd.concat(rows, ignore_index=True)

    return corpus.mapInPandas(kernel, out_schema)


def quantize_int8_longform(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension symmetric int8 quantization, long (vec_id, pos, code) form.

    The vector-compression step a 100 TB embedding store runs before ANN:
    codes are ``round(x * 127 / maxabs(dim))`` clamped to [-127, 127], with
    the per-dimension scale learned in a first aggregation pass. Two jobs:

    * pass 1 — posexplode -> groupBy(pos) max(abs): output is DIM rows
      (dimension-bounded, NOT corpus-bounded), so broadcasting it back is
      safe at any corpus size — this is the sanctioned broadcast, unlike a
      corpus-derived frame.
    * pass 2 — map-side join + pure projection; no further shuffle.

    All arithmetic is float64 with a terminal half-away-from-zero round —
    deterministic and identical in Spark and DuckDB, so the codes carry an
    exact SQL oracle.
    """
    exploded = corpus.select(
        F.col(id_col), F.posexplode(as_double(F.col(vec_col))).alias("pos", "val")
    )
    scales = exploded.groupBy("pos").agg(F.max(F.abs(F.col("val"))).alias("maxabs"))
    code = F.when(
        F.col("maxabs") > 0,
        F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.round(F.col("val") * 127.0 / F.col("maxabs")).cast("int")),
        ),
    ).otherwise(F.lit(0))
    return exploded.join(F.broadcast(scales), "pos").select(
        id_col, "pos", code.alias("code")
    )


def two_stage_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k_coarse: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    coarse_scale: int = 100,
) -> DataFrame:
    """Production retrieval shape: cheap coarse scoring -> top-``k_coarse``
    candidates -> exact full-precision rerank -> top-``k``.

    Stage 1 scores every corpus vector with a COARSELY quantized integer
    dot product (scale 100 — 10x cheaper integers than the oracle-exact
    scale-1000 variant) and keeps ``k_coarse`` candidates per query; stage 2
    rescores only those candidates with the exact float cosine. At 100 TB
    the full-precision vectors never fan out: the rerank join touches
    ``queries x k_coarse`` rows. Both stages rank on engine-exact values
    (integer dot; cosine rounded to 6 before ranking) with ``vec_id``
    tie-breaks, so the composition carries an exact cross-engine oracle.
    """
    candidates = cosine_topk_quantized(
        corpus,
        queries,
        k=k_coarse,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        scale=coarse_scale,
    ).select(query_id_col, id_col)
    q = queries.select(
        F.col(id_col).alias(query_id_col), as_double(F.col(vec_col)).alias("query_vec")
    )
    rescored = (
        candidates.join(corpus.select(id_col, vec_col), id_col)
        .join(F.broadcast(q), query_id_col)
        .withColumn(
            "cosine_sim",
            F.round(cosine(as_double(F.col(vec_col)), F.col("query_vec")), 6),
        )
        .select(query_id_col, id_col, "cosine_sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        rescored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "cosine_sim", F.col("rk").alias("rank"))
    )


def lsh_topk_multitable(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    n_planes: int = 3,
    n_tables: int = 16,
    seed: int = 1234,
) -> DataFrame:
    """ANN top-k via OR-amplified multi-table LSH + exact cosine rerank.

    The working configuration for moderate-similarity corpora where
    single-table LSH recall collapses (see :func:`lsh_topk`): ``n_tables``
    independent 3-plane tables, candidates = union of bucket collisions
    across tables, exact rerank on the deduplicated candidate set. At
    similarity ~0.4 the per-pair collision probability is
    ``1-(1-(1-θ/π)^3)^16 ≈ 0.99``, so top-k recall is near-exhaustive —
    the n^(1+rho) candidate cost OR-amplification pays near the
    similarity bulk (same trade documented for embedding_near_duplicates).

    All tables ride ONE corpus scan: each row projects its n_tables
    (table, bucket) keys in a single pass, explodes, and one equi-join on
    (table, bucket) replaces n_tables separate scan+join rounds — at 16
    tables that is a 16x scan reduction (measured ~6x wall-clock on the
    registered query), and at 100 TB it is the difference between one
    corpus pass and sixteen. No all-pairs stage anywhere.
    """
    keys = _multitable_keys(n_planes, dim, n_tables, seed, vec_col)
    bucketed = corpus.select(
        F.col(id_col), F.explode(keys).alias("tb")
    ).select(id_col, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    qb = queries.select(
        F.col(id_col).alias(query_id_col),
        F.explode(keys).alias("tb"),
    ).select(query_id_col, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    cands = (
        bucketed.join(F.broadcast(qb), ["tbl", "bucket"])
        .select(query_id_col, id_col)
        .filter(F.col(id_col) != F.col(query_id_col))
        .distinct()
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col), as_double(F.col(vec_col)).alias("query_vec")
    )
    scored = (
        cands.join(corpus.select(id_col, vec_col), id_col)
        .join(F.broadcast(q), query_id_col)
        .withColumn(
            "cosine_sim",
            F.round(cosine(as_double(F.col(vec_col)), F.col("query_vec")), 6),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "cosine_sim", F.col("rk").alias("rank"))
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 1234) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _multitable_keys(
    n_planes: int, dim: int, n_tables: int, seed: int, vec_col: str
) -> Column:
    """The (tbl, bucket)-keys expression for the multi-table LSH scan,
    built as ONE SQL string and parsed JVM-side in one call.

    ALL planes ship as ONE nested literal (array<array<array<double>>>,
    a single Literal node) and the per-table buckets are computed inside
    a transform lambda, so the expression tree holds n_planes dot
    subtrees instead of n_tables * n_planes — at 16x3 that cut first-run
    analysis/compile from ~4 s to well under a second on the registered
    query with BIT-IDENTICAL results (same dot fold order, same plane
    doubles, same bucket strings). Built through the Column API the
    lambda cost one py4j round trip per node; the SQL text costs one
    parse. The dot fold starts from ``0.0D``, a double like
    :func:`dot`'s ``F.lit(0.0)`` (SQL ``0.0`` is a decimal).
    """
    all_planes = [
        _hyperplanes(n_planes, dim, seed + 1000 * t) for t in range(n_tables)
    ]
    planes = array_sql([[list(map(float, p)) for p in tbl] for tbl in all_planes])
    vec = f"transform(`{vec_col}`, e -> CAST(e AS DOUBLE))"
    bits = ", ".join(
        f"CASE WHEN aggregate(zip_with({vec}, tp[{p}], (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v) >= 0 THEN '1' ELSE '0' END"
        for p in range(n_planes)
    )
    return F.expr(
        f"transform({planes}, (tp, t) -> "
        f"named_struct('tbl', t, 'bucket', concat({bits})))"
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket key: one char per hyperplane ('1' if dot >= 0)."""
    bits = [
        F.when(dot(vec, fast_array_literal([float(w) for w in plane])) >= 0, "1").otherwise("0")
        for plane in planes
    ]
    return F.concat(*bits)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    n_planes: int = 8,
    probes: int = 1,
    seed: int = 1234,
) -> DataFrame:
    """ANN top-k: hyperplane-LSH candidate buckets + exact cosine re-rank.

    ``probes`` > 0 additionally probes buckets at Hamming distance 1 from the
    query's bucket (all 1-bit flips), trading compute for recall. The corpus
    is bucketed once; at scale you would persist/bucketBy the bucketed
    corpus and reuse it across query batches.
    """
    planes = _hyperplanes(n_planes, dim, seed)
    bucketed = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        hyperplane_bucket(as_double(F.col(vec_col)), planes).alias("bucket"),
    )
    qb = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("query_vec"),
        hyperplane_bucket(as_double(F.col(vec_col)), planes).alias("qbucket"),
    )
    if probes:
        # expand each query to its bucket + all 1-bit-flip buckets
        flips = F.array(
            F.col("qbucket"),
            *[
                F.concat(
                    F.substring(F.col("qbucket"), 1, i),
                    F.when(F.substring(F.col("qbucket"), i + 1, 1) == "1", "0").otherwise("1"),
                    F.substring(F.col("qbucket"), i + 2, n_planes - i - 1),
                )
                for i in range(n_planes)
            ],
        )
        qb = qb.withColumn("bucket", F.explode(flips)).drop("qbucket")
    else:
        qb = qb.withColumnRenamed("qbucket", "bucket")
    cands = bucketed.join(F.broadcast(qb), "bucket").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = cands.withColumn(
        "cosine_sim",
        F.round(cosine(as_double(F.col(vec_col)), as_double(F.col("query_vec"))), 6),
    ).select(query_id_col, id_col, "cosine_sim").distinct()
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "cosine_sim", F.col("rk").alias("rank"))
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    sample_size: int = 512,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> list[list[float]]:
    """Train IVF coarse centroids on a deterministic corpus sample.

    Standard IVF practice: centroids are fit on a small sample (k-means on
    the driver — the sample is tiny by construction), while the expensive
    parts — cell assignment and probing — run distributed. The sample is
    the ``sample_size`` rows with smallest ``xxhash64(id, seed)``: stable
    across runs and partitionings, no RNG on the executors.
    """
    sample = (
        corpus.select(F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(sample_size)
        .collect()
    )
    import numpy as np

    x = np.array([list(map(float, r[0])) for r in sample])
    if not len(x):  # empty corpus: no cells, so every probe finds nothing
        return []
    rng = np.random.RandomState(seed)
    centroids = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    for _ in range(iters):
        d2 = ((x[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(centroids)):
            members = x[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return [[round(float(v), 6) for v in c] for c in centroids]


def nearest_cells_pandas(centroids: list[list[float]], n: int = 1):
    """Arrow-batched nearest-cell kernel: one numpy matmul per batch.

    The expression form (:func:`nearest_cells`) evaluates
    ``cells × dim`` multiply-adds per row through interpreted higher-order
    lambdas; for dense numeric scoring the Pandas UDF path is the fast one —
    the whole Arrow batch hits BLAS as ``X @ C.T``. Returns a pandas UDF
    mapping an ``array<float/double>`` column to the top-``n`` cell indices.
    """
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    c = np.asarray(centroids, dtype=np.float64).T  # dim × cells

    @pandas_udf("array<int>")
    def kernel(vecs: pd.Series) -> pd.Series:
        x = _stack_vectors(vecs, None, "ivf_assign")  # rows × dim
        scores = x @ c  # rows × cells
        top = np.argsort(-scores, axis=1, kind="stable")[:, :n]
        return pd.Series(list(top.astype("int32")))

    return kernel


def nearest_cells(vec: Column, centroids: list[list[float]], n: int = 1) -> Column:
    """Array of the ``n`` nearest centroid indices by dot product (vectors
    near-normalized -> dot order ~ cosine order). Pure built-in expressions:
    centroids inline as literals, scored per row, ranked via array sort."""
    scored = F.array(
        *[
            F.struct(
                dot(vec, fast_array_literal([float(w) for w in c])).alias("score"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    ranked = F.reverse(F.array_sort(scored))
    return F.transform(F.slice(ranked, 1, n), lambda s: s["cell"])


def ivf_assign_cells(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cell): nearest-centroid assignment — the persisted IVF
    index schema. One narrow Arrow/numpy projection over the input; at
    100 TB the output is written once ``partitionBy("cell")`` so query
    batches scan only probed cells, and NEW vector batches assign with
    the SAME stored centroids (O(batch)) and append as an index delta —
    production indexes are built once, upserted forever (FAISS
    ``IVF.add`` semantics; retraining is a separate offline job)."""
    assign1 = nearest_cells_pandas(centroids, 1)
    return corpus.select(
        F.col(id_col),
        F.col(vec_col),
        assign1(F.col(vec_col))[0].alias("cell"),
    )


def ivf_search_index(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe a prebuilt ``(id, vec, cell)`` IVF index: the query batch's
    ``n_probe`` nearest cells broadcast into an equi-join on cell id
    (partition pruning on a cell-partitioned layout — dynamic partition
    pruning when the index is parquet), exact cosine re-rank on the
    candidates."""
    assignp = nearest_cells_pandas(centroids, n_probe)
    qcells = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("query_vec"),
        F.explode(assignp(F.col(vec_col))).alias("cell"),
    )
    cands = index.join(F.broadcast(qcells), "cell").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = (
        cands.withColumn(
            "cosine_sim",
            F.round(cosine(as_double(F.col(vec_col)), as_double(F.col("query_vec"))), 6),
        )
        .select(query_id_col, id_col, "cosine_sim")
        .distinct()
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "cosine_sim", F.col("rk").alias("rank"))
    )


def align_centroids(
    old: list[list[float]], new: list[list[float]]
) -> list[list[float]]:
    """Permute retrained centroids so index ``i`` holds the new centroid
    nearest old centroid ``i`` (greedy global-min matching on squared
    distance, deterministic ties by index order).

    Retraining renumbers cells arbitrarily; without alignment every
    vector's cell id changes and a "migration" rewrites the whole index.
    Under drift, most retrained centroids sit close to a predecessor, so
    aligned ids keep most vectors in place and migration cost tracks the
    vectors the retrain actually MOVED — the whole point of
    :func:`ivf_retrain_migrate`. Driver-side on (cells × cells) floats:
    bounded by construction.
    """
    import numpy as np

    if len(new) != len(old):
        raise ValueError(
            f"align_centroids: centroid counts differ ({len(old)} old vs "
            f"{len(new)} new) — retrain with the same n_cells to migrate "
            "in place; changing cell count is a full rebuild"
        )
    if not new:  # an empty corpus trains no cells
        return []
    o = np.asarray(old, dtype=np.float64)
    nw = np.asarray(new, dtype=np.float64)
    d = ((o[:, None, :] - nw[None, :, :]) ** 2).sum(axis=2)
    out: list[list[float] | None] = [None] * len(new)
    used_old: set[int] = set()
    used_new: set[int] = set()
    for flat in np.argsort(d, axis=None, kind="stable"):
        i, j = divmod(int(flat), d.shape[1])
        if i in used_old or j in used_new:
            continue
        out[i] = new[j]
        used_old.add(i)
        used_new.add(j)
        if len(used_new) == len(new):
            break
    return [c for c in out if c is not None]


def ivf_retrain_migrate(
    spark,
    index_path: str,
    new_centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, int, int]:
    """Migrate a cell-partitioned IVF index to RETRAINED centroids by
    rewriting only the cells whose membership changed — the final verb of
    the index lifecycle (the ``IVF.add`` upsert absorbs batches,
    compaction merges their files, drift monitoring decides WHEN the
    stored centroids are stale; this executes the retrain without a full
    re-index).

    Plan shape (all bounded or O(touched)):

    1. recovery sweep, then ONE narrow Arrow pass over the index computes
       each vector's nearest cell under the new (aligned) centroids — no
       shuffle, no join; this pass is unavoidable (every vector must be
       scored against the new centroids to know whether it moves) and is
       pure map-side compute at 100 TB.
    2. the TOUCHED set — cells losing or gaining any vector — comes from
       one bounded aggregate (≤ 2·n_cells rows). A vector moving c→d
       touches both c and d; a cell nobody leaves or enters is untouched.
    3. only rows whose NEW cell is touched rewrite (stayers in touched
       cells ride along — their directory is being replaced anyway;
       stayers in untouched cells never rewrite, their files keep mtimes).
       The rewrite shuffles O(touched-cells' rows), never O(index), and
       swaps in via the shared aside-and-swap
       (:func:`~..sources.layout.swap_partitions`; Delta
       ``OPTIMIZE``-commit mapping at :func:`~..sources.layout.swap_dir`).

    Pass ``new_centroids`` through :func:`align_centroids` first (the
    certification queries do) — unaligned retrained centroids renumber
    every cell and degrade this to a full rewrite, correct but O(index).

    Returns ``(migrated_index_df, n_moved, n_cells_touched)``. The
    migrated index is bit-identical (as a rowset) to a from-scratch
    ``ivf_assign_cells(corpus, new_centroids)`` rebuild — pytest-pinned;
    searches against it must use ``new_centroids``.
    """
    import shutil as _shutil

    idx = layout.open_partitions(spark, index_path, ["cell"])
    assign1 = nearest_cells_pandas(new_centroids, 1)
    # Persisted for the life of this call: the moves aggregate AND the
    # touched-cell rewrite both need every vector's new_cell, and without
    # the cache the second job re-scans the index and re-scores every
    # vector against the centroids (measured: the rescan+rescore was
    # ~half the migrate wall time). At scale the cache spills columnar
    # batches to executor-local disk — the same disks the rewrite's
    # shuffle uses — trading one map-only rescan for a cache write/read;
    # in the retrain regime this runs in (drift tripped, most cells
    # touched) the rewrite is ~O(index) anyway, so the cache never
    # exceeds the shuffle volume already in flight. Unpersisted before
    # return.
    reassigned = idx.select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cell").cast("int").alias("cell"),
        assign1(F.col(vec_col))[0].cast("int").alias("new_cell"),
    ).persist()
    # bounded: one row per (old, new) cell pair with any movement
    moves = (
        reassigned.filter(F.col("new_cell") != F.col("cell"))
        .groupBy("cell", "new_cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    touched = sorted({r["cell"] for r in moves} | {r["new_cell"] for r in moves})
    n_moved = sum(r["n"] for r in moves)
    if touched:
        aside = index_path + "__migrating"
        _shutil.rmtree(aside, ignore_errors=True)
        # Cell swaps commit one directory at a time, so a crash mid-swap
        # leaves one of two states for a mover. Destination swapped,
        # source not: the row sits in both cells; on a re-run both copies
        # reassign to the same (id, vec, new_cell) row and dropDuplicates
        # collapses them, so re-running restores the exact index. Source
        # swapped, destination not: the mover is in neither cell and a
        # re-run cannot bring it back; closing that needs a commit marker
        # over the whole migration (an open ROADMAP item). The recovery
        # sweep restores READABILITY in both states. The shuffle is
        # O(touched cells' rows), never O(index).
        (
            reassigned.filter(F.col("new_cell").isin(touched))
            .select(id_col, vec_col, F.col("new_cell").alias("cell"))
            .dropDuplicates([id_col])
            .repartition(len(touched), F.col("cell"))
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(aside)
        )
        # a touched cell can end up EMPTY (everyone left, nobody arrived):
        # the writer emits no directory for it, and the swap deletes it
        layout.swap_partitions(index_path, aside, ["cell"], [(c,) for c in touched])
        _shutil.rmtree(aside, ignore_errors=True)
        spark.catalog.refreshByPath(index_path)
    reassigned.unpersist()
    return spark.read.parquet(index_path), n_moved, len(touched)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN top-k: assign corpus to coarse cells once, probe the query's
    ``n_probe`` nearest cells, exact cosine re-rank on the candidates.

    Composition of :func:`ivf_assign_cells` + :func:`ivf_search_index`
    (identical plan to the pre-split form); see those for the 100 TB
    layout and upsert story.
    """
    return ivf_search_index(
        ivf_assign_cells(corpus, centroids, id_col, vec_col),
        queries,
        centroids,
        k,
        n_probe,
        id_col,
        vec_col,
        query_id_col,
    )


# --- product quantization ---------------------------------------------------
#
# Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor
# Search" (TPAMI 2011): split each vector into m subvectors, vector-
# quantize each subspace against its own small codebook, and score with
# asymmetric distance computation (ADC) — the query stays full-precision,
# each corpus vector costs m table lookups. With m=8 subspaces x 16 codes
# a 64-dim float32 vector compresses 64x4 bytes -> 8 x 4 bits: the memory
# trick that lets a billion-vector index live in RAM. Training mirrors
# IVF: per-subspace k-means on a deterministic driver-side sample;
# encoding is an Arrow-batched narrow projection; scoring is pure JVM
# expressions over a broadcast (query -> lookup-table) frame.


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    sample_size: int = 512,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> list[list[list[float]]]:
    """Per-subspace codebooks: ``m`` lists of ``n_codes`` sub-centroids.

    Same deterministic-sample discipline as :func:`train_ivf_centroids`:
    the ``sample_size`` rows with smallest ``xxhash64(id, seed)`` train
    k-means per subspace on the driver (bounded by construction); the
    expensive passes — encoding and scoring — stay distributed.
    """
    sample = (
        corpus.select(F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(sample_size)
        .collect()
    )
    import numpy as np

    x = np.array([list(map(float, r[0])) for r in sample])
    if not len(x):  # empty corpus: m codebooks of 0 codes
        return [[] for _ in range(m)]
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"pq: dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    rng = np.random.RandomState(seed)
    books = []
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        cb = xs[rng.choice(len(xs), size=min(n_codes, len(xs)), replace=False)]
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cb)):
                members = xs[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        books.append([[round(float(v), 6) for v in c] for c in cb])
    return books


def pq_encode_pandas(codebooks: list[list[list[float]]]):
    """Arrow-batched PQ encoder: vector -> array of m code indices.

    One ``X_sub @ C_j.T`` matmul per subspace per batch (argmin of L2 via
    the dot-product identity) — the narrow, shuffle-free pass that runs
    once per corpus vector and is amortized over every later query batch.
    """
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    sub = cbs[0].shape[-1]  # 0 for the empty codebooks of an empty corpus

    @pandas_udf("array<int>")
    def kernel(vecs: pd.Series) -> pd.Series:
        x = _stack_vectors(vecs, None, "pq_encode")
        codes = np.empty((x.shape[0], len(cbs)), dtype="int32")
        for j, cb in enumerate(cbs):
            xs = x[:, j * sub : (j + 1) * sub]
            # argmin ||xs - c||^2 = argmin (||c||^2 - 2 xs.c); stable ties
            d = (cb * cb).sum(axis=1)[None, :] - 2.0 * (xs @ cb.T)
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return kernel


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ-ADC top-k: encode the corpus once, score every (query, vector)
    pair with m lookup-table reads, rank per query.

    The query side is a bounded driver fetch (the same sanctioned edge as
    IVF centroid training): each query's lookup table LUT[j][c] =
    dot(query_sub_j, codebook_j[c]) is precomputed in numpy and shipped
    as a broadcast literal frame of m*n_codes doubles per query. Scoring
    is pure built-in expressions — ``aggregate`` over the code array with
    two ``element_at`` reads — inside whole-stage codegen; the corpus
    never moves except its final per-query top-k heaps
    (window rank <= k over a broadcast-joined frame).
    """
    import numpy as np

    m = len(codebooks)
    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    sub = cbs[0].shape[-1]  # 0 for the empty codebooks of an empty corpus
    qrows = queries.select(F.col(id_col), as_double(F.col(vec_col))).collect()
    lut_rows = []
    for r in qrows:
        qv = np.asarray(list(map(float, r[1])), dtype=np.float64)
        lut = [
            [float(np.dot(qv[j * sub : (j + 1) * sub], cbs[j][c])) for c in range(len(cbs[j]))]
            for j in range(m)
        ]
        lut_rows.append((int(r[0]), lut))
    spark = corpus.sparkSession
    luts = spark.createDataFrame(
        lut_rows, f"{query_id_col} long, lut array<array<double>>"
    )
    encoded = corpus.select(
        F.col(id_col), pq_encode_pandas(codebooks)(F.col(vec_col)).alias("codes")
    )
    scored = (
        encoded.crossJoin(F.broadcast(luts))
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn(
            "adc_score",
            F.round(
                F.aggregate(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    F.lit(0.0),
                    lambda acc, j: acc
                    + F.element_at(
                        F.element_at(F.col("lut"), j + 1),
                        F.element_at(F.col("codes"), j + 1) + 1,
                    ),
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("adc_score"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "adc_score", F.col("rk").alias("rank"))
    )


def pq_topk_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    k_coarse: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ-ADC shortlist -> exact cosine rerank: the deployed PQ shape.

    ADC ranks by lossy 4-6 bit codes, so it is a CANDIDATE GENERATOR, not
    a final ranking — every production PQ index (IVFADC, ScaNN, FAISS)
    re-scores a shortlist with full-precision vectors. ``k_coarse``
    defaults to max(100, |corpus|/4): on clustered real-world embeddings
    a ~1% shortlist suffices, but the synthetic near-orthogonal test
    vectors are PQ's worst case (no cluster structure for the codebooks
    to exploit), so the default is sized for recall-floor stability on
    them; the one ``count()`` action is a bounded scalar aggregate. The
    rerank join touches only queries x k_coarse rows — full-precision
    vectors never fan out.
    """
    if k_coarse is None:
        k_coarse = max(100, corpus.count() // 4)
    shortlist = pq_topk(
        corpus,
        queries,
        codebooks,
        k=k_coarse,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    ).select(query_id_col, id_col)
    q = queries.select(
        F.col(id_col).alias(query_id_col), as_double(F.col(vec_col)).alias("query_vec")
    )
    rescored = (
        shortlist.join(corpus.select(id_col, vec_col), id_col)
        .join(F.broadcast(q), query_id_col)
        .withColumn(
            "cosine_sim",
            F.round(cosine(as_double(F.col(vec_col)), F.col("query_vec")), 6),
        )
        .select(query_id_col, id_col, "cosine_sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        rescored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "cosine_sim", F.col("rk").alias("rank"))
    )


def build_ivf_pq_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVFADC index artifact: EXACTLY ``(id, cell, codes)`` in one
    corpus pass — the frame a 100 TB deployment writes partitioned by
    cell. The full-precision vector must NOT ride along, or the
    candidate broadcast join ships every candidate's embedding through
    ADC scoring and the 16x size advantage evaporates (the
    rerank re-joins corpus for only the k_coarse vectors it needs).
    Pinned by pytest on the exact three-column schema.
    """
    assign1 = nearest_cells_pandas(centroids, 1)
    return corpus.select(
        F.col(id_col),
        assign1(F.col(vec_col))[0].alias("cell"),
        pq_encode_pandas(codebooks)(F.col(vec_col)).alias("codes"),
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 4,
    k_coarse: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    encoded: DataFrame | None = None,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011, §IV): the composed production index —
    IVF coarse cells restrict the scan, PQ-ADC scores the survivors from
    codes, and full-precision rerank finishes the shortlist. This is the
    FAISS ``IVFx,PQy`` / ScaNN shape: at 100 TB the corpus is written
    once partitioned by cell carrying only (id, codes) — 16x smaller
    than the vectors — each query batch prunes to its n_probe partitions,
    ADC scans them from lookup tables inside whole-stage codegen, and
    only queries x k_coarse rows ever touch a full-precision vector.

    One pass builds both index artifacts (cell assignment + PQ codes);
    the query side ships as ONE broadcast frame of (query, probed cell,
    LUT) rows, so candidate generation is a broadcast hash join on cell
    — never a cross join against the whole corpus (the structural
    advantage over flat PQ, which must touch every code).

    ``encoded`` optionally supplies a prebuilt :func:`build_ivf_pq_index`
    frame so a caller querying the SAME index at several operating
    points (the recall-vs-probes sweep) encodes the corpus once instead
    of once per call — the build-once/query-many split a deployed index
    has anyway.
    """
    import numpy as np

    m = len(codebooks)
    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    sub = cbs[0].shape[-1]  # 0 for the empty codebooks of an empty corpus

    assignp = nearest_cells_pandas(centroids, n_probe)
    if encoded is None:
        encoded = build_ivf_pq_index(
            corpus, centroids, codebooks, id_col=id_col, vec_col=vec_col
        )
    # query side: bounded driver fetch (same sanctioned edge as training)
    # -> per-query ADC lookup tables + probed cells as one broadcast frame
    qrows = queries.select(F.col(id_col), as_double(F.col(vec_col))).collect()
    lut_rows = []
    for r in qrows:
        qv = np.asarray(list(map(float, r[1])), dtype=np.float64)
        lut = [
            [
                float(np.dot(qv[j * sub : (j + 1) * sub], cbs[j][c]))
                for c in range(len(cbs[j]))
            ]
            for j in range(m)
        ]
        lut_rows.append((int(r[0]), lut))
    spark = corpus.sparkSession
    luts = spark.createDataFrame(
        lut_rows, f"{query_id_col} long, lut array<array<double>>"
    )
    qcells = queries.select(
        F.col(id_col).alias(query_id_col),
        F.explode(assignp(F.col(vec_col))).alias("cell"),
    )
    probe = qcells.join(luts, query_id_col)

    cands = encoded.join(F.broadcast(probe), "cell").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = cands.withColumn(
        "adc_score",
        F.round(
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0.0),
                lambda acc, j: acc
                + F.element_at(
                    F.element_at(F.col("lut"), j + 1),
                    F.element_at(F.col("codes"), j + 1) + 1,
                ),
            ),
            6,
        ),
    )
    w_c = Window.partitionBy(query_id_col).orderBy(
        F.desc("adc_score"), F.asc(id_col)
    )
    shortlist = (
        scored.withColumn("rk", F.row_number().over(w_c))
        .filter(F.col("rk") <= k_coarse)
        .select(query_id_col, id_col)
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        as_double(F.col(vec_col)).alias("query_vec"),
    )
    rescored = (
        shortlist.join(corpus.select(id_col, vec_col), id_col)
        .join(F.broadcast(q), query_id_col)
        .withColumn(
            "cosine_sim",
            F.round(cosine(as_double(F.col(vec_col)), F.col("query_vec")), 6),
        )
        .select(query_id_col, id_col, "cosine_sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        rescored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "cosine_sim", F.col("rk").alias("rank"))
    )


# --- binary (1-bit) quantization --------------------------------------------
#
# The fourth compression tier (int8 -> MRL -> PQ -> binary): keep only the
# SIGN of each dimension, pack 32 dims per integer word, and rank by
# Hamming distance — popcount over XOR, pure integer arithmetic inside
# whole-stage codegen. 64-dim float32 compresses 256 bytes -> 8 bytes
# (32x); on modern CPUs the scan is SIMD popcount, the cheapest possible
# first-stage filter for billion-vector retrieval (the "binary
# quantization" mode of FAISS/Qdrant/Elasticsearch). Sign-Hamming is a
# monotone estimate of angular distance (Charikar 2002), so the top-k by
# Hamming is a principled coarse ranking — and because everything is
# exact integers, the ENTIRE ranking carries an exact cross-engine oracle
# (no recall floor needed, unlike LSH/IVF/PQ).


def sign_pack_words(vec: Column, dim: int = 64, word_bits: int = 32) -> list[Column]:
    """Pack sign bits of ``vec`` into ``dim/word_bits`` integer words.

    Bit (word_bits - j) of word w is set iff vec[w*word_bits + j] >= 0.
    32-bit words keep every value far inside BIGINT range in any engine
    (64-bit packing would hit signed-overflow semantics that differ
    between Java longs, which wrap, and DuckDB BIGINT, which errors).
    ``dim`` must divide evenly into words — a trailing partial word would
    silently rank by a truncated prefix, so it raises instead (the same
    contract train_pq_codebooks enforces for dim % m).
    """
    if dim % word_bits:
        raise ValueError(
            f"sign_pack_words: dim {dim} not divisible by word_bits={word_bits}"
        )

    def word_folder(lo: int):
        # two-arg lambda via closure: a default-arg capture would change
        # the visible arity and trip Spark's lambda signature check
        def fold(acc, i):
            return acc + F.when(
                F.element_at(vec, i + F.lit(lo)) >= 0,
                # 2^(word_bits - i): exact in double for exponents <= 31
                # (shiftleft needs a literal count, not a column)
                F.pow(F.lit(2.0), (F.lit(word_bits) - i).cast("double")).cast("long"),
            ).otherwise(F.lit(0).cast("long"))

        return fold

    return [
        F.aggregate(
            F.sequence(F.lit(1), F.lit(word_bits)),
            F.lit(0).cast("long"),
            word_folder(w * word_bits),
        )
        for w in range(dim // word_bits)
    ]


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Binary-quantized top-k by sign-Hamming distance (exact integers).

    The corpus is sign-packed once (narrow projection, no shuffle), the
    packed queries broadcast, and the distance is
    ``sum_w bit_count(xor(corpus_w, query_w))`` — whole-stage-codegen
    integer ops, ranked ascending with id tie-breaks. At scale the packed
    words are written alongside the vectors and the full-precision rerank
    (``pq_topk_rerank``-style) consumes this shortlist.
    """
    cw = sign_pack_words(F.col(vec_col), dim)
    qw = sign_pack_words(F.col(vec_col), dim)
    packed = corpus.select(
        F.col(id_col), *[w.alias(f"w{i}") for i, w in enumerate(cw)]
    )
    qpacked = queries.select(
        F.col(id_col).alias(query_id_col),
        *[w.alias(f"qw{i}") for i, w in enumerate(qw)],
    )
    dist = None
    for i in range(dim // 32):
        term = F.bit_count(F.col(f"w{i}").bitwiseXOR(F.col(f"qw{i}")))
        dist = term if dist is None else dist + term
    scored = (
        packed.crossJoin(F.broadcast(qpacked))
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("hamming", dist.cast("int"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("hamming"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "hamming", F.col("rk").alias("rank"))
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
    seed: int = 99,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH self-join + exact verify.

    OR-amplified sign-bit LSH: ``n_tables`` independent tables of
    ``n_planes`` hyperplanes each. A pair is a candidate if it collides in
    ANY table, so recall is ``1 - (1 - p^k)^L`` with ``p = 1 - θ/π`` —
    pick k high / L=1 for high thresholds (cosine ≥ 0.9, where p^k is
    already near 1) and k low / L high for moderate thresholds, where a
    single table's recall collapses (at cosine 0.45, one 6-plane table
    recalls ~7%; 32 tables of 3 planes recall ~99.99%).

    Shuffle discipline: only (id, table, bucket) rides the exploded
    self-join — vectors never duplicate across tables. Candidates are
    distinct (id_a, id_b) pairs; the exact-cosine verify joins the vectors
    back once, so verify cost is O(candidates) however many tables vote.
    Returns (id_a, id_b, cosine_sim).

    All n_tables × n_planes projections are computed in ONE Arrow-batched
    pandas_udf (a single (batch, dim) @ (dim, L*k) BLAS matmul, then a
    bit-pack per table) — the expression-tree form (L*k HOF dot products
    with literal plane arrays) is 100-1000× slower to plan and execute.
    """
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    planes = _hyperplanes(n_tables * n_planes, dim, seed)
    plane_mat = np.asarray(planes, dtype=np.float64).T  # (dim, L*k)
    weights = 2 ** np.arange(n_planes - 1, -1, -1)

    @pandas_udf("array<long>")
    def table_codes(vecs: pd.Series) -> pd.Series:
        mat = _stack_vectors(vecs, dim, "embedding_near_duplicates")  # (batch, dim)
        signs = (mat @ plane_mat) >= 0  # (batch, L*k)
        codes = signs.reshape(len(mat), n_tables, n_planes) @ weights
        return pd.Series(list(codes.astype("int64")))

    bucketed = corpus.select(
        F.col(id_col), F.posexplode(table_codes(F.col(vec_col))).alias("tbl", "bits")
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    va = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    vb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine_sim",
            F.round(cosine(as_double(F.col("vec_a")), as_double(F.col("vec_b"))), 6),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def cosine_all_pairs_above(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """All vector pairs with cosine >= threshold, by blocked BLAS matmul.

    The scale-correct algorithm when the threshold sits at a MODERATE
    cosine (no LSH family beats n^(1+rho) there, and rho -> 1 as the
    threshold approaches the bulk of the similarity distribution): accept
    the quadratic pair count but pay it at BLAS throughput. Vectors are
    hashed into ``n_blocks`` blocks; every block pair (i <= j) becomes one
    cogroup, and each cogroup computes a (|bi|, dim) @ (dim, |bj|) matmul
    in one Arrow batch — compute is embarrassingly parallel across block
    pairs, memory per task is two blocks, and each vector is replicated
    n_blocks times (the standard block-nested-loop shipping cost; choose
    n_blocks ~ sqrt(cluster parallelism) at scale).

    Returns (id_a, id_b, cosine_sim) with id_a < id_b, cosine rounded to 6.
    """
    import numpy as np

    spark = corpus.sparkSession

    # Build each cogroup side from ITS OWN plan objects: cogroup's analyzer
    # rejects two group frames that share a dataset lineage (ambiguous
    # self-join), so the tag + block-pair join is constructed twice.
    def side(role: str):
        tagged = corpus.select(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_blocks)).alias("blk"),
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vec"),
        )
        pairs = spark.createDataFrame(
            [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
            "bi int, bj int",
        )
        key = "bi" if role == "left" else "bj"
        return tagged.join(pairs, tagged.blk == F.col(key)).select(
            "bi", "bj", "vid", "vec"
        )

    left = side("left")
    right = side("right")

    def score(l_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(l_pdf) == 0 or len(r_pdf) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})
        diagonal = bool(l_pdf["bi"].iloc[0] == l_pdf["bj"].iloc[0])
        la = _stack_vectors(l_pdf["vec"], None, "cosine_all_pairs_above").astype(np.float64)
        rb = _stack_vectors(r_pdf["vec"], None, "cosine_all_pairs_above").astype(np.float64)
        na = np.linalg.norm(la, axis=1)
        nb = np.linalg.norm(rb, axis=1)
        na[na == 0] = 1.0
        nb[nb == 0] = 1.0
        sims = (la / na[:, None]) @ (rb / nb[:, None]).T
        sims = np.round(sims, 6)
        ii, jj = np.nonzero(sims >= threshold)
        lids = l_pdf["vid"].to_numpy()[ii]
        rids = r_pdf["vid"].to_numpy()[jj]
        if diagonal:
            keep = lids < rids
        else:
            keep = np.ones(len(lids), dtype=bool)
        id_a = np.minimum(lids[keep], rids[keep])
        id_b = np.maximum(lids[keep], rids[keep])
        return pd.DataFrame(
            {"id_a": id_a, "id_b": id_b, "cosine_sim": sims[ii[keep], jj[keep]]}
        )

    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(
            lambda l, r: score(l, r), "id_a long, id_b long, cosine_sim double"
        )
    )


def sparse_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_df: int = 50,
    ngram: int = 1,
) -> DataFrame:
    """EXACT cosine-similarity join over sparse integer term-frequency
    vectors via an inverted-index join — the weighted-bag counterpart of
    :func:`~..operators.dedup.jaccard_threshold_join` (sets) and the
    sparse counterpart of the dense ``embedding_near_duplicates`` family.

    Terms are whitespace tokens (``ngram=1``) or ``ngram``-token shingles
    (the right unit when the word vocabulary is tiny but word ORDER
    carries the signal — shingles recover sparsity the way winnowing's
    k-grams do). Terms appearing in more than ``max_df`` documents are
    STOP-FILTERED before any pairing (the same economy as the winnowing
    stop-fingerprint filter — a term shared by half the corpus carries
    no discriminative mass but would dominate the join). Cosine is
    computed over that pruned vocabulary on BOTH the dot product and the
    norms, so the score is exactly the cosine of the stop-filtered
    vectors — a well-defined, engine-reproducible contract (integer dot
    and norm sums; ONE float site ``dot / sqrt(na * nb)``).

    Distributed shape at 100 TB: two explode + hash-aggregate passes
    (per-doc TF, per-term DF), an inverted-index self-join keyed on the
    surviving terms (per-term pair fan-out bounded by ``max_df**2``),
    one pair-key aggregate for the dot product, and two id-keyed joins
    to attach norms. Nothing is quadratic in the corpus; every shuffle
    is keyed on terms or pair ids. ``max_df`` is an absolute count here
    (right for a bounded test corpus); at production scale express it as
    a corpus fraction computed from the same DF aggregate.

    Returns (id_a, id_b, dot, cosine) for pairs with cosine >= threshold,
    id_a < id_b; ``dot``/``cosine`` certify exactly cross-engine.
    """
    if ngram > 1:
        grams = F.expr(
            f"transform(slice(split({text_col}, ' '), 1,"
            f" size(split({text_col}, ' ')) - {ngram - 1}),"
            f" (x, i) -> array_join(slice(split({text_col}, ' '), i + 1,"
            f" {ngram}), ' '))"
        )
        toks = (
            df.filter(F.size(F.split(F.col(text_col), " ")) >= ngram)
            .select(F.col(id_col).alias("_id"), F.explode(grams).alias("tok"))
        )
    else:
        toks = df.select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        ).filter(F.col("tok") != "")
    tf = toks.groupBy("_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # shuffle_hash, never broadcast: the surviving-term list grows WITH the
    # vocabulary (data-sized, not dimension-sized), so letting the planner
    # broadcast it works at test scale and kills the driver at corpus scale
    # (measured: the 128x probe OOM'd the broadcast build before this hint).
    # The tok-keyed shuffle also co-partitions `kept` for the self-join below.
    rare = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("tok")
        .hint("shuffle_hash")
    )
    kept = tf.join(rare, "tok")
    norms = kept.groupBy("_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("norm_sq")
    )
    dots = (
        kept.select(F.col("_id").alias("id_a"), "tok", F.col("tf").alias("tf_a"))
        .join(
            kept.select(
                F.col("_id").alias("id_b"), "tok", F.col("tf").alias("tf_b")
            ),
            "tok",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    # norms is one row per document — corpus-sized, same no-broadcast rule
    return (
        dots.join(
            norms.select(
                F.col("_id").alias("id_a"), F.col("norm_sq").alias("na")
            ).hint("shuffle_hash"),
            "id_a",
        )
        .join(
            norms.select(
                F.col("_id").alias("id_b"), F.col("norm_sq").alias("nb")
            ).hint("shuffle_hash"),
            "id_b",
        )
        .withColumn(
            "cosine",
            F.round(
                F.col("dot") / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
                4,
            ),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", F.col("dot").cast("long").alias("dot"), "cosine")
    )


def jl_projection_rows(
    seed: int = 41, out_dim: int = 16, in_dim: int = 64
) -> list[tuple[int, int, int]]:
    """Achlioptas (2003) sparse random-projection matrix as nonzero
    (out_pos, in_pos, value) triples, value in {-1, +1}, each cell ±1
    with probability 1/6 each and 0 with probability 2/3. Seeded and
    plan-build-time deterministic — both the Spark operator and the
    DuckDB oracle rebuild the IDENTICAL matrix from this function, the
    same contract as the LSH hyperplane literals. (The 1/sqrt(k/3)
    scale factor that makes it distance-preserving in expectation is
    applied by CONSUMERS in float space; the operator keeps raw integer
    sums so the dual certifies exactly.)"""
    rng = random.Random(seed)
    rows = []
    for j in range(out_dim):
        for d in range(in_dim):
            u = rng.random()
            if u < 1 / 6:
                rows.append((j, d, 1))
            elif u < 1 / 3:
                rows.append((j, d, -1))
    return rows


def jl_project_quantized(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 41,
    out_dim: int = 16,
    in_dim: int = 64,
    scale: int = 1000,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection of an embedding column to
    ``out_dim`` integer components — the dimensionality reduction an
    embedding pipeline applies before ANN sharding (JL lemma: pairwise
    distances survive within (1±eps) for k = O(log n / eps^2); the
    sparse Achlioptas matrix makes each output component a ±1 signed sum
    of ~1/3 of the inputs).

    Components are quantized ``round(v * scale)`` BIGINTs FIRST and
    Spark-side (the certified round-half-away idiom of
    ``quantize_int8_longform`` — the one cross-engine rounding
    knife-edge never enters Python), then the projection itself is one
    exact float64 GEMM per Arrow batch: every quantized component is an
    integer |v| < 2**25 and an in_dim<=4096 signed sum stays < 2**53,
    so each BLAS intermediate is an exactly-representable integer —
    the same exactness argument as ``knn_partial_topk_matmul``.
    Map-side only, no shuffle.

    Expression-shape note (three measured variants at sf0.1, 2000x64
    corpus): a shared quantized array column gets INLINED by projection
    collapse into every component expression (interpreted HOF re-run
    per component, 2.4 s); expanding all ~in_dim*out_dim/3 terms as
    scalar codegen expressions overflows Janino's method limit and the
    projection falls back to interpreted (9.5 s); per-component
    ``zip_with/aggregate`` dots pay the HOF tax out_dim times per row
    (2.2 s). Dense scoring belongs in the Arrow kernel (0.6 s) — the
    ``nearest_cells_pandas`` precedent.

    Adds a ``proj`` column (``array<long>`` of length ``out_dim``) to the
    input frame, all other columns preserved.
    """
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    mat = np.zeros((out_dim, in_dim), dtype=np.float64)
    for j, d, val in jl_projection_rows(seed, out_dim, in_dim):
        mat[j, d] = val

    @pandas_udf("array<long>")
    def kernel(qvecs: pd.Series) -> pd.Series:
        x = _stack_vectors(qvecs, in_dim, "jl_project_quantized")
        x_absmax = float(np.abs(x).max()) if x.size else 0.0
        # matrix entries are +-1, so the exact-integer headroom bound
        # is max|x| * in_dim < 2**53 (same argument as the knn kernel);
        # explicit raise so the exactness contract survives `python -O`
        if not x_absmax * in_dim < 2**53:
            raise ValueError(
                f"quantized component too large for exact float64 GEMM "
                f"(max|x|={x_absmax:g}, in_dim={in_dim})"
            )
        proj = (x @ mat.T).astype(np.int64)
        return pd.Series(list(proj))

    return df.withColumn("proj", kernel(quantize(F.col(vec_col), scale)))
