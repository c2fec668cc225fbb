"""Similarity search over embedding columns (SURVEY.md §2K-K3).

Brute-force cosine top-k is the correctness baseline: broadcast the (small)
query set against the (huge) corpus — one pass, no shuffle of the corpus,
`O(corpus × queries × dim)` multiply-adds as ``zip_with`` + ``aggregate``
expressions, no Python.  Spark evaluates those higher-order functions
interpreted: a ``Project`` holding them falls out of whole-stage codegen.

The k-means family — Lloyd rounds, cluster assignment, the IVF probe
ranking — and ``semantic_dedup``'s within-cluster pruning therefore run as
numpy kernels over Arrow batches (``mapInArrow`` /
``groupBy().applyInArrow``) that take the centroids as an argument, so
their plans do not grow with k and do not change between rounds; they
reproduce the expressions' sums bit for bit (see the kernel section).

The scale path is IVF-style partition pruning: coarse cells (in
``ivf_topk`` the sign pattern of the first log2(n_cells) dimensions, in
``ivf_topk_kmeans`` centroids trained by ``kmeans_lite``), search only
the cells nearest the query — the REPOSE/EDBT'20 pruning idea
(PAPERS.md) without a custom index format.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.operators.pins import pin


# Quarantine-gate policy (ADVICE r9, adversarial NULL-element row): a
# vector that is NULL or has ANY NULL element is MALFORMED and excluded
# from vector-math operators on both engines — the same scan-level gate
# NULL text gets from text operators.  Imputing 0 would silently change
# the geometry (norms, argmins, cosine neighbors); DuckDB's
# list_cosine_similarity refuses NULL elements outright; and the two
# engines disagree on element-NULL folds (list_sum SKIPS NULL elements,
# F.aggregate propagates them) — exclusion is the one semantics both
# engines express identically.  Oracle twin of ``valid_vectors``:
VEC_VALID_SQL = "len(list_filter({col}, x -> x IS NULL)) = 0"


def valid_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Drop malformed vectors (NULL, or containing a NULL element).

    One predicate covers both shapes: ``exists`` over a NULL array is
    NULL, and WHERE NULL drops the row — exactly like the SQL twin
    (``len(list_filter(c, x -> x IS NULL)) = 0`` is NULL on a NULL list).
    """
    c = F.col(vec_col)
    return df.where(~F.exists(c, lambda x: x.isNull()))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate — sequential over the array, so the
    result is bit-identical regardless of partitioning."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def as_double_array(col: Column | str) -> Column:
    """float[] → double[] so all arithmetic is double-precision (matches
    any double-based oracle and avoids float-accumulation drift)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def micro_unit(x: Column) -> Column:
    """One float as integer micro-units, rounded half up:
    ``floor(x·1e6 + 0.5)`` as long — the exact integer form the vector
    queries sum, compare and hash (oracle twin ``floor(x * 1e6 + 0.5)``)."""
    return F.floor(x.cast("double") * 1e6 + F.lit(0.5)).cast("long")


def micro_units(col: Column | str) -> Column:
    """:func:`micro_unit` over every element of an array column."""
    return F.transform(col, micro_unit)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k: broadcast queries × corpus, cosine, window rank.

    Returns (query_id, corpus_id, cos) with rank ≤ k, deterministic
    tiebreak on corpus id.  Excludes self-matches when ids collide.
    """
    from historic_score_etl_pipeline_spark.operators.scale import ensure_parallelism

    c = ensure_parallelism(corpus, corpus_id).select(
        F.col(corpus_id).alias("corpus_id"), as_double_array(vec_col).alias("cvec")
    )
    q = queries.select(
        F.col(query_id).alias("query_id"), as_double_array(vec_col).alias("qvec")
    )
    scored = c.join(F.broadcast(q), F.col("corpus_id") != F.col("query_id")).select(
        "query_id",
        "corpus_id",
        F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("corpus_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cosine_near_dup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.35,
    sample_mod: int | None = 10,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (SURVEY.md §2K): (id_a, id_b)
    with id_a < id_b and cosine ≥ threshold.

    The left side is optionally thinned ``sample_mod``× for cost control
    and broadcast against the streamed corpus — one corpus pass, no
    shuffle.  At 100 TB, replace the thinning with sign-bit LSH cell
    blocking (the ``ivf_topk`` quantizer): join on cell, then verify with
    exact cosine — the same candidates/verify split as MinHash-LSH.
    Scores in double, round(4) on both filter and output so a
    double-based SQL oracle agrees exactly.
    """
    base = corpus.select(
        F.col(id_col).alias("id_a"), as_double_array(vec_col).alias("va")
    )
    left = (
        base.where(F.col("id_a") % sample_mod == 0) if sample_mod else base
    )
    right = corpus.select(
        F.col(id_col).alias("id_b"), as_double_array(vec_col).alias("vb")
    )
    return (
        right.join(F.broadcast(left), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos4"),
        )
        .where(F.col("cos4") >= threshold)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style approximate top-k.

    Cells are assigned by a deterministic coarse quantizer (sign pattern of
    the first ``log2(n_cells)`` dimensions — a random-hyperplane LSH with
    axis-aligned planes).  A query probes its own cell plus the
    ``n_probe-1`` cells at minimal Hamming distance, scanning only
    ~n_probe/n_cells of the corpus.  Recall < 1; the contract records it
    rows-only and the test suite checks recall ≥ 0.6 against brute force.
    """
    bits = max(1, n_cells.bit_length() - 1)

    def cell_of(vec: Column) -> Column:
        out = F.lit(0)
        for i in range(bits):
            out = out + F.when(vec.getItem(i) > 0, F.lit(1 << i)).otherwise(0)
        return out

    c = corpus.select(
        F.col(corpus_id).alias("corpus_id"),
        as_double_array(vec_col).alias("cvec"),
    ).withColumn("cell", cell_of(F.col("cvec")))

    # Probe set: own cell + single-bit flips (Hamming-1 neighbours), capped.
    q = queries.select(
        F.col(query_id).alias("query_id"), as_double_array(vec_col).alias("qvec")
    ).withColumn("qcell", cell_of(F.col("qvec")))
    probes = q.select(
        "query_id",
        "qvec",
        F.explode(
            F.slice(
                F.concat(
                    F.array(F.col("qcell")),
                    F.array(
                        *[
                            F.col("qcell").bitwiseXOR(F.lit(1 << i))
                            for i in range(bits)
                        ]
                    ),
                ),
                1,
                n_probe,
            )
        ).alias("cell"),
    )

    scored = c.join(F.broadcast(probes), "cell").where(
        F.col("corpus_id") != F.col("query_id")
    ).select(
        "query_id",
        "corpus_id",
        F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("corpus_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# --- vector kernels: numpy over Arrow batches -------------------------------
#
# Every nearest-centroid question (a Lloyd round, a cluster assignment, an
# IVF probe ranking) and semantic_dedup's within-cluster pruning run in numpy
# over Arrow batches, with the centroids passed to the kernel as a Python
# argument: the plan is the same for every k and every round, and no plan
# carries k×d literals.  Each sum runs over the dimensions in order, starting
# from 0.0 — the fold ``aggregate(zip_with(...), 0.0, +)`` does — so every
# distance, dot product and norm is bit-identical to that Spark expression
# (``.sum(axis=...)`` sums pairwise and is not).  Vectors are assumed finite.

_BLOCK = 256  # rows compared at once within a cluster: memory ∝ _BLOCK × |cluster|


def _matrix(col) -> np.ndarray:
    """A ``list<double>`` Arrow column without NULLs as an (n, d) float64
    matrix; every vector must have the same length."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False)
    lengths = np.diff(col.offsets.to_numpy())
    d = int(lengths[0]) if len(lengths) else 0
    if np.any(lengths != d):
        raise ValueError("vectors of unequal length")
    return flat.reshape(len(col), d)


def _sq_dists(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, k) squared L2 distances of the rows of ``X`` to the centroids."""
    if X.shape[1] != C.shape[1]:
        raise ValueError(f"{X.shape[1]}-d vectors against {C.shape[1]}-d centroids")
    out = np.zeros((len(X), len(C)))
    for j in range(X.shape[1]):
        diff = X[:, j, None] - C[None, :, j]
        out += diff * diff
    return out


def _dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(m, n) dot products of the rows of ``A`` with the rows of ``B``."""
    out = np.zeros((len(A), len(B)))
    for j in range(A.shape[1]):
        out += A[:, j, None] * B[None, :, j]
    return out


def _nearest_cells(X: np.ndarray, C: np.ndarray, n: int) -> np.ndarray:
    """(rows, n) indices of each row's ``n`` nearest centroids, in
    (distance, index) order: of equal distances the lower index comes
    first, as ``array_position(d, array_min(d))`` picks it."""
    return np.argsort(_sq_dists(X, C), axis=1, kind="stable")[:, :n]


def _features(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec) with ``vec`` as double[], malformed vectors dropped."""
    return valid_vectors(df, vec_col).select(
        F.col(id_col), as_double_array(vec_col).alias("vec")
    )


def _nearest(feats: DataFrame, centroids, n: int = 1) -> DataFrame:
    """``feats`` (id, vec) plus a ``cluster`` column: each row once for each
    of its ``n`` nearest centroids.  One map pass, no shuffle; at ``n=1``
    it is the nearest-centroid assignment."""
    C = np.asarray(centroids, dtype=np.float64)
    schema = StructType(
        feats.schema.fields + [StructField("cluster", IntegerType())]
    )

    def cells(batches):
        import pyarrow as pa

        for b in batches:
            X = _matrix(b.column("vec"))
            if not len(X):
                continue
            cell = _nearest_cells(X, C, n)
            rows = pa.array(np.repeat(np.arange(len(X)), cell.shape[1]))
            yield pa.RecordBatch.from_arrays(
                [c.take(rows) for c in b.columns]
                + [pa.array(cell.ravel().astype(np.int32))],
                names=schema.fieldNames(),
            )

    return feats.mapInArrow(cells, schema)


def _lloyd_step(feats: DataFrame, centroids) -> DataFrame:
    """One Lloyd round as a fixed, map-only plan: each Arrow batch of
    ``feats`` assigns its vectors to the nearest of ``centroids`` and
    emits one (cluster, n, sum) row per cluster it touched — the partial
    state the driver adds up into the new means."""
    C = np.asarray(centroids, dtype=np.float64)

    def step(batches):
        import pyarrow as pa

        for b in batches:
            X = _matrix(b.column("vec"))
            if not len(X):
                continue
            cell = _nearest_cells(X, C, 1)[:, 0]
            sums = np.zeros_like(C)
            np.add.at(sums, cell, X)  # row order, like a running sum
            counts = np.bincount(cell, minlength=len(C))
            hit = np.flatnonzero(counts)
            offsets = np.arange(len(hit) + 1, dtype=np.int32) * C.shape[1]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(hit.astype(np.int32)),
                    pa.array(counts[hit]),
                    pa.ListArray.from_arrays(
                        pa.array(offsets), pa.array(sums[hit].ravel())
                    ),
                ],
                names=["cluster", "n", "sum"],
            )

    return feats.select("vec").mapInArrow(
        step, "cluster int, n long, sum array<double>"
    )


def _lloyd(
    feats: DataFrame, id_col: str, k: int, iters: int
) -> tuple[list[list[float]], list[list[float]]]:
    """Lloyd's rounds over ``feats`` (id, vec), initialised with the first
    ``k`` vectors by id; empty clusters keep their centroid.  Returns the
    centroids after the last update and the centroids the last round
    assigned with."""
    first = feats.orderBy(id_col).limit(k).select("vec").collect()
    C = np.array([r["vec"] for r in first], dtype=np.float64)
    used = C
    for _ in range(iters if len(C) else 0):
        used, C = C, C.copy()
        sums = np.zeros_like(C)
        counts = np.zeros(len(C), dtype=np.int64)
        for r in _lloyd_step(feats, used).collect():
            sums[r["cluster"]] += r["sum"]
            counts[r["cluster"]] += r["n"]
        hit = counts > 0
        C[hit] = sums[hit] / counts[hit, None]
    return C.tolist(), used.tolist()


def assign_to_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """Nearest-centroid assignment (id, vec, cluster): one numpy map pass
    with ``centroids`` as a kernel argument, argmin with first-wins ties.
    Zero shuffle; malformed vectors (see :func:`valid_vectors`) have no
    cluster and are dropped."""
    return _nearest(_features(corpus, id_col, vec_col), centroids)


def kmeans_lite(
    corpus: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
) -> tuple[list[list[float]], DataFrame]:
    """Lloyd's k-means as iterative DataFrame jobs (SURVEY.md §2K-K3's
    IVF coarse quantizer, trained for real).

    Each round is one map-only job: a numpy kernel, with the k×d centroid
    matrix as its argument, assigns every Arrow batch and returns per-batch
    partial sums and counts, which the driver adds into the new means.  Only
    k×d numbers ever visit the driver (same contract as MLlib's KMeans), so
    100 TB of vectors stream through unchanged.  Empty clusters keep their
    previous centroid.  Init = first k vectors by id (deterministic).
    Malformed vectors are excluded (:func:`valid_vectors`).

    Returns the centroids after the last round and that round's
    assignment (id, cluster).  The features are pinned
    (``operators/pins``): the assignment reads the pinned blocks, not the
    source, and ``release_pins()`` frees them once it is consumed.
    """
    # one pass over the source: every round and the assignment read the
    # pinned (executor-local, spill-to-disk) blocks
    feats = pin(_features(corpus, id_col, vec_col))
    centroids, used = _lloyd(feats, id_col, k, iters)
    return centroids, _nearest(feats, used).select(id_col, "cluster")


def ivf_topk_kmeans(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 3,
    train_iters: int = 2,
) -> DataFrame:
    """IVF with a TRAINED coarse quantizer: kmeans_lite learns the cell
    centroids from the corpus, vectors and queries are assigned to their
    nearest centroids, and each query scans only its ``n_probe`` nearest
    cells — data-adaptive pruning that beats the fixed sign-pattern cells
    of :func:`ivf_topk` on clustered data.

    At scale: the k×d centroid matrix is the only driver-side state; cell
    assignment and the probe ranking are map passes of the same numpy
    kernel; the probe join shuffles the (tiny) query side only.  Malformed
    vectors, in the corpus or among the queries, are excluded.  Recall < 1
    by design — the test suite pins a floor against brute force.
    """
    feats = pin(_features(corpus, corpus_id, vec_col))
    centroids, _ = _lloyd(feats, corpus_id, n_cells, train_iters)
    c = _nearest(feats, centroids).select(
        F.col(corpus_id).alias("corpus_id"), F.col("vec").alias("cvec"), "cluster"
    )
    probes = _nearest(
        _features(queries, query_id, vec_col), centroids, n_probe
    ).select(F.col(query_id).alias("query_id"), F.col("vec").alias("qvec"), "cluster")

    scored = (
        c.join(F.broadcast(probes), "cluster")
        .where(F.col("corpus_id") != F.col("query_id"))
        .select(
            "query_id",
            "corpus_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("corpus_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def quantize_int8(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization — the 4× memory cut that
    makes a 100 TB embedding corpus fit an ANN serving tier (public
    practice: faiss SQ8 / product-quantization literature).

    scale = max(|x_i|); q_i = floor(x_i * 127 / scale + 0.5) (explicit
    half-up via floor so the arithmetic is engine-portable — double
    rounding mode differences can't leak into the stored codes).
    Zero vectors quantize to all-zero codes with scale 0.

    Everything is expression-level `transform`/`aggregate` over the
    array column — one projection, no shuffle, no Python.  Max
    dequantization error is scale/254, asserted in tests.
    """
    v = as_double_array(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.when(scale > 0, F.transform(
        v, lambda x: F.floor(x * F.lit(127.0) / scale + F.lit(0.5)).cast("int")
    )).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        "*",
        F.round(scale, 6).alias("q_scale_r6"),
        q.alias("q_codes"),
    )


def _round_ge(x: np.ndarray, scale: int, threshold: float) -> np.ndarray:
    """``round(x, scale) >= threshold`` elementwise, decided as Spark
    decides it: HALF_UP on the value's shortest decimal string
    (``BigDecimal.valueOf``).  ``np.round`` rounds half to even on the
    binary value, which decides ``.xxxx5`` cases differently.  Rounding
    moves a value by at most half a unit of the last kept place, so only
    values within one unit of the threshold need the exact rule."""
    unit = 10.0**-scale
    out = x >= threshold + unit
    for i in np.flatnonzero(~out & (x > threshold - unit)):
        r = Decimal(repr(float(x.flat[i]))).quantize(
            Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
        )
        out.flat[i] = float(r) >= threshold
    return out


def _pruner(id_col: str, threshold: float):
    """The per-cluster kernel of :func:`semantic_dedup`: one cluster's
    (id, vec, cluster) table in, (id, cluster, is_dup, dup_of) out.  Rows
    are compared ``_BLOCK`` at a time against every lower-id row."""

    def prune(table):
        import pyarrow as pa

        order = np.argsort(table.column(id_col).to_numpy(), kind="stable")
        taken = table.column(id_col).take(pa.array(order))
        ids = taken.to_numpy()
        X = _matrix(table.column("vec"))[order]
        sq = np.zeros(len(X))
        for col in X.T:
            sq += col * col
        norms = np.sqrt(sq)
        has = np.zeros(len(X), dtype=bool)
        first = np.zeros(len(X), dtype=np.int64)
        for s in range(0, len(X), _BLOCK):
            e = min(s + _BLOCK, len(X))
            denom = norms[s:e, None] * norms[None, :e]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0, _dots(X[s:e], X[:e]) / denom, 0.0)
            hit = (ids[None, :e] < ids[s:e, None]) & _round_ge(cos, 4, threshold)
            has[s:e] = hit.any(axis=1)
            first[s:e] = hit.argmax(axis=1)  # ids ascend: the smallest witness
        return pa.Table.from_arrays(
            [
                taken,
                table.column("cluster").take(pa.array(order)),
                pa.array(has),
                taken.take(pa.array(first, mask=~has)),
            ],
            names=[id_col, "cluster", "is_dup", "dup_of"],
        )

    return prune


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    k: int = 32,
    iters: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """SemDedup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then prune
    near-duplicates WITHIN each cluster only — the cross-cluster pair
    space is never touched, which is the entire scale story
    (O(Σ|cluster|²) ≪ O(n²) when k is sized so clusters stay small;
    at 100 TB pick k ≈ n/10⁴ so the per-cluster quadratic stays bounded).

    Greedy keep-lowest-id convention (matches the paper's "keep one
    random point per ε-ball" with id-order as the deterministic stand-in):
    a document is flagged ``is_dup`` when some LOWER-id doc in the same
    cluster has ``round(cosine, 4) >= threshold``.  Survivor pairs
    therefore satisfy cos < threshold within every cluster
    (pytest-asserted).

    Plan: the :func:`kmeans_lite` rounds (the last one only assigns: its
    means would go unused), one map pass for that assignment, and one
    shuffle on the cluster id into a per-cluster numpy kernel
    (``groupBy("cluster").applyInArrow``) that compares the cluster's rows
    block by block and emits the flags directly — no self-join, no witness
    aggregate.  Malformed vectors and NULL ids are excluded.

    Returns (id, cluster, is_dup, dup_of) — ``dup_of`` the smallest
    witness id (null for survivors).
    """
    feats = pin(_features(corpus, id_col, vec_col))
    centroids, _ = _lloyd(feats, id_col, k, iters - 1)
    id_type = feats.schema[id_col].dataType
    schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("cluster", IntegerType()),
            StructField("is_dup", BooleanType()),
            StructField("dup_of", id_type),
        ]
    )
    return (
        _nearest(feats, centroids)
        .where(F.col(id_col).isNotNull())
        .groupBy("cluster")
        .applyInArrow(_pruner(id_col, threshold), schema)
    )
