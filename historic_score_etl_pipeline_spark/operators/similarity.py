"""Similarity search over embedding columns (SURVEY.md §2K-K3).

Brute-force cosine top-k is the correctness baseline: broadcast the (small)
query set against the (huge) corpus — one pass, no shuffle of the corpus,
`O(corpus × queries × dim)` multiply-adds all inside whole-stage codegen
(``zip_with`` + ``aggregate``, no Python).

The scale path is IVF-style partition pruning: coarse cells (in
``ivf_topk`` the sign pattern of the first log2(n_cells) dimensions, in
``ivf_topk_kmeans`` centroids trained by ``kmeans_lite``), search only
the cells nearest the query — the REPOSE/EDBT'20 pruning idea
(PAPERS.md) without a custom index format.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


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


def _sq_dist(vec: Column, cen: Column) -> Column:
    """Squared L2 distance between two double-array columns."""
    return F.aggregate(
        F.zip_with(vec, cen, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )


def assign_to_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """Nearest-centroid assignment: centroids ship as a broadcast-sized
    literal, distances evaluate in codegen, argmin by (distance, index)
    with first-wins tie-break.  Zero shuffle — pure map over the corpus."""
    cen_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    vec = as_double_array(vec_col)
    dists = F.transform(cen_lit, lambda c: _sq_dist(vec, c))
    best = F.array_position(dists, F.array_min(dists)).cast("int") - 1
    return corpus.select(
        F.col(id_col), vec.alias("vec"), best.alias("cluster")
    )


def kmeans_lite(
    corpus: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
) -> tuple[list[list[float]], DataFrame]:
    """Lloyd's k-means as iterative DataFrame jobs (SURVEY.md §2K-K3's
    IVF coarse quantizer, trained for real).

    Per iteration: broadcast the k×d centroid literal into a map-only
    assignment pass, then recompute means with posexplode → one shuffle
    on (cluster, dim) — the classic two-job Lloyd step.  Only the k×d
    centroid matrix ever visits the driver (same contract as MLlib's
    KMeans), so 100 TB of vectors stream through unchanged.  Empty
    clusters keep their previous centroid.  Init = first k vectors by id
    (deterministic).
    """
    # Column-pruned feature set persisted across Lloyd iterations: each
    # round re-reads executor-local cached blocks (MEMORY_AND_DISK spills
    # rather than evicts), not the source table — at 100 TB the source
    # scan happens exactly once.
    from pyspark import StorageLevel

    # Quarantine gate: a malformed vector has no cluster — un-gated it
    # would surface as a NULL cluster id and crash the driver-side
    # centroid fold (`centroids[None]`, the adversarial NULL-element row)
    feats = valid_vectors(corpus, vec_col).select(
        F.col(id_col), as_double_array(vec_col).alias("__feat")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    first = feats.orderBy(id_col).limit(k).select(F.col("__feat").alias("v"))
    centroids = [list(r["v"]) for r in first.collect()]

    assigned = None
    for _ in range(iters):
        assigned = assign_to_centroids(feats, id_col, "__feat", centroids)
        means = (
            assigned.select(
                "cluster", F.posexplode("vec").alias("dim", "x")
            )
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select(
                "cluster",
                F.transform(F.col("dm"), lambda s: s["m"]).alias("centroid"),
            )
            .collect()
        )
        for row in means:
            centroids[row["cluster"]] = list(row["centroid"])
    # Release the cached blocks; the returned assignment recomputes from
    # the source if acted on later (one scan, converged centroids).
    feats.unpersist(blocking=False)
    return centroids, assigned.select(id_col, "cluster")


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

    At scale: the k×d centroid matrix is the only driver-side state;
    cell assignment is a broadcast map pass; the probe join shuffles the
    (tiny) query side only.  Recall < 1 by design — the test suite pins a
    floor against brute force.
    """
    centroids, _ = kmeans_lite(
        corpus, corpus_id, vec_col, k=n_cells, iters=train_iters
    )
    c = (
        assign_to_centroids(corpus, corpus_id, vec_col, centroids)
        .withColumnRenamed(corpus_id, "corpus_id")
        .withColumnRenamed("vec", "cvec")
    )

    cen_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in cc]) for cc in centroids]
    )
    qvec = as_double_array(vec_col)
    dists = F.transform(cen_lit, lambda cc: _sq_dist(qvec, cc))
    # n_probe nearest cells: sort (dist, idx) structs, take the prefix
    ranked = F.slice(
        F.array_sort(
            F.transform(
                dists,
                lambda d, i: F.struct(d.alias("d"), i.alias("cell")),
            )
        ),
        1,
        n_probe,
    )
    probes = queries.select(
        F.col(query_id).alias("query_id"),
        qvec.alias("qvec"),
        F.explode(F.transform(ranked, lambda s: s["cell"])).alias("cluster"),
    )

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
    at 100 TB pick k ≈ n/10⁴ so the per-cluster quadratic stays bounded,
    and the within-cluster join below is an equi-join on cluster id —
    one shuffle).

    Greedy keep-lowest-id convention (matches the paper's "keep one
    random point per ε-ball" with id-order as the deterministic stand-in):
    a document is flagged ``is_dup`` when some LOWER-id doc in the same
    cluster has cosine ≥ threshold.  Survivor pairs therefore satisfy
    cos < threshold within every cluster (pytest-asserted).

    Returns (id, cluster, is_dup, dup_of) — ``dup_of`` the smallest
    witness id (null for survivors).
    """
    centroids, assigned = kmeans_lite(corpus, id_col, vec_col, k=k, iters=iters)
    feats = corpus.select(
        F.col(id_col), as_double_array(vec_col).alias("__v")
    )
    clustered = assigned.join(feats, id_col).select(
        F.col(id_col), "cluster", "__v"
    )
    a = clustered.select(
        F.col(id_col).alias("__id_a"),
        F.col("cluster").alias("__cl_a"),
        F.col("__v").alias("__va"),
    )
    b = clustered.select(
        F.col(id_col).alias("__id_b"),
        F.col("cluster").alias("__cl_b"),
        F.col("__v").alias("__vb"),
    )
    witnesses = (
        a.join(
            b,
            (F.col("__cl_a") == F.col("__cl_b"))
            & (F.col("__id_a") < F.col("__id_b")),
        )
        .where(
            F.round(cosine(F.col("__va"), F.col("__vb")), 4) >= threshold
        )
        .groupBy(F.col("__id_b").alias(id_col))
        .agg(F.min("__id_a").alias("dup_of"))
    )
    return (
        clustered.join(witnesses, id_col, "left")
        .select(
            F.col(id_col),
            "cluster",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
        )
    )
