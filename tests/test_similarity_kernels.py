"""The numpy vector kernels behind kmeans_lite, assign_to_centroids,
ivf_topk_kmeans and semantic_dedup reproduce the Spark expressions they
replaced: bit-identical sums, Spark's HALF_UP ``round``, the same rows on
edge inputs, and no pinned block left after ``release_pins()``.
(tests/test_kmeans.py keeps the Lloyd step parity against numpy.)"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.operators import pins
from historic_score_etl_pipeline_spark.operators.similarity import (
    _dots,
    _round_ge,
    _sq_dists,
    cosine,
    dot,
    ivf_topk_kmeans,
    kmeans_lite,
    semantic_dedup,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"
SCHEMA = "vec_id long, embedding array<double>"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_kernel_sums_are_bit_identical_to_the_spark_fold(spark):
    """Squared distances and dot products equal, bit for bit, an inline
    ``aggregate(zip_with(...))`` fold over the fixture embeddings."""
    emb = load_table(spark, SF, "embeddings").orderBy("vec_id").limit(60)
    rows = emb.collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    C = X[:5]
    cen = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in C])
    vec = F.transform("embedding", lambda x: x.cast("double"))
    sq = F.transform(
        cen,
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, e: acc + e,
        ),
    )
    got = emb.select(sq.alias("sq"), F.transform(cen, lambda c: dot(vec, c)).alias("dot"))
    spark_sq, spark_dot = zip(*[(r["sq"], r["dot"]) for r in got.collect()])
    assert np.array_equal(_sq_dists(X, C), np.array(spark_sq))
    assert np.array_equal(_dots(X, C), np.array(spark_dot))


def test_round_ge_decides_like_spark_round(spark):
    """``_round_ge`` is Spark's ``round(x, 4) >= t`` on 2,000 ``.xxxx5``
    boundaries and both float neighbours of each, against a threshold on
    the 4-decimal grid just above and one equal to the boundary."""
    cases = []
    for k in range(1_000, 3_000):
        v = (2 * k + 1) / 20_000.0  # 0.10005 .. 0.29995
        for t in ((k + 1) / 10_000.0, v):
            cases += [(x, t) for x in (v, math.nextafter(v, 1.0), math.nextafter(v, 0.0))]
    df = spark.createDataFrame(cases, "x double, t double")
    want = [r[0] for r in df.select(F.round("x", 4) >= F.col("t")).collect()]
    got = [bool(_round_ge(np.array([x]), 4, t)[0]) for x, t in cases]
    assert got == want


def test_semantic_dedup_judges_a_rounding_boundary_like_spark(spark):
    """A pair whose cosine is exactly 0.35005: Spark's round gives 0.3501
    (HALF_UP on "0.35005"), numpy's half-even gives 0.35."""
    b = [0.35005, 0.9367310166211004]  # unit norm under the sequential fold
    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, b)], SCHEMA)
    t = 0.3501
    pair = df.alias("a").join(df.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
    c = cosine(F.col("a.embedding"), F.col("b.embedding"))
    [(cos, spark_says)] = pair.select(c, F.round(c, 4) >= t).collect()
    assert cos == 0.35005 and np.round(cos, 4) < t  # the case discriminates
    assert spark_says
    got = _rows(semantic_dedup(df, "vec_id", k=1, iters=1, threshold=t))
    assert got == [(1, 0, False, None), (2, 0, True, 1)]


def _spark_witnesses(out, corpus, threshold):
    """The pruning rule as the Spark self-join it replaced, over the
    clusters ``out`` assigned: (id, cluster, is_dup, dup_of)."""
    v = corpus.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    cl = out.select("vec_id", "cluster").join(v, "vec_id")
    a = cl.select(*[F.col(c).alias(f"{c}_a") for c in cl.columns])
    b = cl.select(*[F.col(c).alias(f"{c}_b") for c in cl.columns])
    w = (
        a.join(b, (F.col("cluster_a") == F.col("cluster_b")) & (F.col("vec_id_a") < F.col("vec_id_b")))
        .where(F.round(cosine(F.col("v_a"), F.col("v_b")), 4) >= threshold)
        .groupBy(F.col("vec_id_b").alias("vec_id"))
        .agg(F.min("vec_id_a").alias("dup_of"))
    )
    return cl.join(w, "vec_id", "left").select(
        "vec_id", "cluster", F.col("dup_of").isNotNull(), "dup_of"
    )


def test_semantic_dedup_edge_inputs(spark):
    """Zero vectors (cosine 0, so a witness only at threshold <= 0), an
    exact copy, NULL and NULL-element vectors (excluded), fewer vectors
    than k, and an empty table."""
    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in load_table(spark, SF, "embeddings").orderBy("vec_id").limit(40).collect()
    ]
    first = rows[0][1]
    rows += [
        (10_000_000, [0.0] * 64),
        (10_000_001, first),
        (10_000_002, [0.0] * 64),
        (10_000_003, [-1.0] * 64),
        (10_000_004, None),
        (10_000_005, [None] + first[1:]),
    ]
    corpus = spark.createDataFrame(rows, SCHEMA)
    for threshold in (0.35, 0.0):
        out = semantic_dedup(corpus, "vec_id", k=16, iters=2, threshold=threshold)
        got = _rows(out)
        assert {r[0] for r in got} == {r[0] for r in rows} - {10_000_004, 10_000_005}
        assert got == _rows(_spark_witnesses(out, corpus, threshold))
        zeros = {r[0]: r for r in got if r[0] in (10_000_000, 10_000_002)}
        assert zeros[10_000_002][2] == (threshold <= 0), zeros
    assert (10_000_001, True, 0) in {(r[0], r[2], r[3]) for r in got}

    three = spark.createDataFrame(rows[:3], SCHEMA)
    assert _rows(semantic_dedup(three, "vec_id", k=16, iters=2, threshold=0.35)) == [
        (0, 0, False, None), (1, 1, False, None), (2, 2, False, None)
    ]
    empty = spark.createDataFrame([], SCHEMA)
    assert _rows(semantic_dedup(empty, "vec_id", k=16, iters=2)) == []
    centroids, assigned = kmeans_lite(empty, "vec_id", k=4, iters=2)
    assert centroids == [] and _rows(assigned) == []
    pins.release_pins()


def test_similarity_kernels_leave_no_pinned_blocks(spark):
    """kmeans_lite, ivf_topk_kmeans and semantic_dedup pin their feature
    sets with ``operators/pins``; ``release_pins()`` frees every block."""
    jsc = spark.sparkContext._jsc.sc()

    def stored():
        return {i.id() for i in jsc.getRDDStorageInfo()}

    pins.release_pins()
    before = stored()
    emb = load_table(spark, SF, "embeddings")
    semantic_dedup(emb, "vec_id", k=16, iters=2).collect()
    kmeans_lite(emb, "vec_id", k=4, iters=2)[1].collect()
    queries = emb.where(F.col("vec_id") < 3)
    ivf_topk_kmeans(emb, queries, "vec_id", "vec_id", n_cells=4, n_probe=2).collect()
    assert len(stored() - before) == 3
    assert pins.release_pins() >= 3
    assert stored() == before
