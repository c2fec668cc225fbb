"""Batch 13 unit tests: connected components on known graphs, SCD2
version-history semantics, file compaction, range-sorted writes."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.operators.graph import connected_components
from historic_score_etl_pipeline_spark.operators.scale import (
    compact_small_files,
    write_sorted_ranges,
)
from historic_score_etl_pipeline_spark.sinks.merge import scd2_apply


def _cc(spark, edge_list):
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    return {
        r.node: r.comp for r in connected_components(edges).collect()
    }


# --- connected components -----------------------------------------------------


def test_cc_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cc_chain_propagates_past_one_hop(spark):
    # a path graph forces multi-round propagation
    got = _cc(spark, [(5, 4), (4, 3), (3, 2), (2, 1)])
    assert set(got.values()) == {1}


def test_cc_self_loop_and_duplicate_edges(spark):
    got = _cc(spark, [(7, 7), (1, 2), (2, 1), (1, 2)])
    assert got[7] == 7 and got[1] == 1 and got[2] == 1


def test_cc_driver_and_distributed_paths_agree(spark):
    """The driver union-find fast path (edge count ≤ threshold) and the
    distributed min-label loop (forced via driver_max_edges=0) must
    return identical labelings on a graph mixing chains, cliques,
    singleton-adjacent self-loops and duplicate edges."""
    import random

    rng = random.Random(7)
    nodes = list(range(100))
    edge_list = [(7, 7)]
    # random chains and cliques
    for _ in range(120):
        a, b = rng.choice(nodes), rng.choice(nodes)
        edge_list.append((a, b))
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    fast = {
        r.node: r.comp for r in connected_components(edges).collect()
    }
    dist = {
        r.node: r.comp
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    assert fast == dist and fast


# --- SCD2 ---------------------------------------------------------------------


def _history(spark, target):
    return sorted(
        (r.k, r.seg, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in spark.read.parquet(target).collect()
    )


def test_scd2_close_open_and_noop(spark, tmp_path):
    target = str(tmp_path / "dim")
    init = spark.createDataFrame(
        [(1, "A"), (2, "B")], "k int, seg string"
    ).withColumn("effective_date", F.lit("2020-01-01").cast("date"))
    scd2_apply(spark, target, init, ["k"], ["seg"])

    upd = spark.createDataFrame(
        [(1, "A2"), (2, "B"), (3, "C")], "k int, seg string"  # change, no-op, new
    ).withColumn("effective_date", F.lit("2021-06-01").cast("date"))
    scd2_apply(spark, target, upd, ["k"], ["seg"])

    hist = _history(spark, target)
    assert hist == [
        (1, "A", "2020-01-01", "2021-06-01", False),
        (1, "A2", "2021-06-01", "None", True),
        (2, "B", "2020-01-01", "None", True),
        (3, "C", "2021-06-01", "None", True),
    ]
    # the retry: identical batch → identical table
    scd2_apply(spark, target, upd, ["k"], ["seg"])
    assert _history(spark, target) == hist


def test_scd2_second_change_extends_history(spark, tmp_path):
    target = str(tmp_path / "dim")
    for eff, seg in [("2020-01-01", "A"), ("2021-01-01", "B"), ("2022-01-01", "C")]:
        batch = spark.createDataFrame([(1, seg)], "k int, seg string").withColumn(
            "effective_date", F.lit(eff).cast("date")
        )
        scd2_apply(spark, target, batch, ["k"], ["seg"])
    hist = _history(spark, target)
    assert len(hist) == 3
    assert [h[4] for h in hist] == [False, False, True]
    assert hist[1] == (1, "B", "2021-01-01", "2022-01-01", False)


# --- compaction ---------------------------------------------------------------


def test_compact_small_files_reduces_file_count(spark, tmp_path):
    path = str(tmp_path / "many")
    spark.range(10_000).repartition(64).write.parquet(path)
    n_before = sum(
        1 for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert n_before == 64
    n_after = compact_small_files(spark, path, target_file_bytes=10**9)
    assert n_after == 1
    assert spark.read.parquet(path).count() == 10_000


def test_compact_small_files_splits_packed_reads(spark, tmp_path):
    """A target below the bytes per read split asks for more files than
    the read has partitions (Spark packs small files into few splits):
    compaction must still write ceil(bytes/target) files."""
    import math

    path = str(tmp_path / "packed")
    spark.range(10_000).repartition(64).write.parquet(path)
    table = spark.read.parquet(path)
    total = table._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    target = math.ceil(total / (2 * table.rdd.getNumPartitions() + 1))
    n_after = compact_small_files(spark, path, target_file_bytes=target)
    assert n_after == math.ceil(total / target) > table.rdd.getNumPartitions()
    assert spark.read.parquet(path).count() == 10_000


# --- range-sorted write -------------------------------------------------------


def test_write_sorted_ranges_files_are_disjoint_and_ordered(spark, tmp_path):
    path = str(tmp_path / "sorted")
    df = spark.range(100_000).select(
        (F.col("id") * 2654435761 % 1_000_003).alias("key")
    )
    write_sorted_ranges(df, path, "key", num_ranges=8)
    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert len(files) == 8
    spans = []
    for f in files:
        pdf = spark.read.parquet(f).toPandas()
        assert (pdf["key"].values == sorted(pdf["key"].values)).all()
        spans.append((pdf["key"].min(), pdf["key"].max()))
    # every file's range is disjoint from every other's
    spans_sorted = sorted(spans)
    for (lo1, hi1), (lo2, hi2) in zip(spans_sorted, spans_sorted[1:]):
        assert hi1 <= lo2
    assert spark.read.parquet(path).count() == 100_000
