"""Scale utilities (SURVEY.md §4.2, §7-M7): parallelism repair, skew
salting, bucketed co-located joins.

These are the knobs that matter at 100 TB:

* ``ensure_parallelism`` — CPU-heavy per-row operators (minhash, feature
  extraction) must not be serialized by a small file count.  At real
  scale the scan yields thousands of splits and this is a no-op check.
* ``salted_agg`` — two-phase aggregation for skewed group keys: salt the
  key, partially aggregate, unsalt, final-aggregate.  The combine must be
  associative (count/sum/min/max/collect are).
* ``salted_broadcast_join`` / AQE — for skewed join keys.  AQE's
  skewJoin handles sort-merge skew automatically (enabled in the session
  factory); explicit salting remains for deliberate control.
* ``write_bucketed`` / ``read_bucketed`` — co-locate repeated join/agg
  keys at rest so the per-query shuffle disappears (the as-of join's
  history side, SURVEY.md §4.2-G2/E6).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.sinks.merge import committed, publish


def ensure_parallelism(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the input
    arrives in fewer partitions (small files, single-file tables)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if key is not None:
        return df.repartition(target, F.col(key))
    return df.repartition(target)


def keyed_parallelism(df: DataFrame, key: str) -> DataFrame:
    """ALWAYS hash-partition by ``key``, at a partition count that tracks
    the input's split count (never below cluster default parallelism).

    For key-grouped pipelines over a column the map side EXPLODES
    (tokens, shingles, n-grams), this is the shape that holds at every
    scale: hashpartitioning(key) satisfies every downstream
    ``groupBy(key, …)`` / ``groupBy(key)`` / self-join-on-key clustered
    distribution, so the one exchange moves the COMPACT pre-explosion
    rows and the exploded stream never shuffles.  ``ensure_parallelism``
    by contrast is a no-op once the scan already has enough splits —
    correct for map-only work, but for grouped explode work it silently
    re-admits corpus-sized exchanges the moment the input outgrows the
    small-file regime (measured r11: text_repetition exponent 1.17 at
    the third decade, where the sf100 scan's 675 splits bypassed the
    repartition and both n-gram aggregations shuffled the exploded
    corpus).  Scaling the count with the input keeps per-task
    aggregation state bounded by docs-per-split, spill-free."""
    sc = df.sparkSession.sparkContext
    target = max(sc.defaultParallelism, df.rdd.getNumPartitions())
    return df.repartition(target, F.col(key))


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    aggs: dict[str, Column],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed keys.

    Phase 1 groups on (key, salt) — the hot key's rows spread over
    ``salt_buckets`` reducers; phase 2 combines the partials.  ``aggs``
    maps output name → phase-1 aggregate; phase 2 re-combines by these
    rules: *_count/*_sum → sum, *_min → min, *_max → max.  For avg,
    aggregate sum and count separately and divide afterwards.
    """
    # row-dependent salt (NOT key-dependent — a key-derived salt would put
    # the hot key back into one bucket)
    salted = df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets)),
    )
    phase1 = salted.groupBy(*group_cols, "_salt").agg(
        *[expr.alias(name) for name, expr in aggs.items()]
    )

    def combine(name: str) -> Column:
        if name.endswith(("_count", "_sum", "_n")):
            return F.sum(name).alias(name)
        if name.endswith("_min"):
            return F.min(name).alias(name)
        if name.endswith("_max"):
            return F.max(name).alias(name)
        raise ValueError(
            f"salted_agg cannot re-combine {name!r}; use *_sum/_count/_min/_max"
        )

    return phase1.groupBy(*group_cols).agg(*[combine(n) for n in aggs])


def salted_broadcast_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-proof equi-join: salt the big side's key, replicate the small
    side once per salt value, join on (key, salt).  Only needed when the
    small side is too big to broadcast outright AND the big side's key is
    skewed; with broadcast-able dims, plain ``broadcast()`` wins."""
    salts = small.sparkSession.range(salt_buckets).select(
        F.col("id").cast("int").alias("_salt")
    )
    big_s = big.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(key), F.monotonically_increasing_id()), F.lit(salt_buckets)).cast("int")
    )
    small_s = small.crossJoin(F.broadcast(salts))
    return big_s.join(small_s, [key, "_salt"]).drop("_salt")


def skew_split_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    hot_threshold: int = 100_000,
) -> DataFrame:
    """Exact equi-join that survives power-law key skew between two
    LARGE tables (neither side broadcast-able whole).

    Split-and-conquer: keys above ``hot_threshold`` rows on the left are
    "hot".  Cold keys take the normal shuffled sort-merge join.  Hot keys
    — by definition few distinct values, however many rows — join against
    only their matching right rows via broadcast, so no single reducer
    ever receives a hot key's full row set.  The union of the two is
    exactly the plain join's result (each left row lands in exactly one
    branch; the right side is filtered per-branch by semi/anti on the
    same key set).

    This is the manual form of AQE's skew-join split; it remains useful
    when the skew is known ahead of time (the plan avoids the lopsided
    shuffle instead of repairing it mid-flight) or when AQE's local
    per-partition view misses global skew.
    """
    counts = left.groupBy(on).count()
    hot_keys = counts.where(F.col("count") > hot_threshold).select(on)
    cold = left.join(F.broadcast(hot_keys), on, "left_anti")
    hot = left.join(F.broadcast(hot_keys), on, "left_semi")
    right_hot = right.join(F.broadcast(hot_keys), on, "left_semi")
    return cold.join(right, on).unionByName(hot.join(F.broadcast(right_hot), on))


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Persist bucketed+sorted by the hot join/window key: later equi-joins
    and windows on ``bucket_col`` between same-bucketing tables need no
    exchange (and no sort, when ``sort_col`` matches the window order)."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a parquet directory into ~target-sized files.

    Streaming/incremental sinks accrete small files; at 100 TB the task
    scheduler and the parquet footer reads, not the data, become the
    cost.  Compaction = read → ceil(bytes/target) partitions → one
    ``sinks.merge.publish`` over the same path (Spark cannot overwrite its
    own input; publish writes a sibling once and swaps it in by rename).
    Fewer partitions than the read has is a ``coalesce`` (no shuffle);
    more is a ``repartition``, because the read packs small files into few
    splits and ``coalesce`` cannot split them again.  Returns the new file
    count.  Table formats schedule this as OPTIMIZE; the dataflow is the
    same.
    """
    table = committed(spark, path)
    # the bytes of the data files Spark lists (its own relation size)
    total = table._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    n_files = max(1, math.ceil(total / target_file_bytes))
    if n_files > table.rdd.getNumPartitions():
        publish(table.repartition(n_files), path)
    else:
        publish(table.coalesce(n_files), path)
    return len(spark.read.parquet(path).inputFiles())


def write_sorted_ranges(
    df: DataFrame,
    path: str,
    sort_col: str,
    num_ranges: int = 32,
) -> None:
    """Globally range-sorted parquet: repartitionByRange assigns each
    row to a contiguous key range (range exchange with a sampled
    boundary map), sortWithinPartitions orders inside each file.  The
    result: file k's keys all precede file k+1's — downstream merge
    scans, as-of probes, and min/max-pruned point lookups touch one
    file instead of all of them."""
    (
        df.repartitionByRange(num_ranges, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 8,
    bits: int = 10,
) -> None:
    """Z-order (Morton-curve) layout: interleave the bits of each
    column's normalized rank so that file-level min/max statistics stay
    tight on EVERY listed column at once — multi-dimensional data
    skipping, where a plain sort only skips on its leading column.

    Two scalable passes: (1) a global min/max aggregate per column
    (broadcast, one row), (2) normalize each value to a ``bits``-wide
    bucket, interleave with shift/or inside codegen, range-partition +
    sort by the z-value.  No UDF, no driver collect of data rows."""
    mins = [F.min(c).alias(f"__mn_{c}") for c in cols]
    maxs = [F.max(c).alias(f"__mx_{c}") for c in cols]
    stats = df.agg(*mins, *maxs)
    top = (1 << bits) - 1
    withb = df.crossJoin(F.broadcast(stats))
    bucketed = []
    for c in cols:
        mn = F.col(f"__mn_{c}").cast("double")
        span = F.col(f"__mx_{c}").cast("double") - mn
        b = (
            F.when(span == 0, F.lit(0))
            .otherwise(
                F.least(
                    F.lit(top),
                    F.floor(
                        (F.col(c).cast("double") - mn) / span * top
                    ),
                )
            )
            .cast("long")
        )
        bucketed.append(b)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(bucketed):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * len(cols) + j))
    drop_cols = [f"__mn_{c}" for c in cols] + [f"__mx_{c}" for c in cols]
    (
        withb.withColumn("__z", z)
        .drop(*drop_cols)
        .repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
