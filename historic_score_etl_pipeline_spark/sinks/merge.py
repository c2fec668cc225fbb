"""MERGE / upsert sink over parquet (SURVEY.md §2A-A4 extension).

The reference's only write mode is blind append with retries
(``app/team_utilities.py:363-365,510-554``) — re-running a failed league
duplicates rows.  A real warehouse sink needs MERGE semantics: new keys
insert, existing keys update, re-runs are no-ops.  This module provides
that over plain parquet with the idioms a table format (Delta/Iceberg)
would use underneath:

* **latest-version-wins** resolution via one window pass — no driver-side
  row handling, so the merge itself scales with the cluster;
* **partition-scoped rewrite**: when the target is partitioned, only the
  partitions present in the update batch are read AND rewritten (only
  their directories are swapped).  At 100 TB this is the difference between
  touching 3 date partitions and rewriting the table;
* **idempotence**: applying the same update batch twice yields the same
  table state (the precedence ordering is total), which is what makes
  the reference's retry loop safe to express as Spark task/job retries.

Plain parquet has no transactional metadata swap, and ``mode("overwrite")``
deletes the target before its write job runs, so ``publish`` is the one way
a table is replaced: ONE write to a hidden sibling of the target
(``.<name>.publish``, committed by Spark's ``_SUCCESS``), then a rename swap
of the whole directory or, with ``partition_col``, of only the ``col=val``
directories it holds; the displaced ones wait in ``.<name>.old``.  Each call
first rolls a committed stage forward and drops an uncommitted one, so a
crash anywhere converges on the next call.  Paths go through the target's
Hadoop ``FileSystem``, not the driver's disk.  A table format replaces the
swap with an atomic manifest commit (the dataflow is identical); on object
stores, where rename is not atomic, that table format is required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_PRECEDENCE = "__merge_precedence"
_RANK = "__merge_rank"


def publish(df: DataFrame, target: str, partition_col: str | None = None) -> None:
    """Replace the parquet table at ``target`` with ``df`` — with
    ``partition_col``, only the partitions ``df`` holds — by one write to
    the sibling stage and a rename swap."""
    _, _, stage = _roll_forward(df.sparkSession, target, partition_col)
    writer = df.write.mode("overwrite")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(stage.toString())
    _roll_forward(df.sparkSession, target, partition_col)


def committed(
    spark: SparkSession, target: str, partition_col: str | None = None
) -> DataFrame | None:
    """The table at ``target`` after any interrupted ``publish`` to it is
    finished or discarded; None while it holds no data files."""
    fs, t, _ = _roll_forward(spark, target, partition_col)
    if fs.globStatus(t.suffix("/[!_.]*")):  # not only _SUCCESS or hidden files
        return spark.read.parquet(t.toString())
    return None


def _roll_forward(spark: SparkSession, target: str, partition_col: str | None):
    """Swap a committed stage into ``target`` (a rename done before a crash
    is skipped on the rerun), then delete the stage and the displaced
    directories.  Returns the ``FileSystem``, target path and stage path."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    t = Path(target)
    fs = t.getFileSystem(spark._jsc.hadoopConfiguration())
    t = fs.makeQualified(t)
    stage = Path(t.getParent(), f".{t.getName()}.publish")
    old = Path(t.getParent(), f".{t.getName()}.old")
    if fs.exists(Path(stage, "_SUCCESS")):
        moves = [(stage, t)]
        if partition_col and fs.exists(t):
            moves = [
                (s.getPath(), Path(t, s.getPath().getName()))
                for s in fs.listStatus(stage)
                if s.getPath().getName().startswith(f"{partition_col}=")
            ]
        fs.mkdirs(old)
        for src, dst in moves:
            if fs.exists(dst):
                _rename(fs, dst, Path(old, dst.getName()))
            _rename(fs, src, dst)
    fs.delete(old, True)
    fs.delete(stage, True)
    return fs, t, stage


def _rename(fs, src, dst) -> None:
    """A rename that raises when refused (the seam the fault tests patch)."""
    if not fs.rename(src, dst):
        raise OSError(f"could not rename {src} to {dst}")


def merge_upsert(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str | None = None,
    partition_col: str | None = None,
) -> None:
    """Upsert ``updates`` into the parquet table at ``target_dir``.

    Resolution order per key: higher ``version_col`` wins; on version
    ties (or with no version column) the update row beats the existing
    row.  With ``partition_col``, only partitions present in ``updates``
    are read and rewritten.
    """
    merged = updates.withColumn(_PRECEDENCE, F.lit(1))
    base = committed(spark, target_dir, partition_col)
    if base is not None:
        if partition_col:
            touched = [
                r[0] for r in updates.select(partition_col).distinct().collect()
            ]
            base = base.where(F.col(partition_col).isin(touched))
        merged = base.withColumn(_PRECEDENCE, F.lit(0)).unionByName(merged)
    publish(_dedupe(merged, key_cols, version_col), target_dir, partition_col)


def scd2_apply(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    effective_col: str = "effective_date",
) -> None:
    """Slowly-Changing-Dimension Type 2 fold into the parquet table at
    ``target_dir``.

    The table carries ``valid_from``, ``valid_to`` (null = open) and
    ``is_current``.  For each update row: if the key is new, insert an
    open row; if the key exists and any tracked attribute differs, close
    the current row at the effective date and open a new one; if the
    attributes are unchanged, do nothing — which is what makes a retried
    batch a no-op (the reference's retry loop, ``app/team_utilities.py:
    510-554``, made safe by construction instead of by hoping).

    All decisions are one join of current rows against the update batch;
    history rows stream through untouched.  At scale the current slice
    is |keys| rows (dimension-sized → often broadcast-able), never the
    full history.
    """
    upd = updates.select(
        *key_cols, *attr_cols, F.col(effective_col).alias("_eff")
    )
    base = committed(spark, target_dir)
    if base is None:
        fresh = upd.select(
            *key_cols,
            *attr_cols,
            F.col("_eff").alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        publish(fresh, target_dir)
        return

    history = base.where(~F.col("is_current"))
    current = base.where(F.col("is_current"))

    upd_renamed = upd.select(
        *[F.col(k).alias(f"_u_{k}") for k in key_cols],
        *[F.col(a).alias(f"_u_{a}") for a in attr_cols],
        "_eff",
    )
    key_match = [F.col(k) == F.col(f"_u_{k}") for k in key_cols]
    cond = key_match[0]
    for extra in key_match[1:]:
        cond = cond & extra
    joined = current.join(upd_renamed, cond, "full_outer")

    changed = F.lit(False)
    for a in attr_cols:
        changed = changed | (
            ~F.col(a).eqNullSafe(F.col(f"_u_{a}"))
        )
    has_update = F.col("_eff").isNotNull()
    had_current = F.col("is_current").isNotNull()

    # current rows: closed if a differing update arrived, else kept as-is
    kept_current = joined.where(had_current).select(
        *key_cols,
        *attr_cols,
        F.col("valid_from"),
        F.when(has_update & changed, F.col("_eff")).otherwise(
            F.col("valid_to")
        ).alias("valid_to"),
        F.when(has_update & changed, F.lit(False)).otherwise(
            F.lit(True)
        ).alias("is_current"),
    )
    # update rows that open a new version: changed keys + brand-new keys
    opened = joined.where(
        has_update & (changed | ~had_current)
    ).select(
        *[F.col(f"_u_{k}").alias(k) for k in key_cols],
        *[F.col(f"_u_{a}").alias(a) for a in attr_cols],
        F.col("_eff").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )

    publish(history.unionByName(kept_current).unionByName(opened), target_dir)


def _dedupe(
    df: DataFrame, key_cols: list[str], version_col: str | None
) -> DataFrame:
    order = [F.col(_PRECEDENCE).desc()]
    if version_col:
        order.insert(0, F.col(version_col).desc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn(_RANK, F.row_number().over(w))
        .where(F.col(_RANK) == 1)
        .drop(_RANK, _PRECEDENCE)
    )
