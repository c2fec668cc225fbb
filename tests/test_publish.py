"""Fault injection for ``sinks.merge.publish``, the one way a parquet
table is replaced: a failing table write leaves the old table readable,
a crash at each rename of the swap is rolled forward by the next call,
the replay converges on the one-shot result, and no stage or displaced
directory outlives the next call."""

from __future__ import annotations

import itertools
import os

import pytest
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.sinks import merge

MERGE_ROWS = "k int, part string, v int, version int"
MERGE_INIT = [(1, "a", 10, 0), (2, "b", 20, 0)]
# k=1 updates partition a, k=3 opens partition c, partition b is untouched
MERGE_UPD = [(1, "a", 11, 1), (3, "c", 30, 1)]
SCD2_INIT = [(1, "A"), (2, "B")]
SCD2_UPD = [(1, "A2"), (3, "C")]
POISON = (30, "C")  # the update values the failing UDF raises on


def _poisoned(df, col):
    """``df`` with ``col`` passed through a UDF that raises on one row."""

    def boom(x):
        if x in POISON:
            raise ValueError("injected write failure")
        return x

    return df.withColumn(col, F.udf(boom, df.schema[col].dataType)(col))


def _merge(partition_col):
    def call(spark, target, rows, poison=False):
        df = spark.createDataFrame(rows, MERGE_ROWS)
        if poison:
            df = _poisoned(df, "v")
        merge.merge_upsert(spark, target, df, ["k"], "version", partition_col)

    return call


def _scd2(spark, target, rows, poison=False):
    eff = "2020-01-01" if rows == SCD2_INIT else "2021-06-01"
    df = spark.createDataFrame(rows, "k int, seg string").withColumn(
        "effective_date", F.lit(eff).cast("date")
    )
    if poison:
        df = _poisoned(df, "seg")
    merge.scd2_apply(spark, target, df, ["k"], ["seg"])


# the one-shot table after init + update, columns in name order
MERGE_WANT = [("1", "a", "11", "1"), ("2", "b", "20", "0"), ("3", "c", "30", "1")]
SCD2_WANT = [
    ("False", "1", "A", "2020-01-01", "2021-06-01"),
    ("True", "1", "A2", "2021-06-01", "None"),
    ("True", "2", "B", "2020-01-01", "None"),
    ("True", "3", "C", "2021-06-01", "None"),
]

# case -> (call, partition_col, initial rows, update rows, one-shot table)
CASES = {
    "merge": (_merge(None), None, MERGE_INIT, MERGE_UPD, MERGE_WANT),
    "merge_partitioned": (_merge("part"), "part", MERGE_INIT, MERGE_UPD, MERGE_WANT),
    "scd2": (_scd2, None, SCD2_INIT, SCD2_UPD, SCD2_WANT),
}


def _rows(spark, target):
    df = spark.read.parquet(target)
    return sorted(
        tuple(str(v) for v in r) for r in df.select(sorted(df.columns)).collect()
    )


def _leftovers(target):
    """Entries beside the target (stage, displaced directories)."""
    parent = os.path.dirname(target)
    return sorted(set(os.listdir(parent)) - {os.path.basename(target)})


@pytest.mark.parametrize("case", CASES)
def test_failed_table_write_keeps_old_rows(spark, tmp_path, case):
    call, _, init, upd, want = CASES[case]
    target = str(tmp_path / "t")
    call(spark, target, init)
    before = _rows(spark, target)

    with pytest.raises(Exception, match="injected write failure"):
        call(spark, target, upd, poison=True)
    assert _rows(spark, target) == before

    call(spark, target, upd)  # the next call
    assert _leftovers(target) == []
    assert _rows(spark, target) == want


@pytest.mark.parametrize("case", CASES)
def test_crash_at_each_rename_converges_on_replay(
    spark, tmp_path, monkeypatch, case
):
    call, partition_col, init, upd, want = CASES[case]
    real = merge._rename
    renames = []

    def count(fs, src, dst):
        renames.append((src, dst))
        real(fs, src, dst)

    one_shot = str(tmp_path / "one_shot" / "t")
    call(spark, one_shot, init)
    monkeypatch.setattr(merge, "_rename", count)
    call(spark, one_shot, upd)
    assert _rows(spark, one_shot) == want
    assert len(renames) >= 2  # displace the old data, move the new in

    for k in range(1, len(renames) + 1):
        target = str(tmp_path / f"crash{k}" / "t")
        monkeypatch.setattr(merge, "_rename", real)
        call(spark, target, init)
        seen = itertools.count(1)

        def crash(fs, src, dst, k=k):
            if next(seen) == k:
                raise OSError(f"injected crash at rename {k}")
            real(fs, src, dst)

        monkeypatch.setattr(merge, "_rename", crash)
        with pytest.raises(OSError, match=f"rename {k}"):
            call(spark, target, upd)
        monkeypatch.setattr(merge, "_rename", real)
        # the stage was committed before the first rename: the next call
        # rolls it forward, then the replay is a no-op
        assert merge.committed(spark, target, partition_col) is not None
        assert _leftovers(target) == []
        assert _rows(spark, target) == want, f"rename {k}"
        call(spark, target, upd)
        assert _rows(spark, target) == want, f"replay after rename {k}"
        assert _leftovers(target) == []
