"""``retried_write`` backs off between attempts only, never after the last,
and a write whose Python worker dies is retried to a complete target."""

from __future__ import annotations

from historic_score_etl_pipeline_spark.sinks import writer
from historic_score_etl_pipeline_spark.sinks.writer import ErrorChannel, retried_write


class _FailingFrame:
    """A DataFrame stand-in whose every write fails."""

    @property
    def write(self):
        raise OSError("disk gone")


def test_exhausted_write_sleeps_between_attempts_only(monkeypatch):
    slept = []
    monkeypatch.setattr(writer.time, "sleep", slept.append)
    errors = ErrorChannel()
    assert not retried_write(_FailingFrame(), "/out", "b1", errors=errors, attempts=3)
    assert slept == [0.1, 0.2]
    assert errors.records == [
        ("write attempt 1 → /out/batch_id=b1", "disk gone", "b1"),
        ("write attempt 2 → /out/batch_id=b1", "disk gone", "b1"),
        ("write attempt 3 → /out/batch_id=b1", "disk gone", "b1"),
        ("write FAILED after 3 attempts → /out/batch_id=b1", "disk gone", "b1"),
    ]


def test_worker_death_mid_write_is_retried(spark, tmp_path):
    """A Python worker that dies mid-write fails attempt 1 only: attempt 2
    runs on a freshly forked worker, the target reads back equal to the
    input, and rewriting the same batch id replaces it."""
    marker = str(tmp_path / "died-once")

    def die_once(batches):
        import os

        if not os.path.exists(marker):
            with open(marker, "w"):
                pass
            os._exit(1)
        yield from batches

    src = spark.range(50).selectExpr("id", "id * 3 AS v").coalesce(1)
    out = str(tmp_path / "out")
    errors = ErrorChannel()
    df = src.mapInArrow(die_once, src.schema)
    assert retried_write(df, out, "b1", errors=errors, attempts=2)
    assert [ctx for ctx, _, _ in errors.records] == [
        f"write attempt 1 → {out}/batch_id=b1"]

    target = f"{out}/batch_id=b1"
    expected = sorted(map(tuple, src.collect()))
    assert sorted(map(tuple, spark.read.parquet(target).collect())) == expected
    assert retried_write(df, out, "b1", errors=errors, attempts=2)
    assert spark.read.parquet(target).count() == len(expected)
    assert len(errors.records) == 1
