"""``retried_write`` backs off between attempts only, never after the last."""

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
