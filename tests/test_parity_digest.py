"""The rows-only digest ``run_parity`` prints depends on the rows only."""

from __future__ import annotations

import pandas as pd

from historic_score_etl_pipeline_spark.testing import rows_digest


def test_rows_digest_ignores_row_and_column_order():
    df = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", None], "c": [0.5, 1.0, 2.25]})
    shuffled = df[["c", "a", "b"]].iloc[[2, 0, 1]].reset_index(drop=True)
    assert rows_digest(shuffled) == rows_digest(df)
    changed = df.copy()
    changed.loc[1, "b"] = "z"
    assert rows_digest(changed) != rows_digest(df)
    assert rows_digest(df.iloc[:2]) != rows_digest(df)
