"""The primary gate (SURVEY.md §5.2-1): every contract query hash-matches
its DuckDB oracle at sf0.01, exactly as the driver's t2 check does."""

from __future__ import annotations

import pytest

from historic_score_etl_pipeline_spark import contract
from historic_score_etl_pipeline_spark.testing import compare, duckdb_connection

ALL_QUERIES = sorted(contract.queries())


@pytest.fixture(scope="module")
def oracle_con(sf_oracle):
    return duckdb_connection(sf_oracle)


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_query_matches_oracle(name, spark, sf_oracle, oracle_con):
    qs, oracles = contract.queries(), contract.oracle_sql()
    sdf = qs[name](spark, sf_oracle).toPandas()
    if name not in oracles:
        assert len(sdf) > 0, f"{name}: rows-only query returned no rows"
        return
    odf = oracle_con.execute(oracles[name]).df()
    result = compare(name, sdf, odf)
    assert result.ok, result.detail


def test_entry_smoke(spark):
    import __spark_entry__ as entrypoint

    df = entrypoint.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) >= 5


def test_registry_is_discovery_order():
    """The registry is every contract module's ``QUERIES`` keys, modules
    in ``_order`` order: nothing lost, duplicated or reordered."""
    import importlib
    import pkgutil

    import historic_score_etl_pipeline_spark.contract as c

    names = sorted(
        (n for _, n, _ in pkgutil.iter_modules(c.__path__)
         if not n.startswith("_")),
        key=c._order,
    )
    expected = [
        k
        for n in names
        for k in importlib.import_module(f"{c.__name__}.{n}").QUERIES
    ]
    assert len(expected) == len(set(expected))
    assert list(c._merged()) == expected
    assert names[:5] == list(c._CORE)


def test_compare_rejects_hugeint_dtype_drift():
    """A DuckDB HUGEINT column reaches pandas as float64 or object; the
    driver's hash is dtype-sensitive, so the local gate must fail the
    same way even when every value canonicalizes identically."""
    import pandas as pd

    spark_pdf = pd.DataFrame(
        {"k": ["a", "b"], "s": pd.array([1, 2], dtype="int64")}
    )
    as_float = pd.DataFrame({"k": ["a", "b"], "s": [1.0, 2.0]})
    r = compare("hugeint_float", spark_pdf, as_float)
    assert not r.ok and "dtype kind" in r.detail
    as_obj = pd.DataFrame(
        {"k": ["a", "b"], "s": pd.Series([1.5, 2.5], dtype=object)}
    )
    assert not compare("hugeint_obj", spark_pdf, as_obj).ok


def test_compare_rejects_raw_array_output():
    """The driver's canonicalizer sorts with pandas sort_values, which
    crashes on unhashable list cells (CORRECTNESS_r03
    embed_quantize_int8).  The local gate must therefore reject an
    oracle-checked result carrying a raw array/map column even when both
    engines agree value-for-value — the driver would crash, not pass."""
    import pandas as pd

    with_list = pd.DataFrame({"k": ["a", "b"], "codes": [[1, 2], [3]]})
    r = compare("raw_array", with_list, with_list.copy())
    assert not r.ok and "raw list" in r.detail
    with_map = pd.DataFrame({"k": ["a"], "m": [{"x": 1}]})
    r2 = compare("raw_map", with_map, with_map.copy())
    assert not r2.ok and "raw dict" in r2.detail


def test_no_registry_query_emits_raw_nested_columns(spark, sf_oracle):
    """Registry-wide schema scan: EVERY registered query — oracled AND
    rows-only — must emit scalar top-level columns only.  The external
    driver canonicalizes rows-only outputs too (CORRECTNESS_r04
    agg_approx_percentile crashed its pandas sort exactly like r03's
    oracled embed_quantize_int8), so the authoring-time gate covers the
    whole registry, not just the oracled subset."""
    from pyspark.sql import types as T

    qs = contract.queries()
    offenders = []
    for name, fn in qs.items():
        schema = fn(spark, sf_oracle).schema
        for f in schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, offenders


def test_rows_only_array_output_fails_local_gate(tmp_path):
    """Regression (VERDICT r4 ask #1): a rows-only query whose pandas
    output carries list cells must FAIL the local gate — run_parity's
    rows-only branch applies scalar_only_violation, matching the
    external driver's canonicalizer strictness."""
    import pandas as pd

    from historic_score_etl_pipeline_spark.testing import (
        scalar_only_violation,
    )

    bad = pd.DataFrame({"k": ["a", "b"], "pcts": [[0.5, 0.95], [0.1]]})
    msg = scalar_only_violation(bad)
    assert msg is not None and "raw list" in msg
    assert scalar_only_violation(bad.drop(columns=["pcts"])) is None


def test_mixed_scalar_then_list_column_fails_local_gate():
    """ADVICE r5: _dtype_kind judges an object column by its FIRST
    non-null cell, so a CASE/coalesce mixing encodings could lead with
    a scalar and hide a list in row 2 — the gate must scan every cell,
    since the external canonicalizer crashes on ANY unhashable cell."""
    import pandas as pd

    from historic_score_etl_pipeline_spark.testing import (
        scalar_only_violation,
    )

    sneaky = pd.DataFrame({"k": ["a", "b"], "v": ["scalar-first", [1, 2]]})
    msg = scalar_only_violation(sneaky)
    assert msg is not None and "mixes scalar" in msg
    # scalar-only object column with Nones still passes
    ok = pd.DataFrame({"k": ["a", "b"], "v": [None, "x"]})
    assert scalar_only_violation(ok) is None


def test_compare_rejects_live_uncast_duckdb_sum():
    """End-to-end: an oracle written without CAST(sum(...) AS BIGINT)
    must fail compare() against an int64 Spark result."""
    import duckdb
    import pandas as pd

    odf = (
        duckdb.connect()
        .execute(
            "SELECT sum(x) AS s FROM (VALUES (CAST(1 AS INTEGER)), (2)) t(x)"
        )
        .df()
    )
    spark_like = pd.DataFrame({"s": pd.array([3], dtype="int64")})
    assert not compare("live_hugeint", spark_like, odf).ok
