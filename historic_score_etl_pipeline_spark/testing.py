"""Internal parity harness — mirrors the driver's Spark-vs-DuckDB check.

The driver runs every ``queries()`` entry and its ``oracle_sql()`` twin at
sf0.01 and compares row count + schema + order-insensitive value hash with
columns sorted by name.  This module reproduces that comparison so each
operator can be verified locally before the driver ever sees it.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
from dataclasses import dataclass

import duckdb
import pandas as pd

from historic_score_etl_pipeline_spark.sources.catalog import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with the catalog tables pre-registered as views, the way
    the driver's oracle does."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def _canon_value(v) -> str:
    """Canonical string for one cell, tolerant of numpy/pandas wrappers."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (_dt.datetime, pd.Timestamp)):
        if isinstance(v, pd.Timestamp) and pd.isna(v):
            return "∅"
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_value(v[k])}" for k in sorted(v)) + "}"
    if v is pd.NaT:
        return "∅"
    try:
        if pd.isna(v):
            return "∅"
    except (TypeError, ValueError):
        pass
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int) or type(v).__name__.startswith(("int", "uint")):
        return str(int(v))
    if type(v).__name__.startswith("float"):
        return _canon_value(float(v))
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[str]:
    """Rows as canonical strings, columns sorted by name, rows sorted."""
    cols = sorted(df.columns)
    rows = [
        "|".join(_canon_value(row[c]) for c in cols)
        for _, row in df[cols].iterrows()
    ]
    return sorted(rows)


def rows_digest(df: pd.DataFrame) -> str:
    """sha256 of :func:`canonical_rows` (16 hex digits): the same for the
    same rows in any row or column order."""
    return hashlib.sha256("\n".join(canonical_rows(df)).encode()).hexdigest()[:16]


@dataclass
class ParityResult:
    name: str
    ok: bool
    detail: str

    def __str__(self) -> str:
        return f"{'PASS' if self.ok else 'FAIL'} {self.name}: {self.detail}"


def _dtype_kind(series: pd.Series) -> str:
    """Coarse value-kind of a column, so an int64 Spark column and a
    float64/object oracle column (DuckDB HUGEINT fallout) register as
    DIFFERENT even when every value canonicalizes to the same string.
    The driver's hash is dtype-sensitive; this keeps the local gate at
    least as strict."""
    dt = series.dtype
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "datetime"
    # object column: judge by the first non-null value
    for v in series:
        if v is None:
            continue
        try:
            if pd.isna(v):
                continue
        except (TypeError, ValueError):
            pass
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, int) or type(v).__name__.startswith(("int", "uint")):
            return "int"
        if isinstance(v, float) or type(v).__name__.startswith("float"):
            return "float"
        if isinstance(v, (_dt.datetime, pd.Timestamp)):
            return "datetime"
        if isinstance(v, _dt.date):
            return "date"
        if isinstance(v, str):
            return "str"
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "list"
        if isinstance(v, dict):
            return "dict"
        return type(v).__name__
    return "empty"  # all-null column — compatible with anything


def scalar_only_violation(pdf: pd.DataFrame) -> str | None:
    """Return a message if any column holds unhashable list/dict cells.

    The external driver canonicalizes EVERY query's output — including
    rows-only ones — with a pandas sort that crashes on list/dict cells
    (CORRECTNESS_r03 embed_quantize_int8 was an oracled query,
    CORRECTNESS_r04 agg_approx_percentile a rows-only one: same class).
    The local gate applies this to the whole registry."""
    for c in pdf.columns:
        k = _dtype_kind(pdf[c])
        if k in ("list", "dict"):
            return (
                f"column '{c}' is a raw {k} — the driver's canonicalizer "
                f"sorts rows-only outputs too and crashes on unhashable "
                f"cells; emit a string encoding (concat_ws/to_json) or "
                f"explode to long format"
            )
        # _dtype_kind judges an object column by its FIRST non-null cell;
        # a CASE/coalesce mixing encodings could lead with a scalar and
        # hide lists further down (ADVICE r5) — scan EVERY cell here,
        # since this gate is what stands between a query and a driver
        # crash on the external canonicalizer's sort
        if pdf[c].dtype == object:
            bad = pdf[c].map(
                lambda v: isinstance(v, (list, tuple, dict, set))
                or type(v).__name__ == "ndarray"
            )
            if bad.any():
                return (
                    f"column '{c}' mixes scalar and list/dict cells "
                    f"(first-cell kind '{k}' but a later cell is "
                    f"unhashable) — same driver-crash class; string-encode "
                    f"or explode"
                )
    return None


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> ParityResult:
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        return ParityResult(name, False, f"columns differ: spark={sc} oracle={oc}")
    if len(spark_pdf) != len(oracle_pdf):
        return ParityResult(
            name, False, f"row count differs: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
        )
    # Driver contract is scalar-columns-only (CORRECTNESS_r03
    # embed_quantize_int8, r04 agg_approx_percentile — same class on
    # both the oracled and rows-only paths).  One rule, one place:
    # scalar_only_violation() is the single spelling of the strictness
    # the external canonicalizer imposes.
    for side_pdf in (spark_pdf, oracle_pdf):
        viol = scalar_only_violation(side_pdf)
        if viol:
            return ParityResult(name, False, viol)
    for c in sc:
        sk, ok_ = _dtype_kind(spark_pdf[c]), _dtype_kind(oracle_pdf[c])
        if sk != ok_ and "empty" not in (sk, ok_):
            return ParityResult(
                name,
                False,
                f"dtype kind differs for '{c}': spark={sk}({spark_pdf[c].dtype}) "
                f"oracle={ok_}({oracle_pdf[c].dtype}) — likely HUGEINT/cast drift; "
                f"CAST the oracle column explicitly",
            )
    srows, orows = canonical_rows(spark_pdf), canonical_rows(oracle_pdf)
    if srows != orows:
        diff = next(
            (i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b
        )
        return ParityResult(
            name,
            False,
            f"values differ at sorted row {diff[0]}:\n  spark : {diff[1]}\n  oracle: {diff[2]}",
        )
    return ParityResult(name, True, f"{len(spark_pdf)} rows match")


def run_parity(spark, sf_dir: str, names: list[str] | None = None) -> list[ParityResult]:
    """Run (a subset of) the contract and compare each against its oracle."""
    from historic_score_etl_pipeline_spark.contract import oracle_sql, queries

    qs, oracles = queries(), oracle_sql()
    con = duckdb_connection(sf_dir)
    results = []
    for name, fn in qs.items():
        if names is not None and name not in names:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            results.append(ParityResult(name, False, f"spark error: {e}"))
            continue
        if name not in oracles:
            viol = scalar_only_violation(sdf)
            if viol is not None:
                results.append(ParityResult(name, False, viol))
            else:
                results.append(
                    ParityResult(
                        name,
                        True,
                        f"rows-only: {len(sdf)} rows, sha256 {rows_digest(sdf)}",
                    )
                )
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            results.append(ParityResult(name, False, f"oracle error: {e}"))
            continue
        results.append(compare(name, sdf, odf))
    return results
