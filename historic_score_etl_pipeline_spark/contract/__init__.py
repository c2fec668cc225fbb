"""The driver contract registry.

Each sub-module defines ``QUERIES: dict[name, QuerySpec]`` where a QuerySpec
couples one Spark query callable ``(spark, sf_dir) -> DataFrame`` with its
DuckDB oracle SQL twin (``None`` for non-SQL-expressible, rows-only ops).
``__spark_entry__.py`` re-exports the merged registry, in module
discovery order (:func:`_merged`).

Determinism rules every spec follows (SURVEY.md §2L cautions):
* alias every computed column identically in Spark and SQL;
* sort inside every collect_list / string_agg;
* money/measure sums go through DECIMAL so they are exact, ratios are
  derived from exact sums then rounded — never raw double accumulation;
* every window / top-N has a total-order tiebreak;
* no dependence on session conf (explicit try_cast, explicit UTC-free
  NTZ timestamps).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """One contract entry: Spark implementation + DuckDB oracle twin."""

    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check


_CORE = ("scans", "aggregates", "joins", "windows", "extensions")


def _order(name: str) -> tuple[int, int, str]:
    """Sort key of a contract module name (see :func:`_merged`)."""
    if name in _CORE:
        return (0, _CORE.index(name), name)
    m = re.fullmatch(r"surface(\d*)", name)
    if m:
        return (1, int(m.group(1) or 1), name)
    return (2, 0, name)


def _merged() -> dict[str, QuerySpec]:
    """Merge every contract surface module's ``QUERIES`` dict.

    Modules are auto-discovered (``pkgutil``) so adding a surface file
    is registration enough — no hand-kept import list to forget.  Merge
    order is deterministic: the five core modules first (historic
    order), then ``surfaceN`` by numeric suffix, then anything else
    alphabetically; within a module, its ``QUERIES`` order.  A key
    defined twice raises.
    """
    import importlib
    import pkgutil

    discovered = (
        name
        for _, name, _ in pkgutil.iter_modules(__path__)
        if not name.startswith("_")
    )
    merged: dict[str, QuerySpec] = {}
    for name in sorted(discovered, key=_order):
        mod = importlib.import_module(f"{__name__}.{name}")
        queries = getattr(mod, "QUERIES", None)
        if queries is None:
            raise ValueError(f"contract module {name} lacks QUERIES")
        overlap = merged.keys() & queries.keys()
        if overlap:
            raise ValueError(f"duplicate query keys: {overlap}")
        merged.update(queries)
    return merged


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.spark for name, spec in _merged().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in _merged().items()
        if spec.oracle is not None
    }
