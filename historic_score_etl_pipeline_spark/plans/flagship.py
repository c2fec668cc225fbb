"""Flagship end-to-end pipeline — the engine's t1 smoke query.

Re-expresses the reference's whole pipeline shape (SURVEY.md §3.1) over the
fixture star schema:

  scan fixtures (orders)            ← Selenium scrape, team_utilities.py:387-430
  → incremental date-horizon filter ← today/tomorrow filter, :436
  → enrich join vs. dimension       ← per-row detail lookup loops, :448-506
  → per-key history, last-N         ← "last 10 recent games", :447
  → sorted collect_list aggregation ← dict-bucket agg, :277-304
  → nested doc assembly + to_json   ← json.dumps at :89,107,124,323

Spark-first choices: the date filter lands on the parquet scan (predicate
pushdown); the customer dimension join is broadcast; lineitem is cut to the
fixtures' order keys by a broadcast semi-join before it shuffles, so the
history aggregate only groups the orders the output emits; the history top-N
is an aggregate-side slice (sorted collect_list, no window), array_sorted
for determinism; JSON appears only in the final projection (sink boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.sources.catalog import load_table


def flagship_pipeline(
    spark: SparkSession,
    sf_dir: str,
    horizon_start: str = "1997-01-01",
    horizon_days: int = 365,
) -> DataFrame:
    """Fixtures in a date horizon, enriched with customer dim + an
    array-of-structs match history aggregated from lineitem."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    # Incremental horizon — the reference's today/tomorrow predicate made
    # parameterized and partition-prunable.
    fixtures = orders.where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit(horizon_start)))
        & (
            F.col("o_orderdate")
            < F.date_add(F.to_date(F.lit(horizon_start)), horizon_days)
        )
    )

    # Left-enrichment join (E2): dimension side is small → broadcast.
    enriched = fixtures.join(
        F.broadcast(customer.select("c_custkey", "c_name", "c_mktsegment")),
        fixtures.o_custkey == customer.c_custkey,
        "left",
    )

    # Per-order history: last 3 line items by ship date (G2/E6 as-of shape),
    # deterministic tiebreak on l_linenumber.  Aggregate-side top-N: collect
    # the group, sort the (small) array, slice the tail — one hash
    # aggregate, no window.  A row_number window would sort every shuffle
    # partition in full; with ~7-line groups the array sort is O(group)
    # and the full-partition sort disappears — the difference between
    # sorting 100 TB and sorting nothing.
    sort_key = F.struct(
        F.col("l_shipdate").cast("date").alias("ship"),
        F.col("l_linenumber").alias("line"),
        F.col("l_quantity").alias("qty"),
    )
    # Only the fixtures' orders are emitted: semi-join lineitem on their keys
    # (broadcast — the key set is one column of the horizon's orders) so the
    # detail columns of every other order never reach the shuffle.
    needed = F.broadcast(fixtures.select(F.col("o_orderkey").alias("l_orderkey")))
    recent_lines = (
        lineitem.join(needed, "l_orderkey", "left_semi")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list(sort_key)).alias("all_lines"))
        .select(
            "l_orderkey",
            # last 3 of the ascending (ship, line) order = top-3 most
            # recent (positive start: slice(-3) on a shorter array yields
            # []); reprojected to the doc's (line, ship, qty) field shape
            # and re-sorted to the output's line-first order
            F.array_sort(
                F.transform(
                    F.slice(
                        F.col("all_lines"),
                        F.greatest(F.size("all_lines") - 2, F.lit(1)),
                        3,
                    ),
                    lambda s: F.struct(
                        s["line"].alias("line"),
                        s["ship"].alias("ship"),
                        s["qty"].alias("qty"),
                    ),
                )
            ).alias("recent_lines"),
        )
    )

    result = (
        enriched.join(
            recent_lines, enriched.o_orderkey == recent_lines.l_orderkey, "left"
        )
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("fixture_date"),
            F.coalesce("c_name", F.lit("")).alias("customer_name"),
            F.coalesce("c_mktsegment", F.lit("")).alias("segment"),
            "o_totalprice",
            # Nested doc serialized only at the boundary; '{}'-style default
            # mirrors the reference's empty-JSON sentinel (E4).
            F.coalesce(F.to_json(F.col("recent_lines")), F.lit("[]")).alias(
                "history_json"
            ),
        )
    )
    return result
