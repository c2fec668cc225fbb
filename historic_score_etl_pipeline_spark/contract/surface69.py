"""Round-6 batch 76 — SQL scalar UDFs, Hampel filter, footer-stats file
skipping, leap-day audit, two-round HITS:

* ``sql_scalar_udf_create`` — Spark 4 SQL UDFs (``CREATE TEMPORARY
  FUNCTION … RETURN <expr>``): a net-revenue money function and a
  quantity band classifier defined IN SQL and applied over lineitem —
  the engine-surface twin of the reference's Python helpers
  (reference app/team_utilities.py:76-123 kept parsing helpers as
  functions; here they live in the catalog).  The oracle inlines the
  bodies.
* ``window_hampel_filter`` — the Hampel outlier filter: trailing-7
  rolling MEDIAN and rolling MAD (both exact lower-medians over the
  window array), flag |x − med| > 3·MAD.  The robust despiker that
  rolling z-scores can't be (one spike inflates a stddev, not a MAD).
* ``scan_file_skipping_stats`` — file-level skipping from parquet
  FOOTER statistics: range-clustered files, min/max(o_orderkey) read
  from each footer, only overlapping files are scanned (tests assert
  the skip actually happened).  The manual twin of format-native
  data-skipping indexes.
* ``date_leap_day_audit`` — per-year calendar audit: the Gregorian
  leap rule in pure integer arithmetic vs observed Feb-29 orders.
* ``graph_hits_two_rounds`` — two exact HITS iterations on the
  bipartite order–part graph (hub = Σ auth of parts in the order,
  auth = Σ hub of orders containing the part), integer weights, no
  normalization, top-20 authorities.

Scale notes: SQL UDFs inline into codegen (no Python boundary); the
Hampel window carries a ≤7-element array per row — O(1) state; file
skipping reads ONLY footers driver-side (bounded by file count, the
planner's own technique) before any data I/O; HITS is two
equi-join/groupBy rounds on the distinct pair table, no iteration
loop, TakeOrdered(20) at the end.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.pins import pin
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- SQL scalar UDFs ------------------------------------------------------------------


def sql_scalar_udf_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Define net_cents + qty_band as catalog SQL UDFs and aggregate
    lineitem through them."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "v_udf_lineitem"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_cents("
        "p DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS BIGINT "
        "RETURN CAST(floor(p * (1.0 - disc) * (1.0 + tax) * 100 + 0.5) "
        "AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION qty_band(q DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN q < 10 THEN 'low' "
        "WHEN q < 30 THEN 'mid' ELSE 'high' END"
    )
    return spark.sql(
        """
        SELECT l_returnflag, qty_band(l_quantity) AS band,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(net_cents(l_extendedprice, l_discount, l_tax))
                    AS BIGINT) AS net_total_cents
        FROM v_udf_lineitem
        GROUP BY l_returnflag, qty_band(l_quantity)
        """
    )


SQL_SCALAR_UDF_CREATE_SQL = """
SELECT l_returnflag,
       CASE WHEN l_quantity < 10 THEN 'low'
            WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS band,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
                           * (1.0 + l_tax) * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS net_total_cents
FROM lineitem
GROUP BY 1, 2
"""


# --- Hampel filter --------------------------------------------------------------------


def window_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7 rolling lower-median + rolling MAD per supplier price
    series; outlier = |x − med| > 3·MAD.  Exact integers end to end."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "v_hampel_lineitem"
    )
    return spark.sql(
        """
        WITH px AS (
          SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
                 CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
          FROM v_hampel_lineitem WHERE l_suppkey < 5
        ), arrs AS (
          SELECT l_suppkey, l_orderkey, l_linenumber, c,
                 sort_array(collect_list(c) OVER (
                   PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
          FROM px
        ), med AS (
          SELECT l_suppkey, l_orderkey, l_linenumber, c, arr,
                 element_at(arr, CAST((size(arr) + 1) div 2 AS INT)) AS med7
          FROM arrs
        )
        SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey,
               CAST(l_orderkey AS BIGINT) AS l_orderkey,
               CAST(l_linenumber AS BIGINT) AS l_linenumber,
               c AS cents, med7,
               element_at(array_sort(transform(arr, v -> abs(v - med7))),
                          CAST((size(arr) + 1) div 2 AS INT)) AS mad7,
               (abs(c - med7) > 3 * element_at(
                  array_sort(transform(arr, v -> abs(v - med7))),
                  CAST((size(arr) + 1) div 2 AS INT))) AS is_outlier
        FROM med
        """
    )


WINDOW_HAMPEL_FILTER_SQL = """
WITH px AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
  FROM lineitem WHERE l_suppkey < 5
), arrs AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, c,
         list_sort(list(c) OVER (
           PARTITION BY l_suppkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
  FROM px
), med AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, c, arr,
         arr[(len(arr) + 1) // 2] AS med7
  FROM arrs
), dev AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, c, med7,
         list_sort(list_transform(arr, v -> abs(v - med7)))
           [(len(arr) + 1) // 2] AS mad7
  FROM med
)
SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey,
       CAST(l_orderkey AS BIGINT) AS l_orderkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       c AS cents, CAST(med7 AS BIGINT) AS med7,
       CAST(mad7 AS BIGINT) AS mad7,
       (abs(c - med7) > 3 * mad7) AS is_outlier
FROM dev
"""


# --- footer-stats file skipping -------------------------------------------------------

# Bounds are derived from the data (2/5 .. 9/20 of the global max key, in
# exact integer arithmetic) so the query scans a strict subset of the
# range-clustered files at EVERY scale factor.


def _skip_bounds(gmax: int) -> tuple[int, int]:
    return (gmax * 2) // 5, (gmax * 9) // 20


def _staged_range_clustered(spark: SparkSession, sf_dir: str) -> str:
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "fileskip", sf_dir)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        o = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("o_orderstatus").alias("status"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        o.repartitionByRange(8, "o_orderkey").write.mode("overwrite").parquet(
            out
        )
    return out


def _skip_files(path: str) -> tuple[list[str], int, int, int]:
    """Footer-stats pruning: read per-file min/max(o_orderkey) from the
    parquet footers (driver-side, bounded by the file count), derive the
    data-relative bounds, and keep only intersecting files."""
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    ranges: list[tuple[str, int | None, int | None]] = []
    gmax = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        lo = hi = None
        idx = md.schema.to_arrow_schema().get_field_index("o_orderkey")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                lo, hi = None, None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        ranges.append((f, lo, hi))
        if hi is not None:
            gmax = max(gmax, hi)
    b_lo, b_hi = _skip_bounds(gmax)
    # conservative: keep when stats are missing
    kept = [
        f
        for f, lo, hi in ranges
        if lo is None or (hi >= b_lo and lo <= b_hi)
    ]
    return kept, len(files), b_lo, b_hi


def scan_file_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan only the range-clustered files whose footer min/max
    intersects the derived [2/5·max, 9/20·max] key band, then apply the
    exact predicate."""
    path = _staged_range_clustered(spark, sf_dir)
    kept, _total, b_lo, b_hi = _skip_files(path)
    df = spark.read.parquet(*kept) if kept else spark.read.parquet(path)
    return (
        df.where(F.col("o_orderkey").between(b_lo, b_hi))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        )
    )


SCAN_FILE_SKIPPING_STATS_SQL = """
WITH b AS (
  SELECT (max(o_orderkey) * 2) // 5 AS lo,
         (max(o_orderkey) * 9) // 20 AS hi
  FROM orders
)
SELECT o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders, b
WHERE o_orderkey BETWEEN b.lo AND b.hi
GROUP BY 1
"""


# --- leap day audit -------------------------------------------------------------------


def date_leap_day_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order year: the Gregorian leap rule (integer arithmetic) vs
    observed Feb-29 activity and distinct active days."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d")
    )
    y = F.year("d")
    is_leap = ((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0)
    feb29 = (F.month("d") == 2) & (F.dayofmonth("d") == 29)
    return (
        o.select(
            y.cast("long").alias("yy"),
            is_leap.alias("is_leap"),
            feb29.cast("long").alias("is_feb29"),
            "d",
        )
        .groupBy("yy", "is_leap")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("is_feb29").cast("long").alias("n_feb29_orders"),
            F.countDistinct("d").cast("long").alias("n_active_days"),
        )
    )


DATE_LEAP_DAY_AUDIT_SQL = """
WITH o AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yy
  FROM orders
)
SELECT yy,
       ((yy % 4 = 0 AND yy % 100 <> 0) OR yy % 400 = 0) AS is_leap,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN month(d) = 2 AND day(d) = 29 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_feb29_orders,
       CAST(count(DISTINCT d) AS BIGINT) AS n_active_days
FROM o GROUP BY yy
"""


# --- two-round HITS -------------------------------------------------------------------

_HITS_TOPK = 20


def graph_hits_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two exact HITS rounds on the bipartite order–part graph: start
    auth⁰ = 1, hub¹(o) = Σ auth⁰ = deg(o), auth¹(p) = Σ hub¹,
    hub²(o) = Σ auth¹, auth²(p) = Σ hub² — top-20 authorities."""
    # Pinned (lazy checkpoint): the distinct pair table feeds FIVE
    # consumers (hub1 + three join probes + the final join's auth1), and
    # each picks up DIFFERENT pushed-down IsNotNull filters from its join
    # keys, so the six scan+distinct subtrees never canonicalize equal and
    # exchange reuse cannot fire — the r11 plan audit counted the
    # lineitem scan + distinct executing 6× (plans/r11/
    # graph_hits_two_rounds_before.txt, scans 1/7/22/29/36/42).  One
    # materialization + SHUFFLE_HASH hints on the |O|/|P|-row score
    # tables (post-checkpoint they have no size statistics, so the
    # planner would silently fall back to sort-merge) keeps every round a
    # probe of the pinned pair table.  Measured r11 at sf0.1: 2.9-4.5 s →
    # 2.0-2.8 s, rows identical.
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").cast("long").alias("o"),
            F.col("l_partkey").cast("long").alias("p"),
        )
        .distinct()
    )
    pairs = pin(pairs)
    hub1 = pairs.groupBy("o").agg(F.count(F.lit(1)).cast("long").alias("h1"))
    # auth1 is consumed TWICE (hub2's probe + the final join) — unpinned,
    # the whole pairs⋈hub1+groupBy subtree replayed once per consumer
    # (r11's disease #1).  Pinned r12: A/B 2.14 → 2.05 s min-of-6; at
    # scale it halves the round-1 probes of the pinned pair table.
    auth1 = pin(
        pairs.join(hub1.hint("shuffle_hash"), "o")
        .groupBy("p")
        .agg(
            F.sum("h1").cast("long").alias("a1"),
            F.count(F.lit(1)).cast("long").alias("deg_p"),
        )
    )
    hub2 = (
        pairs.join(auth1.select("p", "a1").hint("shuffle_hash"), "p")
        .groupBy("o")
        .agg(F.sum("a1").cast("long").alias("h2"))
    )
    auth2 = (
        pairs.join(hub2.hint("shuffle_hash"), "o")
        .groupBy("p")
        .agg(F.sum("h2").cast("long").alias("a2"))
    )
    return (
        auth1.join(auth2.hint("shuffle_hash"), "p")
        .orderBy(F.desc("a2"), F.asc("p"))
        .limit(_HITS_TOPK)
        .select(
            F.col("p").alias("partkey"),
            "deg_p",
            F.col("a1").alias("auth1"),
            F.col("a2").alias("auth2"),
        )
    )


GRAPH_HITS_TWO_ROUNDS_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), hub1 AS (
  SELECT o, CAST(count(*) AS BIGINT) AS h1 FROM pairs GROUP BY o
), auth1 AS (
  SELECT p, CAST(sum(h1) AS BIGINT) AS a1,
         CAST(count(*) AS BIGINT) AS deg_p
  FROM pairs JOIN hub1 USING (o) GROUP BY p
), hub2 AS (
  SELECT o, CAST(sum(a1) AS BIGINT) AS h2
  FROM pairs JOIN auth1 USING (p) GROUP BY o
), auth2 AS (
  SELECT p, CAST(sum(h2) AS BIGINT) AS a2
  FROM pairs JOIN hub2 USING (o) GROUP BY p
)
SELECT CAST(auth1.p AS BIGINT) AS partkey, deg_p, a1 AS auth1, a2 AS auth2
FROM auth1 JOIN auth2 ON auth1.p = auth2.p
ORDER BY a2 DESC, auth1.p LIMIT {_HITS_TOPK}
"""


QUERIES: dict[str, QuerySpec] = {
    "sql_scalar_udf_create": QuerySpec(
        sql_scalar_udf_create, SQL_SCALAR_UDF_CREATE_SQL
    ),
    "window_hampel_filter": QuerySpec(
        window_hampel_filter, WINDOW_HAMPEL_FILTER_SQL
    ),
    "scan_file_skipping_stats": QuerySpec(
        scan_file_skipping_stats, SCAN_FILE_SKIPPING_STATS_SQL
    ),
    "date_leap_day_audit": QuerySpec(
        date_leap_day_audit, DATE_LEAP_DAY_AUDIT_SQL
    ),
    "graph_hits_two_rounds": QuerySpec(
        graph_hits_two_rounds, GRAPH_HITS_TWO_ROUNDS_SQL
    ),
}
