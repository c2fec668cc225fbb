"""Round-6 batch 88 — real streaming tumbling top-k, array prefix scan,
histogram equalization, spend-threshold crossing, rollup distinct
counts:

* ``stream_tumbling_topk`` — a REAL Structured Streaming run inside the
  contract: file-source events → watermark → 6-h tumbling windows →
  AvailableNow into a memory sink (streaming/jobs.py::run_available_now)
  → batch top-3 types per window.  The finite-replay hash gate proves
  the streaming counts equal the batch twin exactly.
* ``hof_array_prefix_scan`` — prefix sums computed INSIDE an array via
  ``F.aggregate`` with an ARRAY accumulator (acc ++ [last(acc)+x]),
  then posexploded back to rows; the oracle is the equivalent running-
  sum window — the same semantics in both engine shapes.
* ``multimodal_image_hist_equalization`` — histogram equalization over
  real decoded BMPs: 16-bin CDF per image, every pixel remapped to
  floor(cdf·255 / n_px); per source the exact remapped-intensity sum —
  the contrast-normalization preprocessing op.
* ``event_spend_threshold_crossing`` — running cumulative spend per
  customer; the FIRST month each customer crosses $500k (50M cents);
  crossing-cohort counts per month (76 months populated at sf0.01).
* ``agg_rollup_count_distinct`` — exact COUNT(DISTINCT) under ROLLUP
  (status, priority) with GROUPING id — the Expand-based distinct
  rollup.

Scale notes: the streaming run is bounded-state (watermark + tumbling
windows; AvailableNow processes files incrementally); the array scan
keeps per-order state in one array cell (orders capped at key < 2000
for the demo; the window twin is the unbounded-scale path); histogram
equalization is one ``doc_rows`` pass; threshold crossing is one
user-partitioned running window; the rollup expands |groups|+1 rows.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.multimodal import (
    doc_rows,
    gray,
    rendered_image,
    single_byte_docs,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- real streaming tumbling top-k --------------------------------------------------------

_TOPK_WINDOW = "6 hours"
_TOPK_K = 3


def stream_tumbling_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AvailableNow streaming 6-h tumbling counts → batch top-3 per
    window (count desc, type asc tiebreak)."""
    from historic_score_etl_pipeline_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
    )

    name = "v_stream_tumbling_topk"
    ev = read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    counts = (
        ev.where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", _TOPK_WINDOW).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # Memory sink is safe HERE (unlike stream_stateful_totals, VERDICT
    # r9): complete-mode state is window×event_type — the fixture spans
    # a bounded date range and event_type is a small closed enum, so
    # the collected result is O(windows · types), not data-sized.  A
    # deployment with unbounded windows would land in a file sink the
    # way surface.py::stream_stateful_totals now does.
    with tempfile.TemporaryDirectory(prefix="topk_ckpt_") as ckpt:
        run_available_now(counts, ckpt, query_name=name,
                          output_mode="complete")
    res = spark.table(name).select(
        F.unix_micros(F.col("w.start")).alias("win_start_us"),
        "event_type",
        "n",
    )
    rk = Window.partitionBy("win_start_us").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        res.withColumn("rnk", F.row_number().over(rk))
        .where(F.col("rnk") <= _TOPK_K)
        .select("win_start_us", F.col("rnk").cast("long").alias("rnk"),
                "event_type", "n")
    )


STREAM_TUMBLING_TOPK_SQL = f"""
WITH counts AS (
  -- FLOOR-aligned tumbling bucket, integer-exact for PRE-EPOCH events:
  -- DuckDB's // truncates toward zero (-1 // B = 0), but Spark's
  -- window() floors (-1 s lands in the bucket starting at -B) — the
  -- double-mod ((e % B) + B) % B is the portable non-negative residue,
  -- so e - residue is true floor alignment on both signs.  Caught by
  -- the wave-5 adversarial rows (1969-12-31 23:59:59); the old
  -- (epoch_us // B) * B form put every pre-epoch event one bucket high.
  SELECT epoch_us(ts)
           - ((epoch_us(ts) % 21600000000) + 21600000000) % 21600000000
           AS win_start_us,
         event_type, CAST(count(*) AS BIGINT) AS n
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), ranked AS (
  SELECT win_start_us, event_type, n,
         row_number() OVER (PARTITION BY win_start_us
                            ORDER BY n DESC, event_type) AS rnk
  FROM counts
)
SELECT CAST(win_start_us AS BIGINT) AS win_start_us,
       CAST(rnk AS BIGINT) AS rnk, event_type, n
FROM ranked WHERE rnk <= {_TOPK_K}
"""


# --- array prefix scan ---------------------------------------------------------------------

_SCAN_MAXKEY = 2000


def hof_array_prefix_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order (< 2000): line cents collected in linenumber order,
    prefix-summed with an ARRAY-accumulator fold, exploded back."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") < _SCAN_MAXKEY
    )
    arrs = (
        li.select(
            F.col("l_orderkey").cast("long").alias("k"),
            F.struct(
                F.col("l_linenumber").cast("long").alias("ln"),
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
                .cast("long")
                .alias("c"),
            ).alias("s"),
        )
        .groupBy("k")
        .agg(F.sort_array(F.collect_list("s")).alias("lines"))
    )
    prefix = F.aggregate(
        F.expr("transform(lines, s -> s.c)"),
        F.expr("CAST(array() AS ARRAY<BIGINT>)"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.when(F.size(acc) == 0, x).otherwise(
                    F.element_at(acc, F.size(acc)) + x
                )
            ),
        ),
    )
    return arrs.select("k", F.posexplode(prefix).alias("idx0", "prefix_cents")).select(
        "k",
        (F.col("idx0") + 1).cast("long").alias("line_idx"),
        F.col("prefix_cents").cast("long").alias("prefix_cents"),
    )


HOF_ARRAY_PREFIX_SCAN_SQL = f"""
WITH li AS (
  SELECT l_orderkey AS k, l_linenumber,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
  FROM lineitem WHERE l_orderkey < {_SCAN_MAXKEY}
)
SELECT CAST(k AS BIGINT) AS k,
       CAST(row_number() OVER w AS BIGINT) AS line_idx,
       CAST(sum(c) OVER (PARTITION BY k ORDER BY l_linenumber, c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS prefix_cents
FROM li
WINDOW w AS (PARTITION BY k ORDER BY l_linenumber, c)
"""


# --- histogram equalization --------------------------------------------------------------------


def multimodal_image_hist_equalization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per source: Σ of CDF-equalized pixel intensities (16-bin CDF,
    eq = floor(cdf_count · 255 / n_px)) over real decoded BMPs."""

    def equalized(text):
        g = gray(rendered_image(text)).ravel()
        bins = g // 16
        cdf = np.cumsum(np.bincount(bins, minlength=16))
        return [(1, g.size, int(((cdf[bins] * 255) // g.size).sum()))]

    docs = single_byte_docs(load_table(spark, sf_dir, "documents"))
    schema = "source string, n_images long, n_px long, sum_eq long"
    return doc_rows(docs, "source", equalized, schema).groupBy("source").agg(
        F.sum("n_images").cast("long").alias("n_images"),
        F.sum("n_px").cast("long").alias("n_px"),
        F.sum("sum_eq").cast("long").alias("sum_eq"),
    )


_EQ_GRAY = (
    "((ascii(substr(text, ((3 * ({p})) % nb) + 1, 1))"
    " + ascii(substr(text, ((3 * ({p}) + 1) % nb) + 1, 1))"
    " + ascii(substr(text, ((3 * ({p}) + 2) % nb) + 1, 1))) // 3)"
)

MULTIMODAL_IMAGE_HIST_EQUALIZATION_SQL = f"""
WITH dims AS (
  SELECT doc_id, source, text,
         strlen(text) AS nb,
         strlen(text) % 24 + 8 AS w,
         strlen(text) % 16 + 8 AS h
  FROM documents
  WHERE strlen(text) = length(text)
), px AS (
  SELECT doc_id, source, w * h AS npx,
         CASE WHEN nb = 0 THEN 0
              ELSE {_EQ_GRAY.format(p='t.j')} END // 16 AS bin
  FROM dims, unnest(generate_series(0, w * h - 1)) AS t(j)
), hist AS (
  SELECT doc_id, source, npx, bin, CAST(count(*) AS BIGINT) AS cnt
  FROM px GROUP BY 1, 2, 3, 4
), cdf AS (
  SELECT doc_id, source, npx, bin,
         cnt,
         sum(cnt) OVER (PARTITION BY doc_id ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
), per_doc AS (
  SELECT doc_id, source, any_value(npx) AS npx,
         CAST(sum(cnt * ((cum * 255) // npx)) AS BIGINT) AS sum_eq
  FROM cdf GROUP BY doc_id, source
)
SELECT source, CAST(count(*) AS BIGINT) AS n_images,
       CAST(sum(npx) AS BIGINT) AS n_px,
       CAST(sum(sum_eq) AS BIGINT) AS sum_eq
FROM per_doc GROUP BY source
"""


# --- spend-threshold crossing -----------------------------------------------------------------------

_SPEND_THRESHOLD_CENTS = 50_000_000


def event_spend_threshold_crossing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Running cumulative spend per customer; count customers whose
    FIRST crossing of 50M cents lands in each month."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("d", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = o.withColumn("cum", F.sum("cents").over(w))
    crossed = (
        run.where(F.col("cum") >= _SPEND_THRESHOLD_CENTS)
        .groupBy("o_custkey")
        .agg(F.min("d").alias("first_d"))
    )
    return (
        crossed.select(F.date_format("first_d", "yyyy-MM").alias("ym"))
        .groupBy("ym")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


EVENT_SPEND_THRESHOLD_CROSSING_SQL = f"""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), run AS (
  SELECT o_custkey, d,
         sum(cents) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM o
), crossed AS (
  SELECT o_custkey, min(d) AS first_d
  FROM run WHERE cum >= {_SPEND_THRESHOLD_CENTS} GROUP BY 1
)
SELECT strftime(first_d, '%Y-%m') AS ym,
       CAST(count(*) AS BIGINT) AS n_customers
FROM crossed GROUP BY 1
"""


# --- rollup distinct counts ---------------------------------------------------------------------------


def agg_rollup_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT custkey) under ROLLUP(status, priority)
    with the GROUPING id disambiguating the NULL levels."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_customers",
                "n_orders")
    )


AGG_ROLLUP_COUNT_DISTINCT_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
            AS BIGINT) AS gid,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


QUERIES: dict[str, QuerySpec] = {
    "stream_tumbling_topk": QuerySpec(
        stream_tumbling_topk, STREAM_TUMBLING_TOPK_SQL
    ),
    "hof_array_prefix_scan": QuerySpec(
        hof_array_prefix_scan, HOF_ARRAY_PREFIX_SCAN_SQL
    ),
    "multimodal_image_hist_equalization": QuerySpec(
        multimodal_image_hist_equalization,
        MULTIMODAL_IMAGE_HIST_EQUALIZATION_SQL,
    ),
    "event_spend_threshold_crossing": QuerySpec(
        event_spend_threshold_crossing, EVENT_SPEND_THRESHOLD_CROSSING_SQL
    ),
    "agg_rollup_count_distinct": QuerySpec(
        agg_rollup_count_distinct, AGG_ROLLUP_COUNT_DISTINCT_SQL
    ),
}
