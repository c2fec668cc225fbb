"""Round-6 batch 92 — Hamilton apportionment, nested-struct pruning,
FILTER-clause aggregates, image projection peaks, weighted rule scores:

* ``agg_budget_apportionment`` — largest-remainder (Hamilton)
  allocation: a fixed 1,000,000-unit budget split across nations
  proportionally to spend; floor shares plus the remainder units
  assigned to the largest fractional remainders (exact integer
  remainder comparison, nation tiebreak) — Σ = budget EXACTLY.
  The integer-exact sibling of ``date_proration_split``.
* ``scan_nested_struct_prune`` — nested-field projection pushdown: a
  staged parquet with a 3-field struct read back projecting ONE nested
  field; the test asserts ReadSchema prunes to that leaf.
* ``sql_agg_filter_clause`` — the SQL FILTER (WHERE …) aggregate
  modifier: conditional counts/sums without CASE noise, run literally
  on both engines.
* ``multimodal_image_projection_peak`` — projection profiles of real
  decoded BMPs: the argmax row and argmax column of summed brightness
  (first-index tiebreak) per image; per source the histogram of peak
  rows.
* ``event_rule_score_matrix`` — a weighted rules engine: per user
  3·(purchase burst) + 2·(error-heavy) + 1·(night activity), all
  integer rules; the score histogram 0..6 — composite risk scoring as
  one grouped pass.

Scale notes: apportionment ranks |nations| remainder rows; the nested
scan is pushdown surface; FILTER aggregates are one pass; projection
peaks are one ``doc_rows`` pass; rule scores fold per-user booleans
then histogram ≤7 buckets.
"""

from __future__ import annotations

import os

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

# --- Hamilton apportionment ------------------------------------------------------------------

_BUDGET = 1_000_000


def agg_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allocate 1M units across nations ∝ customer spend: floor shares
    + largest-remainder distribution (remainder = budget·w mod total,
    ranked desc with nation tiebreak); Σallocated = budget exactly."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    spend = (
        orders.join(
            cust.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey"),
            "o_custkey",
        )
        .groupBy("c_nationkey")
        .agg(F.sum(cents).alias("w"))
    )
    # 1-row total folded in (scalar-folding rule).  BUDGET·w is computed
    # in two ×1000 stages: the naive 1e6·w product nears int64 max around
    # sf10 (w ≈ 9e12 cents/nation), while here every intermediate is
    # ≤ 1000·t — safe to ~sf4000.  Identity: with h = 1000·w,
    # q1 = h div t, r1 = h mod t:  1e6·w div t = 1000·q1 + 1000·r1 div t
    # and 1e6·w mod t = 1000·r1 mod t.
    tot = spend.agg(F.sum("w").alias("t"))
    base = spend.crossJoin(F.broadcast(tot)).select(
        "c_nationkey",
        "w",
        "t",
        F.expr(
            "1000 * ((1000 * w) div t) + (1000 * ((1000 * w) % t)) div t"
        ).cast("long").alias("floor_share"),
        F.expr("(1000 * ((1000 * w) % t)) % t").cast("long").alias("rem"),
    )
    wrk = Window.orderBy(F.desc("rem"), F.asc("c_nationkey"))
    wfull = Window.partitionBy()
    ranked = base.select(
        "c_nationkey",
        "w",
        "floor_share",
        "rem",
        F.row_number().over(wrk).alias("rrank"),
        (F.lit(_BUDGET) - F.sum("floor_share").over(wfull)).alias("leftover"),
    )
    return ranked.select(
        F.col("c_nationkey").cast("long").alias("nation"),
        "w",
        "floor_share",
        F.col("rrank").cast("long").alias("remainder_rank"),
        (F.col("floor_share")
         + F.when(F.col("rrank") <= F.col("leftover"), 1).otherwise(0))
        .cast("long")
        .alias("allocated"),
    )


AGG_BUDGET_APPORTIONMENT_SQL = f"""
WITH spend AS (
  SELECT c.c_nationkey,
         CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS w
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
), tot AS (SELECT CAST(sum(w) AS BIGINT) AS t FROM spend),
base AS (
  -- two-stage x1000 product keeps every intermediate <= 1000*t (int64-
  -- safe to ~sf4000); algebraically identical to ({_BUDGET}*w) // t / % t
  SELECT c_nationkey, w, t,
         1000 * ((1000 * w) // t) + (1000 * ((1000 * w) % t)) // t
           AS floor_share,
         (1000 * ((1000 * w) % t)) % t AS rem
  FROM spend, tot
), ranked AS (
  SELECT c_nationkey, w, floor_share, rem,
         row_number() OVER (ORDER BY rem DESC, c_nationkey) AS rrank,
         {_BUDGET} - sum(floor_share) OVER () AS leftover
  FROM base
)
SELECT CAST(c_nationkey AS BIGINT) AS nation, w,
       CAST(floor_share AS BIGINT) AS floor_share,
       CAST(rrank AS BIGINT) AS remainder_rank,
       CAST(floor_share + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS allocated
FROM ranked
"""


# --- nested-struct projection pruning ---------------------------------------------------------


def _staged_nested_struct(spark: SparkSession, sf_dir: str) -> str:
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "nested", sf_dir)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        o = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("k"),
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderpriority").alias("priority"),
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")
                .alias("cents"),
            ).alias("meta"),
        )
        o.write.mode("overwrite").parquet(out)
    return out


def scan_nested_struct_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project ONE nested leaf (meta.cents) from the staged struct
    parquet — the scan must read only that subtree (plan-asserted)."""
    path = _staged_nested_struct(spark, sf_dir)
    df = spark.read.parquet(path)
    return df.select(
        (F.col("k") % 10).cast("long").alias("bucket"),
        F.col("meta.cents").alias("cents"),
    ).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


SCAN_NESTED_STRUCT_PRUNE_SQL = """
SELECT CAST(o_orderkey % 10 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders GROUP BY 1
"""


# --- FILTER-clause aggregates ------------------------------------------------------------------


def sql_agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates via the SQL FILTER (WHERE …) modifier —
    run literally on both engines."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "v_filt_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE l_quantity >= 25) AS BIGINT)
                 AS n_bulk,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    FILTER (WHERE l_discount = 0.0) AS BIGINT)
                 AS cents_undiscounted,
               CAST(count(DISTINCT l_suppkey)
                    FILTER (WHERE l_tax > 0.04) AS BIGINT)
                 AS suppliers_high_tax
        FROM v_filt_lineitem GROUP BY l_returnflag
        """
    )


SQL_AGG_FILTER_CLAUSE_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) FILTER (WHERE l_quantity >= 25) AS BIGINT) AS n_bulk,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            FILTER (WHERE l_discount = 0.0) AS BIGINT)
         AS cents_undiscounted,
       CAST(count(DISTINCT l_suppkey) FILTER (WHERE l_tax > 0.04)
            AS BIGINT) AS suppliers_high_tax
FROM lineitem GROUP BY l_returnflag
"""


# --- image projection peaks ---------------------------------------------------------------------


def multimodal_image_projection_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per image the argmax ROW of summed brightness (first-index
    tiebreak); per source the histogram of peak-row indices plus the
    summed peak-column index."""

    def peak(text):
        g = gray(rendered_image(text))
        return [(int(np.argmax(g.sum(axis=1))), 1, int(np.argmax(g.sum(axis=0))))]

    docs = single_byte_docs(load_table(spark, sf_dir, "documents"))
    schema = "source string, peak_row long, n_images long, sum_peak_col long"
    return (
        doc_rows(docs, "source", peak, schema)
        .groupBy("source", "peak_row")
        .agg(
            F.sum("n_images").cast("long").alias("n_images"),
            F.sum("sum_peak_col").cast("long").alias("sum_peak_col"),
        )
    )


_PP_GRAY = (
    "((ascii(substr(text, ((3 * ({p})) % nb) + 1, 1))"
    " + ascii(substr(text, ((3 * ({p}) + 1) % nb) + 1, 1))"
    " + ascii(substr(text, ((3 * ({p}) + 2) % nb) + 1, 1))) // 3)"
)

MULTIMODAL_IMAGE_PROJECTION_PEAK_SQL = f"""
WITH dims AS (
  SELECT doc_id, source, text,
         strlen(text) AS nb,
         strlen(text) % 24 + 8 AS w,
         strlen(text) % 16 + 8 AS h
  FROM documents
  WHERE strlen(text) = length(text)
), px AS (
  SELECT doc_id, source, t.j // w AS r, t.j % w AS c,
         CASE WHEN nb = 0 THEN 0 ELSE {_PP_GRAY.format(p='t.j')} END AS g
  FROM dims, unnest(generate_series(0, w * h - 1)) AS t(j)
), rows_sum AS (
  SELECT doc_id, source, r, sum(g) AS rg FROM px GROUP BY 1, 2, 3
), cols_sum AS (
  SELECT doc_id, source, c, sum(g) AS cg FROM px GROUP BY 1, 2, 3
), peak_r AS (
  SELECT doc_id, source, r AS peak_row FROM (
    SELECT doc_id, source, r,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY rg DESC, r) AS rn
    FROM rows_sum
  ) WHERE rn = 1
), peak_c AS (
  SELECT doc_id, c AS peak_col FROM (
    SELECT doc_id, c,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY cg DESC, c) AS rn
    FROM cols_sum
  ) WHERE rn = 1
)
SELECT pr.source, CAST(pr.peak_row AS BIGINT) AS peak_row,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(sum(pc.peak_col) AS BIGINT) AS sum_peak_col
FROM peak_r pr JOIN peak_c pc ON pr.doc_id = pc.doc_id
GROUP BY 1, 2
"""


# --- weighted rule scores ----------------------------------------------------------------------------


def event_rule_score_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: 3·(≥2 purchases in 6 h) + 2·(errors > views) +
    1·(any activity 00–05 h); histogram of scores."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    wv = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-21600 * 1_000_000, 0)
    )
    bursts = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", F.count(F.lit(1)).over(wv).alias("iw"))
        .groupBy("user_id")
        .agg((F.max("iw") >= 2).cast("long").alias("r_burst"))
    )
    mix = ev.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "error").cast("long"))
            > F.sum((F.col("event_type") == "view").cast("long"))
        )
        .cast("long")
        .alias("r_errors"),
        F.max((F.hour("ts") < 5).cast("long")).alias("r_night"),
    )
    scored = mix.join(bursts, "user_id", "left").select(
        "user_id",
        (
            3 * F.coalesce(F.col("r_burst"), F.lit(0))
            + 2 * F.col("r_errors")
            + F.col("r_night")
        )
        .cast("long")
        .alias("score"),
    )
    return scored.groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


EVENT_RULE_SCORE_MATRIX_SQL = """
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us
  FROM events WHERE event_type = 'purchase'
), burst AS (
  SELECT user_id,
         CASE WHEN max(iw) >= 2 THEN 1 ELSE 0 END AS r_burst
  FROM (
    SELECT user_id,
           count(*) OVER (PARTITION BY user_id ORDER BY us
                          RANGE BETWEEN 21600000000 PRECEDING
                          AND CURRENT ROW) AS iw
    FROM p
  ) GROUP BY user_id
), mix AS (
  SELECT user_id,
         CASE WHEN sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   > sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              THEN 1 ELSE 0 END AS r_errors,
         max(CASE WHEN hour(ts) < 5 THEN 1 ELSE 0 END) AS r_night
  FROM events GROUP BY user_id
), scored AS (
  SELECT m.user_id,
         3 * coalesce(b.r_burst, 0) + 2 * m.r_errors + m.r_night AS score
  FROM mix m LEFT JOIN burst b ON m.user_id = b.user_id
)
SELECT CAST(score AS BIGINT) AS score,
       CAST(count(*) AS BIGINT) AS n_users
FROM scored GROUP BY score
"""


QUERIES: dict[str, QuerySpec] = {
    "agg_budget_apportionment": QuerySpec(
        agg_budget_apportionment, AGG_BUDGET_APPORTIONMENT_SQL
    ),
    "scan_nested_struct_prune": QuerySpec(
        scan_nested_struct_prune, SCAN_NESTED_STRUCT_PRUNE_SQL
    ),
    "sql_agg_filter_clause": QuerySpec(
        sql_agg_filter_clause, SQL_AGG_FILTER_CLAUSE_SQL
    ),
    "multimodal_image_projection_peak": QuerySpec(
        multimodal_image_projection_peak, MULTIMODAL_IMAGE_PROJECTION_PEAK_SQL
    ),
    "event_rule_score_matrix": QuerySpec(
        event_rule_score_matrix, EVENT_RULE_SCORE_MATRIX_SQL
    ),
}
