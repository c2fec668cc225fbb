"""Round-6 batch 60 — sketch set-algebra, connector quirks, calendar
snapping, interval sweep, and dynamic pivot:

* ``agg_hll_intersection`` — |A∩B| by inclusion–exclusion over the
  repo's PORTABLE HLL (operators/sketches.py: md5 registers,
  integer harmonic sums): est(A) + est(B) − est(A∪B), where the union
  sketch is the register-wise max — the sketch-algebra rollup story
  (LC-branch V domain already exhaustively ln-boundary-audited).
* ``scan_csv_multichar_delim`` — the '||' multi-character delimiter
  round-trip (write then schema-pinned read) — a connector surface
  single-char-sep engines cannot express.
* ``date_month_end_rollup`` — calendar snapping: orders grouped by
  last_day(month), with the following month-end via add_months —
  EOM conventions both engines must agree on.
* ``event_concurrent_intervals_max`` — the sweep-line operator: each
  event opens a 30-minute interval; max concurrency per event_type
  from +1/−1 boundary points under a running sum (ends sort before
  starts at equal timestamps — half-open intervals).
* ``sql_pivot_dynamic`` — pivot WITHOUT a hardcoded value list: the
  engine discovers the pivot columns (an extra distinct-values job by
  design), count per (dow × discovered type), null-filled to zero.

Scale notes: the HLL sketches are |tag|×256 register rows (map-side
combinable maxes); the sweep partitions by event_type (running sums
per partition, never global); month-end and the CSV trip are
scan-side; dynamic pivot's discovery job scans DISTINCT types only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.sketches import (
    _HLL_EST_NUM,
    _HLL_M,
    _HLL_RHO_CAP,
    hll_estimate,
    hll_ranks,
    hll_registers,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- HLL inclusion–exclusion -------------------------------------------------------


def agg_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """est(click) + est(purchase) − est(click ∪ purchase) over the
    portable register scheme (operators/sketches.py); union =
    per-register max."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("event_type").isin("click", "purchase")
    )
    ranks = hll_ranks(
        ev.select(
            F.when(F.col("event_type") == "click", "a").otherwise("b").alias("tag"),
            "user_id",
        ),
        ["tag"],
        "user_id",
    )
    # three sketches from one pass: a, b, and u = a ∪ b (explode each
    # ranked row into its own tag plus 'u', then the register max)
    tagged = ranks.select(
        F.explode(F.array(F.col("tag"), F.lit("u"))).alias("tag"), "reg", "rho"
    )
    regs = hll_registers(tagged, ["tag"])
    ests = hll_estimate(regs, ["tag"]).select("tag", F.col("est").alias("e"))
    one = ests.agg(
        F.sum(F.when(F.col("tag") == "a", F.col("e"))).alias("est_click"),
        F.sum(F.when(F.col("tag") == "b", F.col("e"))).alias("est_purchase"),
        F.sum(F.when(F.col("tag") == "u", F.col("e"))).alias("est_union"),
    )
    return one.select(
        F.col("est_click").cast("long").alias("est_click"),
        F.col("est_purchase").cast("long").alias("est_purchase"),
        F.col("est_union").cast("long").alias("est_union"),
        F.greatest(
            F.col("est_click") + F.col("est_purchase") - F.col("est_union"),
            F.lit(0),
        )
        .cast("long")
        .alias("est_intersection"),
    )


AGG_HLL_INTERSECTION_SQL = f"""
WITH hashed AS (
  SELECT CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS tag,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))
              AS BIGINT) AS reg,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 15))
              AS BIGINT) AS suffix
  FROM events
  WHERE user_id IS NOT NULL AND event_type IN ('click', 'purchase')
), rho_t AS (
  SELECT tag, reg,
         CASE WHEN suffix = 0 THEN 61
              ELSE 61 - length(bin(suffix)) END AS rho
  FROM hashed
), tagged AS (
  SELECT x.t AS tag, reg, rho
  FROM rho_t, unnest([tag, 'u']) AS x(t)
), regs AS (
  SELECT tag, reg, max(rho) AS max_rho
  FROM tagged GROUP BY tag, reg
), folded AS (
  SELECT tag,
         sum((1::BIGINT << ({_HLL_RHO_CAP} - least(max_rho, {_HLL_RHO_CAP}))))
           + ({_HLL_M} - count(*)) * {1 << _HLL_RHO_CAP} AS s_total,
         {_HLL_M} - count(*) AS zeros
  FROM regs GROUP BY tag
), raw_t AS (
  SELECT tag, zeros,
         CAST(floor(CAST({_HLL_EST_NUM!r} AS DOUBLE)
                    / CAST(s_total AS DOUBLE) + 0.5) AS BIGINT) AS raw
  FROM folded
), est_t AS (
  SELECT tag,
         CASE WHEN zeros > 0 AND raw <= {int(2.5 * _HLL_M)}
              THEN CAST(floor(CAST({float(_HLL_M)!r} AS DOUBLE)
                        * ln(CAST({float(_HLL_M)!r} AS DOUBLE)
                             / CAST(zeros AS DOUBLE)) + 0.5) AS BIGINT)
              ELSE raw END AS e
  FROM raw_t
)
SELECT CAST(sum(CASE WHEN tag = 'a' THEN e END) AS BIGINT) AS est_click,
       CAST(sum(CASE WHEN tag = 'b' THEN e END) AS BIGINT) AS est_purchase,
       CAST(sum(CASE WHEN tag = 'u' THEN e END) AS BIGINT) AS est_union,
       CAST(greatest(sum(CASE WHEN tag = 'a' THEN e END)
                     + sum(CASE WHEN tag = 'b' THEN e END)
                     - sum(CASE WHEN tag = 'u' THEN e END), 0) AS BIGINT)
         AS est_intersection
FROM est_t
"""


# --- multi-character delimiter CSV -------------------------------------------------


def scan_csv_multichar_delim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'||'-delimited CSV write + schema-pinned read-back."""
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "csvmulti", sf_dir)
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    (
        base.write.mode("overwrite")
        .option("sep", "||")
        .option("header", "true")
        .csv(out)
    )
    back = (
        spark.read.schema("o_orderkey long, status string, priority string, cents long")
        .option("sep", "||")
        .option("header", "true")
        .csv(out)
    )
    return back.groupBy("status", "priority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.min("o_orderkey").cast("long").alias("min_key"),
    )


SCAN_CSV_MULTICHAR_DELIM_SQL = """
SELECT o_orderstatus AS status, o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(min(o_orderkey) AS BIGINT) AS min_key
FROM orders GROUP BY 1, 2
"""


# --- month-end calendar snapping ---------------------------------------------------


def date_month_end_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders per month-end (last_day snap) with the following
    month-end via add_months — EOM conventions."""
    o = load_table(spark, sf_dir, "orders")
    eom = F.last_day(F.to_date("o_orderdate"))
    return (
        o.select(
            eom.alias("eom"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("eom")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .select(
            F.date_format("eom", "yyyy-MM-dd").alias("month_end"),
            F.date_format(F.last_day(F.add_months("eom", 1)), "yyyy-MM-dd")
            .alias("next_month_end"),
            "n_orders",
            "sum_cents",
        )
    )


DATE_MONTH_END_ROLLUP_SQL = """
WITH snapped AS (
  SELECT last_day(CAST(o_orderdate AS DATE)) AS eom,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT strftime(eom, '%Y-%m-%d') AS month_end,
       strftime(last_day(eom + INTERVAL 1 MONTH), '%Y-%m-%d')
         AS next_month_end,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM snapped GROUP BY eom
"""


# --- sweep-line max concurrency ----------------------------------------------------

_SWEEP_MIN = 30


def event_concurrent_intervals_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event opens a 30-min half-open interval; max concurrency
    per type via +1/−1 boundaries and a running sum (ends before
    starts at equal instants)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    bounds = ev.select(
        "event_type",
        F.col("event_id").cast("long").alias("event_id"),
        F.explode(
            F.array(
                F.struct(F.col("ts").alias("t"), F.lit(1).alias("d")),
                F.struct(
                    (F.col("ts") + F.expr(f"INTERVAL {_SWEEP_MIN} MINUTES"))
                    .alias("t"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("b"),
    ).select("event_type", "event_id", F.col("b.t").alias("t"), F.col("b.d").alias("d"))
    w = Window.partitionBy("event_type").orderBy("t", "d", "event_id")
    running = bounds.select(
        "event_type", F.sum("d").over(w).alias("conc")
    )
    return running.groupBy("event_type").agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
        F.max("conc").cast("long").alias("max_concurrent"),
    )


EVENT_CONCURRENT_INTERVALS_MAX_SQL = f"""
WITH bounds AS (
  SELECT event_type, event_id, ts AS t, 1 AS d
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  UNION ALL
  SELECT event_type, event_id, ts + INTERVAL {_SWEEP_MIN} MINUTE, -1
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
), running AS (
  SELECT event_type,
         sum(d) OVER (PARTITION BY event_type
                      ORDER BY t, d, event_id) AS conc
  FROM bounds
)
SELECT event_type,
       CAST(count(*) // 2 AS BIGINT) AS n_intervals,
       CAST(max(conc) AS BIGINT) AS max_concurrent
FROM running GROUP BY event_type
"""


# --- dynamic pivot -----------------------------------------------------------------


def sql_pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with DISCOVERED values (no hardcoded list — the extra
    distinct-scan job is the documented cost), null-filled to 0."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    dow = ((F.unix_date(F.to_date("ts")) + 3) % 7).cast("long")
    wide = (
        ev.select(dow.alias("dow_monday0"), "event_type")
        .groupBy("dow_monday0")
        .pivot("event_type")
        .agg(F.count(F.lit(1)))
    )
    filled = wide.select(
        "dow_monday0",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in wide.columns
            if c != "dow_monday0"
        ],
    )
    return filled


SQL_PIVOT_DYNAMIC_SQL = """
-- a TRUE dynamic pivot (DuckDB PIVOT discovers the value set the same
-- way Spark's .pivot() distinct-scan does, and fills count() gaps with
-- 0) — a hardcoded column list would silently diverge the moment the
-- data grows a new event_type (adversarial-fixture sweep)
PIVOT (
  SELECT CAST((CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) + 3) % 7
              AS BIGINT) AS dow_monday0,
         event_type
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
) ON event_type USING count(*)
GROUP BY dow_monday0
"""


QUERIES: dict[str, QuerySpec] = {
    "agg_hll_intersection": QuerySpec(
        agg_hll_intersection, AGG_HLL_INTERSECTION_SQL
    ),
    "scan_csv_multichar_delim": QuerySpec(
        scan_csv_multichar_delim, SCAN_CSV_MULTICHAR_DELIM_SQL
    ),
    "date_month_end_rollup": QuerySpec(
        date_month_end_rollup, DATE_MONTH_END_ROLLUP_SQL
    ),
    "event_concurrent_intervals_max": QuerySpec(
        event_concurrent_intervals_max, EVENT_CONCURRENT_INTERVALS_MAX_SQL
    ),
    "sql_pivot_dynamic": QuerySpec(sql_pivot_dynamic, SQL_PIVOT_DYNAMIC_SQL),
}
