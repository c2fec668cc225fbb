"""Round-6 batch 69 — Bollinger bands, sketch calibration, Easter
computus, degree assortativity, idempotent append:

* ``window_bollinger_bands`` — the trailing-20-day mean ± 2σ bands
  over the daily count series: integer Σ/Σ² feed one IDENTICAL double
  expression (sqrt/div are IEEE correctly rounded → bit-equal across
  engines, the Wilson-bound convention), milli-fixpointed.
* ``agg_hll_error_calibration`` — measure the sketch you ship: the
  portable-HLL estimate (surface29 register scheme) joined against
  the EXACT distinct per type, absolute error in ppm of truth — the
  estimator-calibration readout every sketch rollout needs.
* ``date_easter_computus`` — the anonymous Gregorian Easter
  algorithm (pure integer div/mod chains) for every observed order
  year, with the orders placed in Easter week — calendar arithmetic
  at its most adversarial, byte-for-byte replayable.
* ``graph_degree_assortativity`` — Pearson correlation of endpoint
  degrees over the co-order edges (exact integer sums; the final
  ratio is one identical double expression) — do high-degree parts
  co-occur with high-degree parts?
* ``sink_append_idempotent_log`` — exactly-once append discipline:
  the same batch (tagged batch_id) appended TWICE; the reader dedups
  on (batch_id, key) so the double-write is invisible — retry-safe
  ingestion.

Scale notes: Bollinger windows the |days|-row aggregate (allowlisted
partial-state SinglePartition); calibration reuses the 256-register
fold; computus is a |years|-row dim; assortativity is two broadcast
degree joins over edges; the idempotent log dedups with one
WindowGroupLimit-shaped rank per (batch, key).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.graph import co_order_edges
from historic_score_etl_pipeline_spark.operators.sketches import (
    _HLL_EST_NUM,
    _HLL_M,
    _HLL_RHO_CAP,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- Bollinger bands ---------------------------------------------------------------

_BB_N = 20


def window_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-20 mean ± 2σ (population) over daily counts; only
    full-window days; identical double expression both engines."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.orderBy("day").rowsBetween(-(_BB_N - 1), 0)
    staged = daily.select(
        "day",
        "n",
        F.sum("n").over(w).alias("s"),
        # n = a full day's event count, so n² alone is ~1e19 at 100 TB:
        # the squared term runs in DECIMAL(38,0)/HUGEINT (r8 audit
        # class); q only feeds the double σ expression downstream
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("n"))
        .over(w)
        .alias("q"),
        F.count("n").over(w).alias("c"),
    ).where(F.col("c") == _BB_N)
    mean_m = F.expr(f"s * 1000 div {_BB_N}")
    sigma = F.sqrt(
        (
            F.col("q").cast("double") * float(_BB_N)
            - F.col("s").cast("double") * F.col("s").cast("double")
        )
        / float(_BB_N * _BB_N)
    )
    return staged.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").alias("actual"),
        mean_m.cast("long").alias("ma_milli"),
        F.floor(sigma * 1000.0 + F.lit(0.5)).cast("long").alias("sigma_milli"),
        F.floor(
            F.col("s").cast("double") / float(_BB_N) * 1000.0
            + 2.0 * sigma * 1000.0
            + F.lit(0.5)
        )
        .cast("long")
        .alias("upper_milli"),
        F.floor(
            F.col("s").cast("double") / float(_BB_N) * 1000.0
            - 2.0 * sigma * 1000.0
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lower_milli"),
    )


WINDOW_BOLLINGER_BANDS_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), staged AS (
  SELECT day, n,
         sum(n) OVER wtrail AS s,
         sum(CAST(n AS HUGEINT) * n) OVER wtrail AS q,
         count(n) OVER wtrail AS c
  FROM daily
  WINDOW wtrail AS (ORDER BY day
                    ROWS BETWEEN {_BB_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       n AS actual,
       CAST(s * 1000 // {_BB_N} AS BIGINT) AS ma_milli,
       CAST(floor(sqrt((CAST(q AS DOUBLE) * {float(_BB_N)!r}
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / {float(_BB_N * _BB_N)!r}) * 1000.0 + 0.5)
            AS BIGINT) AS sigma_milli,
       CAST(floor(CAST(s AS DOUBLE) / {float(_BB_N)!r} * 1000.0
                  + 2.0 * sqrt((CAST(q AS DOUBLE) * {float(_BB_N)!r}
                                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                               / {float(_BB_N * _BB_N)!r}) * 1000.0 + 0.5)
            AS BIGINT) AS upper_milli,
       CAST(floor(CAST(s AS DOUBLE) / {float(_BB_N)!r} * 1000.0
                  - 2.0 * sqrt((CAST(q AS DOUBLE) * {float(_BB_N)!r}
                                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                               / {float(_BB_N * _BB_N)!r}) * 1000.0 + 0.5)
            AS BIGINT) AS lower_milli
FROM staged WHERE c = {_BB_N}
"""


# --- HLL error calibration ---------------------------------------------------------


def agg_hll_error_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-HLL estimate vs exact distinct per type; |err| ppm of
    truth — the sketch-calibration readout."""
    from historic_score_etl_pipeline_spark.contract.surface29 import (
        agg_hll_portable,
    )

    est = agg_hll_portable(spark, sf_dir).select("event_type", "est_users")
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("true_users")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "est_users",
        "true_users",
        F.expr("abs(est_users - true_users) * 1000000 div true_users")
        .cast("long")
        .alias("abs_err_ppm"),
    )


AGG_HLL_ERROR_CALIBRATION_SQL = f"""
WITH hashed AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))
              AS BIGINT) AS reg,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 15))
              AS BIGINT) AS suffix
  FROM events
), regs AS (
  SELECT event_type, reg,
         max(CASE WHEN suffix = 0 THEN 61
                  ELSE 61 - length(bin(suffix)) END) AS max_rho
  FROM hashed GROUP BY event_type, reg
), folded AS (
  SELECT event_type,
         sum((1::BIGINT << ({_HLL_RHO_CAP} - least(max_rho, {_HLL_RHO_CAP}))))
           + ({_HLL_M} - count(*)) * {1 << _HLL_RHO_CAP} AS s_total,
         {_HLL_M} - count(*) AS zeros
  FROM regs GROUP BY event_type
), est AS (
  SELECT event_type, zeros,
         CAST(floor(CAST({_HLL_EST_NUM!r} AS DOUBLE)
                    / CAST(s_total AS DOUBLE) + 0.5) AS BIGINT) AS raw
  FROM folded
), est2 AS (
  SELECT event_type,
         CASE WHEN zeros > 0 AND raw <= {int(2.5 * _HLL_M)}
              THEN CAST(floor(CAST({float(_HLL_M)!r} AS DOUBLE)
                        * ln(CAST({float(_HLL_M)!r} AS DOUBLE)
                             / CAST(zeros AS DOUBLE)) + 0.5) AS BIGINT)
              ELSE raw END AS est_users
  FROM est
), exact AS (
  SELECT event_type,
         CAST(count(DISTINCT user_id) AS BIGINT) AS true_users
  FROM events GROUP BY event_type
)
SELECT e.event_type, e.est_users, x.true_users,
       CAST(abs(e.est_users - x.true_users) * 1000000 // x.true_users
            AS BIGINT) AS abs_err_ppm
FROM est2 e JOIN exact x ON e.event_type = x.event_type
"""


# --- Gregorian Easter computus -----------------------------------------------------


def date_easter_computus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anonymous Gregorian algorithm per observed order year; orders
    in [easter, easter+7d) counted via a broadcast date-range join."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d")
    )
    years = o.select(F.year("d").alias("y")).distinct()
    # anonymous Gregorian computus (all integer div/mod)
    e = years.selectExpr(
        "y",
        "y % 19 AS a",
        "y div 100 AS b",
        "y % 100 AS c",
    ).selectExpr(
        "y", "a", "b", "c",
        "b div 4 AS dd", "b % 4 AS ee", "(b + 8) div 25 AS f",
        "c div 4 AS i", "c % 4 AS k",
    ).selectExpr(
        "y", "a", "b", "c", "dd", "ee", "f", "i", "k",
        "(b - f + 1) div 3 AS g",
    ).selectExpr(
        "y", "a", "c", "dd", "ee", "i", "k",
        "(19 * a + b - dd - g + 15) % 30 AS h",
    ).selectExpr(
        "y", "a", "h", "i", "k", "ee",
        "(32 + 2 * ee + 2 * i - h - k) % 7 AS l",
    ).selectExpr(
        "y", "a", "h", "l",
        "(a + 11 * h + 22 * l) div 451 AS m",
    ).selectExpr(
        "y", "h", "l", "m",
        "(h + l - 7 * m + 114) div 31 AS month",
        "((h + l - 7 * m + 114) % 31) + 1 AS day",
    )
    easter = e.select(
        "y",
        F.to_date(
            F.format_string("%04d-%02d-%02d", F.col("y"), F.col("month"), F.col("day"))
        ).alias("easter"),
    )
    j = o.join(
        F.broadcast(easter),
        (F.col("d") >= F.col("easter"))
        & (F.col("d") < F.date_add(F.col("easter"), 7)),
        "right",
    )
    return j.groupBy(
        F.col("y").cast("long").alias("year"),
        F.date_format("easter", "yyyy-MM-dd").alias("easter_sunday"),
    ).agg(F.count("d").cast("long").alias("n_orders_easter_week"))


DATE_EASTER_COMPUTUS_SQL = """
WITH o AS (
  SELECT CAST(o_orderdate AS DATE) AS d FROM orders
), years AS (
  SELECT DISTINCT year(d) AS y FROM o
), comp AS (
  SELECT y,
         y % 19 AS a, y // 100 AS b, y % 100 AS c
  FROM years
), comp2 AS (
  SELECT *, b // 4 AS dd, b % 4 AS ee, (b + 8) // 25 AS f,
         c // 4 AS i, c % 4 AS k
  FROM comp
), comp3 AS (
  SELECT *, (b - f + 1) // 3 AS g FROM comp2
), comp4 AS (
  SELECT *, (19 * a + b - dd - g + 15) % 30 AS h FROM comp3
), comp5 AS (
  SELECT *, (32 + 2 * ee + 2 * i - h - k) % 7 AS l FROM comp4
), comp6 AS (
  SELECT *, (a + 11 * h + 22 * l) // 451 AS m FROM comp5
), easter AS (
  SELECT y,
         make_date(CAST(y AS INT),
                   CAST((h + l - 7 * m + 114) // 31 AS INT),
                   CAST(((h + l - 7 * m + 114) % 31) + 1 AS INT)) AS easter
  FROM comp6
)
SELECT CAST(e.y AS BIGINT) AS year,
       strftime(e.easter, '%Y-%m-%d') AS easter_sunday,
       CAST(count(o.d) AS BIGINT) AS n_orders_easter_week
FROM easter e LEFT JOIN o
  ON o.d >= e.easter AND o.d < e.easter + 7
GROUP BY 1, 2
"""


# --- degree assortativity ----------------------------------------------------------


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson r of endpoint degrees over DIRECTED edge copies (both
    orientations — the standard undirected treatment): exact integer
    sums, one identical double expression for r (×1e6)."""
    edges = co_order_edges(load_table(spark, sf_dir, "lineitem"))
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    du = deg.select(F.col("u").alias("su"), F.col("deg").alias("dx"))
    dv = deg.select(F.col("u").alias("sv"), F.col("deg").alias("dy"))
    joined = (
        sym.join(F.broadcast(du), F.col("u") == F.col("su"))
        .join(F.broadcast(dv), F.col("v") == F.col("sv"))
    )
    sums = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    # r = (n·Σxy − Σx·Σy) / sqrt((n·Σxx − Σx²)·(n·Σyy − Σy²))
    r_micro = F.floor(
        (
            F.col("n").cast("double") * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        )
        / F.sqrt(
            (
                F.col("n").cast("double") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            )
            * (
                F.col("n").cast("double") * F.col("syy").cast("double")
                - F.col("sy").cast("double") * F.col("sy").cast("double")
            )
        )
        * 1000000.0
        + F.lit(0.5)
    ).cast("long")
    return sums.select("n", "sx", "sxy", r_micro.alias("assortativity_micro"))


GRAPH_DEGREE_ASSORTATIVITY_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
), sym AS (
  SELECT u, v FROM e UNION ALL SELECT v, u FROM e
), deg AS (
  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u
), joined AS (
  SELECT du.deg AS dx, dv.deg AS dy
  FROM sym JOIN deg du ON sym.u = du.u
           JOIN deg dv ON sym.v = dv.u
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dx) AS BIGINT) AS sx,
         CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy
  FROM joined
)
SELECT n, sx, sxy,
       CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  * 1000000.0 + 0.5) AS BIGINT) AS assortativity_micro
FROM sums
"""


# --- idempotent append log ---------------------------------------------------------


def sink_append_idempotent_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same tagged batch appended TWICE; the reader dedups on
    (batch_id, key) — the double-write must be invisible."""
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "idemlog", sf_dir)
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        (F.col("o_orderkey") % 3).cast("long").alias("batch_id"),
    )
    base.write.mode("overwrite").parquet(out)
    base.write.mode("append").parquet(out)  # the retry double-write
    back = spark.read.schema(
        "k long, status string, cents long, batch_id long"
    ).parquet(out)
    w = Window.partitionBy("batch_id", "k").orderBy("cents")
    deduped = back.select(
        "k", "status", "cents", "batch_id", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") == 1)
    return deduped.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


SINK_APPEND_IDEMPOTENT_LOG_SQL = """
SELECT CAST(o_orderkey % 3 AS BIGINT) AS batch_id,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders GROUP BY 1
"""


QUERIES: dict[str, QuerySpec] = {
    "window_bollinger_bands": QuerySpec(
        window_bollinger_bands, WINDOW_BOLLINGER_BANDS_SQL
    ),
    "agg_hll_error_calibration": QuerySpec(
        agg_hll_error_calibration, AGG_HLL_ERROR_CALIBRATION_SQL
    ),
    "date_easter_computus": QuerySpec(
        date_easter_computus, DATE_EASTER_COMPUTUS_SQL
    ),
    "graph_degree_assortativity": QuerySpec(
        graph_degree_assortativity, GRAPH_DEGREE_ASSORTATIVITY_SQL
    ),
    "sink_append_idempotent_log": QuerySpec(
        sink_append_idempotent_log, SINK_APPEND_IDEMPOTENT_LOG_SQL
    ),
}
