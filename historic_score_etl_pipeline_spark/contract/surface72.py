"""Round-6 batch 79 — seasonal-residual IQR anomalies, schema-contract
audit, session dwell percentiles, 2-D Pareto front, CSV null-literal
ingest:

* ``anomaly_seasonal_residual_iqr`` — deseasonalized outliers: per
  (event_type, day) count minus the day-of-week mean, as the EXACT
  cross-multiplied integer residual r = n·c_dow − s_dow; Tukey fences at
  1.5·IQR over order-statistic quartiles, compared as 2r vs 2q ± 3·IQR —
  no division, no float.  The seasonality-aware sibling of
  ``anomaly_zscore_rolling``.
* ``audit_schema_contract_check`` — data-contract gate: five declared
  rules (positivity, date range, FK domain, null-rate, value domain)
  each evaluated as one aggregate; per rule (n_checked, n_violations,
  passed).  The CI table a pipeline reads before promoting a snapshot.
* ``sessionize_dwell_time`` — 2-h-gap sessions (the ``sessionize_batch``
  micros idiom): per session-start event type, session count, exact
  lower-median dwell and max dwell in microseconds — medians via
  row_number order statistics, never a per-group array.
* ``agg_pareto_front_2d`` — the skyline operator: non-dominated
  (min price, max quantity) points per return flag in ONE sorted window
  pass (prefix-max of qty over ascending price), never a point×point
  join.
* ``scan_csv_null_literals`` — CSV ingest with a custom null marker
  (``nullValue='NA'``): a staged CSV writes 'NA' for every 7th key's
  price; the reader must surface real NULLs, aggregates count them.

Scale notes: the residual IQR works on the |type×day| aggregate
(quartiles over ≤|days| rows per type); the audit emits one row per
declared rule (scalar-aggregate class, allowlisted); dwell medians are
rank-filtered, one shuffle per stage on bounded keys; the skyline is a
single window over a DISTINCT point set (prefix-max, no pairwise
compare); the CSV scan pushes the null conversion into the parser.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- seasonal-residual IQR anomalies ---------------------------------------------------


def anomaly_seasonal_residual_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day): integer residual n·c − s against the
    day-of-week profile; Tukey 1.5·IQR fences on order-statistic
    quartiles, all comparisons cross-multiplied."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.to_date("ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # Spark dayofweek matches DuckDB's dayofweek+1 offset? both used via
    # modulo-stable weekday key: use date_format E-free integer
    # (dayofweek: Spark 1=Sunday; DuckDB dayofweek 0=Sunday) — pin with
    # (dayofweek + 6) % 7 on Spark vs dayofweek on DuckDB? keep simple:
    # weekday key = day-number mod 7 (engine-free integer arithmetic).
    dowk = (F.datediff(F.col("d"), F.lit("1970-01-01")) % 7).alias("dw")
    daily = daily.select("event_type", "d", "n", dowk)
    prof = daily.groupBy("event_type", "dw").agg(
        F.sum("n").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    resid = daily.join(prof, ["event_type", "dw"]).select(
        "event_type",
        "d",
        "n",
        (F.col("n") * F.col("c") - F.col("s")).cast("long").alias("r"),
    )
    wr = Window.partitionBy("event_type").orderBy("r", "d")
    wc = Window.partitionBy("event_type")
    ranked = resid.select(
        "event_type", "d", "n", "r",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    q1 = ranked.where(
        F.col("rn") == F.expr("CAST((cnt + 3) div 4 AS INT)")
    ).select("event_type", F.col("r").alias("q1"))
    q3 = ranked.where(
        F.col("rn") == F.expr("CAST((3 * cnt + 3) div 4 AS INT)")
    ).select("event_type", F.col("r").alias("q3"))
    return (
        resid.join(q1, "event_type")
        .join(q3, "event_type")
        .select(
            "event_type",
            F.col("d").cast("string").alias("day"),
            "n",
            "r",
            (
                (2 * F.col("r") < 2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1")))
                | (2 * F.col("r") > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1")))
            ).alias("is_outlier"),
        )
    )


ANOMALY_SEASONAL_RESIDUAL_IQR_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), keyed AS (
  SELECT event_type, d, n,
         CAST(date_diff('day', DATE '1970-01-01', d) % 7 AS BIGINT) AS dw
  FROM daily
), prof AS (
  SELECT event_type, dw, CAST(sum(n) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS c
  FROM keyed GROUP BY 1, 2
), resid AS (
  SELECT k.event_type, k.d, k.n,
         CAST(k.n * p.c - p.s AS BIGINT) AS r
  FROM keyed k JOIN prof p ON k.event_type = p.event_type AND k.dw = p.dw
), ranked AS (
  SELECT event_type, d, n, r,
         row_number() OVER (PARTITION BY event_type ORDER BY r, d) AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM resid
), q1 AS (
  SELECT event_type, r AS q1 FROM ranked WHERE rn = (cnt + 3) // 4
), q3 AS (
  SELECT event_type, r AS q3 FROM ranked WHERE rn = (3 * cnt + 3) // 4
)
SELECT resid.event_type, CAST(resid.d AS VARCHAR) AS day, resid.n, resid.r,
       (2 * r < 2 * q1.q1 - 3 * (q3.q3 - q1.q1)
        OR 2 * r > 2 * q3.q3 + 3 * (q3.q3 - q1.q1)) AS is_outlier
FROM resid
JOIN q1 ON resid.event_type = q1.event_type
JOIN q3 ON resid.event_type = q3.event_type
"""


# --- schema contract audit ----------------------------------------------------------------


def audit_schema_contract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five declared data-contract rules, one aggregate each; output
    (rule_id, n_checked, n_violations, passed)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def rule(df: DataFrame, rid: str, viol) -> DataFrame:
        # one scalar aggregate per declared rule (audit_fk_orphans class)
        return df.agg(
            F.lit(rid).alias("rule_id"),
            F.count(F.lit(1)).cast("long").alias("n_checked"),
            F.sum(viol.cast("long")).cast("long").alias("n_violations"),
        ).select(
            "rule_id",
            "n_checked",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )

    r1 = rule(orders, "orders.totalprice_positive", F.col("o_totalprice") <= 0)
    r2 = rule(
        orders,
        "orders.orderdate_in_1990s_window",
        ~F.col("o_orderdate").cast("date").between("1990-01-01", "2010-12-31"),
    )
    r3 = rule(cust, "customer.nationkey_domain", ~F.col("c_nationkey").between(0, 24))
    r4 = rule(ev, "events.value_not_null", F.col("value").isNull())
    r5 = rule(li, "lineitem.discount_domain", ~F.col("l_discount").between(0.0, 0.1))
    return r1.unionByName(r2).unionByName(r3).unionByName(r4).unionByName(r5)


AUDIT_SCHEMA_CONTRACT_CHECK_SQL = """
SELECT 'orders.totalprice_positive' AS rule_id,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations,
       sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) = 0 AS passed
FROM orders
UNION ALL
SELECT 'orders.orderdate_in_1990s_window', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN CAST(o_orderdate AS DATE) NOT BETWEEN
                DATE '1990-01-01' AND DATE '2010-12-31'
                THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN CAST(o_orderdate AS DATE) NOT BETWEEN
           DATE '1990-01-01' AND DATE '2010-12-31' THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'customer.nationkey_domain', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN c_nationkey NOT BETWEEN 0 AND 24
                THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN c_nationkey NOT BETWEEN 0 AND 24 THEN 1 ELSE 0 END) = 0
FROM customer
UNION ALL
SELECT 'events.value_not_null', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) = 0
FROM events
UNION ALL
SELECT 'lineitem.discount_domain', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1
                THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1
           THEN 1 ELSE 0 END) = 0
FROM lineitem
"""


# --- session dwell time ---------------------------------------------------------------------

_DWELL_GAP_US = 2 * 3600 * 1_000_000


def sessionize_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-h-gap sessions per user; per session-START event type:
    session count, exact lower-median dwell, max dwell (µs)."""
    ev = load_table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(order)
    flagged = ev.select(
        "user_id", "event_type", "event_id", us.alias("us"),
        F.when(gap.isNull() | (gap > _DWELL_GAP_US), 1)
        .otherwise(0)
        .alias("new_sess"),
    )
    with_id = flagged.withColumn(
        "session_id",
        F.sum("new_sess").over(
            Window.partitionBy("user_id")
            .orderBy("us", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "us", "event_id"
    )
    sess = (
        with_id.withColumn("start_type", F.first("event_type").over(ws))
        .groupBy("user_id", "session_id", "start_type")
        .agg((F.max("us") - F.min("us")).cast("long").alias("dwell_us"))
    )
    wr = Window.partitionBy("start_type").orderBy(
        "dwell_us", "user_id", "session_id"
    )
    wc = Window.partitionBy("start_type")
    ranked = sess.select(
        "start_type", "dwell_us",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
        F.max("dwell_us").over(wc).cast("long").alias("max_dwell_us"),
    )
    return ranked.where(
        F.col("rn") == F.expr("CAST((cnt + 1) div 2 AS INT)")
    ).select(
        "start_type",
        F.col("cnt").cast("long").alias("n_sessions"),
        F.col("dwell_us").alias("median_dwell_us"),
        "max_dwell_us",
    )


SESSIONIZE_DWELL_TIME_SQL = f"""
WITH ordered AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                   > {_DWELL_GAP_US}
              OR lag(epoch_us(ts)) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), with_id AS (
  SELECT user_id, event_type, event_id, us,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND
                             CURRENT ROW) AS session_id
  FROM ordered
), typed AS (
  SELECT user_id, session_id, us,
         first_value(event_type) OVER (PARTITION BY user_id, session_id
                                       ORDER BY us, event_id) AS start_type
  FROM with_id
), sess AS (
  SELECT user_id, session_id, start_type,
         CAST(max(us) - min(us) AS BIGINT) AS dwell_us
  FROM typed GROUP BY 1, 2, 3
), ranked AS (
  SELECT start_type, dwell_us, user_id, session_id,
         row_number() OVER (PARTITION BY start_type
                            ORDER BY dwell_us, user_id, session_id) AS rn,
         count(*) OVER (PARTITION BY start_type) AS cnt,
         CAST(max(dwell_us) OVER (PARTITION BY start_type) AS BIGINT)
           AS max_dwell_us
  FROM sess
)
SELECT start_type, CAST(cnt AS BIGINT) AS n_sessions,
       dwell_us AS median_dwell_us, max_dwell_us
FROM ranked WHERE rn = (cnt + 1) // 2
"""


# --- 2-D Pareto front (skyline) ---------------------------------------------------------------


def agg_pareto_front_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-dominated (minimize price, maximize quantity) DISTINCT points
    per return flag: one window pass — keep a point iff its qty beats
    the prefix max over strictly cheaper-or-equal points seen earlier in
    (price asc, qty desc) order."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_c"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qty"),
    ).distinct()
    w = (
        Window.partitionBy("flag")
        .orderBy(F.col("price_c").asc(), F.col("qty").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        pts.withColumn("best_prev", F.max("qty").over(w))
        .where(F.col("best_prev").isNull() | (F.col("qty") > F.col("best_prev")))
        .select("flag", "price_c", "qty")
    )


AGG_PARETO_FRONT_2D_SQL = """
WITH pts AS (
  SELECT DISTINCT l_returnflag AS flag,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty
  FROM lineitem
), ranked AS (
  SELECT flag, price_c, qty,
         max(qty) OVER (PARTITION BY flag ORDER BY price_c ASC, qty DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS best_prev
  FROM pts
)
SELECT flag, price_c, qty
FROM ranked WHERE best_prev IS NULL OR qty > best_prev
"""


# --- CSV ingest with custom null literals --------------------------------------------------------


def _staged_null_csv(spark: SparkSession, sf_dir: str) -> str:
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "nullcsv", sf_dir)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        o = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("NA")).otherwise(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")
                .cast("string")
            ).alias("price_cents"),
        )
        o.write.mode("overwrite").option("header", "true").csv(out)
    return out


def scan_csv_null_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the staged CSV with nullValue='NA' so the marker becomes a
    real NULL; per status count rows, nulls and the non-null sum."""
    path = _staged_null_csv(spark, sf_dir)
    df = (
        spark.read.option("header", "true")
        .option("nullValue", "NA")
        .schema("k LONG, status STRING, price_cents LONG")
        .csv(path)
    )
    return df.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("price_cents").isNull().cast("long"))
        .cast("long")
        .alias("n_null_price"),
        F.sum("price_cents").cast("long").alias("sum_price_cents"),
    )


SCAN_CSV_NULL_LITERALS_SQL = """
SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_price,
       CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END)
            AS BIGINT) AS sum_price_cents
FROM orders GROUP BY 1
"""


QUERIES: dict[str, QuerySpec] = {
    "anomaly_seasonal_residual_iqr": QuerySpec(
        anomaly_seasonal_residual_iqr, ANOMALY_SEASONAL_RESIDUAL_IQR_SQL
    ),
    "audit_schema_contract_check": QuerySpec(
        audit_schema_contract_check, AUDIT_SCHEMA_CONTRACT_CHECK_SQL
    ),
    "sessionize_dwell_time": QuerySpec(
        sessionize_dwell_time, SESSIONIZE_DWELL_TIME_SQL
    ),
    "agg_pareto_front_2d": QuerySpec(
        agg_pareto_front_2d, AGG_PARETO_FRONT_2D_SQL
    ),
    "scan_csv_null_literals": QuerySpec(
        scan_csv_null_literals, SCAN_CSV_NULL_LITERALS_SQL
    ),
}
