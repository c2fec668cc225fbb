"""Round-6 batch 55 — SimHash candidate pairs, naive forecasting, and
surface completions:

* ``dedup_simhash_hamming`` — SimHash goes end-to-end: the 16-bit
  portable (md5-base) signature splits into four 4-bit bands; pairs
  sharing ANY band block together (the standard Hamming-LSH: distance
  ≤ 3 guarantees ≥ 1 identical band), then the exact popcount of the
  XOR verifies distance ≤ 3.  Band equi-join only — never doc×doc —
  and every stage (signature, banding, popcount) replays in SQL.
* ``event_forecast_dow_naive`` — the seasonal-naive backtest: each
  day of the LAST observed week forecast by the integer mean of all
  SAME-WEEKDAY prior days, with the absolute error — the baseline
  every forecasting pipeline must beat, exactly replayable.
* ``str_printf_render`` — printf-style composition
  (format_string / printf) of an invoice line with zero-padded and
  width-aligned fields.
* ``window_lag_offset_default`` — lag/lead at offset 3 WITH explicit
  defaults (the boundary-fill variant the plain lag family leaves
  NULL).
* ``event_path_to_purchase`` — per converting user: events and
  distinct types strictly BEFORE the first purchase (path-length
  readout; ties at the purchase timestamp break by event_id).

Scale notes: simhash banding is 4 rows per doc into a band-bucket
equi-join; the forecast aggregates the |days|-row daily table; the
rest are scan-side or single-window queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.pins import pin
from historic_score_etl_pipeline_spark.operators.dedup import (
    hamming16_pairs,
    simhash_portable,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- SimHash Hamming candidates ----------------------------------------------------

_SH_MAX_DIST = 3


def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-band Hamming-LSH over the 16-bit portable SimHash: candidate
    pairs from band buckets, verified popcount(xor) ≤ 3."""
    # NULL text has no signature: Spark's greatest(NULL, 0) window in
    # shingles() would silently hash a NULL doc like an EMPTY doc, while
    # the oracle folds it to 0 — exclude on both engines
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    # Pinned: the band self-join consumes the signature table on BOTH
    # sides (see band_self_join)
    sig = pin(docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        simhash_portable("text").alias("sh"),
    ))
    return hamming16_pairs(sig, "doc_id", "sh", _SH_MAX_DIST)


DEDUP_SIMHASH_HAMMING_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(
           lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')), '\\s+') AS t
  FROM documents WHERE text IS NOT NULL
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 1, 1)),
           i -> array_to_string(t[i:i+1], ' '))) AS sh
  FROM toks
), hs AS (
  SELECT doc_id,
         list_transform(
           sh, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
  FROM sh
), sig AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(
           generate_series(0, 15),
           b -> CASE WHEN list_sum(list_transform(
                         hs, h -> CASE WHEN (h >> b) & 1 = 1
                                       THEN 1 ELSE -1 END)) > 0
                     THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS s
  FROM hs
), bands AS (
  SELECT doc_id, s, b AS band, (s >> (4 * b)) & 15 AS nib
  FROM sig, unnest([0, 1, 2, 3]) AS u(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.s AS sh_a, b.s AS sh_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {_SH_MAX_DIST}
"""


# --- seasonal-naive forecast backtest ----------------------------------------------


def event_forecast_dow_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast each day of the LAST observed week by the integer mean
    of same-weekday prior days; emit actual, forecast, |error|."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    mx = daily.agg(F.max("day").alias("mx"))
    j = daily.crossJoin(F.broadcast(mx)).withColumn(
        "dow", (F.unix_date(F.col("day")) + 3) % 7
    )
    last_week = j.where(F.datediff("mx", "day") < 7)
    prior = j.where(F.datediff("mx", "day") >= 7)
    hist = prior.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_hist"),
        F.sum("n").alias("sum_hist"),
    )
    out = last_week.join(F.broadcast(hist), "dow").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("dow").cast("long").alias("dow_monday0"),
        F.col("n").alias("actual"),
        F.expr("sum_hist div n_hist").cast("long").alias("forecast"),
        F.abs(F.col("n") - F.expr("sum_hist div n_hist"))
        .cast("long")
        .alias("abs_err"),
    )
    return out


EVENT_FORECAST_DOW_NAIVE_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), mx AS (SELECT max(day) AS mx FROM daily),
tagged AS (
  SELECT d.day, d.n,
         CAST((CAST(d.day - DATE '1970-01-01' AS BIGINT) + 3) % 7
              AS BIGINT) AS dow,
         m.mx
  FROM daily d CROSS JOIN mx m
), hist AS (
  SELECT dow, count(*) AS n_hist, sum(n) AS sum_hist
  FROM tagged WHERE mx - day >= 7 GROUP BY dow
)
SELECT strftime(t.day, '%Y-%m-%d') AS day,
       t.dow AS dow_monday0,
       t.n AS actual,
       CAST(h.sum_hist // h.n_hist AS BIGINT) AS forecast,
       CAST(abs(t.n - h.sum_hist // h.n_hist) AS BIGINT) AS abs_err
FROM tagged t JOIN hist h ON t.dow = h.dow
WHERE t.mx - t.day < 7
"""


# --- printf composition ------------------------------------------------------------


def str_printf_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invoice line via format_string: zero-padded key, width-aligned
    status, cent amount."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    line = F.format_string(
        "INV-%09d [%s] %015d cents",
        F.col("o_orderkey"),
        F.col("o_orderstatus"),
        cents,
    )
    return orders.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        line.alias("invoice_line"),
        F.length(line).cast("long").alias("line_len"),
    )


STR_PRINTF_RENDER_SQL = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       printf('INV-%09d [%s] %015d cents', o_orderkey, o_orderstatus,
              CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
         AS invoice_line,
       CAST(length(printf('INV-%09d [%s] %015d cents', o_orderkey,
              o_orderstatus,
              CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))) AS BIGINT)
         AS line_len
FROM orders
"""


# --- lag/lead with offset + default ------------------------------------------------


def window_lag_offset_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(cents, 3, -1) and lead(cents, 3, -1) per user over event
    time (event_id tiebreak) — explicit boundary defaults."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    base = ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        "user_id",
        "ts",
        cents.alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return base.select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        "cents",
        F.lag("cents", 3, -1).over(w).cast("long").alias("lag3"),
        F.lead("cents", 3, -1).over(w).cast("long").alias("lead3"),
    )


WINDOW_LAG_OFFSET_DEFAULT_SQL = """
WITH base AS (
  SELECT event_id, user_id, ts,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       cents,
       CAST(lag(cents, 3, -1) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS BIGINT)
         AS lag3,
       CAST(lead(cents, 3, -1) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT)
         AS lead3
FROM base
"""


# --- path to first purchase --------------------------------------------------------


def event_path_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per converting user: events and distinct types strictly before
    the first purchase (purchase picked by (ts, event_id))."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    first_p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.min(F.struct("ts", "event_id")).alias("fp")
        )
        .select("user_id", F.col("fp.ts").alias("p_ts"), F.col("fp.event_id").alias("p_id"))
    )
    j = ev.join(first_p, "user_id")
    before = j.where(
        (F.col("ts") < F.col("p_ts"))
        | ((F.col("ts") == F.col("p_ts")) & (F.col("event_id") < F.col("p_id")))
    )
    return before.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_before"),
        F.countDistinct("event_type").cast("long").alias("n_types_before"),
    )


EVENT_PATH_TO_PURCHASE_SQL = """
WITH ev AS (
  SELECT user_id, event_id, event_type, ts
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
), fp AS (
  SELECT user_id, ts AS p_ts, event_id AS p_id
  FROM (SELECT user_id, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM ev WHERE event_type = 'purchase')
  WHERE rn = 1
), before AS (
  SELECT e.user_id, e.event_type
  FROM ev e JOIN fp ON e.user_id = fp.user_id
  WHERE e.ts < fp.p_ts
     OR (e.ts = fp.p_ts AND e.event_id < fp.p_id)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_before,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types_before
FROM before GROUP BY user_id
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_simhash_hamming": QuerySpec(
        dedup_simhash_hamming, DEDUP_SIMHASH_HAMMING_SQL
    ),
    "event_forecast_dow_naive": QuerySpec(
        event_forecast_dow_naive, EVENT_FORECAST_DOW_NAIVE_SQL
    ),
    "str_printf_render": QuerySpec(str_printf_render, STR_PRINTF_RENDER_SQL),
    "window_lag_offset_default": QuerySpec(
        window_lag_offset_default, WINDOW_LAG_OFFSET_DEFAULT_SQL
    ),
    "event_path_to_purchase": QuerySpec(
        event_path_to_purchase, EVENT_PATH_TO_PURCHASE_SQL
    ),
}
