"""Round-6 batch 97 — chunk-grain dedup, rolling-origin CV folds, FX
conversion, drawdown recovery time, loudest audio window (overflow
slots):

* ``dedup_chunk_exact`` — training-data dedup at CONTEXT-WINDOW grain:
  the batch-78 overlapping 16-word windows hashed (md5) and counted
  across documents; windows appearing in ≥ 2 distinct docs are the
  cross-document duplication the token-level dedupers miss.  Output:
  per duplication level (docs sharing a window) the window and
  occurrence counts.
* ``sample_rolling_origin_folds`` — forecasting cross-validation
  design: rolling-origin folds (train ≤ day f, test (f, f+5]) for
  f ∈ {10, 15, 20, 25}; per fold the train/test event counts — the
  fold table an evaluation loop iterates.
* ``join_fx_conversion_daily`` — multi-currency ledger: a formulaic
  daily FX dim (rate_ppm = 1e6 + (epoch-day % 37)·1000) joined on the
  order date; cents converted EXACTLY as cents·rate_ppm div 1e6,
  monthly rollup in both currencies.
* ``window_recovery_time_days`` — time-under-water's third leg (depth =
  ``window_drawdown_max``, duration = ``window_underwater_duration``):
  per supplier the deepest-trough position and the days from trough to
  the FIRST later price at/above the prior peak (NULL if never
  recovered).
* ``multimodal_audio_loudest_window`` — loudest-segment finder: max
  trailing-100-sample Σ|s| per clip (earliest-position tiebreak), per
  source the max window energy and the sum of peak positions.

Scale notes: chunk dedup groups md5(window) — corpus-linear, the
LSH-free exact tier; fold counts are one scan × 4 fold tags (Expand);
FX joins a |days|-row broadcast dim; recovery time is three window
passes per supplier partition; the loudest window rides per-clip
ordered windows inside one ``doc_rows`` pass (numpy sliding sum).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.multimodal import (
    doc_rows,
    rendered_samples,
    single_byte_docs,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- chunk-grain dedup ------------------------------------------------------------------------


def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 the overlapping 16-word windows (batch-78 chunker); per
    duplication level (distinct docs sharing a window): window count
    and total occurrences."""
    from historic_score_etl_pipeline_spark.contract.surface71 import (
        udtf_overlap_chunks,
    )

    chunks = udtf_overlap_chunks(spark, sf_dir).where(F.col("n_words") == 16)
    hashed = chunks.select("doc_id", F.md5("chunk").alias("h"))
    per_h = hashed.groupBy("h").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
    )
    return per_h.groupBy(F.col("n_docs").alias("docs_sharing")).agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum("n_occurrences").cast("long").alias("n_occurrences"),
    )


DEDUP_CHUNK_EXACT_SQL = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ws
  FROM documents
), g AS (
  SELECT doc_id, ws,
         unnest(generate_series(
           0, CAST(ceil(greatest(len(ws), 1) / 8.0) AS BIGINT) - 1))
           AS win_idx
  FROM w
), chunks AS (
  SELECT doc_id,
         array_to_string(ws[win_idx * 8 + 1 : win_idx * 8 + 16], ' ')
           AS chunk,
         len(ws[win_idx * 8 + 1 : win_idx * 8 + 16]) AS n_words
  FROM g
), hashed AS (
  SELECT doc_id, md5(chunk) AS h FROM chunks WHERE n_words = 16
), per_h AS (
  SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_occurrences
  FROM hashed GROUP BY h
)
SELECT CAST(n_docs AS BIGINT) AS docs_sharing,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(n_occurrences) AS BIGINT) AS n_occurrences
FROM per_h GROUP BY 1
"""


# --- rolling-origin CV folds --------------------------------------------------------------------

_FOLD_ORIGINS = [10, 15, 20, 25]
_FOLD_HORIZON = 5


def sample_rolling_origin_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per fold origin f: train = day-of-month ≤ f, test = (f, f+5];
    event counts and distinct users per side."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.dayofmonth("ts").alias("dom")
    )
    folds = spark.createDataFrame(
        [(f,) for f in _FOLD_ORIGINS], "fold LONG"
    )
    tagged = ev.crossJoin(F.broadcast(folds)).select(
        "fold",
        "user_id",
        F.when(F.col("dom") <= F.col("fold"), "train")
        .when(F.col("dom") <= F.col("fold") + _FOLD_HORIZON, "test")
        .alias("side"),
    ).where(F.col("side").isNotNull())
    return tagged.groupBy("fold", "side").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


SAMPLE_ROLLING_ORIGIN_FOLDS_SQL = f"""
WITH tagged AS (
  SELECT f.fold, e.user_id,
         CASE WHEN day(e.ts) <= f.fold THEN 'train'
              WHEN day(e.ts) <= f.fold + {_FOLD_HORIZON} THEN 'test'
         END AS side
  FROM events e, (VALUES (10), (15), (20), (25)) AS f(fold)
)
SELECT CAST(fold AS BIGINT) AS fold, side,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM tagged WHERE side IS NOT NULL GROUP BY 1, 2
"""


# --- daily FX conversion -------------------------------------------------------------------------


def join_fx_conversion_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join the formulaic daily FX dim (rate_ppm = 1e6 + (dn%37)·1000)
    on the order date; convert cents EXACTLY; monthly rollup in both
    currencies."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    rng = o.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    fx = rng.select(F.explode(F.sequence("lo", "hi")).alias("d")).select(
        "d",
        (
            F.lit(1_000_000)
            + (F.datediff(F.col("d"), F.lit("1970-01-01")) % 37) * 1000
        )
        .cast("long")
        .alias("rate_ppm"),
    )
    conv = o.join(F.broadcast(fx), "d").select(
        F.date_format("d", "yyyy-MM").alias("ym"),
        "cents",
        F.expr("(cents * rate_ppm) div 1000000").cast("long").alias(
            "converted_cents"
        ),
    )
    return conv.groupBy("ym").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("base_cents"),
        F.sum("converted_cents").cast("long").alias("converted_cents"),
    )


JOIN_FX_CONVERSION_DAILY_SQL = """
WITH o AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), conv AS (
  SELECT strftime(d, '%Y-%m') AS ym, cents,
         (cents * (1000000
            + (date_diff('day', DATE '1970-01-01', d) % 37) * 1000))
           // 1000000 AS converted_cents
  FROM o
)
SELECT ym, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS base_cents,
       CAST(sum(converted_cents) AS BIGINT) AS converted_cents
FROM conv GROUP BY ym
"""


# --- drawdown recovery time -----------------------------------------------------------------------


def window_recovery_time_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per supplier (< 10): the deepest trough (max cummax − price,
    earliest tiebreak) and the days from the trough to the FIRST later
    price ≥ the prior peak (NULL = never recovered)."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_suppkey") < 10)
    px = li.select(
        F.col("l_suppkey").cast("long").alias("sk"),
        F.to_date("l_shipdate").alias("d"),
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("c"),
    )
    w = Window.partitionBy("sk").orderBy("d", "l_orderkey", "l_linenumber")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    seq = px.select(
        "sk", "d", "l_orderkey", "l_linenumber", "c",
        F.max("c").over(wrun).alias("peak"),
        F.row_number().over(w).alias("i"),
    ).withColumn("dd", F.col("peak") - F.col("c"))
    rk = Window.partitionBy("sk").orderBy(F.desc("dd"), F.asc("i"))
    trough = (
        seq.withColumn("rnk", F.row_number().over(rk))
        .where(F.col("rnk") == 1)
        .select(
            "sk",
            F.col("i").alias("trough_i"),
            F.col("d").alias("trough_d"),
            F.col("peak").alias("trough_peak"),
            F.col("dd").alias("max_drawdown"),
        )
    )
    rec = (
        seq.join(trough, "sk")
        .where(
            (F.col("i") > F.col("trough_i"))
            & (F.col("c") >= F.col("trough_peak"))
        )
        .groupBy("sk")
        .agg(F.min("d").alias("rec_d"))
    )
    return (
        trough.join(rec, "sk", "left")
        .select(
            F.col("sk").alias("l_suppkey"),
            "max_drawdown",
            F.col("trough_i").cast("long").alias("trough_pos"),
            F.datediff("rec_d", "trough_d").cast("long").alias(
                "recovery_days"
            ),
        )
    )


WINDOW_RECOVERY_TIME_DAYS_SQL = """
WITH px AS (
  SELECT l_suppkey AS sk, CAST(l_shipdate AS DATE) AS d, l_orderkey,
         l_linenumber,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
  FROM lineitem WHERE l_suppkey < 10
), seq AS (
  SELECT sk, d, c,
         max(c) OVER (PARTITION BY sk ORDER BY d, l_orderkey, l_linenumber
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
         row_number() OVER (PARTITION BY sk ORDER BY d, l_orderkey,
              l_linenumber) AS i
  FROM px
), dd AS (
  SELECT sk, d, c, peak, i, peak - c AS dd,
         row_number() OVER (PARTITION BY sk ORDER BY peak - c DESC, i)
           AS rnk
  FROM seq
), trough AS (
  SELECT sk, i AS trough_i, d AS trough_d, peak AS trough_peak,
         dd AS max_drawdown
  FROM dd WHERE rnk = 1
), rec AS (
  SELECT seq.sk, min(seq.d) AS rec_d
  FROM seq JOIN trough ON seq.sk = trough.sk
  WHERE seq.i > trough.trough_i AND seq.c >= trough.trough_peak
  GROUP BY seq.sk
)
SELECT CAST(t.sk AS BIGINT) AS l_suppkey,
       CAST(t.max_drawdown AS BIGINT) AS max_drawdown,
       CAST(t.trough_i AS BIGINT) AS trough_pos,
       CAST(date_diff('day', t.trough_d, r.rec_d) AS BIGINT)
         AS recovery_days
FROM trough t LEFT JOIN rec r ON t.sk = r.sk
"""


# --- loudest audio window ------------------------------------------------------------------------------

_LOUD_WIN = 100


def multimodal_audio_loudest_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per clip: the max trailing-100-sample Σ|s| and its END position
    (earliest tiebreak); per source the count, max window energy and
    sum of peak positions."""

    def loudest(text):
        s = np.abs(rendered_samples(text))
        cs = np.concatenate([[0], np.cumsum(s)])
        ends = np.arange(1, len(s) + 1)
        energies = cs[ends] - cs[np.maximum(ends - _LOUD_WIN, 0)]
        # first max → earliest end
        return [(1, int(energies.max()), int(np.argmax(energies)))]

    docs = single_byte_docs(load_table(spark, sf_dir, "documents"))
    schema = "source string, n_clips long, max_energy long, sum_peak_pos long"
    return doc_rows(docs, "source", loudest, schema).groupBy("source").agg(
        F.sum("n_clips").cast("long").alias("n_clips"),
        F.max("max_energy").cast("long").alias("max_energy"),
        F.sum("sum_peak_pos").cast("long").alias("sum_peak_pos"),
    )


MULTIMODAL_AUDIO_LOUDEST_WINDOW_SQL = f"""
WITH dims AS (
  SELECT doc_id, source, text,
         strlen(text) AS nb,
         strlen(text) % 441 + 100 AS n
  FROM documents
  WHERE strlen(text) = length(text)
), samp AS (
  SELECT doc_id, source, t.j AS j,
         abs(CASE WHEN nb = 0 THEN 0
              ELSE (ascii(substr(text, (t.j % nb) + 1, 1)) - 128) * 256
             END) AS a
  FROM dims, unnest(generate_series(0, n - 1)) AS t(j)
), windowed AS (
  SELECT doc_id, source, j,
         sum(a) OVER (PARTITION BY doc_id ORDER BY j
              ROWS BETWEEN {_LOUD_WIN - 1} PRECEDING AND CURRENT ROW)
           AS energy
  FROM samp
), per_doc AS (
  SELECT doc_id, source, energy AS best, j AS pos FROM (
    SELECT doc_id, source, j, energy,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY energy DESC, j) AS rnk
    FROM windowed
  ) WHERE rnk = 1
)
SELECT source, CAST(count(*) AS BIGINT) AS n_clips,
       CAST(max(best) AS BIGINT) AS max_energy,
       CAST(sum(pos) AS BIGINT) AS sum_peak_pos
FROM per_doc GROUP BY source
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_chunk_exact": QuerySpec(dedup_chunk_exact, DEDUP_CHUNK_EXACT_SQL),
    "sample_rolling_origin_folds": QuerySpec(
        sample_rolling_origin_folds, SAMPLE_ROLLING_ORIGIN_FOLDS_SQL
    ),
    "join_fx_conversion_daily": QuerySpec(
        join_fx_conversion_daily, JOIN_FX_CONVERSION_DAILY_SQL
    ),
    "window_recovery_time_days": QuerySpec(
        window_recovery_time_days, WINDOW_RECOVERY_TIME_DAYS_SQL
    ),
    "multimodal_audio_loudest_window": QuerySpec(
        multimodal_audio_loudest_window, MULTIMODAL_AUDIO_LOUDEST_WINDOW_SQL
    ),
}
