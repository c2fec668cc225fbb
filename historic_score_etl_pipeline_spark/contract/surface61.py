"""Round-6 batch 68 — numeric band joins, burst detection, pixel
histograms, fixed-offset display time, positional token stats:

* ``join_value_band_bucketed`` — the numeric band self-join
  |price_a − price_b| ≤ $1 within a status, WITHOUT a nested-loop:
  each row lands in bucket ⌊cents/100⌋ and probes only its own and
  the adjacent bucket (candidates), then the exact band predicate
  verifies — the bucket-replication pattern that turns an inequality
  join into two equi-joins.
* ``event_burst_detection`` — per-user burst scoring: the maximum
  number of events inside ANY sliding 60-second window, computed as
  sweep-line max concurrency over [ts, ts+60s) intervals; users with
  a rapid repeat (burst ≥ 2 — the fixture's per-user streams are
  sparse, max observed is 2) are flagged — the double-fire/bot
  heuristic.
* ``multimodal_pixel_histogram`` — 16-bin grayscale histogram over
  REAL decoded BMP pixels (Arrow-batched numpy); the oracle replays
  the pixels arithmetically from the text bytes (the image-ahash
  pattern) — a second end-to-end codec oracle.
* ``date_fixed_offset_display`` — wall-clock localization at a FIXED
  offset (+05:30, DST-free so cross-engine exact): shifted timestamp
  rendering plus the local hour histogram.
* ``text_positional_token_stats`` — positional language profile:
  mean token length ×100 and vocab size at each of the first 10
  token positions across the corpus.

Scale notes: the band join replicates each row into ≤ 2 buckets and
joins on (status, bucket) — candidates stay linear for bounded band
width; burst detection partitions the sweep by user; the pixel
histogram is scan-side Arrow batches; the rest are scan-side
groupBys.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.multimodal import (
    doc_rows,
    gray,
    rendered_image,
    single_byte_docs,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- bucketed numeric band join ----------------------------------------------------

_BAND_CENTS = 100


def join_value_band_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order pairs within $1, same status: bucket ⌊c/100⌋ + adjacent
    probe, exact |Δ| ≤ 100 verify; summarized per status."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("c"),
    )
    probe = o.select(
        "k",
        "st",
        "c",
        F.explode(
            F.array(
                F.expr(f"c div {_BAND_CENTS}"),
                F.expr(f"c div {_BAND_CENTS} + 1"),
            )
        ).alias("bk"),
    )
    build = o.select(
        F.col("k").alias("k2"),
        F.col("st").alias("st2"),
        F.col("c").alias("c2"),
        F.expr(f"c div {_BAND_CENTS}").alias("bk"),
    )
    # orientation-free: a pair with bucket(y) = bucket(x) − 1 is only
    # seen with y as the probe, so canonicalize with least/greatest
    # instead of requiring probe.key < build.key
    pairs = (
        probe.join(build, ["bk"])
        .where(
            (F.col("st") == F.col("st2"))
            & (F.col("k") != F.col("k2"))
            & (F.abs(F.col("c") - F.col("c2")) <= _BAND_CENTS)
        )
        .select(
            "st",
            F.least("k", "k2").alias("ka"),
            F.greatest("k", "k2").alias("kb"),
            F.abs(F.col("c") - F.col("c2")).alias("d"),
        )
        .distinct()
    )
    return pairs.groupBy("st").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("d").cast("long").alias("sum_abs_diff"),
        F.min("d").cast("long").alias("min_diff"),
    )


JOIN_VALUE_BAND_BUCKETED_SQL = f"""
WITH o AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
  FROM orders
), probe AS (
  SELECT k, st, c, b.bk AS bk
  FROM o, unnest([c // {_BAND_CENTS}, c // {_BAND_CENTS} + 1]) AS b(bk)
), build AS (
  SELECT k AS k2, st AS st2, c AS c2, c // {_BAND_CENTS} AS bk FROM o
), pairs AS (
  SELECT DISTINCT p.st,
                  least(p.k, b.k2) AS ka, greatest(p.k, b.k2) AS kb,
                  abs(p.c - b.c2) AS d
  FROM probe p JOIN build b ON p.bk = b.bk
  WHERE p.st = b.st2 AND p.k <> b.k2 AND abs(p.c - b.c2) <= {_BAND_CENTS}
)
SELECT st,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(d) AS BIGINT) AS sum_abs_diff,
       CAST(min(d) AS BIGINT) AS min_diff
FROM pairs GROUP BY st
"""


# --- per-user burst detection ------------------------------------------------------

_BURST_S = 60
_BURST_FLAG = 2


def event_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max events in any sliding 60-s window per user (sweep-line max
    concurrency of [ts, ts+60s)); burst ≥ 2 flags a rapid repeat."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    bounds = ev.select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        F.explode(
            F.array(
                F.struct(F.unix_micros("ts").alias("t"), F.lit(1).alias("d")),
                F.struct(
                    (F.unix_micros("ts") + F.lit(_BURST_S * 1000000)).alias("t"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("b"),
    ).select("user_id", "event_id", F.col("b.t").alias("t"), F.col("b.d").alias("d"))
    w = Window.partitionBy("user_id").orderBy("t", "d", "event_id")
    running = bounds.select("user_id", F.sum("d").over(w).alias("conc"))
    return running.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_events"),
        F.max("conc").cast("long").alias("max_burst_60s"),
        (F.max("conc") >= _BURST_FLAG).alias("is_bursty"),
    )


EVENT_BURST_DETECTION_SQL = f"""
WITH bounds AS (
  SELECT user_id, event_id, epoch_us(ts) AS t, 1 AS d
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  UNION ALL
  SELECT user_id, event_id, epoch_us(ts) + {_BURST_S * 1000000}, -1
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), running AS (
  SELECT user_id,
         sum(d) OVER (PARTITION BY user_id
                      ORDER BY t, d, event_id) AS conc
  FROM bounds
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) // 2 AS BIGINT) AS n_events,
       CAST(max(conc) AS BIGINT) AS max_burst_60s,
       max(conc) >= {_BURST_FLAG} AS is_bursty
FROM running GROUP BY user_id
"""


# --- decoded-pixel grayscale histogram ----------------------------------------------


def multimodal_pixel_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bin grayscale histogram over REAL decoded BMP pixels,
    aggregated per source (gray = (R+G+B) div 3, bin = gray div 16)."""

    def hist(text):
        g = gray(rendered_image(text))
        bins, counts = np.unique(g // 16, return_counts=True)
        return zip(bins.tolist(), counts.tolist())

    docs = single_byte_docs(load_table(spark, sf_dir, "documents"))
    return (
        doc_rows(docs, "source", hist, "source string, bin long, n_px long")
        .groupBy("source", "bin")
        .agg(F.sum("n_px").cast("long").alias("n_px"))
    )


MULTIMODAL_PIXEL_HISTOGRAM_SQL = """
WITH dims AS (
  SELECT source, text,
         strlen(text) AS nb,
         (strlen(text) % 24 + 8)
         * (strlen(text) % 16 + 8) AS npix
  FROM documents
  WHERE strlen(text) = length(text)
), px AS (
  SELECT source,
         CASE WHEN nb = 0 THEN 0 ELSE
           ((ascii(substr(text, ((3 * t.j) % nb) + 1, 1))
             + ascii(substr(text, ((3 * t.j + 1) % nb) + 1, 1))
             + ascii(substr(text, ((3 * t.j + 2) % nb) + 1, 1))) // 3) // 16
         END AS bin
  FROM dims, unnest(generate_series(0, npix - 1)) AS t(j)
)
SELECT source, CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_px
FROM px GROUP BY source, bin
"""


# --- fixed-offset display time -----------------------------------------------------


def date_fixed_offset_display(spark: SparkSession, sf_dir: str) -> DataFrame:
    """+05:30 wall-clock rendering (DST-free, cross-engine exact):
    local-hour histogram per event type."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    local = F.col("ts") + F.expr("INTERVAL 5 HOURS 30 MINUTES")
    return (
        ev.select("event_type", F.hour(local).cast("long").alias("local_hour"))
        .groupBy("event_type", "local_hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


DATE_FIXED_OFFSET_DISPLAY_SQL = """
SELECT event_type,
       CAST(hour(ts + INTERVAL 5 HOUR + INTERVAL 30 MINUTE) AS BIGINT)
         AS local_hour,
       CAST(count(*) AS BIGINT) AS n
FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
GROUP BY 1, 2
"""


# --- positional token statistics ---------------------------------------------------

_POS_MAX = 10


def text_positional_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean token length ×100 and distinct vocab at each of the first
    10 token positions across the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.posexplode(
            F.slice(
                F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != ""),
                1,
                _POS_MAX,
            )
        ).alias("pos", "w")
    )
    return toks.groupBy(F.col("pos").cast("long").alias("pos")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_with_pos"),
        F.expr("sum(length(w)) * 100 div count(*)")
        .cast("long")
        .alias("avg_len_x100"),
        F.countDistinct("w").cast("long").alias("vocab"),
    )


TEXT_POSITIONAL_TOKEN_STATS_SQL = f"""
WITH toks AS (
  SELECT u.i - 1 AS pos, u.x AS w
  FROM (SELECT list_transform(
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '')[1:{_POS_MAX}],
               (x, i) -> {{'i': i, 'x': x}}) AS e
        FROM documents), unnest(e) AS t(u)
)
SELECT CAST(pos AS BIGINT) AS pos,
       CAST(count(*) AS BIGINT) AS n_docs_with_pos,
       CAST(sum(length(w)) * 100 // count(*) AS BIGINT) AS avg_len_x100,
       CAST(count(DISTINCT w) AS BIGINT) AS vocab
FROM toks GROUP BY pos
"""


QUERIES: dict[str, QuerySpec] = {
    "join_value_band_bucketed": QuerySpec(
        join_value_band_bucketed, JOIN_VALUE_BAND_BUCKETED_SQL
    ),
    "event_burst_detection": QuerySpec(
        event_burst_detection, EVENT_BURST_DETECTION_SQL
    ),
    "multimodal_pixel_histogram": QuerySpec(
        multimodal_pixel_histogram, MULTIMODAL_PIXEL_HISTOGRAM_SQL
    ),
    "date_fixed_offset_display": QuerySpec(
        date_fixed_offset_display, DATE_FIXED_OFFSET_DISPLAY_SQL
    ),
    "text_positional_token_stats": QuerySpec(
        text_positional_token_stats, TEXT_POSITIONAL_TOKEN_STATS_SQL
    ),
}
