"""Round-6 batch 70 — recursive Holt smoothing, comment-tolerant CSV,
seasonal strength, audio zero-crossings, day-N retention (overflow
slots):

* ``window_holt_smoothing_recursive`` — double exponential smoothing
  (Holt, α = β = ½) as a WITH RECURSIVE iteration in BOTH engines
  (Spark 4 UnionLoop ↔ DuckDB recursion): the level/trend state steps
  through the daily series in exact milli-integers (halving = integer
  div, truncation toward zero pinned on both sides) — the iterative-
  algorithm-as-SQL pattern, no driver loop.
* ``scan_csv_comment_lines`` — CSV polluted with '#' comment lines
  (and a '#'-prefixed pseudo-header): the comment option must drop
  them; the aggregate equals the clean data.
* ``event_seasonal_strength`` — variance decomposition: SS_between
  (day-of-week means) over SS_total of the daily series as one
  IDENTICAL double expression, ppm — how much of daily variance the
  weekly cycle explains.
* ``multimodal_audio_zero_crossings`` — sign-change count + run
  count over REAL decoded WAV samples (Arrow-batched), byte-replayed
  by the oracle — the third end-to-end codec oracle.
* ``event_retention_dn`` — classic D1/D7 retention: of users active
  on day d, the share also active on d+1 / d+7 (distinct (user, day)
  self-joins on shifted days), per cohort day.

Scale notes: the recursion advances one |1|-row state per step over a
|days|-row series (UnionLoop); comment-CSV is scan-side; seasonal
strength folds 7 group sums; zero-crossings are per-doc Arrow
batches; D-N retention joins the pre-shrunk (user, day) table to
itself on (user, day+N).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.multimodal import (
    doc_rows,
    rendered_samples,
    single_byte_docs,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- Holt smoothing via WITH RECURSIVE ----------------------------------------------


def window_holt_smoothing_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α = β = ½ Holt state stepped through the daily series by a
    recursive CTE; exact milli-integers, div truncation pinned."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.row_number()
            .over(
                __import__(
                    "pyspark.sql.window", fromlist=["Window"]
                ).Window.orderBy("day")
            )
            .cast("long")
            .alias("rn"),
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n",
        )
    )
    daily.createOrReplaceTempView("v_holt_series")
    return spark.sql(
        """
        WITH RECURSIVE holt(i, day, l_milli, b_milli) AS (
          SELECT rn, day, n * 1000, CAST(0 AS BIGINT)
          FROM v_holt_series WHERE rn = 1
          UNION ALL
          SELECT d.rn, d.day,
                 (h.l_milli + h.b_milli + d.n * 1000) div 2,
                 (h.b_milli + ((h.l_milli + h.b_milli + d.n * 1000) div 2
                               - h.l_milli)) div 2
          FROM holt h JOIN v_holt_series d ON d.rn = h.i + 1
        )
        SELECT CAST(i AS BIGINT) AS i, day,
               CAST(l_milli AS BIGINT) AS l_milli,
               CAST(b_milli AS BIGINT) AS b_milli
        FROM holt
        """
    )


WINDOW_HOLT_SMOOTHING_RECURSIVE_SQL = """
WITH RECURSIVE series AS (
  SELECT row_number() OVER (ORDER BY day) AS rn,
         strftime(day, '%Y-%m-%d') AS day, n
  FROM (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1)
), holt(i, day, l_milli, b_milli) AS (
  SELECT rn, day, n * 1000, CAST(0 AS BIGINT)
  FROM series WHERE rn = 1
  UNION ALL
  SELECT d.rn, d.day,
         (h.l_milli + h.b_milli + d.n * 1000) // 2,
         (h.b_milli + ((h.l_milli + h.b_milli + d.n * 1000) // 2
                       - h.l_milli)) // 2
  FROM holt h JOIN series d ON d.rn = h.i + 1
)
SELECT CAST(i AS BIGINT) AS i, day,
       CAST(l_milli AS BIGINT) AS l_milli,
       CAST(b_milli AS BIGINT) AS b_milli
FROM holt
"""


# --- comment-tolerant CSV -----------------------------------------------------------


def scan_csv_comment_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'#' comment lines interleaved into a staged CSV must be
    dropped by the comment option."""
    import os

    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "csvcomment", sf_dir)
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    # interleave comment lines deterministically: every row whose key
    # is divisible by 50 also emits a '#'-prefixed noise line
    lines = base.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            "status",
            F.col("cents").cast("string"),
        ).alias("value")
    ).unionAll(
        base.where(F.col("o_orderkey") % 50 == 0).select(
            F.concat(F.lit("# noise for key "), F.col("o_orderkey").cast("string"))
            .alias("value")
        )
    )
    lines.write.mode("overwrite").text(out)
    back = (
        spark.read.schema("o_orderkey long, status string, cents long")
        .option("comment", "#")
        .csv(out)
    )
    return back.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


SCAN_CSV_COMMENT_LINES_SQL = """
SELECT o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders GROUP BY 1
"""


# --- weekly seasonal strength --------------------------------------------------------


def event_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SS_between(dow) / SS_total over the daily series, ppm — one
    identical double expression both engines."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tagged = daily.select(
        ((F.unix_date("day") + 3) % 7).alias("dow"), "n"
    )
    per_dow = tagged.groupBy("dow").agg(
        F.sum("n").cast("long").alias("tg"),
        F.count(F.lit(1)).cast("long").alias("ng"),
    )
    tot = tagged.agg(
        F.sum("n").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("nn"),
        # n² of a full day's count is ~1e19 at 100 TB — DECIMAL(38,0)/
        # HUGEINT accumulator (r8 audit class); q feeds a double below
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("n")).alias("q"),
    )
    # the 7 tg²/ng terms sum in PINNED dow order via a sequential fold
    # (a parallel double sum could differ in the last ulp between
    # engines and flip the floor)
    terms = F.transform(
        F.array_sort(F.collect_list(F.struct("dow", "tg", "ng"))),
        lambda s: s["tg"].cast("double")
        * s["tg"].cast("double")
        / s["ng"].cast("double"),
    )
    folded = (
        per_dow.crossJoin(F.broadcast(tot))
        .groupBy("t", "nn", "q")
        .agg(
            F.aggregate(
                terms, F.lit(0.0), lambda acc, x: acc + x
            ).alias("sb_raw")
        )
    )
    strength = (
        (
            F.col("sb_raw")
            - F.col("t").cast("double") * F.col("t").cast("double")
            / F.col("nn").cast("double")
        )
        / (
            F.col("q").cast("double")
            - F.col("t").cast("double") * F.col("t").cast("double")
            / F.col("nn").cast("double")
        )
    )
    return folded.select(
        F.col("nn").alias("n_days"),
        F.floor(strength * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("seasonal_strength_ppm"),
    )


EVENT_SEASONAL_STRENGTH_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), tagged AS (
  SELECT CAST((CAST(day - DATE '1970-01-01' AS BIGINT) + 3) % 7 AS BIGINT)
           AS dow, n
  FROM daily
), per_dow AS (
  SELECT dow, CAST(sum(n) AS BIGINT) AS tg, CAST(count(*) AS BIGINT) AS ng
  FROM tagged GROUP BY dow
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS nn,
         sum(CAST(n AS HUGEINT) * n) AS q
  FROM tagged
), folded AS (
  -- sequential fold in pinned dow order (cross-engine double identity)
  SELECT t, nn, q,
         list_reduce(
           list_transform(
             list({'dow': dow, 'tg': tg, 'ng': ng} ORDER BY dow),
             s -> CAST(s.tg AS DOUBLE) * CAST(s.tg AS DOUBLE)
                  / CAST(s.ng AS DOUBLE)),
           (a, b) -> a + b) AS sb_raw
  FROM per_dow, tot GROUP BY t, nn, q
)
SELECT nn AS n_days,
       CAST(floor((sb_raw - CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
                            / CAST(nn AS DOUBLE))
                  / (CAST(q AS DOUBLE) - CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
                                         / CAST(nn AS DOUBLE))
                  * 1000000.0 + 0.5) AS BIGINT) AS seasonal_strength_ppm
FROM folded
"""


# --- audio zero crossings -----------------------------------------------------------


def multimodal_audio_zero_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-change count over REAL decoded WAV samples (zero counts
    as positive — pinned), plus the max |sample|."""

    def crossings(text):
        s = rendered_samples(text)
        sign = np.where(s >= 0, 1, -1)  # zero counts as positive
        zc = int((sign[1:] != sign[:-1]).sum()) if len(s) > 1 else 0
        return [(len(s), zc, int(np.abs(s).max()) if len(s) else 0)]

    docs = single_byte_docs(load_table(spark, sf_dir, "documents"))
    return doc_rows(
        docs,
        "doc_id",
        crossings,
        "media_id long, n_samples long, zero_crossings long, peak long",
    )


MULTIMODAL_AUDIO_ZERO_CROSSINGS_SQL = """
WITH dims AS (
  SELECT doc_id, text,
         strlen(text) AS nb,
         strlen(text) % 441 + 100 AS n
  FROM documents
  WHERE strlen(text) = length(text)
), samp AS (
  SELECT doc_id, n, t.j AS j,
         CASE WHEN nb = 0 THEN 0
              ELSE (ascii(substr(text, (t.j % nb) + 1, 1)) - 128) * 256 END
           AS s
  FROM dims, unnest(generate_series(0, n - 1)) AS t(j)
), signed AS (
  SELECT doc_id, n, j,
         CASE WHEN s >= 0 THEN 1 ELSE -1 END AS sign, abs(s) AS a,
         lag(CASE WHEN s >= 0 THEN 1 ELSE -1 END)
           OVER (PARTITION BY doc_id ORDER BY j) AS prev_sign
  FROM samp
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(any_value(n) AS BIGINT) AS n_samples,
       CAST(sum(CASE WHEN prev_sign IS NOT NULL AND sign <> prev_sign
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
       CAST(max(a) AS BIGINT) AS peak
FROM signed GROUP BY doc_id
"""


# --- D-N retention ------------------------------------------------------------------


def event_retention_dn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Of users active on day d: how many are also active on d+1 and
    d+7 (distinct (user, day) self-joins on shifted days)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    base = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    d1 = (
        ud.alias("a")
        .join(
            ud.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.day") == F.date_add(F.col("a.day"), 1)),
        )
        .groupBy(F.col("a.day").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_d1"))
    )
    d7 = (
        ud.alias("a")
        .join(
            ud.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.day") == F.date_add(F.col("a.day"), 7)),
        )
        .groupBy(F.col("a.day").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_d7"))
    )
    return (
        base.join(d1, "day", "left")
        .join(d7, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_active",
            F.coalesce("n_d1", F.lit(0)).cast("long").alias("n_d1"),
            F.coalesce("n_d7", F.lit(0)).cast("long").alias("n_d7"),
            F.expr("coalesce(n_d1, 0) * 1000000 div n_active")
            .cast("long")
            .alias("d1_ppm"),
            F.expr("coalesce(n_d7, 0) * 1000000 div n_active")
            .cast("long")
            .alias("d7_ppm"),
        )
    )


EVENT_RETENTION_DN_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
), base AS (
  SELECT day, CAST(count(*) AS BIGINT) AS n_active FROM ud GROUP BY day
), d1 AS (
  SELECT a.day, CAST(count(*) AS BIGINT) AS n_d1
  FROM ud a JOIN ud b
    ON a.user_id = b.user_id AND b.day = a.day + 1
  GROUP BY a.day
), d7 AS (
  SELECT a.day, CAST(count(*) AS BIGINT) AS n_d7
  FROM ud a JOIN ud b
    ON a.user_id = b.user_id AND b.day = a.day + 7
  GROUP BY a.day
)
SELECT strftime(base.day, '%Y-%m-%d') AS day,
       n_active,
       CAST(coalesce(d1.n_d1, 0) AS BIGINT) AS n_d1,
       CAST(coalesce(d7.n_d7, 0) AS BIGINT) AS n_d7,
       CAST(coalesce(d1.n_d1, 0) * 1000000 // n_active AS BIGINT) AS d1_ppm,
       CAST(coalesce(d7.n_d7, 0) * 1000000 // n_active AS BIGINT) AS d7_ppm
FROM base LEFT JOIN d1 ON base.day = d1.day
          LEFT JOIN d7 ON base.day = d7.day
"""


QUERIES: dict[str, QuerySpec] = {
    "window_holt_smoothing_recursive": QuerySpec(
        window_holt_smoothing_recursive, WINDOW_HOLT_SMOOTHING_RECURSIVE_SQL
    ),
    "scan_csv_comment_lines": QuerySpec(
        scan_csv_comment_lines, SCAN_CSV_COMMENT_LINES_SQL
    ),
    "event_seasonal_strength": QuerySpec(
        event_seasonal_strength, EVENT_SEASONAL_STRENGTH_SQL
    ),
    "multimodal_audio_zero_crossings": QuerySpec(
        multimodal_audio_zero_crossings, MULTIMODAL_AUDIO_ZERO_CROSSINGS_SQL
    ),
    "event_retention_dn": QuerySpec(event_retention_dn, EVENT_RETENTION_DN_SQL),
}
