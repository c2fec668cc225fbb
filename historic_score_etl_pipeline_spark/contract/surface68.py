"""Round-6 batch 75 — lag-1 autocorrelation terms, vocabulary coverage
curve, audio silence trimming, holiday-aware business days, DECIMAL
parquet fidelity:

* ``event_autocorr_lag1`` — lag-1 autocorrelation of each type's
  daily-count series, reported as the EXACT integer Pearson terms
  (num, den₁, den₂) over consecutive-day pairs plus the sign — no
  libm in the contract row; the float r is recomputed (and range-
  checked) only in tests.
* ``text_vocab_coverage_curve`` — what fraction of token occurrences
  the top-k vocabulary covers, k ∈ {10, 100, 1000}: the tokenizer-
  budget curve.  Top-k via TakeOrdered (never a global data sort);
  the corpus total rides in as a broadcast 1-row scalar
  (ARCHITECTURE.md §scalar folding rule).
* ``multimodal_audio_silence_trim`` — leading/trailing silence trim
  over REAL decoded WAVs (|sample| < 4096): per source, samples
  before/inside/after the voiced span — the audio-prep op that
  bounds training-clip length.  Byte-replay oracle, positional.
* ``date_business_days_holiday_aware`` — weekdays in a 31-day
  fulfillment window MINUS pinned holidays landing on weekdays
  (closed-form weekday count + a broadcast holiday dim range-join,
  the ``date_easter_computus`` pattern).
* ``scan_parquet_decimal_exact`` — money staged as a real parquet
  DECIMAL(12,2) logical type and read back: the sums must be
  cent-exact after the roundtrip (no double contamination).

Scale notes: autocorrelation folds to |types|×|days| partial rows
then per-type windows; the coverage curve aggregates the vocab table
(corpus-shuffled once) and only k-row TakeOrdereds beyond that; the
silence trim is one Arrow pass per document batch; business days are
scan-side arithmetic plus a ≤21-row broadcast dim; the decimal scan
is a staged write + columnar read.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.multimodal import (
    doc_rows,
    rendered_samples,
    single_byte_docs,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- lag-1 autocorrelation (exact terms) ----------------------------------------------


def event_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer Pearson terms for (daily count, next daily count)
    pairs per event type: num = nΣxy − ΣxΣy, den₁ = nΣx² − (Σx)²,
    den₂ = nΣy² − (Σy)²; r = num/√(den₁den₂) is recomputed in tests."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("day")
    pairs = daily.select(
        "event_type",
        F.lag("cnt").over(w).alias("x"),
        F.col("cnt").alias("y"),
    ).where(F.col("x").isNotNull())
    t = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        # daily counts are scale-growing, so Σx², Σxy and the n·Σ − Σ·Σ
        # cross terms are all quadratic+ — DECIMAL(38,0)/HUGEINT with
        # try_cast BIGINT emission on both engines (r8 audit class)
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    npd = F.col("n_pairs").cast("decimal(38,0)")
    num = npd * F.col("sxy") - F.col("sx").cast("decimal(38,0)") * F.col("sy")
    den1 = npd * F.col("sxx") - F.col("sx").cast("decimal(38,0)") * F.col("sx")
    den2 = npd * F.col("syy") - F.col("sy").cast("decimal(38,0)") * F.col("sy")
    return t.select(
        "event_type",
        "n_pairs",
        num.try_cast("long").alias("num"),
        den1.try_cast("long").alias("den1"),
        den2.try_cast("long").alias("den2"),
        F.signum(num.cast("double")).cast("long").alias("direction"),
    )


EVENT_AUTOCORR_LAG1_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)
), pairs AS (
  SELECT event_type,
         lag(cnt) OVER (PARTITION BY event_type ORDER BY day) AS x,
         cnt AS y
  FROM daily
), t AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM pairs WHERE x IS NOT NULL GROUP BY event_type
)
SELECT event_type, n_pairs,
       TRY_CAST(n_pairs * sxy - CAST(sx AS HUGEINT) * sy AS BIGINT) AS num,
       TRY_CAST(n_pairs * sxx - CAST(sx AS HUGEINT) * sx AS BIGINT) AS den1,
       TRY_CAST(n_pairs * syy - CAST(sy AS HUGEINT) * sy AS BIGINT) AS den2,
       CAST(CASE WHEN n_pairs * sxy - CAST(sx AS HUGEINT) * sy > 0 THEN 1
                 WHEN n_pairs * sxy - CAST(sx AS HUGEINT) * sy < 0 THEN -1
                 ELSE 0 END AS BIGINT) AS direction
FROM t
"""


# --- vocabulary coverage curve --------------------------------------------------------

_COVERAGE_KS = (10, 100, 1000)


def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-occurrence coverage of the top-k vocabulary for
    k ∈ {10, 100, 1000}: covered tokens, covered types and coverage
    ppm against the corpus total."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                    lambda t: t != "",
                )
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    total = counts.agg(
        F.sum("cnt").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("total_types"),
    )
    tiers = None
    for k in _COVERAGE_KS:
        tier = (
            counts.orderBy(F.desc("cnt"), F.asc("tok"))
            .limit(k)
            .agg(
                F.lit(k).cast("long").alias("k"),
                F.sum("cnt").cast("long").alias("covered_tokens"),
                F.count(F.lit(1)).cast("long").alias("covered_types"),
            )
        )
        tiers = tier if tiers is None else tiers.unionAll(tier)
    return tiers.crossJoin(F.broadcast(total)).select(
        "k",
        "covered_tokens",
        "covered_types",
        "total_tokens",
        F.expr("(covered_tokens * 1000000) div total_tokens")
        .cast("long")
        .alias("coverage_ppm"),
    )


TEXT_VOCAB_COVERAGE_CURVE_SQL = """
WITH c AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(list_filter(
          string_split_regex(lower(trim(text)), '\\s+'), t -> t <> ''))
        AS tok FROM documents)
  GROUP BY tok
), r AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rk FROM c
), t AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM c
)
SELECT CAST(k.k AS BIGINT) AS k,
       CAST(sum(CASE WHEN r.rk <= k.k THEN r.cnt ELSE 0 END) AS BIGINT)
         AS covered_tokens,
       CAST(sum(CASE WHEN r.rk <= k.k THEN 1 ELSE 0 END) AS BIGINT)
         AS covered_types,
       CAST(max(t.total_tokens) AS BIGINT) AS total_tokens,
       CAST((sum(CASE WHEN r.rk <= k.k THEN r.cnt ELSE 0 END) * 1000000)
            // max(t.total_tokens) AS BIGINT) AS coverage_ppm
FROM r, t, (VALUES (10), (100), (1000)) AS k(k)
GROUP BY k.k
"""


# --- audio silence trim ---------------------------------------------------------------

_SILENCE_TH = 4096


def multimodal_audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source over real decoded WAVs: total samples, samples
    trimmed as leading/trailing silence (|s| < 4096), voiced span kept,
    and fully-silent clip count."""

    def trim(text):
        s = rendered_samples(text)
        n = len(s)
        voiced = np.nonzero(np.abs(s) >= _SILENCE_TH)[0]
        if len(voiced) == 0:
            return [(n, n, 0, 0, 1)]
        lead, trail = int(voiced[0]), n - 1 - int(voiced[-1])
        return [(n, lead, trail, n - lead - trail, 0)]

    docs = single_byte_docs(load_table(spark, sf_dir, "documents"))
    cols = ("n_samples", "n_lead", "n_trail", "n_kept", "n_all_silent")
    schema = "source string, " + ", ".join(f"{c} long" for c in cols)
    return doc_rows(docs, "source", trim, schema).groupBy("source").agg(
        *(F.sum(c).cast("long").alias(c) for c in cols)
    )


MULTIMODAL_AUDIO_SILENCE_TRIM_SQL = f"""
WITH dims AS (
  SELECT doc_id, source, text,
         strlen(text) AS nb,
         strlen(text) % 441 + 100 AS n
  FROM documents
  WHERE strlen(text) = length(text)
), samp AS (
  SELECT doc_id, source, n, t.j AS j,
         CASE WHEN nb = 0 THEN 0
              ELSE (ascii(substr(text, (t.j % nb) + 1, 1)) - 128) * 256 END
           AS s
  FROM dims, unnest(generate_series(0, n - 1)) AS t(j)
), spans AS (
  SELECT source, n,
         min(CASE WHEN abs(s) >= {_SILENCE_TH} THEN j END) AS first_v,
         max(CASE WHEN abs(s) >= {_SILENCE_TH} THEN j END) AS last_v
  FROM samp GROUP BY doc_id, source, n
), per_doc AS (
  SELECT source, n,
         CASE WHEN first_v IS NULL THEN n ELSE first_v END AS lead,
         CASE WHEN first_v IS NULL THEN 0 ELSE n - 1 - last_v END AS trail,
         CASE WHEN first_v IS NULL THEN 1 ELSE 0 END AS allsil
  FROM spans
)
SELECT source,
       CAST(sum(n) AS BIGINT) AS n_samples,
       CAST(sum(lead) AS BIGINT) AS n_lead,
       CAST(sum(trail) AS BIGINT) AS n_trail,
       CAST(sum(n - lead - trail) AS BIGINT) AS n_kept,
       CAST(sum(allsil) AS BIGINT) AS n_all_silent
FROM per_doc GROUP BY source
"""


# --- holiday-aware business days ------------------------------------------------------

_HOLIDAYS = tuple(
    f"{y}-{md}" for y in range(1995, 2002) for md in ("01-01", "07-04", "12-25")
)
_FULFILL_DAYS = 30  # inclusive window: order date + 30 more days


def date_business_days_holiday_aware(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekdays in the 31-day fulfillment window minus pinned holidays
    landing on weekdays; orders histogrammed by resulting busdays."""
    # one row per DISTINCT order date (duplicate dates must not pool
    # their holiday matches), weighted by how many orders share it
    dates = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("start"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    # closed-form weekday count: 4 full weeks (20) + the 3 overhang days
    dow = F.dayofweek("start")  # 1 = Sunday .. 7 = Saturday
    d1 = (dow % 7) + 1
    d2 = (d1 % 7) + 1
    is_wd = lambda c: F.when((c >= 2) & (c <= 6), 1).otherwise(0)  # noqa: E731
    base = F.lit(20) + is_wd(dow) + is_wd(d1) + is_wd(d2)
    spans = dates.withColumn("base_busdays", base.cast("long"))
    hol = spark.createDataFrame(
        [(h,) for h in _HOLIDAYS], "holiday string"
    ).select(F.to_date("holiday").alias("holiday"))
    hol_wd = hol.where(F.dayofweek("holiday").isin(2, 3, 4, 5, 6))
    joined = spans.join(
        F.broadcast(hol_wd),
        (F.col("holiday") >= F.col("start"))
        & (F.col("holiday") <= F.date_add(F.col("start"), _FULFILL_DAYS)),
        "left",
    )
    per_date = joined.groupBy("start", "base_busdays", "n_orders").agg(
        F.count("holiday").cast("long").alias("n_holidays")
    )
    return (
        per_date.select(
            (F.col("base_busdays") - F.col("n_holidays"))
            .cast("long")
            .alias("busdays"),
            "n_orders",
        )
        .groupBy("busdays")
        .agg(F.sum("n_orders").cast("long").alias("n_orders"))
    )


_HOLIDAY_VALUES = ", ".join(f"(DATE '{h}')" for h in _HOLIDAYS)

DATE_BUSINESS_DAYS_HOLIDAY_AWARE_SQL = f"""
WITH o AS (
  SELECT CAST(o_orderdate AS DATE) AS start,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
), base AS (
  SELECT start, n_orders,
         CAST(dayofweek(start) + 1 AS BIGINT) AS dow
  FROM o
), spans AS (
  SELECT start, n_orders,
         20 + (CASE WHEN dow BETWEEN 2 AND 6 THEN 1 ELSE 0 END)
            + (CASE WHEN (dow % 7) + 1 BETWEEN 2 AND 6 THEN 1 ELSE 0 END)
            + (CASE WHEN (((dow % 7) + 1) % 7) + 1 BETWEEN 2 AND 6
               THEN 1 ELSE 0 END) AS base_busdays
  FROM base
), hol AS (
  SELECT holiday FROM (VALUES {_HOLIDAY_VALUES}) AS h(holiday)
  WHERE dayofweek(holiday) + 1 BETWEEN 2 AND 6
), per_date AS (
  SELECT s.start, s.base_busdays, s.n_orders,
         count(h.holiday) AS n_holidays
  FROM spans s LEFT JOIN hol h
    ON h.holiday >= s.start AND h.holiday <= s.start + {_FULFILL_DAYS}
  GROUP BY s.start, s.base_busdays, s.n_orders
)
SELECT CAST(base_busdays - n_holidays AS BIGINT) AS busdays,
       CAST(sum(n_orders) AS BIGINT) AS n_orders
FROM per_date GROUP BY 1
"""


# --- DECIMAL parquet fidelity ---------------------------------------------------------


def _staged_decimal_orders(spark: SparkSession, sf_dir: str) -> str:
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "decimal", sf_dir)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        o = load_table(spark, sf_dir, "orders")
        cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
            "decimal(14,0)"
        )
        (
            o.select(
                F.col("o_orderkey").cast("long").alias("o_orderkey"),
                F.col("o_orderstatus").alias("status"),
                (cents / 100).cast("decimal(12,2)").alias("price"),
            )
            .write.mode("overwrite")
            .parquet(out)
        )
    return out


def scan_parquet_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money staged as a parquet DECIMAL(12,2) logical type, read back
    and summed cent-exactly — no double contamination through the
    write/read cycle."""
    path = _staged_decimal_orders(spark, sf_dir)
    back = spark.read.parquet(path)
    cents = (F.col("price") * 100).cast("long")
    return back.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(cents).cast("long").alias("total_cents"),
        F.min(cents).cast("long").alias("min_cents"),
        F.max(cents).cast("long").alias("max_cents"),
    )


SCAN_PARQUET_DECIMAL_EXACT_SQL = """
WITH c AS (
  SELECT o_orderstatus AS status,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT status,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(min(cents) AS BIGINT) AS min_cents,
       CAST(max(cents) AS BIGINT) AS max_cents
FROM c GROUP BY status
"""


QUERIES: dict[str, QuerySpec] = {
    "event_autocorr_lag1": QuerySpec(
        event_autocorr_lag1, EVENT_AUTOCORR_LAG1_SQL
    ),
    "text_vocab_coverage_curve": QuerySpec(
        text_vocab_coverage_curve, TEXT_VOCAB_COVERAGE_CURVE_SQL
    ),
    "multimodal_audio_silence_trim": QuerySpec(
        multimodal_audio_silence_trim, MULTIMODAL_AUDIO_SILENCE_TRIM_SQL
    ),
    "date_business_days_holiday_aware": QuerySpec(
        date_business_days_holiday_aware, DATE_BUSINESS_DAYS_HOLIDAY_AWARE_SQL
    ),
    "scan_parquet_decimal_exact": QuerySpec(
        scan_parquet_decimal_exact, SCAN_PARQUET_DECIMAL_EXACT_SQL
    ),
}
