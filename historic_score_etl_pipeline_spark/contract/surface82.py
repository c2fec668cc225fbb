"""Round-6 batch 89 — partition backfill planning, props numeric
rollup, behavior-vector similarity, confusable folding, paired
pre/post terms:

* ``date_partition_backfill_plan`` — the orchestrator's gap planner: a
  hive-partitioned landing zone staged with every 4th day MISSING,
  diffed against the expected date spine; per month the expected /
  present / missing partition counts.  The query that decides what to
  backfill.
* ``json_props_numeric_stats`` — the parsed-props rollup:
  ``get_json_object($.k)`` try_cast to int, aggregated per event type
  (n, nulls, sum, min, max, exact distinct) — C10's extraction feeding
  a real numeric profile.
* ``embed_behavior_user_similarity`` — cross-pillar feature
  engineering: per-user 5-dim event-type count vectors, exact integer
  dot products, top-3 most-similar users per probe (user_id < 20) —
  events → embedding → similarity in one plan.
* ``str_confusable_fold`` — catalog normalization: digit-folded
  p_brand series keys (Brand#13/Brand#23 → Brand#99) — per (folded
  key, type) the raw brands MERGED, part counts and an example.
* ``event_pre_post_paired_terms`` — the paired-test ingredients: per
  event type, d_u = (count in days 16–31) − (count in days 1–15) per
  user; Σd, Σd², n and the exact mean-difference sign — the numbers a
  paired t-test starts from, no float until the reader.

Scale notes: the backfill diff joins the month-grouped spine to
directory-derived partition keys (metadata-sized); props stats are one
scan; behavior similarity broadcasts the 20-probe dim (documented BNLJ
class) against the |users|-row vector table; brand folding groups
the part dim; paired terms are two grouped passes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- partition backfill planning ------------------------------------------------------------


def _staged_gappy_partitions(spark: SparkSession, sf_dir: str) -> str:
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "backfill", sf_dir)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        ev = load_table(spark, sf_dir, "events").select(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
            "event_id",
        )
        # every 4th epoch-day missing — the ingest gap to be planned
        present = ev.where(
            F.datediff(F.to_date("day"), F.lit("1970-01-01")) % 4 != 0
        )
        present.write.mode("overwrite").partitionBy("day").parquet(out)
    return out


def date_partition_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff the landing zone's day= partitions against the expected
    spine; per month: expected / present / missing counts."""
    path = _staged_gappy_partitions(spark, sf_dir)
    present = (
        spark.read.parquet(path)
        .select("day")
        .distinct()
        .select(F.col("day").cast("string").alias("day"))
    )
    ev = load_table(spark, sf_dir, "events")
    rng = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    spine = rng.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    ).select(F.date_format("d", "yyyy-MM-dd").alias("day"))
    diff = spine.join(
        present.withColumn("present", F.lit(1)), "day", "left"
    )
    return (
        diff.select(
            F.substring("day", 1, 7).alias("ym"),
            F.coalesce("present", F.lit(0)).alias("p"),
        )
        .groupBy("ym")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_expected"),
            F.sum("p").cast("long").alias("n_present"),
            (F.count(F.lit(1)) - F.sum("p")).cast("long").alias("n_missing"),
        )
    )


DATE_PARTITION_BACKFILL_PLAN_SQL = """
WITH rng AS (
  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
  FROM events
), spine AS (
  SELECT unnest(generate_series(rng.lo, rng.hi, INTERVAL 1 DAY)) AS d
  FROM rng
), days AS (
  SELECT CAST(d AS DATE) AS d,
         CASE WHEN date_diff('day', DATE '1970-01-01', CAST(d AS DATE))
                   % 4 <> 0
              AND EXISTS (SELECT 1 FROM events e
                          WHERE CAST(e.ts AS DATE) = CAST(d AS DATE))
              THEN 1 ELSE 0 END AS p
  FROM spine
)
SELECT strftime(d, '%Y-%m') AS ym,
       CAST(count(*) AS BIGINT) AS n_expected,
       CAST(sum(p) AS BIGINT) AS n_present,
       CAST(count(*) - sum(p) AS BIGINT) AS n_missing
FROM days GROUP BY 1
"""


# --- props numeric stats ---------------------------------------------------------------------


def json_props_numeric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type over try_cast(get_json_object(props, '$.k')):
    n, nulls, sum, min, max, exact distinct count."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("try_cast(get_json_object(props, '$.k') AS BIGINT)")
    base = ev.select("event_type", k.alias("k"))
    return base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("k").isNull().cast("long")).cast("long").alias("n_null"),
        F.sum("k").cast("long").alias("k_sum"),
        F.min("k").cast("long").alias("k_min"),
        F.max("k").cast("long").alias("k_max"),
        F.countDistinct("k").cast("long").alias("k_distinct"),
    )


JSON_PROPS_NUMERIC_STATS_SQL = """
WITH raw AS (
  SELECT event_type,
         -- json_valid guard: DuckDB json_extract THROWS on malformed
         -- JSON; Spark's get_json_object returns NULL.  Strip Spark's
         -- trimAll set [\\x00-\\x20] so '+5' / ' 5 ' cast like Spark
         regexp_replace(json_extract_string(
           CASE WHEN json_valid(props) THEN props END, '$.k'),
           '^[\\x00-\\x20]+|[\\x00-\\x20]+$', '', 'g') AS ks
  FROM events
), base AS (
  SELECT event_type,
         TRY_CAST(CASE WHEN regexp_matches(ks, '^[+-]?[0-9]+$')
                  THEN ks END AS BIGINT) AS k
  FROM raw
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(sum(k) AS BIGINT) AS k_sum,
       CAST(min(k) AS BIGINT) AS k_min,
       CAST(max(k) AS BIGINT) AS k_max,
       CAST(count(DISTINCT k) AS BIGINT) AS k_distinct
FROM base GROUP BY event_type
"""


# --- behavior-vector user similarity -------------------------------------------------------------

_BEHAV_NQ = 20
_BEHAV_K = 3


def embed_behavior_user_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type count vectors; for probes (user_id < 20) the
    top-3 most-similar other users by exact integer dot product."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    vec = ev.groupBy("user_id").pivot("event_type", types).agg(
        F.count(F.lit(1))
    )
    vec = vec.select(
        F.col("user_id").cast("long").alias("user_id"),
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types],
    )
    probes = vec.where(F.col("user_id") < _BEHAV_NQ).select(
        F.col("user_id").alias("a"),
        *[F.col(t).alias(f"a_{t}") for t in types],
    )
    dot = sum(F.col(f"a_{t}") * F.col(t) for t in types).cast("long")
    rk = Window.partitionBy("a").orderBy(F.desc("dot"), F.asc("b"))
    # 20-row probe dim broadcast (documented BNLJ class)
    return (
        F.broadcast(probes)
        .join(vec, F.col("a") != F.col("user_id"))
        .select("a", F.col("user_id").alias("b"), dot.alias("dot"))
        .withColumn("rnk", F.row_number().over(rk))
        .where(F.col("rnk") <= _BEHAV_K)
        .select("a", F.col("rnk").cast("long").alias("rnk"), "b", "dot")
    )


EMBED_BEHAVIOR_USER_SIMILARITY_SQL = f"""
WITH vec AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS click,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS error,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS purchase,
         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
              AS BIGINT) AS signup,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS view_c
  FROM events GROUP BY user_id
), scored AS (
  SELECT a.user_id AS a, b.user_id AS b,
         CAST(a.click * b.click + a.error * b.error
              + a.purchase * b.purchase + a.signup * b.signup
              + a.view_c * b.view_c AS BIGINT) AS dot,
         row_number() OVER (PARTITION BY a.user_id ORDER BY
           a.click * b.click + a.error * b.error + a.purchase * b.purchase
           + a.signup * b.signup + a.view_c * b.view_c DESC,
           b.user_id) AS rnk
  FROM vec a JOIN vec b ON a.user_id <> b.user_id
  WHERE a.user_id < {_BEHAV_NQ}
)
SELECT CAST(a AS BIGINT) AS a, CAST(rnk AS BIGINT) AS rnk,
       CAST(b AS BIGINT) AS b, dot
FROM scored WHERE rnk <= {_BEHAV_K}
"""


# --- confusable folding ------------------------------------------------------------------------

_CONF_TOPK = 20


def str_confusable_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog normalization: digit-fold p_brand (digits → 9) so brand
    variants merge into series keys; per (folded brand, p_type): the
    distinct raw brands merged, part count and example."""
    part = load_table(spark, sf_dir, "part")
    folded = part.select(
        F.translate("p_brand", "0123456789", "9999999999").alias("brand_key"),
        "p_brand",
        "p_type",
    )
    return (
        folded.groupBy("brand_key", "p_type")
        .agg(
            F.countDistinct("p_brand").cast("long").alias("n_raw_brands"),
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.min("p_brand").alias("example_raw"),
        )
        .where(F.col("n_raw_brands") >= 2)
        .orderBy(F.desc("n_raw_brands"), F.desc("n_parts"),
                 F.asc("brand_key"), F.asc("p_type"))
        .limit(_CONF_TOPK)
    )


STR_CONFUSABLE_FOLD_SQL = f"""
WITH folded AS (
  SELECT translate(p_brand, '0123456789', '9999999999') AS brand_key,
         p_brand, p_type
  FROM part
)
SELECT brand_key, p_type,
       CAST(count(DISTINCT p_brand) AS BIGINT) AS n_raw_brands,
       CAST(count(*) AS BIGINT) AS n_parts,
       min(p_brand) AS example_raw
FROM folded GROUP BY brand_key, p_type
HAVING count(DISTINCT p_brand) >= 2
ORDER BY n_raw_brands DESC, n_parts DESC, brand_key, p_type
LIMIT {_CONF_TOPK}
"""


# --- paired pre/post terms ---------------------------------------------------------------------------


def event_pre_post_paired_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: d_u = post(16–31) − pre(1–15) per user; n users,
    Σd, Σd² and the exact mean-difference sign — paired-test inputs."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum((F.dayofmonth("ts") > 15).cast("long")).alias("post"),
        F.sum((F.dayofmonth("ts") <= 15).cast("long")).alias("pre"),
    )
    d = (F.col("post") - F.col("pre")).cast("long")
    return (
        per_user.select("event_type", d.alias("d"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("d").cast("long").alias("sum_d"),
            F.sum(F.col("d") * F.col("d")).cast("long").alias("sum_d2"),
        )
        .select(
            "event_type",
            "n_users",
            "sum_d",
            "sum_d2",
            F.when(F.col("sum_d") > 0, 1)
            .when(F.col("sum_d") < 0, -1)
            .otherwise(0)
            .cast("long")
            .alias("mean_diff_sign"),
        )
    )


EVENT_PRE_POST_PAIRED_TERMS_SQL = """
WITH per_user AS (
  SELECT event_type, user_id,
         CAST(sum(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END) AS BIGINT)
           AS post,
         CAST(sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT)
           AS pre
  FROM events GROUP BY 1, 2
), diffs AS (
  SELECT event_type, post - pre AS d FROM per_user
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(d) AS BIGINT) AS sum_d,
       CAST(sum(d * d) AS BIGINT) AS sum_d2,
       CAST(CASE WHEN sum(d) > 0 THEN 1 WHEN sum(d) < 0 THEN -1
                 ELSE 0 END AS BIGINT) AS mean_diff_sign
FROM diffs GROUP BY event_type
"""


QUERIES: dict[str, QuerySpec] = {
    "date_partition_backfill_plan": QuerySpec(
        date_partition_backfill_plan, DATE_PARTITION_BACKFILL_PLAN_SQL
    ),
    "json_props_numeric_stats": QuerySpec(
        json_props_numeric_stats, JSON_PROPS_NUMERIC_STATS_SQL
    ),
    "embed_behavior_user_similarity": QuerySpec(
        embed_behavior_user_similarity, EMBED_BEHAVIOR_USER_SIMILARITY_SQL
    ),
    "str_confusable_fold": QuerySpec(
        str_confusable_fold, STR_CONFUSABLE_FOLD_SQL
    ),
    "event_pre_post_paired_terms": QuerySpec(
        event_pre_post_paired_terms, EVENT_PRE_POST_PAIRED_TERMS_SQL
    ),
}
