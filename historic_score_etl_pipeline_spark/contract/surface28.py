"""Round-5 batch 35 — event-analytics staples and two curation ops:

* ``event_funnel_conversion`` — ordered view→click→purchase funnel per
  user (each stage's first hit must be strictly AFTER the previous
  stage's): the product-analytics conversion query.  ONE per-user
  aggregate collecting the view-min and the click/purchase timestamp
  arrays; the sequential stage gates are array projections — a single
  hash shuffle on user_id, no stage joins (r12 rework, measured ~2.3×
  at sf0.1 AND sf1).
* ``event_retention_cohort`` — weekly cohort retention grid: users
  bucketed by first-seen week, counted per (cohort, week-offset).
  ``date_trunc('week')`` is Monday-start in BOTH engines (probed in
  round 4 — week NUMBERING diverges and stays banned); offsets are
  exact day differences div 7 between Mondays.
* ``window_rolling_median`` — EXACT rolling median of the trailing 7
  observations per user.  Values are fixpointed to integer cents and
  the LOWER median (element (n+1)//2 of the sorted frame) is taken, so
  there is no interpolation to diverge by an ulp between engines
  (the round-4 MAD lesson applied at authoring time).  The frame array
  exists only mid-expression — the output is scalar columns.
* ``str_levenshtein_block`` — blocked fuzzy pairing: thinned left side
  × same-lang right side, kept when the edit distance of the 40-char
  prefixes ≤ 25.  levenshtein() is the textbook DP in both engines —
  bit-identical.  The lang block + left thinning keeps the pair count
  linear-ish; at 100 TB the block key would be an LSH bucket instead.
* ``embed_centroid_dist`` — distance-to-own-class-centroid over the
  embeddings table: the classic intra-class compactness / mislabel
  screen.  All arithmetic is integer micro-units; the centroid uses an
  explicit floor-division identity ``(s − ((s % n + n) % n)) / n``
  that is engine-portable (plain ``//`` vs ``div`` disagree on
  negative operands between engines).

Conventions as ever: BIGINT casts in the oracle, fixpoint before any
float math, identical association order, total-order tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.similarity import micro_units
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- ordered funnel conversion ------------------------------------------------


_FUNNEL_WINDOW_DAYS = 3


def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Furthest funnel stage per user → users per stage.  Stage k's
    timestamp must be strictly after stage k-1's first hit AND within
    the 3-day conversion window (a purchase BEFORE the first click, or
    a week later, does not convert — the ordered-windowed semantics
    dashboards actually want).

    Scale shape (r12 single-shuffle rework, VERDICT r11 ask #4): ONE
    groupBy(user_id) collects each user's view-min plus its click and
    purchase timestamp ARRAYS; the sequential stage conditions (t2 =
    first click in (t1, t1+3d], t3 = first purchase in (t2, t2+3d]) are
    then array_min(filter(...)) projections — no stage joins, no
    distinct-users spine, one corpus shuffle total.  The previous
    3-aggregate/3-join shape (kept through r11 on a may-win-at-scale
    argument) was A/B'd per the VERDICT's own decision rule at BOTH
    sf0.1 and the 10× sf1 replica: 1.78 → 0.79 s and 1.26 → 0.62 s
    min-of-reps interleaved, rows identical — the array form wins ~2.3×
    at both scales.  Skew note: a pathologically hot user now carries
    its click/purchase timestamps in one aggregation buffer instead of a
    partial-aggregated min; per-user event counts are bounded in this
    domain, and the hot-key adversarial wave stays green — if a
    degenerate user ever dominates, cap the arrays with a windowed
    pre-filter rather than reverting the whole shape."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    win = F.expr(f"INTERVAL {_FUNNEL_WINDOW_DAYS} DAYS")
    agg = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1"),
        F.collect_list(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("cl"),
        F.collect_list(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("pu"),
    )
    t2 = F.array_min(
        F.filter("cl", lambda x: (x > F.col("t1")) & (x <= F.col("t1") + win))
    )
    staged = agg.withColumn("t2", t2).withColumn(
        "t3",
        F.array_min(
            F.filter(
                "pu", lambda x: (x > F.col("t2")) & (x <= F.col("t2") + win)
            )
        ),
    )
    # the old shape's stage joins were null-rejecting on user_id: a NULL
    # user never matched any stage, so its stage is 0 regardless of its
    # own events — reproduced explicitly here
    stage = (
        F.when(F.col("user_id").isNull(), F.lit(0))
        .when(F.col("t3").isNotNull(), F.lit(3))
        .when(F.col("t2").isNotNull(), F.lit(2))
        .when(F.col("t1").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return (
        staged.select(stage.alias("stage"))
        .groupBy("stage")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


EVENT_FUNNEL_CONVERSION_SQL = f"""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t1
    AND e.ts <= v.t1 + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
    AND e.ts <= c.t2 + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY
  GROUP BY e.user_id
), staged AS (
  SELECT u.user_id,
         CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
                   WHEN c.t2 IS NOT NULL THEN 2
                   WHEN v.t1 IS NOT NULL THEN 1
                   ELSE 0 END AS BIGINT) AS stage
  FROM (SELECT DISTINCT user_id FROM events) u
  LEFT JOIN v USING (user_id)
  LEFT JOIN c USING (user_id)
  LEFT JOIN p USING (user_id)
)
SELECT stage, CAST(count(*) AS BIGINT) AS n_users
FROM staged GROUP BY stage
"""


# --- weekly retention cohorts -------------------------------------------------


def event_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(first-seen week, week offset) → distinct active users.  One
    groupBy for the cohort table (|users| rows), one distinct over
    (user, week) activity, one user_id-equi join — the cohort side is
    a dim next to the activity fact, broadcast-eligible at any scale."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    week = F.date_trunc("week", F.col("ts")).cast("date")
    cohort = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
        .select(
            "user_id",
            F.date_trunc("week", F.col("t0")).cast("date").alias("w0"),
        )
    )
    active = ev.select("user_id", week.alias("w")).distinct()
    return (
        active.join(F.broadcast(cohort), "user_id")
        .select(
            F.col("w0").cast("string").alias("cohort_week"),
            (F.datediff(F.col("w"), F.col("w0")) / 7)
            .cast("long")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )


EVENT_RETENTION_COHORT_SQL = """
WITH cohort AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS w0
  FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
  FROM events
)
SELECT CAST(w0 AS VARCHAR) AS cohort_week,
       CAST(datediff('day', w0, w) / 7 AS BIGINT) AS week_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM active JOIN cohort USING (user_id)
GROUP BY 1, 2
"""


# --- exact rolling median -----------------------------------------------------

_MED_FRAME = 6  # trailing frame: 6 preceding + current = 7 rows


def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lower-median of the trailing ≤7 cents values per user.
    collect_list over the frame → array_sort → element (n+1)÷2: the
    array lives only inside the expression (scalar output — driver-hash
    safe), and the lower median of INTEGERS needs no interpolation, so
    both engines agree bit-for-bit.  One Exchange + one Window.
    NULL observations are filtered up front on BOTH engines: Spark's
    collect_list skips NULLs but DuckDB's list() keeps them, so an
    unfiltered NULL value would shift the frame length and the median
    index (adversarial-fixture sweep)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_MED_FRAME, 0)
    )
    arr = F.array_sort(F.collect_list(cents).over(w))
    n = F.size(arr)
    return ev.select(
        "event_id",
        "user_id",
        # floor() before the int cast: Spark's double→int cast truncates
        # but DuckDB's ROUNDS, so the even-frame 3.5 index would diverge
        F.element_at(arr, F.floor((n + 1) / 2).cast("int")).alias("med_cents"),
        n.cast("long").alias("n_win"),
    )


WINDOW_ROLLING_MEDIAN_SQL = f"""
WITH base AS (
  SELECT event_id, user_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, ts
  FROM events
  WHERE value IS NOT NULL
), framed AS (
  SELECT event_id, user_id,
         list_sort(list(cents) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN {_MED_FRAME} PRECEDING AND CURRENT ROW)) AS arr
  FROM base
)
SELECT event_id, user_id,
       arr[CAST(floor((len(arr) + 1) / 2) AS INTEGER)] AS med_cents,
       CAST(len(arr) AS BIGINT) AS n_win
FROM framed
"""


# --- blocked levenshtein pairing ----------------------------------------------

_LEV_PREFIX = 40
_LEV_MAX = 25
_LEV_THIN = 10  # left side: 1 doc in 10


def str_levenshtein_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-match pairs: thinned left docs × same-lang right docs
    with prefix-40 edit distance ≤ 25.  The thinned left side is a few
    % of the corpus — broadcast it; the lang block bounds the fan-out.
    At 100 TB the block key becomes an LSH band bucket (dedup family)
    — the join shape is identical, only the key changes."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.substring("text", 1, _LEV_PREFIX).alias("pfx")
    )
    left = docs.where(F.col("doc_id") % _LEV_THIN == 0).select(
        F.col("doc_id").alias("id_a"),
        "lang",
        F.col("pfx").alias("pfx_a"),
    )
    right = docs.select(
        F.col("doc_id").alias("id_b"), "lang", F.col("pfx").alias("pfx_b")
    )
    dist = F.levenshtein("pfx_a", "pfx_b")
    return (
        F.broadcast(left)
        .join(right, "lang")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", dist.cast("long").alias("lev_dist"))
        .where(F.col("lev_dist") <= _LEV_MAX)
    )


STR_LEVENSHTEIN_BLOCK_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, substr(text, 1, {_LEV_PREFIX}) AS pfx
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS lev_dist
FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id <> b.doc_id
WHERE a.doc_id % {_LEV_THIN} = 0
  AND levenshtein(a.pfx, b.pfx) <= {_LEV_MAX}
"""


# --- distance to class centroid -----------------------------------------------


def embed_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Σ (component − class-centroid component)² in integer micro-units
    per vector — the intra-class compactness / label-noise screen.

    posexplode → per-(label, dim) exact integer sums → portable floor
    division → join back on (label, dim) → per-vector sum.  Two hash
    shuffles (dims × rows, then vec_id), centroid table is k×d rows —
    broadcast.  No doubles anywhere until nothing is left to drift."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        "label",
        F.posexplode(micro_units(F.col("embedding"))).alias("pos", "v"),
    )
    cent = comp.groupBy("label", "pos").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    # floor division that both engines agree on for negative sums:
    # (s - ((s % n + n) % n)) is divisible by n, so the quotient is exact
    floor_div = (
        (F.col("s") - ((F.col("s") % F.col("n") + F.col("n")) % F.col("n")))
        / F.col("n")
    ).cast("long")
    cent = cent.select("label", "pos", floor_div.alias("c"))
    diff = F.col("v") - F.col("c")
    return (
        comp.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sum(diff * diff).cast("long").alias("d2_micro2"))
    )


EMBED_CENTROID_DIST_SQL = """
WITH comp AS (
  SELECT vec_id, label, i AS pos,
         CAST(floor(embedding[i] * 1e6 + 0.5) AS BIGINT) AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
), cent AS (
  SELECT label, pos,
         CAST((sum(v) - ((sum(v) % count(*) + count(*)) % count(*)))
              / count(*) AS BIGINT) AS c
  FROM comp GROUP BY label, pos
)
SELECT comp.vec_id, comp.label,
       CAST(sum((v - c) * (v - c)) AS BIGINT) AS d2_micro2
FROM comp JOIN cent ON comp.label = cent.label AND comp.pos = cent.pos
GROUP BY comp.vec_id, comp.label
"""


QUERIES: dict[str, QuerySpec] = {
    "event_funnel_conversion": QuerySpec(
        event_funnel_conversion, EVENT_FUNNEL_CONVERSION_SQL
    ),
    "event_retention_cohort": QuerySpec(
        event_retention_cohort, EVENT_RETENTION_COHORT_SQL
    ),
    "window_rolling_median": QuerySpec(
        window_rolling_median, WINDOW_ROLLING_MEDIAN_SQL
    ),
    "str_levenshtein_block": QuerySpec(
        str_levenshtein_block, STR_LEVENSHTEIN_BLOCK_SQL
    ),
    "embed_centroid_dist": QuerySpec(
        embed_centroid_dist, EMBED_CENTROID_DIST_SQL
    ),
}
