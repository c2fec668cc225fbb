"""Round-5 batch 39 — four staples:

* ``window_drawdown_max`` — maximum drawdown per user (running max of
  the cumulative series minus the current value, maximized): the
  risk/telemetry statistic that LOOKS like a scan-carry loop but is
  two windows + one aggregate, all integer cents.
* ``agg_kmv_intersection`` — sketch ALGEBRA: |A∩B| estimated from
  three KMV sketches via inclusion–exclusion (est(A)+est(B)−est(A∪B),
  clamped at 0), for every unordered pair of event types.  The union
  sketch is just the min-k of the unioned hash sets — the property
  that makes KMV mergeable — and every hash is md5-derived, so the
  whole derivation replays in SQL.
* ``event_dow_profile`` — day-of-week seasonality per event type with
  an ENGINE-NEUTRAL weekday index ((epoch_days + 3) mod 7, 0 =
  Monday): dayofweek()/dow() numbering differs across engines and is
  the documented trap, the epoch arithmetic is not.
* ``str_url_canonicalize`` — URL canonicalization dedup: lowercase
  scheme+host, strip query/fragment, strip the trailing slash, then
  group — the first normalization stage of every web-crawl pipeline.
  URLs are synthesized deterministically from doc fields (the fixture
  has no raw URLs) with mixed case, utm params and fragments to make
  each canonicalization rule observable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.sketches import (
    _KMV_K,
    _KMV_SPACE,
    kmv_estimate,
    kmv_hashes,
    kmv_kth,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- max drawdown -------------------------------------------------------------


def window_drawdown_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max drawdown of each user's cumulative cents series: running
    max of the running sum, minus the current running sum, maximized.
    Two stacked windows over ONE user-keyed sort + one aggregate —
    the standard plan-native spelling of a carry-forward scan."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum(cents).over(run)
    base = ev.select(
        "user_id", "ts", "event_id", cum.alias("cum")
    ).select(
        "user_id",
        (F.max("cum").over(run) - F.col("cum")).alias("dd"),
    )
    return base.groupBy("user_id").agg(
        F.max("dd").cast("long").alias("max_dd_cents"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


WINDOW_DRAWDOWN_MAX_SQL = """
WITH cumd AS (
  SELECT user_id,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum,
         epoch_us(ts) AS us, event_id
  FROM events
), dd AS (
  SELECT user_id,
         CAST(max(cum) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cum
           AS BIGINT) AS dd
  FROM cumd
)
SELECT user_id, CAST(max(dd) AS BIGINT) AS max_dd_cents,
       CAST(count(*) AS BIGINT) AS n_events
FROM dd GROUP BY user_id
"""


# --- KMV intersection algebra -------------------------------------------------


def agg_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|A∩B| per event-type pair by KMV inclusion–exclusion.  The three
    sketches (A, B, A∪B) are derived from ONE distinct-hash table: the
    union sketch's k-th minimum comes from re-ranking the union of the
    two hash sets — exactly how a warehouse merges persisted sketches
    without touching raw data again."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    hashes = kmv_hashes(ev, ["event_type"], "user_id")
    per = kmv_kth(hashes, ["event_type"])
    a = per.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("h_k").alias("hka"),
    )
    b = per.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("h_k").alias("hkb"),
    )
    # union sketch per pair: merge the two hash sets, re-rank, take the
    # k-th minimum (distinct first — the same user in both sets is one
    # union element)
    ha = hashes.select(F.col("event_type").alias("type_a"), "h")
    hb = hashes.select(F.col("event_type").alias("type_b"), "h")
    pair_h = (
        ha.join(b.select("type_b"), F.col("type_a") < F.col("type_b"))
        .select("type_a", "type_b", "h")
        .unionByName(
            hb.join(a.select("type_a"), F.col("type_a") < F.col("type_b"))
            .select("type_a", "type_b", "h")
        )
        .distinct()
    )
    uni = kmv_kth(pair_h, ["type_a", "type_b"]).select(
        "type_a", "type_b", F.col("n").alias("nu"), F.col("h_k").alias("hku")
    )
    est_inter = (
        kmv_estimate(F.col("na"), F.col("hka"))
        + kmv_estimate(F.col("nb"), F.col("hkb"))
        - kmv_estimate(F.col("nu"), F.col("hku"))
    )
    return (
        uni.join(F.broadcast(a), "type_a")
        .join(F.broadcast(b), "type_b")
        .select(
            "type_a",
            "type_b",
            F.floor(
                F.greatest(est_inter, F.lit(0.0)) + F.lit(0.5)
            ).cast("long").alias("est_intersection"),
        )
    )


AGG_KMV_INTERSECTION_SQL = f"""
WITH hashes AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM events
), per AS (
  SELECT event_type, count(*) AS n,
         max(CASE WHEN rk = {_KMV_K} THEN h END) AS h_k
  FROM (SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
        FROM hashes)
  GROUP BY event_type
), pair_h AS (
  SELECT DISTINCT a.type_a, b.type_b, x.h
  FROM (SELECT event_type AS type_a FROM per) a
  JOIN (SELECT event_type AS type_b FROM per) b ON a.type_a < b.type_b
  JOIN hashes x ON x.event_type IN (a.type_a, b.type_b)
), uni AS (
  SELECT type_a, type_b, count(*) AS nu,
         max(CASE WHEN rk = {_KMV_K} THEN h END) AS hku
  FROM (SELECT type_a, type_b, h,
               row_number() OVER (PARTITION BY type_a, type_b
                                  ORDER BY h) AS rk
        FROM pair_h)
  GROUP BY type_a, type_b
), est AS (
  SELECT u.type_a, u.type_b,
         (CASE WHEN pa.n < {_KMV_K} THEN CAST(pa.n AS DOUBLE)
               ELSE CAST({float(_KMV_K - 1)!r} AS DOUBLE)
                    * CAST({_KMV_SPACE!r} AS DOUBLE)
                    / CAST(pa.h_k AS DOUBLE) END
          + CASE WHEN pb.n < {_KMV_K} THEN CAST(pb.n AS DOUBLE)
                 ELSE CAST({float(_KMV_K - 1)!r} AS DOUBLE)
                      * CAST({_KMV_SPACE!r} AS DOUBLE)
                      / CAST(pb.h_k AS DOUBLE) END
          - CASE WHEN u.nu < {_KMV_K} THEN CAST(u.nu AS DOUBLE)
                 ELSE CAST({float(_KMV_K - 1)!r} AS DOUBLE)
                      * CAST({_KMV_SPACE!r} AS DOUBLE)
                      / CAST(u.hku AS DOUBLE) END) AS ei
  FROM uni u
  JOIN per pa ON pa.event_type = u.type_a
  JOIN per pb ON pb.event_type = u.type_b
)
SELECT type_a, type_b,
       CAST(floor(greatest(ei, 0.0) + 0.5) AS BIGINT) AS est_intersection
FROM est
"""


# --- day-of-week profile ------------------------------------------------------


def event_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality grid (event_type × weekday): counts and exact cent
    sums, with the weekday computed as (epoch_days + 3) mod 7 (0 =
    Monday) — dayofweek()/dow() NUMBERING differs across engines
    (Sunday=1 vs Sunday=0) and is the documented cross-engine trap;
    epoch arithmetic has exactly one answer."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    dow = (F.unix_date(F.col("ts").cast("date")) + 3) % 7
    return (
        ev.select("event_type", dow.cast("long").alias("dow_monday0"),
                  cents.alias("cents"))
        .groupBy("event_type", "dow_monday0")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


EVENT_DOW_PROFILE_SQL = """
SELECT event_type,
       CAST((CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) + 3) % 7
            AS BIGINT) AS dow_monday0,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events
GROUP BY 1, 2
"""


# --- URL canonicalization -----------------------------------------------------


def _synth_url() -> F.Column:
    """Deterministic messy URL per doc: mixed-case scheme/host, path
    from ids, a utm query on doc_id%3==0, a fragment on doc_id%5==0,
    a trailing slash on doc_id%7==0."""
    scheme = F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://")).otherwise(
        F.lit("http://")
    )
    host = F.concat(F.lit("WWW."), F.upper("source"), F.lit(".Example.COM"))
    path = F.concat(F.lit("/Docs/"), (F.col("doc_id") % 100).cast("string"))
    slash = F.when(F.col("doc_id") % 7 == 0, F.lit("/")).otherwise(F.lit(""))
    query = F.when(
        F.col("doc_id") % 3 == 0, F.lit("?utm_source=feed&ref=x")
    ).otherwise(F.lit(""))
    frag = F.when(F.col("doc_id") % 5 == 0, F.lit("#section-2")).otherwise(
        F.lit("")
    )
    return F.concat(scheme, host, path, slash, query, frag)


def str_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical form: lowercase scheme+host (path case PRESERVED),
    query/fragment stripped, trailing slash stripped; then group by the
    canonical URL — the crawl-frontier dedup key."""
    docs = load_table(spark, sf_dir, "documents")
    url = _synth_url()
    no_qf = F.regexp_replace(url, r"[?#].*$", "")
    no_slash = F.regexp_replace(no_qf, r"/$", "")
    base = (
        docs.select("doc_id", no_slash.alias("no_slash"))
        # lowercase ONLY scheme://host (everything before the path slash)
        .select(
            "doc_id",
            "no_slash",
            F.regexp_extract(
                F.col("no_slash"), r"^([a-zA-Z]+://[^/]+)", 1
            ).alias("head"),
        )
        .select(
            "doc_id",
            F.concat(
                F.lower("head"),
                F.expr("substring(no_slash, length(head) + 1)"),
            ).alias("canonical"),
        )
    )
    return base.groupBy("canonical").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.min("doc_id").alias("min_doc"),
    )


STR_URL_CANONICALIZE_SQL = """
WITH urls AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END
          || 'WWW.' || upper(source) || '.Example.COM'
          || '/Docs/' || CAST(doc_id % 100 AS VARCHAR)
          || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END
          || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&ref=x'
                  ELSE '' END
          || CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END)
           AS url
  FROM documents
), trimmed AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(url, '[?#].*$', ''), '/$', '')
           AS no_slash
  FROM urls
), canon AS (
  SELECT doc_id,
         lower(regexp_extract(no_slash, '^([a-zA-Z]+://[^/]+)', 1))
           || substr(no_slash,
                     length(regexp_extract(no_slash,
                                           '^([a-zA-Z]+://[^/]+)', 1)) + 1)
           AS canonical
  FROM trimmed
)
SELECT canonical, CAST(count(*) AS BIGINT) AS n_urls,
       min(doc_id) AS min_doc
FROM canon GROUP BY canonical
"""


QUERIES: dict[str, QuerySpec] = {
    "window_drawdown_max": QuerySpec(
        window_drawdown_max, WINDOW_DRAWDOWN_MAX_SQL
    ),
    "agg_kmv_intersection": QuerySpec(
        agg_kmv_intersection, AGG_KMV_INTERSECTION_SQL
    ),
    "event_dow_profile": QuerySpec(event_dow_profile, EVENT_DOW_PROFILE_SQL),
    "str_url_canonicalize": QuerySpec(
        str_url_canonicalize, STR_URL_CANONICALIZE_SQL
    ),
}
