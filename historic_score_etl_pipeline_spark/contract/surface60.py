"""Round-6 batch 67 — leakage-safe splitting, YoY deltas, full-outer
reconciliation, stopword discovery, min-max scaling:

* ``sample_split_leakage_safe`` — train/test assignment where
  near-duplicates NEVER straddle the boundary: docs sharing a 40-char
  prefix (the `dedup_prefix_truncation` near-dup notion — the fixture
  has no EXACT text dups at sf0.01) form one group, and the split key
  is md5(min doc_id of the group), not the doc's own id — the
  leakage-prevention discipline every training-data split needs
  (full near-dup grouping plugs in the same way via connected
  components; prefix groups keep the oracle pure SQL).
* ``agg_month_yoy_delta`` — month revenue vs the SAME month last
  year: lag(12) over the month series, delta in cents and milli-
  ratio (only months with a prior-year twin).
* ``join_full_outer_reconcile`` — the audit reconciliation shape:
  order-level vs line-level per-status cent totals FULL OUTER joined
  on coalesced keys with presence flags and the difference.
* ``text_stopword_discovery`` — document-frequency ratio per word
  (DISTINCT doc containment); words with df > 50% of docs are
  stopword candidates — the corpus-driven list RAKE-style extractors
  consume.
* ``window_minmax_scale`` — per-type min-max feature scaling to ppm:
  (x − min)·1e6 div (max − min), the feature-engineering staple with
  the degenerate max=min group pinned to 0.

Scale notes: the split groups by prefix fingerprint then assigns —
both shuffles keyed; YoY windows the |months|-row aggregate
(allowlisted partial-state SinglePartition); reconciliation joins two
|status|-row aggregates; stopword discovery pre-shrinks to DISTINCT
(doc, word); min-max joins a broadcast 5-row stats dim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- leakage-safe train/test split --------------------------------------------------


def sample_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup groups (40-char text prefix) share one split: the key
    is md5(min doc_id in the group) mod 10 → test iff < 2 (80/20)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 40).alias("pfx")
    )
    groups = docs.groupBy("pfx").agg(F.min("doc_id").alias("rep_id"))
    assigned = docs.join(groups, "pfx").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rep_id").cast("long").alias("rep_id"),
        (
            F.conv(
                F.substring(F.md5(F.col("rep_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % 10
        ).alias("bucket"),
    )
    return assigned.select(
        "doc_id",
        "rep_id",
        F.when(F.col("bucket") < 2, "test").otherwise("train").alias("split"),
    )


SAMPLE_SPLIT_LEAKAGE_SAFE_SQL = """
WITH pfxd AS (
  SELECT doc_id, substr(text, 1, 40) AS pfx FROM documents
), groups AS (
  SELECT pfx, min(doc_id) AS rep_id FROM pfxd GROUP BY pfx
), assigned AS (
  SELECT d.doc_id, g.rep_id,
         CAST(('0x' || substr(md5(CAST(g.rep_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 10 AS bucket
  FROM pfxd d JOIN groups g ON d.pfx = g.pfx
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(rep_id AS BIGINT) AS rep_id,
       CASE WHEN bucket < 2 THEN 'test' ELSE 'train' END AS split
FROM assigned
"""


# --- year-over-year month deltas ----------------------------------------------------


def agg_month_yoy_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month revenue vs the same month last year (lag 12 over the
    month series; only months with a prior-year twin)."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias("month")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    w = Window.orderBy("month")
    lagged = monthly.select(
        "month",
        "cents",
        F.lag("cents", 12).over(w).alias("cents_prev"),
        F.lag("month", 12).over(w).alias("month_prev"),
    ).where(
        F.col("cents_prev").isNotNull()
        # the series is dense month-by-month, but pin the law anyway:
        # the lag-12 row must be the SAME calendar month last year
        & (
            F.substring("month", 6, 2) == F.substring("month_prev", 6, 2)
        )
    )
    return lagged.select(
        "month",
        F.col("cents").cast("long").alias("cents"),
        F.col("cents_prev").cast("long").alias("cents_prev"),
        (F.col("cents") - F.col("cents_prev")).cast("long").alias("delta_cents"),
        F.expr("(cents - cents_prev) * 1000 div cents_prev")
        .cast("long")
        .alias("yoy_milli"),
    )


AGG_MONTH_YOY_DELTA_SQL = """
WITH monthly AS (
  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
), lagged AS (
  SELECT month, cents,
         lag(cents, 12) OVER (ORDER BY month) AS cents_prev,
         lag(month, 12) OVER (ORDER BY month) AS month_prev
  FROM monthly
)
SELECT month, cents, cents_prev,
       CAST(cents - cents_prev AS BIGINT) AS delta_cents,
       CAST((cents - cents_prev) * 1000 // cents_prev AS BIGINT) AS yoy_milli
FROM lagged
WHERE cents_prev IS NOT NULL
  AND substr(month, 6, 2) = substr(month_prev, 6, 2)
"""


# --- full-outer reconciliation ------------------------------------------------------


def join_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-header totals vs summed line extendedprice per status,
    FULL OUTER with presence flags — the two-systems audit."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    header = o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("header_cents")
    )
    lines = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("line_cents")
        )
    )
    j = header.withColumnRenamed("status", "h_status").join(
        lines.withColumnRenamed("status", "l_status"),
        F.col("h_status") == F.col("l_status"),
        "full",
    )
    return j.select(
        F.coalesce("h_status", "l_status").alias("status"),
        F.col("h_status").isNotNull().alias("in_header"),
        F.col("l_status").isNotNull().alias("in_lines"),
        F.coalesce("header_cents", F.lit(0)).cast("long").alias("header_cents"),
        F.coalesce("line_cents", F.lit(0)).cast("long").alias("line_cents"),
        (
            F.coalesce("line_cents", F.lit(0))
            - F.coalesce("header_cents", F.lit(0))
        )
        .cast("long")
        .alias("diff_cents"),
    )


JOIN_FULL_OUTER_RECONCILE_SQL = """
WITH header AS (
  SELECT o_orderstatus AS status,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS header_cents
  FROM orders GROUP BY 1
), lines AS (
  SELECT o_orderstatus AS status,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS line_cents
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1
)
SELECT coalesce(h.status, l.status) AS status,
       h.status IS NOT NULL AS in_header,
       l.status IS NOT NULL AS in_lines,
       CAST(coalesce(h.header_cents, 0) AS BIGINT) AS header_cents,
       CAST(coalesce(l.line_cents, 0) AS BIGINT) AS line_cents,
       CAST(coalesce(l.line_cents, 0) - coalesce(h.header_cents, 0)
            AS BIGINT) AS diff_cents
FROM header h FULL JOIN lines l ON h.status = l.status
"""


# --- corpus-driven stopword discovery -----------------------------------------------

_SW_TOPK = 20


def text_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 words by document-frequency ratio (ppm over n_docs),
    with the >50% stopword-candidate flag."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dw = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
        ).alias("w"),
    ).distinct()
    df_tab = dw.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    return (
        df_tab.crossJoin(F.broadcast(n_docs))
        .select(
            "w",
            "df",
            F.expr("df * 1000000 div n_docs").cast("long").alias("df_ppm"),
            (F.expr("df * 2") > F.col("n_docs")).alias("is_stopword_cand"),
        )
        .orderBy(F.col("df_ppm").desc(), F.col("w"))
        .limit(_SW_TOPK)
    )


TEXT_STOPWORD_DISCOVERY_SQL = f"""
WITH dw AS (
  SELECT DISTINCT doc_id, u.w AS w
  FROM (SELECT doc_id,
               list_transform(
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> ''), x -> {{'w': x}}) AS e
        FROM documents), unnest(e) AS t(u)
), df_tab AS (
  SELECT w, CAST(count(*) AS BIGINT) AS df FROM dw GROUP BY w
), nd AS (SELECT count(*) AS n_docs FROM documents)
SELECT w, df,
       CAST(df * 1000000 // n_docs AS BIGINT) AS df_ppm,
       df * 2 > n_docs AS is_stopword_cand
FROM df_tab, nd
ORDER BY df_ppm DESC, w LIMIT {_SW_TOPK}
"""


# --- min-max feature scaling --------------------------------------------------------


def window_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type min-max scaling of value cents to ppm; a degenerate
    max = min group scales to 0."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    base = ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        cents.alias("cents"),
    )
    stats = base.groupBy("event_type").agg(
        F.min("cents").alias("mn"), F.max("cents").alias("mx")
    )
    return base.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "cents",
        F.when(F.col("mx") > F.col("mn"),
               F.expr("(cents - mn) * 1000000 div (mx - mn)"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("scaled_ppm"),
    )


WINDOW_MINMAX_SCALE_SQL = """
WITH base AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), stats AS (
  SELECT event_type, min(cents) AS mn, max(cents) AS mx
  FROM base GROUP BY event_type
)
SELECT CAST(b.event_id AS BIGINT) AS event_id, b.event_type, b.cents,
       CAST(CASE WHEN s.mx > s.mn
                 THEN (b.cents - s.mn) * 1000000 // (s.mx - s.mn)
                 ELSE 0 END AS BIGINT) AS scaled_ppm
FROM base b JOIN stats s ON b.event_type = s.event_type
"""


QUERIES: dict[str, QuerySpec] = {
    "sample_split_leakage_safe": QuerySpec(
        sample_split_leakage_safe, SAMPLE_SPLIT_LEAKAGE_SAFE_SQL
    ),
    "agg_month_yoy_delta": QuerySpec(agg_month_yoy_delta, AGG_MONTH_YOY_DELTA_SQL),
    "join_full_outer_reconcile": QuerySpec(
        join_full_outer_reconcile, JOIN_FULL_OUTER_RECONCILE_SQL
    ),
    "text_stopword_discovery": QuerySpec(
        text_stopword_discovery, TEXT_STOPWORD_DISCOVERY_SQL
    ),
    "window_minmax_scale": QuerySpec(window_minmax_scale, WINDOW_MINMAX_SCALE_SQL),
}
