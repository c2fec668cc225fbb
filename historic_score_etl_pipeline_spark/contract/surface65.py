"""Round-6 batch 72 — Kadane max-subarray, RSI oscillator, frequency of
frequencies, skip-gram pairs, running VWAP:

* ``window_kadane_max_subarray`` — the maximum-sum contiguous event run
  per user (purchases/signups credit, everything else debits), solved
  declaratively: Kadane's recurrence folds into prefix-sum minus the
  running minimum of earlier prefixes — two window passes, no loop.
* ``window_rsi_relative_strength`` — the RSI oscillator (simple-MA
  variant) over each supplier's price series: trailing-14 gain / loss
  sums and gain share in ppm, exact integers end to end.
* ``agg_freq_of_freq`` — frequency of frequencies over the token
  stream (how many types occur exactly k times) — the Good-Turing
  smoothing input; two cascaded groupBys, no window.
* ``text_skipgram_pairs`` — word2vec-style (center, context) skip-gram
  extraction at distances 1-2 over position-indexed tokens, global
  top-25 by support: the LM-embedding training-pair generator.
* ``window_vwap_running`` — running volume-weighted average price per
  part: two cumulative integer sums and one division at read time, the
  streaming-friendly VWAP formulation.

Scale notes: Kadane and RSI are per-key window passes (one hash
shuffle each, state O(1) per row — the 14-row frame and the running
min both stream); freq-of-freq is token-shuffle then a tiny k-table;
skip-grams equi-join the position table to itself on
(doc_id, pos+d) — co-partitioned by doc, fan-out exactly 2 rows per
token, then TakeOrdered(25); VWAP is one per-part window pass.
Nothing global-sorts data, nothing crosses unbounded pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- Kadane max-subarray via prefix sums ----------------------------------------------


def window_kadane_max_subarray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-sum contiguous run of signed event cents per user.

    Kadane without iteration: best run ending at row i is
    ``prefix_i - min(0, min_{j<i} prefix_j)``; the answer is the max
    over i.  Both inner terms are single streaming window frames.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    signed = F.when(
        F.col("event_type").isin("purchase", "signup"), cents
    ).otherwise(-cents)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    scored = ev.select(
        "user_id", "ts", "event_id", F.sum(signed).over(run).alias("prefix")
    ).withColumn(
        "best_end",
        F.col("prefix")
        - F.least(F.lit(0).cast("long"), F.coalesce(F.min("prefix").over(before), F.lit(0).cast("long"))),
    )
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("prefix").cast("long").alias("max_prefix_cents"),
        F.max("best_end").cast("long").alias("max_run_cents"),
    )


WINDOW_KADANE_MAX_SUBARRAY_SQL = """
WITH signed AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type IN ('purchase', 'signup')
              THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
              ELSE -CAST(floor(value * 100 + 0.5) AS BIGINT) END AS s
  FROM events
), pref AS (
  SELECT user_id, ts, event_id,
         sum(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS prefix
  FROM signed
), pre AS (
  SELECT user_id, prefix,
         min(prefix) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS minprev
  FROM pref
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(prefix) AS BIGINT) AS max_prefix_cents,
       CAST(max(prefix - least(0, coalesce(minprev, 0))) AS BIGINT)
         AS max_run_cents
FROM pre GROUP BY user_id
"""


# --- RSI oscillator (simple-MA variant) -----------------------------------------------


def window_rsi_relative_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-14 gain/loss sums and RSI gain share (ppm) per
    supplier price series — simple-MA RSI, so the whole oscillator is
    one lag plus two framed sums, exact in integer cents."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 10)
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    diff = cents - F.lag(cents).over(w)
    frame = w.rowsBetween(-13, Window.currentRow)
    scored = li.select(
        "l_suppkey",
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.sum(F.greatest(F.coalesce(diff, F.lit(0).cast("long")), F.lit(0).cast("long"))).over(frame).alias("gain14"),
        F.sum(F.greatest(F.coalesce(-diff, F.lit(0).cast("long")), F.lit(0).cast("long"))).over(frame).alias("loss14"),
    )
    return scored.select(
        F.col("l_suppkey").cast("long").alias("l_suppkey"),
        "l_orderkey",
        "l_linenumber",
        F.col("gain14").cast("long").alias("gain14"),
        F.col("loss14").cast("long").alias("loss14"),
        F.when(
            F.col("gain14") + F.col("loss14") > 0,
            F.expr("(gain14 * 1000000) div (gain14 + loss14)"),
        ).cast("long").alias("rsi_ppm"),
    )


WINDOW_RSI_RELATIVE_STRENGTH_SQL = """
WITH px AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
         l_shipdate
  FROM lineitem WHERE l_suppkey < 10
), d AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
         coalesce(c - lag(c) OVER w, 0) AS diff
  FROM px
  WINDOW w AS (PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber)
), s AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         sum(greatest(diff, 0)) OVER f AS gain14,
         sum(greatest(-diff, 0)) OVER f AS loss14
  FROM d
  WINDOW f AS (PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey,
       CAST(l_orderkey AS BIGINT) AS l_orderkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       CAST(gain14 AS BIGINT) AS gain14,
       CAST(loss14 AS BIGINT) AS loss14,
       CASE WHEN gain14 + loss14 > 0
            THEN CAST((gain14 * 1000000) // (gain14 + loss14) AS BIGINT)
            ELSE CAST(NULL AS BIGINT) END AS rsi_ppm
FROM s
"""


# --- frequency of frequencies ---------------------------------------------------------


def agg_freq_of_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-of-counts over the whitespace token stream: for each
    occurrence count k, how many distinct types occur exactly k times
    (plus the lexical extremes as identity anchors) — the Good-Turing
    smoothing table."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("tok")
    )
    per_type = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    return per_type.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.min("tok").alias("min_token"),
        F.max("tok").alias("max_token"),
    ).select(F.col("k").alias("occurrences"), "n_types", "min_token", "max_token")


AGG_FREQ_OF_FREQ_SQL = """
WITH toks AS (
  SELECT unnest(list_filter(
           string_split_regex(lower(trim(text)), '\\s+'), t -> t <> ''))
         AS tok
  FROM documents
), per_type AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS k FROM toks GROUP BY tok
)
SELECT CAST(k AS BIGINT) AS occurrences,
       CAST(count(*) AS BIGINT) AS n_types,
       min(tok) AS min_token,
       max(tok) AS max_token
FROM per_type GROUP BY k
"""


# --- skip-gram pair extraction --------------------------------------------------------


def text_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(center, context) pairs at position distances 1 and 2, global
    top-25 by support — the word2vec training-pair generator.  The
    position table equi-joins itself on (doc_id, pos + d): fan-out is
    exactly two probe rows per token, co-partitioned by document."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("pos", "tok"),
    )
    probes = toks.select(
        "doc_id",
        F.col("tok").alias("w1"),
        "pos",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("dist"),
    ).withColumn("tgt", F.col("pos") + F.col("dist"))
    ctx = toks.select("doc_id", F.col("pos").alias("tgt"), F.col("tok").alias("w2"))
    pairs = probes.join(ctx, ["doc_id", "tgt"]).groupBy("w1", "w2", "dist").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return (
        pairs.orderBy(F.desc("cnt"), "w1", "w2", "dist")
        .limit(25)
        .select("w1", "w2", F.col("dist").cast("long").alias("dist"), "cnt")
    )


TEXT_SKIPGRAM_PAIRS_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
), pos AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
  FROM t, unnest(generate_series(1, len(toks))) AS u(i)
), pairs AS (
  SELECT a.tok AS w1, b.tok AS w2, d.dist AS dist
  FROM pos a
  JOIN (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT))) AS d(dist) ON true
  JOIN pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + d.dist
)
SELECT w1, w2, CAST(dist AS BIGINT) AS dist,
       CAST(count(*) AS BIGINT) AS cnt
FROM pairs GROUP BY w1, w2, dist
ORDER BY cnt DESC, w1, w2, dist LIMIT 25
"""


# --- running VWAP ---------------------------------------------------------------------


def window_vwap_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running volume-weighted average price per part: cumulative
    Σ(price·qty) and Σqty, VWAP = their integer ratio in cents — the
    one-pass streaming VWAP."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 20)
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        F.col("l_partkey").cast("long").alias("l_partkey"),
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.sum(cents * qty).over(w).cast("long").alias("cum_pq_cents"),
        F.sum(qty).over(w).cast("long").alias("cum_qty"),
    ).withColumn("vwap_cents", F.expr("cum_pq_cents div cum_qty").cast("long"))


WINDOW_VWAP_RUNNING_SQL = """
WITH px AS (
  SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS q
  FROM lineitem WHERE l_partkey < 20
), s AS (
  SELECT l_partkey, l_orderkey, l_linenumber,
         sum(c * q) OVER w AS cum_pq_cents,
         sum(q) OVER w AS cum_qty
  FROM px
  WINDOW w AS (PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING)
)
SELECT CAST(l_partkey AS BIGINT) AS l_partkey,
       CAST(l_orderkey AS BIGINT) AS l_orderkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       CAST(cum_pq_cents AS BIGINT) AS cum_pq_cents,
       CAST(cum_qty AS BIGINT) AS cum_qty,
       CAST(cum_pq_cents // cum_qty AS BIGINT) AS vwap_cents
FROM s
"""


QUERIES: dict[str, QuerySpec] = {
    "window_kadane_max_subarray": QuerySpec(
        window_kadane_max_subarray, WINDOW_KADANE_MAX_SUBARRAY_SQL
    ),
    "window_rsi_relative_strength": QuerySpec(
        window_rsi_relative_strength, WINDOW_RSI_RELATIVE_STRENGTH_SQL
    ),
    "agg_freq_of_freq": QuerySpec(agg_freq_of_freq, AGG_FREQ_OF_FREQ_SQL),
    "text_skipgram_pairs": QuerySpec(text_skipgram_pairs, TEXT_SKIPGRAM_PAIRS_SQL),
    "window_vwap_running": QuerySpec(window_vwap_running, WINDOW_VWAP_RUNNING_SQL),
}
