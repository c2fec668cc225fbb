"""Round-6 batch 86 — two-centroid split, anagram classes, multiline
log records, purchase-velocity rule, star-EXCEPT sugar (overflow
slots):

* ``embed_two_centroid_split`` — ONE deterministic bisecting step:
  centroids pinned to vectors 0 and 1 (quantized), every vector
  assigned by exact integer squared distance (tie → side 0); per side
  the count and inertia.  The ORACLED twin of the rows-only
  ``sim_kmeans_assign`` family — one round with pinned seeds is fully
  SQL-replayable.
* ``text_anagram_classes`` — signature grouping: words keyed by their
  sorted character multiset; top-20 classes by distinct-word count —
  the toy form of canonical-key dedup (same shape as case/punct
  normalization keys).
* ``scan_multiline_log_records`` — the multiline-log problem: staged
  text where continuation lines (leading space) belong to the parent
  record above; records reassembled by a running parent count over the
  embedded sequence, then rolled up per status.
* ``event_fraud_velocity_rule`` — velocity rule detector: users whose
  purchase count within ANY trailing 6-hour RANGE window reaches 2 —
  flagged users with their peak burst and totals.
* ``sql_star_except_exclude`` — star-projection sugar: Spark
  ``SELECT * EXCEPT (cols)`` vs DuckDB ``SELECT * EXCLUDE (cols)`` —
  each engine's own spelling, result equality proven by the hash gate.

Scale notes: the split broadcasts ONE pivoted centroid row (scalar
folding); anagram classes group the DISTINCT word table; log records
use one file-ordered window chain; the velocity rule is one
user-partitioned RANGE frame; EXCEPT is parser sugar over a pruned
scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table
from historic_score_etl_pipeline_spark.operators.similarity import (
    micro_units,
    valid_vectors,
)

# --- two-centroid split ---------------------------------------------------------------------


def embed_two_centroid_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every vector to the nearer of centroids q(vec 0) / q(vec
    1) by exact integer squared distance (tie → side 0); per side count
    + inertia."""
    emb = valid_vectors(load_table(spark, sf_dir, "embeddings"))
    q = micro_units("embedding")
    vecs = emb.select(F.col("vec_id").cast("long").alias("vec_id"),
                      q.alias("q"))
    cents = (
        vecs.where(F.col("vec_id") < 2)
        .groupBy()
        .agg(
            F.max(F.when(F.col("vec_id") == 0, F.col("q"))).alias("c0"),
            F.max(F.when(F.col("vec_id") == 1, F.col("q"))).alias("c1"),
        )
    )
    d = lambda c: F.aggregate(  # noqa: E731
        F.zip_with("q", c, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # ONE pivoted centroid row broadcast (scalar-folding rule)
    assigned = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        d(F.col("c0")).alias("d0"),
        d(F.col("c1")).alias("d1"),
    )
    return (
        assigned.select(
            F.when(F.col("d0") <= F.col("d1"), 0)
            .otherwise(1)
            .cast("long")
            .alias("side"),
            F.least("d0", "d1").alias("dist"),
        )
        .groupBy("side")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("dist").cast("long").alias("inertia"),
        )
    )


EMBED_TWO_CENTROID_SPLIT_SQL = """
WITH v AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                                  AS BIGINT)) AS q
  FROM embeddings
  -- quarantine gate: malformed vectors excluded (similarity.py)
  WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
), cents AS (
  SELECT max(CASE WHEN vec_id = 0 THEN q END) AS c0,
         max(CASE WHEN vec_id = 1 THEN q END) AS c1
  FROM v WHERE vec_id < 2
), assigned AS (
  SELECT v.vec_id,
         CAST(list_sum(list_transform(v.q, (x, i) -> (x - cents.c0[i])
              * (x - cents.c0[i]))) AS BIGINT) AS d0,
         CAST(list_sum(list_transform(v.q, (x, i) -> (x - cents.c1[i])
              * (x - cents.c1[i]))) AS BIGINT) AS d1
  FROM v, cents
)
SELECT CAST(CASE WHEN d0 <= d1 THEN 0 ELSE 1 END AS BIGINT) AS side,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(least(d0, d1)) AS BIGINT) AS inertia
FROM assigned GROUP BY 1
"""


# --- anagram classes ---------------------------------------------------------------------------

_ANAGRAM_TOPK = 20


def vocab_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(w, n)``: every lower-cased ``[^a-z0-9]+``-split document word of
    length ≥ 3 with its occurrence count."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda t: F.length(t) >= 3,
            )
        ).alias("w")
    )
    return toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n"))


def text_anagram_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Words (len ≥ 3) keyed by sorted character multiset; top-20
    classes by (distinct words, signature)."""
    wc = vocab_counts(spark, sf_dir)
    sig = F.concat_ws(
        "", F.sort_array(F.filter(F.split("w", ""), lambda c: c != ""))
    )
    return (
        wc.select(sig.alias("signature"), "w", "n")
        .groupBy("signature")
        .agg(
            F.countDistinct("w").cast("long").alias("n_words"),
            F.sum("n").cast("long").alias("n_occurrences"),
            F.min("w").alias("example_word"),
        )
        .orderBy(F.desc("n_words"), F.desc("n_occurrences"),
                 F.asc("signature"))
        .limit(_ANAGRAM_TOPK)
    )


TEXT_ANAGRAM_CLASSES_SQL = f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> length(t) >= 3)) AS w
  FROM documents
), wc AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY w
), keyed AS (
  SELECT array_to_string(list_sort(list_filter(string_split(w, ''),
                                               c -> c <> '')), '')
           AS signature,
         w, n
  FROM wc
)
SELECT signature, CAST(count(DISTINCT w) AS BIGINT) AS n_words,
       CAST(sum(n) AS BIGINT) AS n_occurrences,
       min(w) AS example_word
FROM keyed GROUP BY signature
ORDER BY n_words DESC, n_occurrences DESC, signature LIMIT {_ANAGRAM_TOPK}
"""


# --- multiline log records -----------------------------------------------------------------------


def _staged_multiline_log(spark: SparkSession, sf_dir: str) -> str:
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "mlog", sf_dir)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        o = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        parent = o.select(
            (F.col("k") * 4).alias("seq"),
            F.concat(
                F.lit("R|"), F.col("k").cast("string"), F.lit("|"),
                F.col("status"),
            ).alias("line"),
        )
        # k % 3 continuation lines per record (0, 1 or 2)
        conts = (
            o.where(F.col("k") % 3 > 0)
            .select(
                "k",
                "cents",
                F.explode(
                    F.sequence(F.lit(1), (F.col("k") % 3).cast("int"))
                ).alias("j"),
            )
            .select(
                (F.col("k") * 4 + F.col("j")).alias("seq"),
                F.concat(
                    F.lit(" C|"),
                    (F.col("cents") + F.col("j")).cast("string"),
                ).alias("line"),
            )
        )
        lines = parent.unionByName(conts).select(
            F.concat(
                F.col("seq").cast("string"), F.lit("#"), F.col("line")
            ).alias("value")
        )
        lines.write.mode("overwrite").text(out)
    return out


def scan_multiline_log_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reassemble multiline records (continuations start with a space)
    in embedded-sequence order; per status: records, continuation lines
    and their payload sum."""
    path = _staged_multiline_log(spark, sf_dir)
    raw = spark.read.text(path)
    parsed = raw.select(
        F.split("value", "#", 2).getItem(0).cast("long").alias("seq"),
        F.split("value", "#", 2).getItem(1).alias("line"),
    ).select(
        "seq",
        "line",
        F.col("line").startswith(" ").cast("long").alias("is_cont"),
    )
    w = Window.orderBy("seq").rowsBetween(Window.unboundedPreceding, 0)
    # record id = running parent count in sequence order; the global
    # window runs over the line table ONCE (log-assembly is inherently
    # ordered; at scale this partitions per file — seq embeds the key)
    rec = parsed.withColumn("rec_id", F.sum(1 - F.col("is_cont")).over(w))
    parents = rec.where(F.col("is_cont") == 0).select(
        "rec_id",
        F.split(F.col("line"), "\\|").getItem(2).alias("status"),
    )
    conts = rec.where(F.col("is_cont") == 1).select(
        "rec_id",
        F.split(F.col("line"), "\\|").getItem(1).cast("long").alias(
            "payload"
        ),
    )
    joined = parents.join(conts, "rec_id", "left")
    return joined.groupBy("status").agg(
        F.countDistinct("rec_id").cast("long").alias("n_records"),
        F.count("payload").cast("long").alias("n_continuations"),
        F.coalesce(F.sum("payload"), F.lit(0)).cast("long").alias(
            "payload_sum"
        ),
    )


SCAN_MULTILINE_LOG_RECORDS_SQL = """
SELECT o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n_records,
       CAST(sum(o_orderkey % 3) AS BIGINT) AS n_continuations,
       CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 0
                     WHEN o_orderkey % 3 = 1
                     THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 1
                     ELSE 2 * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          + 3 END) AS BIGINT) AS payload_sum
FROM orders GROUP BY 1
"""


# --- purchase-velocity rule ------------------------------------------------------------------------

_VELOCITY_WINDOW_S = 21600
_VELOCITY_N = 2


def event_fraud_velocity_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users whose purchase count within ANY trailing 6-hour window
    reaches 2 — flagged with peak burst and purchase totals."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-_VELOCITY_WINDOW_S * 1_000_000, 0)
    )
    burst = ev.select(
        "user_id", F.count(F.lit(1)).over(w).alias("in_window")
    )
    return (
        burst.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.max("in_window").cast("long").alias("peak_burst"),
        )
        .where(F.col("peak_burst") >= _VELOCITY_N)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            "n_purchases",
            "peak_burst",
        )
    )


EVENT_FRAUD_VELOCITY_RULE_SQL = f"""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us
  FROM events WHERE event_type = 'purchase'
), burst AS (
  SELECT user_id,
         count(*) OVER (PARTITION BY user_id ORDER BY us
                        RANGE BETWEEN {_VELOCITY_WINDOW_S * 1_000_000}
                        PRECEDING AND CURRENT ROW) AS in_window
  FROM p
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(max(in_window) AS BIGINT) AS peak_burst
FROM burst GROUP BY user_id
HAVING max(in_window) >= {_VELOCITY_N}
"""


# --- star EXCEPT / EXCLUDE sugar ---------------------------------------------------------------------


def sql_star_except_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's ``SELECT * EXCEPT`` star sugar (DuckDB spells it
    EXCLUDE) — the pruned projection rolls up identically."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_sexc_orders"
    )
    return spark.sql(
        """
        WITH pruned AS (
          SELECT * EXCEPT (o_totalprice, o_orderdate, o_orderpriority)
          FROM v_sexc_orders
        )
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_custkey) AS BIGINT) AS max_cust
        FROM pruned GROUP BY o_orderstatus
        """
    )


SQL_STAR_EXCEPT_EXCLUDE_SQL = """
WITH pruned AS (
  SELECT * EXCLUDE (o_totalprice, o_orderdate, o_orderpriority)
  FROM orders
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_custkey) AS BIGINT) AS max_cust
FROM pruned GROUP BY o_orderstatus
"""


QUERIES: dict[str, QuerySpec] = {
    "embed_two_centroid_split": QuerySpec(
        embed_two_centroid_split, EMBED_TWO_CENTROID_SPLIT_SQL
    ),
    "text_anagram_classes": QuerySpec(
        text_anagram_classes, TEXT_ANAGRAM_CLASSES_SQL
    ),
    "scan_multiline_log_records": QuerySpec(
        scan_multiline_log_records, SCAN_MULTILINE_LOG_RECORDS_SQL
    ),
    "event_fraud_velocity_rule": QuerySpec(
        event_fraud_velocity_rule, EVENT_FRAUD_VELOCITY_RULE_SQL
    ),
    "sql_star_except_exclude": QuerySpec(
        sql_star_except_exclude, SQL_STAR_EXCEPT_EXCLUDE_SQL
    ),
}
