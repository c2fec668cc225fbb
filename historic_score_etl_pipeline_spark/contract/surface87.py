"""Round-6 batch 94 — QUALIFY dialect pair, map_zip_with merge, binary
change-point, tokenizer fertility, group medoid:

* ``sql_qualify_dialect_pair`` — the QUALIFY pattern: Spark has no
  QUALIFY clause, so the ranked filter is the documented subquery
  rewrite; the DuckDB oracle runs LITERAL QUALIFY — the hash gate
  proves the rewrite is the clause (the sql_star_except_exclude
  dialect-pair pattern).
* ``hof_map_zip_with_merge`` — ``map_zip_with`` as engine surface: two
  per-user maps (first/second half-month type counts) merged with a
  null-safe sum combiner, exploded back; the oracle replays
  relationally.
* ``window_best_split_point`` — 1-step binary segmentation: per
  supplier series the split index maximizing the fixpointed
  |prefix mean − suffix mean| score (ppm integer definition, exact
  argmax with index tiebreak) — change-point detection as one window
  chain.
* ``text_tokenizer_fertility`` — subword fertility: whitespace words vs
  BPE-ish regex pieces ([a-z]+ | [0-9]+ | other char); per source both
  counts and pieces-per-word ppm — the tokenizer-budget number.
* ``str_group_medoid`` — canonical representative: within each 3-char
  prefix block, the word minimizing Σ Levenshtein distance to its
  blockmates (count-weighted; distance ties break by word) — the
  golden-record pick for fuzzy clusters, block-bounded.

Scale notes: QUALIFY rewrite is one window + filter; map_zip_with runs
JVM-side per user; the split argmax rides two window passes over
supplier partitions; fertility is length arithmetic; the medoid block
join is bounded by prefix-block size (the str_levenshtein_block
pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.contract.surface78 import supplier_cents
from historic_score_etl_pipeline_spark.contract.surface79 import vocab_counts
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- QUALIFY dialect pair -----------------------------------------------------------------


def sql_qualify_dialect_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per status by cents: Spark spells QUALIFY as the
    ranked-subquery rewrite; the oracle uses DuckDB's literal QUALIFY."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_qual_orders"
    )
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderkey, cents, rnk FROM (
          SELECT o_orderstatus, o_orderkey,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                 CAST(row_number() OVER (PARTITION BY o_orderstatus
                      ORDER BY floor(o_totalprice * 100 + 0.5) DESC,
                               o_orderkey) AS BIGINT) AS rnk
          FROM v_qual_orders
        ) WHERE rnk <= 2
        """
    )


SQL_QUALIFY_DIALECT_PAIR_SQL = """
SELECT o_orderstatus, o_orderkey,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
       CAST(row_number() OVER (PARTITION BY o_orderstatus
            ORDER BY floor(o_totalprice * 100 + 0.5) DESC, o_orderkey)
            AS BIGINT) AS rnk
FROM orders
QUALIFY rnk <= 2
"""


# --- map_zip_with merge -----------------------------------------------------------------------


def hof_map_zip_with_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two per-user maps (type counts, days 1–15 vs 16–31) merged with
    map_zip_with null-safe sum, exploded to (user, type, h1, h2,
    total) rows (users < 100)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 100)
    halves = ev.groupBy("user_id", "event_type").agg(
        F.sum((F.dayofmonth("ts") <= 15).cast("long")).alias("c1"),
        F.sum((F.dayofmonth("ts") > 15).cast("long")).alias("c2"),
    )
    maps = halves.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.when(F.col("c1") > 0,
                       F.struct("event_type", "c1")).otherwise(None)
            )
        ).alias("m1_raw"),
        F.map_from_entries(
            F.collect_list(
                F.when(F.col("c2") > 0,
                       F.struct("event_type", "c2")).otherwise(None)
            )
        ).alias("m2_raw"),
    )
    merged = maps.select(
        "user_id",
        F.map_zip_with(
            "m1_raw",
            "m2_raw",
            lambda _k, v1, v2: F.struct(
                F.coalesce(v1, F.lit(0)).alias("h1"),
                F.coalesce(v2, F.lit(0)).alias("h2"),
                (F.coalesce(v1, F.lit(0)) + F.coalesce(v2, F.lit(0))).alias(
                    "total"
                ),
            ),
        ).alias("m"),
    )
    ex = merged.select(
        "user_id", F.explode("m").alias("event_type", "s")
    )
    return ex.select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        F.col("s.h1").cast("long").alias("h1"),
        F.col("s.h2").cast("long").alias("h2"),
        F.col("s.total").cast("long").alias("total"),
    )


HOF_MAP_ZIP_WITH_MERGE_SQL = """
WITH halves AS (
  SELECT user_id, event_type,
         CAST(sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT)
           AS c1,
         CAST(sum(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END) AS BIGINT)
           AS c2
  FROM events WHERE user_id < 100 GROUP BY 1, 2
)
SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
       c1 AS h1, c2 AS h2, CAST(c1 + c2 AS BIGINT) AS total
FROM halves
"""


# --- binary change-point ------------------------------------------------------------------------


def window_best_split_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per supplier (< 10): the split index i (1 ≤ i < n) maximizing
    the fixpointed |mean(prefix) − mean(suffix)| in ppm-cents (exact
    argmax, smallest-index tiebreak)."""
    px = supplier_cents(spark, sf_dir)
    w = Window.partitionBy("sk").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    wfull = Window.partitionBy("sk")
    pre = px.select(
        "sk",
        F.row_number().over(w).alias("i"),
        F.sum("c").over(wrun).alias("s_i"),
        F.sum("c").over(wfull).alias("s_n"),
        F.count(F.lit(1)).over(wfull).alias("n"),
    ).where(F.col("i") < F.col("n"))
    # score_ppm = |s_i/i − (s_n−s_i)/(n−i)| · 1e6, computed as ONE
    # integer division of cross-multiplied terms (exact definition).
    # The cross product runs in DECIMAL(38,0)/HUGEINT: s_i·(n−i)·1e6
    # reaches ~3.6e18 per supplier already at sf1 (n≈600 rows of ≤1e7
    # cents) and exceeds int64 past ~sf2 — same overflow class the r7
    # sf0.1 sweep caught in event_did_estimator; found by the r8
    # int-product AST audit.
    score = F.expr(
        "abs(CAST(s_i AS DECIMAL(38,0)) * (n - i)"
        " - (CAST(s_n AS DECIMAL(38,0)) - s_i) * i) * 1000000"
        " div (i * (n - i))"
    )
    scored = pre.select(
        "sk", "i", "n", score.cast("long").alias("score_ppm")
    )
    rk = Window.partitionBy("sk").orderBy(
        F.desc("score_ppm"), F.asc("i")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(rk))
        .where(F.col("rnk") == 1)
        .select(
            F.col("sk").alias("l_suppkey"),
            F.col("i").cast("long").alias("split_at"),
            F.col("n").cast("long").alias("n_rows"),
            "score_ppm",
        )
    )


WINDOW_BEST_SPLIT_POINT_SQL = """
WITH px AS (
  SELECT l_suppkey AS sk, l_shipdate, l_orderkey, l_linenumber,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
  FROM lineitem WHERE l_suppkey < 10
), pre AS (
  SELECT sk,
         row_number() OVER w AS i,
         sum(c) OVER (PARTITION BY sk ORDER BY l_shipdate, l_orderkey,
              l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING AND
              CURRENT ROW) AS s_i,
         sum(c) OVER (PARTITION BY sk) AS s_n,
         count(*) OVER (PARTITION BY sk) AS n
  FROM px
  WINDOW w AS (PARTITION BY sk ORDER BY l_shipdate, l_orderkey,
               l_linenumber)
), scored AS (
  SELECT sk, i, n,
         abs(CAST(s_i AS HUGEINT) * (n - i)
             - (CAST(s_n AS HUGEINT) - s_i) * i) * 1000000
           // (i * (n - i)) AS score_ppm,
         row_number() OVER (PARTITION BY sk ORDER BY
           abs(CAST(s_i AS HUGEINT) * (n - i)
               - (CAST(s_n AS HUGEINT) - s_i) * i) * 1000000
             // (i * (n - i)) DESC, i) AS rnk
  FROM pre WHERE i < n
)
SELECT CAST(sk AS BIGINT) AS l_suppkey, CAST(i AS BIGINT) AS split_at,
       CAST(n AS BIGINT) AS n_rows, CAST(score_ppm AS BIGINT) AS score_ppm
FROM scored WHERE rnk = 1
"""


# --- tokenizer fertility ---------------------------------------------------------------------------


def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: whitespace word count vs BPE-ish regex pieces
    ([a-z]+ | [0-9]+ | any other non-space char); fertility =
    pieces-per-word in ppm."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.size(
        F.filter(F.split(F.col("text"), "\\s+"), lambda t: t != "")
    ).cast("long")
    pieces = F.size(
        F.expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)")
    ).cast("long")
    per = docs.select("source", words.alias("w"), pieces.alias("p"))
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("n_words"),
        F.sum("p").cast("long").alias("n_pieces"),
        F.expr("(sum(p) * 1000000) div sum(w)").cast("long").alias(
            "fertility_ppm"
        ),
    )


TEXT_TOKENIZER_FERTILITY_SQL = """
WITH per AS (
  SELECT source,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
                              t -> t <> '')) AS BIGINT) AS w,
         CAST(len(regexp_extract_all(lower(text),
                  '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS p
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w) AS BIGINT) AS n_words,
       CAST(sum(p) AS BIGINT) AS n_pieces,
       CAST((sum(p) * 1000000) // sum(w) AS BIGINT) AS fertility_ppm
FROM per GROUP BY source
"""


# --- group medoid ------------------------------------------------------------------------------------


def str_group_medoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within each 3-char prefix block of the vocabulary: the word
    minimizing the count-weighted Σ Levenshtein distance to its
    blockmates (tiebreak by word) — the canonical representative."""
    wc = vocab_counts(spark, sf_dir)
    keyed = wc.select(F.substring("w", 1, 3).alias("prefix"), "w", "n")
    pairs = (
        keyed.alias("x")
        .join(keyed.alias("y"), F.col("x.prefix") == F.col("y.prefix"))
        .select(
            F.col("x.prefix").alias("prefix"),
            F.col("x.w").alias("w"),
            (F.levenshtein(F.col("x.w"), F.col("y.w")) * F.col("y.n"))
            .cast("long")
            .alias("wd"),
        )
    )
    cost = pairs.groupBy("prefix", "w").agg(
        F.sum("wd").cast("long").alias("total_dist")
    )
    rk = Window.partitionBy("prefix").orderBy(
        F.asc("total_dist"), F.asc("w")
    )
    return (
        cost.withColumn("rnk", F.row_number().over(rk))
        .where(F.col("rnk") == 1)
        .select("prefix", F.col("w").alias("medoid"), "total_dist")
    )


STR_GROUP_MEDOID_SQL = """
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> length(t) >= 3)) AS w
  FROM documents
), wc AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY w
), keyed AS (
  SELECT substr(w, 1, 3) AS prefix, w, n FROM wc
), cost AS (
  SELECT x.prefix, x.w,
         CAST(sum(levenshtein(x.w, y.w) * y.n) AS BIGINT) AS total_dist
  FROM keyed x JOIN keyed y ON x.prefix = y.prefix
  GROUP BY 1, 2
), ranked AS (
  SELECT prefix, w, total_dist,
         row_number() OVER (PARTITION BY prefix
                            ORDER BY total_dist, w) AS rnk
  FROM cost
)
SELECT prefix, w AS medoid, total_dist FROM ranked WHERE rnk = 1
"""


QUERIES: dict[str, QuerySpec] = {
    "sql_qualify_dialect_pair": QuerySpec(
        sql_qualify_dialect_pair, SQL_QUALIFY_DIALECT_PAIR_SQL
    ),
    "hof_map_zip_with_merge": QuerySpec(
        hof_map_zip_with_merge, HOF_MAP_ZIP_WITH_MERGE_SQL
    ),
    "window_best_split_point": QuerySpec(
        window_best_split_point, WINDOW_BEST_SPLIT_POINT_SQL
    ),
    "text_tokenizer_fertility": QuerySpec(
        text_tokenizer_fertility, TEXT_TOKENIZER_FERTILITY_SQL
    ),
    "str_group_medoid": QuerySpec(str_group_medoid, STR_GROUP_MEDOID_SQL),
}
