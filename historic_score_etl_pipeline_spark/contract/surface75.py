"""Round-6 batch 82 — ANN recall evaluation, diff-in-diff estimator,
Kneser-Ney continuation counts, schedule expansion, winsorized mean:

* ``embed_octant_recall_eval`` — retrieval QUALITY evaluation in-engine:
  for 10 probe vectors, exact brute-force top-10 (integer dots, the
  ``embed_knn_graph_octant`` quantization) vs the octant-blocked top-10;
  per probe the overlap count and recall ppm.  The eval loop that tells
  you whether an ANN index is good enough — as a query, not a notebook.
* ``event_did_estimator`` — difference-in-differences on events-per-
  active-user-day: treatment = user_id % 5 = 0, post = day-of-month
  > 15; all four cell rates compared via exact cross-multiplication
  (ppm fixpoint only at the very end).
* ``text_kn_continuation_counts`` — the Kneser-Ney smoothing
  ingredient: per word, its raw bigram count AND its continuation count
  (distinct left contexts) — the quantity KN uses instead of frequency;
  top-20 by continuation.
* ``date_schedule_expansion`` — cron-lite schedule expansion: three
  (dow-set, hour) specs expanded over the observed event date range
  into concrete slots, then matched against per-(day, hour) event
  counts — the ORACLED twin of the B8 scheduler predicate
  (plans/scheduler.py, unit-test-only per SURVEY §2).
* ``agg_winsorized_mean`` — the clamping sibling of
  ``agg_trimmed_mean``: order-statistic p10/p90 bounds per return flag,
  values CLAMPED (not dropped), exact integer sum + ppm mean.

Scale notes: recall eval broadcasts the 10-row probe dim (documented
BNLJ class) and equi-joins the octant path; DiD is one grouped pass +
a 4-row re-aggregate (scalar class); KN counts group the DISTINCT
bigram table; schedule expansion folds a 1-row range scalar into a
3-row spec dim (scalar-folding rule) and equi-joins hourly aggregates;
winsorized bounds are rank-filtered, never collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- ANN recall evaluation ---------------------------------------------------------------

_RECALL_K = 10
_RECALL_NQ = 10


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # quarantine gate (similarity.py policy): a NULL-ELEMENT vector's
    # brute-force dot is NULL in Spark (ranks last) but a near-full sum
    # in DuckDB (list_sum skips the element, ranks FIRST for its exact-
    # duplicate probe) — caught by the r10 adversarial NULL-element row
    from historic_score_etl_pipeline_spark.operators.similarity import (
        micro_units,
        valid_vectors,
    )

    emb = valid_vectors(load_table(spark, sf_dir, "embeddings"))
    q = micro_units("embedding")
    bucket = (
        F.when(F.element_at("q", 1) > 0, 1).otherwise(0)
        + F.when(F.element_at("q", 2) > 0, 2).otherwise(0)
        + F.when(F.element_at("q", 3) > 0, 4).otherwise(0)
        + F.when(F.element_at("q", 4) > 0, 8).otherwise(0)
    )
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"), q.alias("q")
    ).withColumn("bucket", bucket)


def embed_octant_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of octant-blocked search vs exact brute force for the
    first 10 probe vectors — overlap counted, ppm fixpoint."""
    bv = _quantized(spark, sf_dir)
    qs = bv.where(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("a"),
        F.col("q").alias("qa"),
        F.col("bucket").alias("qb_bucket"),
    )
    dot = F.aggregate(
        F.zip_with("qa", "q", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    rk = Window.partitionBy("a").orderBy(F.desc("dot"), F.asc("vec_id"))
    # 10-row probe dim broadcast against the corpus (embed_prefix_topk_
    # overlap class): the BNLJ build side is the probe set, never data
    brute = (
        F.broadcast(qs)
        .join(bv, F.col("a") != F.col("vec_id"))
        .select("a", "vec_id", dot.alias("dot"))
        .withColumn("rnk", F.row_number().over(rk))
        .where(F.col("rnk") <= _RECALL_K)
        .select("a", F.col("vec_id").alias("b"))
    )
    approx = (
        qs.join(
            bv,
            (F.col("qb_bucket") == F.col("bucket"))
            & (F.col("a") != F.col("vec_id")),
        )
        .select("a", "vec_id", dot.alias("dot"))
        .withColumn("rnk", F.row_number().over(rk))
        .where(F.col("rnk") <= _RECALL_K)
        .select("a", F.col("vec_id").alias("b"), F.lit(1).alias("hit"))
    )
    ov = (
        brute.join(approx, ["a", "b"], "left")
        .groupBy("a")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_overlap"))
    )
    return ov.join(
        qs.select(F.col("a"), F.col("qb_bucket").alias("bucket")), "a"
    ).select(
        F.col("a").alias("vec_id"),
        "n_overlap",
        F.col("bucket").cast("long").alias("bucket"),
        F.expr(f"(n_overlap * 1000000) div {_RECALL_K}")
        .cast("long")
        .alias("recall_ppm"),
    )


EMBED_OCTANT_RECALL_EVAL_SQL = f"""
WITH v AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                                  AS BIGINT)) AS q
  FROM embeddings
  -- quarantine gate: malformed vectors excluded (similarity.py)
  WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
), bv AS (
  SELECT vec_id, q,
         (CASE WHEN q[1] > 0 THEN 1 ELSE 0 END
          + CASE WHEN q[2] > 0 THEN 2 ELSE 0 END
          + CASE WHEN q[3] > 0 THEN 4 ELSE 0 END
          + CASE WHEN q[4] > 0 THEN 8 ELSE 0 END) AS bucket
  FROM v
), qs AS (SELECT * FROM bv WHERE vec_id < {_RECALL_NQ}),
brute AS (
  SELECT qs.vec_id AS a, bv.vec_id AS b,
         row_number() OVER (PARTITION BY qs.vec_id ORDER BY
           list_sum(list_transform(qs.q, (x, i) -> x * bv.q[i])) DESC,
           bv.vec_id) AS rnk
  FROM qs JOIN bv ON qs.vec_id <> bv.vec_id
), approx AS (
  SELECT qs.vec_id AS a, bv.vec_id AS b,
         row_number() OVER (PARTITION BY qs.vec_id ORDER BY
           list_sum(list_transform(qs.q, (x, i) -> x * bv.q[i])) DESC,
           bv.vec_id) AS rnk
  FROM qs JOIN bv ON qs.bucket = bv.bucket AND qs.vec_id <> bv.vec_id
), bt AS (SELECT a, b FROM brute WHERE rnk <= {_RECALL_K}),
ap AS (SELECT a, b FROM approx WHERE rnk <= {_RECALL_K}),
ov AS (
  SELECT bt.a, CAST(count(ap.b) AS BIGINT) AS n_overlap
  FROM bt LEFT JOIN ap ON bt.a = ap.a AND bt.b = ap.b GROUP BY bt.a
)
SELECT CAST(ov.a AS BIGINT) AS vec_id, n_overlap,
       CAST(qs.bucket AS BIGINT) AS bucket,
       CAST(n_overlap * 1000000 // {_RECALL_K} AS BIGINT) AS recall_ppm
FROM ov JOIN qs ON ov.a = qs.vec_id
"""


# --- diff-in-diff estimator ------------------------------------------------------------------


def event_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DiD on events-per-active-user-day (treat = user_id % 5 = 0, post
    = day > 15): all four cells exact, DiD as one cross-multiplied
    rational + ppm fixpoint.  The rational runs in DECIMAL(38,0)
    (HUGEINT in the oracle): its denominator is the product of FOUR
    user-day counts, which passes int64 already at ~55k user-days per
    cell (sf0.1 trips it — found by the round-7 sf0.1 parity sweep);
    the decimal form is exact to ~1e8 user-days per cell.  Only the
    int64-safe cells and the ppm fixpoint are emitted."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            (F.col("user_id") % 5 == 0).cast("int").alias("treat"),
            (F.dayofmonth("ts") > 15).cast("int").alias("post"),
            "user_id",
            F.to_date("ts").alias("day"),
        )
        .groupBy("treat", "post")
        .agg(
            F.count(F.lit(1)).cast("long").alias("e"),
            F.countDistinct("user_id", "day").cast("long").alias("u"),
        )
    )
    # 4-row re-aggregate (partial-state rows only — scalar class)
    pick = lambda t, p, c: F.sum(  # noqa: E731
        F.when((F.col("treat") == t) & (F.col("post") == p), F.col(c)).otherwise(0)
    ).cast("long")
    row = cells.agg(
        pick(1, 0, "e").alias("e_t1"), pick(1, 0, "u").alias("u_t1"),
        pick(1, 1, "e").alias("e_t2"), pick(1, 1, "u").alias("u_t2"),
        pick(0, 0, "e").alias("e_c1"), pick(0, 0, "u").alias("u_c1"),
        pick(0, 1, "e").alias("e_c2"), pick(0, 1, "u").alias("u_c2"),
    )
    def d(c: str):
        return F.col(c).cast("decimal(38,0)")

    num = (
        (d("e_t2") * F.col("u_t1") - d("e_t1") * F.col("u_t2"))
        * F.col("u_c1") * F.col("u_c2")
        - (d("e_c2") * F.col("u_c1") - d("e_c1") * F.col("u_c2"))
        * F.col("u_t1") * F.col("u_t2")
    )
    den = d("u_t1") * F.col("u_t2") * F.col("u_c1") * F.col("u_c2")
    return row.select(
        "e_t1", "u_t1", "e_t2", "u_t2", "e_c1", "u_c1", "e_c2", "u_c2",
        num.alias("did_num_dec"),
        den.alias("did_den_dec"),
    ).select(
        "e_t1", "u_t1", "e_t2", "u_t2", "e_c1", "u_c1", "e_c2", "u_c2",
        F.expr(
            "CASE WHEN did_den_dec > 0"
            " THEN CAST((did_num_dec * 1000000) div did_den_dec AS BIGINT)"
            " END"
        ).alias("did_ppm"),
    )


EVENT_DID_ESTIMATOR_SQL = """
WITH cells AS (
  SELECT CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END AS treat,
         CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END AS post,
         CAST(count(*) AS BIGINT) AS e,
         CAST(count(DISTINCT (user_id, CAST(ts AS DATE))) AS BIGINT) AS u
  FROM events GROUP BY 1, 2
), row1 AS (
  SELECT
    CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN e ELSE 0 END) AS BIGINT) AS e_t1,
    CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN u ELSE 0 END) AS BIGINT) AS u_t1,
    CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN e ELSE 0 END) AS BIGINT) AS e_t2,
    CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN u ELSE 0 END) AS BIGINT) AS u_t2,
    CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN e ELSE 0 END) AS BIGINT) AS e_c1,
    CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN u ELSE 0 END) AS BIGINT) AS u_c1,
    CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN e ELSE 0 END) AS BIGINT) AS e_c2,
    CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN u ELSE 0 END) AS BIGINT) AS u_c2
  FROM cells
)
SELECT *,
       CAST(CASE WHEN CAST(u_t1 AS HUGEINT) * u_t2 * u_c1 * u_c2 > 0 THEN
         (((CAST(e_t2 AS HUGEINT) * u_t1 - CAST(e_t1 AS HUGEINT) * u_t2)
             * u_c1 * u_c2
           - (CAST(e_c2 AS HUGEINT) * u_c1 - CAST(e_c1 AS HUGEINT) * u_c2)
             * u_t1 * u_t2) * 1000000)
         // (CAST(u_t1 AS HUGEINT) * u_t2 * u_c1 * u_c2) END AS BIGINT)
         AS did_ppm
FROM row1
"""


# --- Kneser-Ney continuation counts -----------------------------------------------------------

_KN_TOPK = 20


def text_kn_continuation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per word: raw bigram count and continuation count (distinct left
    contexts) — top-20 by (continuation, word)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("pos", "w"),
    )
    wn = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = toks.select(
        F.lag("w").over(wn).alias("left"), F.col("w").alias("word")
    ).where(F.col("left").isNotNull())
    return (
        bigrams.groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("raw_count"),
            F.countDistinct("left").cast("long").alias("continuation"),
        )
        .orderBy(F.desc("continuation"), F.asc("word"))
        .limit(_KN_TOPK)
    )


TEXT_KN_CONTINUATION_COUNTS_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS ws
  FROM documents
), toks AS (
  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
  FROM base
), bigrams AS (
  SELECT lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS lft, w AS word
  FROM toks
)
SELECT word, CAST(count(*) AS BIGINT) AS raw_count,
       CAST(count(DISTINCT lft) AS BIGINT) AS continuation
FROM bigrams WHERE lft IS NOT NULL
GROUP BY word ORDER BY continuation DESC, word LIMIT {_KN_TOPK}
"""


# --- schedule expansion -----------------------------------------------------------------------

# (sched_id, dow-set over epoch-day % 7, hour)
_SCHEDULES = [
    (1, [0, 2, 4], 9),
    (2, [5, 6], 12),
    (3, [0, 1, 2, 3, 4, 5, 6], 0),
]


def date_schedule_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expand the cron-lite specs over the observed event date range
    into concrete (day, hour) slots; count events landing in each
    schedule's slots."""
    ev = load_table(spark, sf_dir, "events")
    dn = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    rng = ev.agg(
        F.min(dn).cast("long").alias("lo"), F.max(dn).cast("long").alias("hi")
    )
    spec = spark.createDataFrame(
        [(s, d, h) for s, d, h in _SCHEDULES],
        "sched_id LONG, dows ARRAY<LONG>, hh LONG",
    )
    # 1-row range scalar folded into the 3-row spec dim (scalar-folding
    # rule — the BNLJ build side is exactly one row)
    slots = (
        spec.crossJoin(F.broadcast(rng))
        .select(
            "sched_id",
            "dows",
            "hh",
            F.explode(F.sequence("lo", "hi")).alias("dn"),
        )
        .where(F.array_contains("dows", F.col("dn") % 7))
        .select("sched_id", "dn", "hh")
    )
    hourly = ev.select(
        dn.cast("long").alias("dn"),
        F.hour("ts").cast("long").alias("hh"),
    ).groupBy("dn", "hh").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        slots.join(hourly, ["dn", "hh"], "left")
        .groupBy("sched_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_slots"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_events"),
        )
    )


DATE_SCHEDULE_EXPANSION_SQL = """
WITH spec AS (
  SELECT * FROM (VALUES (1, [0, 2, 4], 9), (2, [5, 6], 12),
                        (3, [0, 1, 2, 3, 4, 5, 6], 0))
    AS t(sched_id, dows, hh)
), rng AS (
  SELECT date_diff('day', DATE '1970-01-01', min(CAST(ts AS DATE))) AS lo,
         date_diff('day', DATE '1970-01-01', max(CAST(ts AS DATE))) AS hi
  FROM events
), slots AS (
  SELECT s.sched_id, t.dn, s.hh
  FROM spec s, rng, unnest(generate_series(rng.lo, rng.hi)) AS t(dn)
  WHERE list_contains(s.dows, CAST(t.dn % 7 AS INTEGER))
), ev AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn,
         CAST(hour(ts) AS BIGINT) AS hh, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT CAST(sl.sched_id AS BIGINT) AS sched_id,
       CAST(count(*) AS BIGINT) AS n_slots,
       CAST(coalesce(sum(ev.n), 0) AS BIGINT) AS n_events
FROM slots sl LEFT JOIN ev ON sl.dn = ev.dn AND sl.hh = ev.hh
GROUP BY 1
"""


# --- winsorized mean ------------------------------------------------------------------------------


def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per return flag: p10/p90 order-statistic bounds on quantity,
    values CLAMPED, exact integer sum + ppm mean."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("q"),
    )
    wr = Window.partitionBy("l_returnflag").orderBy(
        "q", "l_orderkey", "l_linenumber"
    )
    wc = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag", "q",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    lo = ranked.where(
        F.col("rn") == F.expr("CAST((cnt + 9) div 10 AS INT)")
    ).select("l_returnflag", F.col("q").alias("lo"))
    hi = ranked.where(
        F.col("rn") == F.expr("CAST((9 * cnt + 9) div 10 AS INT)")
    ).select("l_returnflag", F.col("q").alias("hi"))
    clamped = (
        li.join(lo, "l_returnflag")
        .join(hi, "l_returnflag")
        .select(
            "l_returnflag",
            F.greatest(F.least(F.col("q"), F.col("hi")), F.col("lo")).alias(
                "cq"
            ),
            "lo",
            "hi",
        )
    )
    return clamped.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("lo").cast("long").alias("lo_bound"),
        F.min("hi").cast("long").alias("hi_bound"),
        F.sum("cq").cast("long").alias("winsorized_sum"),
        F.expr("CAST((sum(cq) * 1000000) div count(*) AS BIGINT)").alias(
            "winsorized_mean_ppm"
        ),
    )


AGG_WINSORIZED_MEAN_SQL = """
WITH li AS (
  SELECT l_returnflag, l_orderkey, l_linenumber,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS q
  FROM lineitem
), ranked AS (
  SELECT l_returnflag, q,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY q, l_orderkey, l_linenumber) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS cnt
  FROM li
), lo AS (
  SELECT l_returnflag, q AS lo FROM ranked WHERE rn = (cnt + 9) // 10
), hi AS (
  SELECT l_returnflag, q AS hi FROM ranked WHERE rn = (9 * cnt + 9) // 10
), clamped AS (
  SELECT li.l_returnflag, greatest(least(li.q, hi.hi), lo.lo) AS cq,
         lo.lo, hi.hi
  FROM li JOIN lo ON li.l_returnflag = lo.l_returnflag
  JOIN hi ON li.l_returnflag = hi.l_returnflag
)
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       CAST(min(lo) AS BIGINT) AS lo_bound,
       CAST(min(hi) AS BIGINT) AS hi_bound,
       CAST(sum(cq) AS BIGINT) AS winsorized_sum,
       CAST((sum(cq) * 1000000) // count(*) AS BIGINT)
         AS winsorized_mean_ppm
FROM clamped GROUP BY 1
"""


QUERIES: dict[str, QuerySpec] = {
    "embed_octant_recall_eval": QuerySpec(
        embed_octant_recall_eval, EMBED_OCTANT_RECALL_EVAL_SQL
    ),
    "event_did_estimator": QuerySpec(
        event_did_estimator, EVENT_DID_ESTIMATOR_SQL
    ),
    "text_kn_continuation_counts": QuerySpec(
        text_kn_continuation_counts, TEXT_KN_CONTINUATION_COUNTS_SQL
    ),
    "date_schedule_expansion": QuerySpec(
        date_schedule_expansion, DATE_SCHEDULE_EXPANSION_SQL
    ),
    "agg_winsorized_mean": QuerySpec(
        agg_winsorized_mean, AGG_WINSORIZED_MEAN_SQL
    ),
}
