"""Round-6 batch 49 — growth accounting, distribution drift, and
data-balance staples:

* ``event_growth_accounting`` — the canonical growth ledger: each
  active (user, day) classified new / retained / resurrected by the
  gap to the user's previous active day (≤ 7 d retained, > 7 d
  resurrected), rolled up per day with dau = the identity sum.
* ``text_js_divergence`` — Jensen–Shannon divergence between every
  lang pair's token distributions.  Each KL term's log ratio
  ln(2·c_p·T_q / (c_p·T_q + c_q·T_p)) is computed double-side in the
  SAME operation order in both engines (IEEE mul/div are exactly
  rounded — only ln needs the micro-nat fixpoint), then summed as
  exact integers weighted by counts — the distribution-drift monitor
  between corpus slices.
* ``text_length_outliers_iqr`` — Tukey-fence outlier docs by token
  count per lang with ORDER-STATISTIC quartiles (ceil-index) and the
  1.5·IQR fences kept integral by doubling: 2·len < 2·q1 − 3·IQR.
* ``sample_balance_downsample`` — class rebalancing: every lang kept
  at the global minority-class size, selection by md5 rank (id
  tiebreak) — deterministic, shuffle-stable, replayable.
* ``scan_csv_permissive_dlq`` — PERMISSIVE CSV ingest with a
  corrupt-record column: rows with a poisoned numeric field land in
  the dead-letter column instead of killing the scan; per-lang
  good/bad/sum accounting proves the triage.

Scale notes: growth accounting windows over the distinct (user, day)
table; JS divergence joins per-lang count tables pair-wise on token
(vocab-sized, broadcast totals); the IQR fences and balance quota are
|langs|-row / 1-row broadcasts (ARCHITECTURE.md §scalar folding
rule); the DLQ scan is one pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- growth accounting ----------------------------------------------------------


def event_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """new / retained (gap ≤ 7 d) / resurrected (gap > 7 d) per day."""
    du = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    gap = F.datediff("day", F.lag("day").over(w))
    cls = (
        F.when(gap.isNull(), "new")
        .when(gap <= 7, "retained")
        .otherwise("resurrected")
    )
    tagged = du.select("day", cls.alias("cls"))
    agg = tagged.groupBy("day").agg(
        F.sum(F.when(F.col("cls") == "new", 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("cls") == "retained", 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(F.col("cls") == "resurrected", 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
        F.count(F.lit(1)).cast("long").alias("dau"),
    )
    return agg.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_new",
        "n_retained",
        "n_resurrected",
        "dau",
    )


EVENT_GROWTH_ACCOUNTING_SQL = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), tagged AS (
  SELECT day,
         CASE WHEN prev IS NULL THEN 'new'
              WHEN day - prev <= 7 THEN 'retained'
              ELSE 'resurrected' END AS cls
  FROM (SELECT day, user_id,
               lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
        FROM du)
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_retained,
       CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_resurrected,
       CAST(count(*) AS BIGINT) AS dau
FROM tagged GROUP BY day
"""


# --- Jensen–Shannon divergence between lang token distributions -------------------


def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JS divergence per unordered lang pair: integer-weighted sums of
    micro-nat-fixpointed log ratios; ratio built double-side in one
    fixed operation order (IEEE mul/div exactly rounded)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    ct = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = ct.groupBy("lang").agg(F.sum("c").alias("t"))
    a = ct.select(
        F.col("lang").alias("la"), F.col("tok").alias("tok"),
        F.col("c").alias("cp"),
    )
    b = ct.select(
        F.col("lang").alias("lb"), F.col("tok").alias("tok"),
        F.col("c").alias("cq"),
    )
    pairs = (
        tot.select(F.col("lang").alias("la"), F.col("t").alias("tp"))
        .crossJoin(
            tot.select(F.col("lang").alias("lb"), F.col("t").alias("tq"))
        )
        .where(F.col("la") < F.col("lb"))
    )
    # union vocab per pair: the |vocab| × |pairs| grid (pairs is a
    # |langs|²-bounded broadcast), then the two per-lang count tables
    # left-join in — mirrors the oracle's JOIN v ON TRUE shape
    vocab = ct.select("tok").distinct()
    grid = vocab.crossJoin(F.broadcast(pairs))
    fo = (
        grid.join(a, ["la", "tok"], "left")
        .join(b, ["lb", "tok"], "left")
        .where(F.col("cp").isNotNull() | F.col("cq").isNotNull())
    )
    cp = F.coalesce(F.col("cp"), F.lit(0))
    cq = F.coalesce(F.col("cq"), F.lit(0))
    num_p = F.lit(2.0) * cp.cast("double") * F.col("tq").cast("double")
    num_q = F.lit(2.0) * cq.cast("double") * F.col("tp").cast("double")
    den = (
        cp.cast("double") * F.col("tq").cast("double")
        + cq.cast("double") * F.col("tp").cast("double")
    )
    fix_p = F.floor(F.log(num_p / den) * 1e6 + F.lit(0.5)).cast("long")
    fix_q = F.floor(F.log(num_q / den) * 1e6 + F.lit(0.5)).cast("long")
    terms = fo.select(
        "la",
        "lb",
        F.col("tp"),
        F.col("tq"),
        F.when(cp > 0, cp * fix_p).otherwise(F.lit(0)).alias("sp"),
        F.when(cq > 0, cq * fix_q).otherwise(F.lit(0)).alias("sq"),
    )
    agg = terms.groupBy("la", "lb").agg(
        F.max("tp").cast("long").alias("tp"),
        F.max("tq").cast("long").alias("tq"),
        F.sum("sp").cast("long").alias("kl_p_fp"),
        F.sum("sq").cast("long").alias("kl_q_fp"),
    )
    js = F.round(
        (
            F.col("kl_p_fp").cast("double") / F.col("tp").cast("double")
            + F.col("kl_q_fp").cast("double") / F.col("tq").cast("double")
        )
        / 2e6,
        6,
    )
    return agg.select("la", "lb", "tp", "tq", "kl_p_fp", "kl_q_fp", js.alias("js_r6"))


TEXT_JS_DIVERGENCE_SQL = """
WITH tok AS (
  SELECT lang, t AS tok
  FROM (SELECT lang,
               unnest(list_filter(
                 string_split_regex(lower(trim(text)), '\\s+'),
                 x -> x <> '')) AS t
        FROM documents)
), ct AS (
  SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY lang, tok
), tot AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM ct GROUP BY lang
), pairs AS (
  SELECT a.lang AS la, b.lang AS lb, a.t AS tp, b.t AS tq
  FROM tot a JOIN tot b ON a.lang < b.lang
), fo AS (
  SELECT p.la, p.lb, p.tp, p.tq,
         coalesce(ca.c, 0) AS cp, coalesce(cb.c, 0) AS cq
  FROM pairs p
  JOIN (SELECT DISTINCT tok FROM ct) v ON TRUE
  LEFT JOIN ct ca ON ca.lang = p.la AND ca.tok = v.tok
  LEFT JOIN ct cb ON cb.lang = p.lb AND cb.tok = v.tok
  WHERE coalesce(ca.c, 0) > 0 OR coalesce(cb.c, 0) > 0
), terms AS (
  SELECT la, lb, tp, tq,
         CASE WHEN cp > 0 THEN cp * CAST(floor(
           ln((2.0 * CAST(cp AS DOUBLE) * CAST(tq AS DOUBLE))
              / (CAST(cp AS DOUBLE) * CAST(tq AS DOUBLE)
                 + CAST(cq AS DOUBLE) * CAST(tp AS DOUBLE))) * 1e6 + 0.5)
           AS BIGINT) ELSE 0 END AS sp,
         CASE WHEN cq > 0 THEN cq * CAST(floor(
           ln((2.0 * CAST(cq AS DOUBLE) * CAST(tp AS DOUBLE))
              / (CAST(cp AS DOUBLE) * CAST(tq AS DOUBLE)
                 + CAST(cq AS DOUBLE) * CAST(tp AS DOUBLE))) * 1e6 + 0.5)
           AS BIGINT) ELSE 0 END AS sq
  FROM fo
), agg AS (
  SELECT la, lb,
         CAST(max(tp) AS BIGINT) AS tp, CAST(max(tq) AS BIGINT) AS tq,
         CAST(sum(sp) AS BIGINT) AS kl_p_fp,
         CAST(sum(sq) AS BIGINT) AS kl_q_fp
  FROM terms GROUP BY la, lb
)
SELECT la, lb, tp, tq, kl_p_fp, kl_q_fp,
       round((CAST(kl_p_fp AS DOUBLE) / CAST(tp AS DOUBLE)
              + CAST(kl_q_fp AS DOUBLE) / CAST(tq AS DOUBLE)) / 2e6, 6)
         AS js_r6
FROM agg
"""


# --- Tukey-fence length outliers ----------------------------------------------------


def text_length_outliers_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang Tukey fences on token counts: ceil-index quartiles,
    integral 1.5·IQR test via doubling."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        # coalesce: NULL text must count 0 tokens on BOTH engines — a
        # NULL n_tokens would rank NULLS FIRST in Spark, NULLS LAST in
        # DuckDB, shifting every quartile index in its lang
        F.coalesce(
            F.size(F.filter(toks, lambda x: x != "")), F.lit(0)
        ).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    wn = Window.partitionBy("lang")
    ranked = base.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    qs = ranked.groupBy("lang").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("n_tokens"))
        ).alias("q1"),
        F.max(
            F.when(F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("n_tokens"))
        ).alias("q3"),
    )
    j = base.join(F.broadcast(qs), "lang")
    iqr = F.col("q3") - F.col("q1")
    outlier = (2 * F.col("n_tokens") < 2 * F.col("q1") - 3 * iqr) | (
        2 * F.col("n_tokens") > 2 * F.col("q3") + 3 * iqr
    )
    return j.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.col("q1").cast("long").alias("q1"),
        F.col("q3").cast("long").alias("q3"),
        outlier.alias("is_outlier"),
    )


TEXT_LENGTH_OUTLIERS_IQR_SQL = """
WITH base AS (
  SELECT doc_id, lang,
         CAST(coalesce(len(list_filter(
           string_split_regex(lower(trim(text)), '\\s+'),
           x -> x <> '')), 0) AS BIGINT) AS n_tokens
  FROM documents
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY n_tokens, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM base
), qs AS (
  SELECT lang,
         max(CASE WHEN rn = (n + 3) // 4 THEN n_tokens END) AS q1,
         max(CASE WHEN rn = (3 * n + 3) // 4 THEN n_tokens END) AS q3
  FROM ranked GROUP BY lang
)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id, b.lang, b.n_tokens,
       CAST(q.q1 AS BIGINT) AS q1, CAST(q.q3 AS BIGINT) AS q3,
       (2 * b.n_tokens < 2 * q.q1 - 3 * (q.q3 - q.q1)
        OR 2 * b.n_tokens > 2 * q.q3 + 3 * (q.q3 - q.q1)) AS is_outlier
FROM base b JOIN qs q ON b.lang = q.lang
"""


# --- minority-class balanced downsample ----------------------------------------------


def sample_balance_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep every lang at the GLOBAL minority-class size, selecting the
    k docs with the smallest md5(doc_id) per lang (id tiebreak)."""
    docs = load_table(spark, sf_dir, "documents")
    sizes = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    kmin = sizes.agg(F.min("n_lang").alias("k"))
    pri = F.md5(F.concat(F.lit("bal:"), F.col("doc_id")))
    w = Window.partitionBy("lang").orderBy(pri, "doc_id")
    ranked = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.row_number().over(w).alias("rk"),
    )
    return (
        ranked.crossJoin(F.broadcast(kmin))
        .where(F.col("rk") <= F.col("k"))
        .select("doc_id", "lang", F.col("rk").cast("long").alias("rk"))
    )


SAMPLE_BALANCE_DOWNSAMPLE_SQL = """
WITH k AS (
  SELECT min(n) AS k FROM (
    SELECT lang, count(*) AS n FROM documents GROUP BY lang)
), ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5('bal:' || CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rk
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       CAST(rk AS BIGINT) AS rk
FROM ranked, k WHERE rk <= k.k
"""


# --- PERMISSIVE CSV with dead-letter column ------------------------------------------


def _staged_dlq_csv(spark: SparkSession, sf_dir: str) -> str:
    """Write a CSV where every doc_id % 7 == 0 row has a poisoned
    (non-numeric) nc field — write-once, app-scoped."""
    import os

    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "dlqcsv", sf_dir)
    done = os.path.join(out, "_STAGED")
    if os.path.exists(done):
        return out
    # df.write-based staging (ADVICE r6 idiom: no whole-table collect);
    # the poison value is computed in-plan, the CSV lands from the
    # executors (per-part-file headers are stripped by the header read).
    (
        load_table(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            F.when(F.col("doc_id") % 7 == 0, F.lit("oops"))
            .otherwise(F.col("n_chars").cast("string"))
            .alias("nc"),
        )
        .write.option("header", "true")
        .mode("overwrite")
        .csv(out)
    )
    with open(done, "w") as f:
        f.write("ok")
    return out


def scan_csv_permissive_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV read with a corrupt-record column: poisoned rows
    yield NULL fields + the raw line in the DLQ column; per-lang
    good/bad/sum accounting."""
    path = _staged_dlq_csv(spark, sf_dir)
    df = (
        spark.read.schema(
            "doc_id long, lang string, nc long, _corrupt string"
        )
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_dead_letter"),
        F.sum("nc").cast("long").alias("sum_nc"),
    )


SCAN_CSV_PERMISSIVE_DLQ_SQL = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_good,
       CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dead_letter,
       CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN n_chars END) AS BIGINT)
         AS sum_nc
FROM documents GROUP BY lang
"""


QUERIES: dict[str, QuerySpec] = {
    "event_growth_accounting": QuerySpec(
        event_growth_accounting, EVENT_GROWTH_ACCOUNTING_SQL
    ),
    "text_js_divergence": QuerySpec(text_js_divergence, TEXT_JS_DIVERGENCE_SQL),
    "text_length_outliers_iqr": QuerySpec(
        text_length_outliers_iqr, TEXT_LENGTH_OUTLIERS_IQR_SQL
    ),
    "sample_balance_downsample": QuerySpec(
        sample_balance_downsample, SAMPLE_BALANCE_DOWNSAMPLE_SQL
    ),
    "scan_csv_permissive_dlq": QuerySpec(
        scan_csv_permissive_dlq, SCAN_CSV_PERMISSIVE_DLQ_SQL
    ),
}
