"""Round-5 batch 36 — co-located bucketed joins, a PORTABLE HLL sketch,
and three curation utilities:

* ``join_bucketed_colocate`` — both join sides persisted with
  ``bucketBy`` on the join key, then joined with ZERO exchanges on
  either input (plan-asserted in tests): Spark's storage-level answer
  to "this join runs every hour — stop shuffling the fact table".
  Bucket counts must match; the bucketed scan feeds SortMergeJoin
  directly.  At 100 TB this is THE difference between an hourly join
  re-shuffling 100 TB and reading co-located buckets.
* ``agg_hll_portable`` — HyperLogLog distinct-count sketch whose every
  bit is engine-replayable: md5-derived register index (8 bits) and
  rank (leading-zero count of a 60-bit suffix via base-2 string
  length — no float log anywhere), exact integer harmonic sum
  Σ 2^(35−min(ρ,35)), one double division at the very end.  Unlike
  the engine-native ``approx_count_distinct`` (rows-only key
  ``agg_hll_mergeable``), this sketch hash-matches across engines —
  the mergeable-sketch discipline with a REAL oracle.
* ``agg_mode_deterministic`` — per-user modal event type with a total
  tiebreak (count DESC, type ASC): mode() as engines implement it is
  tie-arbitrary; this spelling is deterministic by construction.
* ``sample_pair_negatives`` — reproducible "random" negative pairs for
  contrastive training: docs ordered by md5(doc_id) within language,
  each anchored to the NEXT doc on the hash ring (wrap-around for the
  last).  No RNG, no driver state; re-runs and engines agree.
* ``text_containment_ngram`` — DIRECTIONAL containment
  |A∩B| / |A| over distinct 3-gram shingles for blocked pairs: the
  asymmetric cousin of Jaccard that catches "A is inside B" (quote
  inclusion, boilerplate wrap) which symmetric Jaccard dilutes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.sketches import (
    _HLL_EST_NUM,
    _HLL_M,
    _HLL_RHO_CAP,
    hll_estimate,
    hll_ranks,
    hll_registers,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- zero-exchange bucketed join ----------------------------------------------

_BKT = 16


def join_bucketed_colocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment through a bucket-co-located join:
    orders and customer both saved bucketed by custkey, so the join
    plan has no Exchange under either side (asserted in
    tests/test_surface29.py).  Table names are app-scoped — hostile
    and normal parity sessions must not clobber each other."""
    from historic_score_etl_pipeline_spark.operators.scale import (
        read_bucketed,
        write_bucketed,
    )

    from historic_score_etl_pipeline_spark.contract._staging import (
        reap_stale_tables,
        table_live,
    )

    app = spark.sparkContext.applicationId.replace("-", "_")
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    t_ord, t_cust = f"hsep_bko_{tag}_{app}", f"hsep_bkc_{tag}_{app}"
    reap_stale_tables(spark, ("hsep_bko_", "hsep_bkc_"), {t_ord, t_cust})
    # table_live (not bare tableExists): rebuilds when a concurrent
    # session's reaper removed the data under a surviving catalog row,
    # and heartbeats the dirs so THIS session's use keeps them warm
    if not table_live(spark, t_ord):
        orders = load_table(spark, sf_dir, "orders").select(
            "o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("tp")
        )
        write_bucketed(orders, t_ord, "o_custkey", _BKT)
    if not table_live(spark, t_cust):
        cust = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        )
        write_bucketed(cust, t_cust, "o_custkey", _BKT)
    joined = read_bucketed(spark, t_ord).join(
        read_bucketed(spark, t_cust), "o_custkey"
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("tp").cast("double").alias("total_price"),
    )


JOIN_BUCKETED_COLOCATE_SQL = """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


# --- portable HyperLogLog -----------------------------------------------------


def agg_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via the portable HLL
    (operators/sketches.py): md5-derived registers and an EXACT integer
    harmonic sum — cross-engine bit-equal, unlike engine-native HLL.

    Scale shape: (type, register) partial max — map-side combinable,
    |types|×256 rows of state — then one 256-row fold per type.  The
    register table IS the mergeable sketch: union = max per register."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    regs = hll_registers(hll_ranks(ev, ["event_type"], "user_id"), ["event_type"])
    return hll_estimate(regs, ["event_type"]).select(
        "event_type", "regs_hit", "harmonic_fp", F.col("est").alias("est_users")
    )


AGG_HLL_PORTABLE_SQL = f"""
WITH hashed AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))
              AS BIGINT) AS reg,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 15))
              AS BIGINT) AS suffix
  FROM events
), regs AS (
  SELECT event_type, reg,
         max(CASE WHEN suffix = 0 THEN 61
                  ELSE 61 - length(bin(suffix)) END) AS max_rho
  FROM hashed GROUP BY event_type, reg
), per_type AS (
  SELECT event_type,
         sum((1::BIGINT << ({_HLL_RHO_CAP} - least(max_rho, {_HLL_RHO_CAP}))))
           AS s_hit,
         count(*) AS m_hit
  FROM regs GROUP BY event_type
), folded AS (
  SELECT event_type, m_hit,
         s_hit + ({_HLL_M} - m_hit) * {1 << _HLL_RHO_CAP} AS s_total,
         {_HLL_M} - m_hit AS zeros
  FROM per_type
), est AS (
  SELECT event_type, m_hit, s_total, zeros,
         CAST(floor(CAST({_HLL_EST_NUM!r} AS DOUBLE)
                    / CAST(s_total AS DOUBLE) + 0.5) AS BIGINT) AS raw
  FROM folded
)
SELECT event_type,
       CAST(m_hit AS BIGINT) AS regs_hit,
       CAST(s_total AS BIGINT) AS harmonic_fp,
       CASE WHEN zeros > 0 AND raw <= {int(2.5 * _HLL_M)}
            THEN CAST(floor(CAST({float(_HLL_M)!r} AS DOUBLE)
                      * ln(CAST({float(_HLL_M)!r} AS DOUBLE)
                           / CAST(zeros AS DOUBLE)) + 0.5) AS BIGINT)
            ELSE raw END AS est_users
FROM est
"""


# --- deterministic mode -------------------------------------------------------


def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type with a TOTAL tiebreak (count DESC,
    type ASC) — engines' native mode() picks ties arbitrarily, this
    never does.  One count aggregate + one WindowGroupLimit rank-1."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_type"),
            F.col("n").alias("mode_n"),
        )
    )


AGG_MODE_DETERMINISTIC_SQL = """
WITH counts AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
), ranked AS (
  SELECT user_id, event_type, n,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type ASC) AS rn
  FROM counts
)
SELECT user_id, event_type AS mode_type, n AS mode_n
FROM ranked WHERE rn = 1
"""


# --- hash-ring negative sampling ----------------------------------------------


def sample_pair_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible contrastive negatives: within each language, order
    docs on the md5(doc_id) ring and pair each with its successor
    (first doc wraps to close the ring).  The hash ordering is
    effectively random w.r.t. content but fully deterministic — the
    property a resumable training pipeline needs.  One window pass
    per language partition, no RNG, no driver."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("hk")
    )
    w = Window.partitionBy("lang").orderBy("hk", "doc_id")
    return docs.select(
        F.col("doc_id").alias("anchor_id"),
        "lang",
        F.coalesce(
            F.lead("doc_id", 1).over(w),
            F.first("doc_id").over(
                w.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        ).alias("negative_id"),
    )


SAMPLE_PAIR_NEGATIVES_SQL = """
WITH ring AS (
  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hk
  FROM documents
)
SELECT doc_id AS anchor_id, lang,
       coalesce(
         lead(doc_id, 1) OVER (PARTITION BY lang ORDER BY hk, doc_id),
         first_value(doc_id) OVER (
           PARTITION BY lang ORDER BY hk, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       ) AS negative_id
FROM ring
"""


# --- directional n-gram containment -------------------------------------------

_CONT_THIN = 10
_CONT_MIN_R6 = 10_000  # containment ≥ 0.01 after round-6 scaling


def text_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|shingles(A) ∩ shingles(B)| / |shingles(A)| for thinned-A ×
    same-lang-B pairs — quote/boilerplate inclusion detection.  The
    distinct 3-gram shingle arrays are built once per side; the ratio
    of exact integer set sizes is rounded to 6 places.  The shingle
    definition is operators/dedup.py::shingles — the ONE spelling of
    "distinct word 3-grams" in the repo, so a future shingles() change
    (e.g. staging the token array) reaches this query too."""
    from historic_score_etl_pipeline_spark.operators.dedup import shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", "lang", shingles("text", 3).alias("g"))
    a = sh.where(F.col("doc_id") % _CONT_THIN == 0).select(
        F.col("doc_id").alias("id_a"), "lang", F.col("g").alias("ga")
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"), "lang", F.col("g").alias("gb")
    )
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    cont = F.round(
        inter.cast("double") / F.size("ga").cast("double") * 1e6
    ).cast("long")
    return (
        F.broadcast(a)
        .join(b, "lang")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", cont.alias("containment_r6fp"))
        .where(F.col("containment_r6fp") >= _CONT_MIN_R6)
    )


TEXT_CONTAINMENT_NGRAM_SQL = f"""
WITH sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
         )) AS g
  FROM (SELECT doc_id, lang,
               string_split_regex(
                 lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                 '\\s+') AS toks
        FROM documents)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                  / CAST(len(a.g) AS DOUBLE) * 1e6) AS BIGINT)
         AS containment_r6fp
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id <> b.doc_id
WHERE a.doc_id % {_CONT_THIN} = 0
  AND CAST(round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                 / CAST(len(a.g) AS DOUBLE) * 1e6) AS BIGINT)
      >= {_CONT_MIN_R6}
"""


QUERIES: dict[str, QuerySpec] = {
    "join_bucketed_colocate": QuerySpec(
        join_bucketed_colocate, JOIN_BUCKETED_COLOCATE_SQL
    ),
    "agg_hll_portable": QuerySpec(agg_hll_portable, AGG_HLL_PORTABLE_SQL),
    "agg_mode_deterministic": QuerySpec(
        agg_mode_deterministic, AGG_MODE_DETERMINISTIC_SQL
    ),
    "sample_pair_negatives": QuerySpec(
        sample_pair_negatives, SAMPLE_PAIR_NEGATIVES_SQL
    ),
    "text_containment_ngram": QuerySpec(
        text_containment_ngram, TEXT_CONTAINMENT_NGRAM_SQL
    ),
}
