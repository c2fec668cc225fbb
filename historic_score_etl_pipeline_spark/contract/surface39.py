"""Round-6 batch 46 — corpus-hygiene and embedding-quality staples:

* ``dedup_prefix_truncation`` — truncated-copy detection: doc B is a
  truncation of doc A when B's full text is a strict prefix of A's.
  Blocking key = the first 5 tokens (pairs sharing < 5 head tokens are
  below the operator's confidence gate, documented), so candidates come
  from an equi-join — never doc×doc — and the strict startswith verify
  runs on candidates only.  The span/stitch complement: catches cut-off
  re-crawls that substring-span dedup's interior grams miss cheaply.
* ``text_trigram_diversity`` — distinct/total character-trigram ratio
  per document in exact ppm — the compressibility proxy used as a
  quality screen (boilerplate and keyboard-mash both crater it).
* ``text_vocab_growth`` — Heaps-law curve: per 50-doc bucket (doc_id
  order), token occurrences and NEW vocabulary (tokens whose first
  corpus occurrence lands in the bucket), plus the cumulative
  vocabulary — the corpus-growth diagnostic.  First occurrence =
  min(doc_id) per token: one aggregate, no ordered scan.
* ``embed_dim_stats_exact`` — per-dimension n/Σ/Σ²/min/max in integer
  micro-units — the feature-normalization stats pass (and the dead- or
  exploding-dimension screen) with zero float accumulation.
* ``embed_nearest_centroid`` — nearest-centroid classification with
  exact integer centroids: per vector, distance to all k label
  centroids, argmin prediction (label-asc tiebreak), runner-up margin,
  and correctness vs the true label — train/serve skew-free because
  both engines replay identical integer arithmetic.

Scale notes: prefix-truncation candidates are an equi-join on a
blocking key; trigram diversity is a scan-side fold; vocab growth
aggregates tokens before its |buckets|-row cumulative window; the
centroid tables are k×d rows (broadcast); nearest-centroid fan-out is
k× the component table — linear in n·d·k, the classifier's inherent
cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.similarity import micro_units
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- truncated-copy dedup ---------------------------------------------------------


def dedup_prefix_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(full_id, trunc_id) pairs where trunc's text is a strict prefix
    of full's, blocked on the shared first-5-token key."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim("text"))
    key5 = F.concat_ws(" ", F.slice(F.split(norm, r"\s+"), 1, 5))
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        norm.alias("t"),
        key5.alias("k5"),
    )
    a = base.alias("a")  # candidate full document
    b = base.alias("b")  # candidate truncation
    return (
        a.join(b, F.col("a.k5") == F.col("b.k5"))
        .where(
            (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.length("a.t") > F.length("b.t"))
            & F.col("a.t").startswith(F.col("b.t"))
        )
        .select(
            F.col("a.doc_id").alias("full_id"),
            F.col("b.doc_id").alias("trunc_id"),
            F.length("a.t").cast("long").alias("full_chars"),
            F.length("b.t").cast("long").alias("trunc_chars"),
        )
    )


DEDUP_PREFIX_TRUNCATION_SQL = """
WITH base AS (
  SELECT doc_id, lower(trim(text)) AS t,
         array_to_string(
           string_split_regex(lower(trim(text)), '\\s+')[1:5], ' ') AS k5
  FROM documents
)
SELECT CAST(a.doc_id AS BIGINT) AS full_id,
       CAST(b.doc_id AS BIGINT) AS trunc_id,
       CAST(length(a.t) AS BIGINT) AS full_chars,
       CAST(length(b.t) AS BIGINT) AS trunc_chars
FROM base a JOIN base b ON a.k5 = b.k5
WHERE a.doc_id <> b.doc_id
  AND length(a.t) > length(b.t)
  AND starts_with(a.t, b.t)
"""


# --- character-trigram diversity ----------------------------------------------------


def text_trigram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct/total char-trigram ratio per doc, exact ppm."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.lower(F.trim("text"))
    n = F.length(t)
    grams = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: t.substr(i, F.lit(3)),
    )
    base = docs.where(n >= 3).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(grams).cast("long").alias("n_grams"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct"),
    )
    return base.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        F.expr("(n_distinct * 1000000) div n_grams")
        .cast("long")
        .alias("diversity_ppm"),
    )


TEXT_TRIGRAM_DIVERSITY_SQL = """
WITH g AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, length(lower(trim(text))) - 2),
           i -> substr(lower(trim(text)), i, 3)) AS grams
  FROM documents WHERE length(lower(trim(text))) >= 3
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
       CAST((len(list_distinct(grams)) * 1000000) // len(grams) AS BIGINT)
         AS diversity_ppm
FROM g
"""


# --- Heaps-law vocabulary growth ----------------------------------------------------

_VG_BUCKET = 50


def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth per 50-doc bucket: occurrences, NEW tokens
    (first corpus occurrence in the bucket, = min(doc_id) per token),
    and the cumulative vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    occ = tok.groupBy(
        F.expr(f"doc_id div {_VG_BUCKET}").cast("long").alias("bucket")
    ).agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )
    news = (
        tok.groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(
            F.expr(f"first_doc div {_VG_BUCKET}").cast("long").alias("bucket")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("new_vocab"))
    )
    j = occ.join(news, "bucket", "left").select(
        "bucket",
        "n_docs",
        "n_tokens",
        F.coalesce("new_vocab", F.lit(0)).cast("long").alias("new_vocab"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return j.select(
        "bucket",
        "n_docs",
        "n_tokens",
        "new_vocab",
        F.sum("new_vocab").over(w).cast("long").alias("cum_vocab"),
    )


TEXT_VOCAB_GROWTH_SQL = f"""
WITH tok AS (
  SELECT doc_id, t AS tok
  FROM (SELECT doc_id,
               unnest(list_filter(
                 string_split_regex(lower(trim(text)), '\\s+'),
                 x -> x <> '')) AS t
        FROM documents)
), occ AS (
  SELECT doc_id // {_VG_BUCKET} AS bucket,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_tokens
  FROM tok GROUP BY 1
), news AS (
  SELECT first_doc // {_VG_BUCKET} AS bucket,
         CAST(count(*) AS BIGINT) AS new_vocab
  FROM (SELECT tok, min(doc_id) AS first_doc FROM tok GROUP BY tok)
  GROUP BY 1
)
SELECT CAST(o.bucket AS BIGINT) AS bucket, o.n_docs, o.n_tokens,
       CAST(coalesce(n.new_vocab, 0) AS BIGINT) AS new_vocab,
       CAST(sum(coalesce(n.new_vocab, 0)) OVER (
              ORDER BY o.bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_vocab
FROM occ o LEFT JOIN news n ON o.bucket = n.bucket
"""


# --- per-dimension stats --------------------------------------------------------------


def embed_dim_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n/Σ/Σ²/min/max per embedding dimension, integer micro-units."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        F.posexplode(micro_units("embedding")).alias("dim", "v")
    )
    return comp.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sum_fp"),
        # Σv² is ~1e12 per row (micro fixpoint squared), so the int64
        # accumulator dies past ~9M vectors: sum in DECIMAL(38,0) /
        # HUGEINT, emit BIGINT via try_cast on BOTH engines (r8 audit)
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
        .try_cast("long")
        .alias("sumsq_fp"),
        F.min("v").cast("long").alias("min_fp"),
        F.max("v").cast("long").alias("max_fp"),
    )


EMBED_DIM_STATS_EXACT_SQL = """
WITH comp AS (
  SELECT i - 1 AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(v) AS BIGINT) AS sum_fp,
       TRY_CAST(sum(CAST(v AS HUGEINT) * v) AS BIGINT) AS sumsq_fp,
       CAST(min(v) AS BIGINT) AS min_fp,
       CAST(max(v) AS BIGINT) AS max_fp
FROM comp GROUP BY dim
"""


# --- nearest-centroid classifier --------------------------------------------------------


def embed_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid prediction per vector: exact integer label
    centroids (scaled floor division, the embed_centroid_dist
    convention), squared distance to ALL k centroids, argmin with
    label-asc tiebreak, and the runner-up margin."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        "label",
        F.posexplode(micro_units("embedding")).alias("pos", "v"),
    )
    cent = comp.groupBy(F.col("label").alias("clabel"), "pos").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("cn")
    )
    floor_div = (
        (F.col("s") - ((F.col("s") % F.col("cn") + F.col("cn")) % F.col("cn")))
        / F.col("cn")
    ).cast("long")
    cent = cent.select("clabel", "pos", floor_div.alias("c"))
    diff = F.col("v") - F.col("c")
    d2 = (
        comp.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(diff * diff).cast("long").alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "clabel")
    ranked = d2.withColumn("rn", F.row_number().over(w))
    return (
        ranked.where(F.col("rn") <= 2)
        .groupBy("vec_id", "label")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("clabel")))
            .cast("long")
            .alias("pred_label"),
            F.max(F.when(F.col("rn") == 1, F.col("d2")))
            .cast("long")
            .alias("best_d2"),
            (
                F.max(F.when(F.col("rn") == 2, F.col("d2")))
                - F.max(F.when(F.col("rn") == 1, F.col("d2")))
            )
            .cast("long")
            .alias("margin_d2"),
        )
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("label").cast("long").alias("true_label"),
            "pred_label",
            "best_d2",
            "margin_d2",
            (F.col("pred_label") == F.col("label")).alias("correct"),
        )
    )


EMBED_NEAREST_CENTROID_SQL = """
WITH comp AS (
  SELECT vec_id, label, i - 1 AS pos,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
), cent AS (
  SELECT label AS clabel, pos,
         CAST((sum(v) - ((sum(v) % count(*) + count(*)) % count(*)))
              / count(*) AS BIGINT) AS c
  FROM comp GROUP BY label, pos
), d2 AS (
  SELECT comp.vec_id, comp.label, cent.clabel,
         CAST(sum((comp.v - cent.c) * (comp.v - cent.c)) AS BIGINT) AS d2
  FROM comp JOIN cent ON comp.pos = cent.pos
  GROUP BY comp.vec_id, comp.label, cent.clabel
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2, clabel) AS rn
  FROM d2
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(label AS BIGINT) AS true_label,
       CAST(max(CASE WHEN rn = 1 THEN clabel END) AS BIGINT) AS pred_label,
       CAST(max(CASE WHEN rn = 1 THEN d2 END) AS BIGINT) AS best_d2,
       CAST(max(CASE WHEN rn = 2 THEN d2 END)
            - max(CASE WHEN rn = 1 THEN d2 END) AS BIGINT) AS margin_d2,
       max(CASE WHEN rn = 1 THEN clabel END) = label AS correct
FROM ranked WHERE rn <= 2
GROUP BY vec_id, label
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_prefix_truncation": QuerySpec(
        dedup_prefix_truncation, DEDUP_PREFIX_TRUNCATION_SQL
    ),
    "text_trigram_diversity": QuerySpec(
        text_trigram_diversity, TEXT_TRIGRAM_DIVERSITY_SQL
    ),
    "text_vocab_growth": QuerySpec(text_vocab_growth, TEXT_VOCAB_GROWTH_SQL),
    "embed_dim_stats_exact": QuerySpec(
        embed_dim_stats_exact, EMBED_DIM_STATS_EXACT_SQL
    ),
    "embed_nearest_centroid": QuerySpec(
        embed_nearest_centroid, EMBED_NEAREST_CENTROID_SQL
    ),
}
