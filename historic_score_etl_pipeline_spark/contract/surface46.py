"""Round-6 batch 53 — corpus statistics and pipeline-gate staples:

* ``text_collocation_llr`` — Dunning log-likelihood-ratio collocation
  scoring of adjacent-token bigrams: the 2×2 contingency
  (k11 = c(ab), k12 = c(a·)−k11, k21 = c(·b)−k11, k22 = rest) with
  each of the four ln terms fixpointed to micro-nats on INTEGER-ratio
  arguments — the collocation extractor behind phrase mining, kept
  exactly replayable.  Only bigrams with k11 ≥ 5 emit (the standard
  sparse-cell guard).
* ``text_quality_composite_gate`` — the filter stage of a data
  pipeline as ONE pass: length fence, char-trigram diversity floor,
  type-token-ratio floor, max single-token dominance — each failure a
  bit in a reasons mask, pass = mask 0.  Integer thresholds only.
* ``dedup_embed_exact`` — exact-duplicate embeddings by md5 of the
  fixpointed CSV encoding (training-set vector dedup): groups with
  sizes and min-id representative.
* ``sample_balance_upsample`` — the upsampling complement of the
  downsample: every lang raised to the GLOBAL majority size; each doc
  gets floor(target/n) copies plus one more for the md5-ranked
  remainder — emitted as an n_copies column (no row explosion), with
  Σ n_copies = target per class by construction.
* ``scan_text_wholefile`` — ``wholetext`` ingestion: each staged file
  is ONE row (the document-per-file corpus layout), parsed back into
  per-file line/char accounting.

Scale notes: LLR joins two |vocab|-row unigram tables onto the bigram
counts (equi, combinable) with a 1-row N scalar; the gate is
scan-side; embed dedup shuffles on the vector fingerprint; upsample
windows per lang with a broadcast target scalar; wholetext reads k
files as k rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.similarity import micro_units
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- Dunning LLR collocations -----------------------------------------------------

_LLR_MIN_K11 = 5


def text_collocation_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 contingency LLR per adjacent bigram, micro-nat fixpoints on
    integer-ratio ln args, k11 ≥ 5."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    # guard: sequence(1, 0) DESCENDS in Spark, so a one-token (or empty)
    # doc would index element_at(toks, 2) out of bounds — docs with < 2
    # tokens have no bigrams, full stop
    idx = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
    )
    pairs = docs.select(
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(toks, i).alias("a"),
                    F.element_at(toks, i + 1).alias("b"),
                ),
            )
        ).alias("_p", "pr")
    ).select(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
    big = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("k11"))
    left = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("ca"))
    right = pairs.groupBy("b").agg(F.count(F.lit(1)).alias("cb"))
    tot = pairs.agg(F.count(F.lit(1)).alias("nn"))
    j = (
        big.where(F.col("k11") >= _LLR_MIN_K11)
        .join(left, "a")
        .join(right, "b")
        .crossJoin(F.broadcast(tot))
    )
    k11 = F.col("k11")
    k12 = F.col("ca") - k11
    k21 = F.col("cb") - k11
    k22 = F.col("nn") - F.col("ca") - F.col("cb") + k11

    def term(k, rs, cs):
        arg = (
            k.cast("double")
            * F.col("nn").cast("double")
            / (rs.cast("double") * cs.cast("double"))
        )
        fx = F.floor(F.log(arg) * 1e6 + F.lit(0.5)).cast("long")
        return F.when(k > 0, k * fx).otherwise(F.lit(0))

    llr = 2 * (
        term(k11, F.col("ca"), F.col("cb"))
        + term(k12, F.col("ca"), F.col("nn") - F.col("cb"))
        + term(k21, F.col("nn") - F.col("ca"), F.col("cb"))
        + term(k22, F.col("nn") - F.col("ca"), F.col("nn") - F.col("cb"))
    )
    return j.select(
        "a",
        "b",
        k11.cast("long").alias("k11"),
        F.col("ca").cast("long").alias("ca"),
        F.col("cb").cast("long").alias("cb"),
        llr.cast("long").alias("llr_fp"),
    )


TEXT_COLLOCATION_LLR_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
), pairs AS (
  SELECT t[i] AS a, t[i+1] AS b
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
), big AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS k11 FROM pairs GROUP BY a, b
), lft AS (
  SELECT a, CAST(count(*) AS BIGINT) AS ca FROM pairs GROUP BY a
), rgt AS (
  SELECT b, CAST(count(*) AS BIGINT) AS cb FROM pairs GROUP BY b
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS nn FROM pairs
), j AS (
  SELECT big.a, big.b, big.k11, lft.ca, rgt.cb, tot.nn,
         big.k11 AS x11, lft.ca - big.k11 AS x12,
         rgt.cb - big.k11 AS x21,
         tot.nn - lft.ca - rgt.cb + big.k11 AS x22
  FROM big JOIN lft ON big.a = lft.a
  JOIN rgt ON big.b = rgt.b CROSS JOIN tot
  WHERE big.k11 >= {_LLR_MIN_K11}
)
SELECT a, b, k11, ca, cb,
  CAST(2 * (
    CASE WHEN x11 > 0 THEN x11 * CAST(floor(ln(CAST(x11 AS DOUBLE)
      * CAST(nn AS DOUBLE) / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)))
      * 1e6 + 0.5) AS BIGINT) ELSE 0 END
    + CASE WHEN x12 > 0 THEN x12 * CAST(floor(ln(CAST(x12 AS DOUBLE)
      * CAST(nn AS DOUBLE) / (CAST(ca AS DOUBLE)
      * CAST(nn - cb AS DOUBLE))) * 1e6 + 0.5) AS BIGINT) ELSE 0 END
    + CASE WHEN x21 > 0 THEN x21 * CAST(floor(ln(CAST(x21 AS DOUBLE)
      * CAST(nn AS DOUBLE) / (CAST(nn - ca AS DOUBLE)
      * CAST(cb AS DOUBLE))) * 1e6 + 0.5) AS BIGINT) ELSE 0 END
    + CASE WHEN x22 > 0 THEN x22 * CAST(floor(ln(CAST(x22 AS DOUBLE)
      * CAST(nn AS DOUBLE) / (CAST(nn - ca AS DOUBLE)
      * CAST(nn - cb AS DOUBLE))) * 1e6 + 0.5) AS BIGINT) ELSE 0 END
  ) AS BIGINT) AS llr_fp
FROM j
"""


# --- composite quality gate -------------------------------------------------------

_GATE_MIN_TOKENS = 10
_GATE_MAX_TOKENS = 200
_GATE_MIN_TRIGRAM_PPM = 300_000   # distinct/total char trigrams
_GATE_MIN_TTR_PPM = 200_000       # distinct/total tokens
_GATE_MAX_DOM_PPM = 200_000       # top token share


def text_quality_composite_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four quality screens in one pass; failures set bits
    1=length, 2=trigram diversity, 4=type-token ratio,
    8=single-token dominance; pass ⇔ mask = 0."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.lower(F.trim("text"))
    toks = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    n_tok = F.size(toks)
    n_dis = F.size(F.array_distinct(toks))
    grams = F.transform(
        F.sequence(F.lit(1), F.length(t) - 2), lambda i: t.substr(i, F.lit(3))
    )
    # dominance: max count of any single token = n_tok - (distinct-1 others minimum)…
    # computed exactly via aggregate over the distinct set
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda u: F.size(F.filter(toks, lambda x: x == u)),
        )
    )
    # ppm ratios via INTEGER div on both sides: DuckDB CAST(DOUBLE AS
    # BIGINT) ROUNDS while Spark truncates — float ppm would diverge
    counts = docs.where(F.length(t) >= 3).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n_tok.cast("long").alias("n_tokens"),
        n_dis.cast("long").alias("n_dis"),
        F.size(grams).cast("long").alias("n_tri"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_tri_dis"),
        top_cnt.cast("long").alias("top_cnt"),
    )
    base = counts.select(
        "doc_id",
        "n_tokens",
        F.expr("(n_tri_dis * 1000000) div n_tri").alias("tri_ppm"),
        F.expr("(n_dis * 1000000) div n_tokens").alias("ttr_ppm"),
        F.expr("(top_cnt * 1000000) div n_tokens").alias("dom_ppm"),
    )
    mask = (
        F.when(
            (F.col("n_tokens") < _GATE_MIN_TOKENS)
            | (F.col("n_tokens") > _GATE_MAX_TOKENS),
            1,
        ).otherwise(0)
        + F.when(F.col("tri_ppm") < _GATE_MIN_TRIGRAM_PPM, 2).otherwise(0)
        + F.when(F.col("ttr_ppm") < _GATE_MIN_TTR_PPM, 4).otherwise(0)
        + F.when(F.col("dom_ppm") > _GATE_MAX_DOM_PPM, 8).otherwise(0)
    )
    return base.select(
        "doc_id",
        "n_tokens",
        "tri_ppm",
        "ttr_ppm",
        "dom_ppm",
        mask.cast("long").alias("reasons_mask"),
        (mask == 0).alias("passed"),
    )


TEXT_QUALITY_COMPOSITE_GATE_SQL = f"""
WITH base AS (
  SELECT doc_id, lower(trim(text)) AS t,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents WHERE length(lower(trim(text))) >= 3
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST((len(list_distinct(list_transform(
                generate_series(1, length(t) - 2), i -> substr(t, i, 3))))
              * 1000000)
              // (length(t) - 2) AS BIGINT) AS tri_ppm,
         CAST((len(list_distinct(toks)) * 1000000) // len(toks) AS BIGINT)
           AS ttr_ppm,
         CAST((list_max(list_transform(list_distinct(toks),
                u -> len(list_filter(toks, x -> x = u))))
              * 1000000) // len(toks) AS BIGINT) AS dom_ppm
  FROM base
)
SELECT doc_id, n_tokens, tri_ppm, ttr_ppm, dom_ppm,
       CAST((CASE WHEN n_tokens < {_GATE_MIN_TOKENS}
                    OR n_tokens > {_GATE_MAX_TOKENS} THEN 1 ELSE 0 END)
            + (CASE WHEN tri_ppm < {_GATE_MIN_TRIGRAM_PPM} THEN 2 ELSE 0 END)
            + (CASE WHEN ttr_ppm < {_GATE_MIN_TTR_PPM} THEN 4 ELSE 0 END)
            + (CASE WHEN dom_ppm > {_GATE_MAX_DOM_PPM} THEN 8 ELSE 0 END)
            AS BIGINT) AS reasons_mask,
       (CASE WHEN n_tokens < {_GATE_MIN_TOKENS}
               OR n_tokens > {_GATE_MAX_TOKENS} THEN 1 ELSE 0 END)
       + (CASE WHEN tri_ppm < {_GATE_MIN_TRIGRAM_PPM} THEN 2 ELSE 0 END)
       + (CASE WHEN ttr_ppm < {_GATE_MIN_TTR_PPM} THEN 4 ELSE 0 END)
       + (CASE WHEN dom_ppm > {_GATE_MAX_DOM_PPM} THEN 8 ELSE 0 END) = 0
         AS passed
FROM m
"""


# --- exact embedding dedup --------------------------------------------------------


def dedup_embed_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate vectors by md5 of the fixpointed CSV encoding:
    fingerprint → group size + min-id representative.  NULL embeddings
    are excluded on BOTH engines — Spark's concat_ws would render the
    NULL array as '' (the md5 of empty string, colliding with a real
    empty encoding) while DuckDB keeps NULL."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    csv = F.concat_ws(
        ",",
        micro_units("embedding"),
    )
    return (
        emb.select("vec_id", F.md5(csv).alias("vfp"))
        .groupBy("vfp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.min("vec_id").cast("long").alias("rep_vec"),
        )
    )


DEDUP_EMBED_EXACT_SQL = """
SELECT md5(array_to_string(list_transform(embedding,
         x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)), ','))
         AS vfp,
       CAST(count(*) AS BIGINT) AS group_size,
       CAST(min(vec_id) AS BIGINT) AS rep_vec
FROM embeddings WHERE embedding IS NOT NULL GROUP BY vfp
"""


# --- minority upsampling -----------------------------------------------------------


def sample_balance_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raise every lang to the global majority size: n_copies =
    target div n + (1 if md5-rank ≤ target mod n)."""
    docs = load_table(spark, sf_dir, "documents")
    sizes = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    kmax = sizes.agg(F.max("n_lang").alias("target"))
    pri = F.md5(F.concat(F.lit("ups:"), F.col("doc_id")))
    w = Window.partitionBy("lang").orderBy(pri, "doc_id")
    ranked = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang",
        F.row_number().over(w).alias("rk"),
    ).join(sizes, "lang").crossJoin(F.broadcast(kmax))
    n_copies = F.expr(
        "target div n_lang + CASE WHEN rk <= target % n_lang THEN 1 ELSE 0 END"
    )
    return ranked.select(
        "doc_id",
        "lang",
        F.col("rk").cast("long").alias("rk"),
        n_copies.cast("long").alias("n_copies"),
    )


SAMPLE_BALANCE_UPSAMPLE_SQL = """
WITH sizes AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
  FROM documents GROUP BY lang
), tgt AS (
  SELECT max(n_lang) AS target FROM sizes
), ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5('ups:' || CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rk
  FROM documents
)
SELECT CAST(r.doc_id AS BIGINT) AS doc_id, r.lang,
       CAST(r.rk AS BIGINT) AS rk,
       CAST(t.target // s.n_lang
            + CASE WHEN r.rk <= t.target % s.n_lang THEN 1 ELSE 0 END
            AS BIGINT) AS n_copies
FROM ranked r JOIN sizes s ON r.lang = s.lang CROSS JOIN tgt t
"""


# --- wholetext ingestion -----------------------------------------------------------


def _staged_wholefiles(spark: SparkSession, sf_dir: str) -> str:
    """One text file per lang (sorted doc texts joined by newlines) —
    write-once app-scoped."""
    import os

    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "whole", sf_dir)
    marker = os.path.join(out, "_STAGED")
    if os.path.exists(marker):
        return out
    # df.write-based staging (ADVICE r6 idiom: no whole-table collect):
    # repartition("lang") puts each lang wholly in one task and
    # sortWithinPartitions keeps doc_id order inside it, so partitionBy
    # emits exactly ONE doc_id-ordered text file per lang=... dir.
    # join-by-newline accounting (n_chars = Σlen + n − 1) is only
    # well-defined for texts without their own line terminators; filter
    # embedded \n/\r (and NULL) identically on both engines
    (
        load_table(spark, sf_dir, "documents")
        .where(~F.col("text").contains("\n") & ~F.col("text").contains("\r"))
        .select("lang", "doc_id", F.col("text").alias("value"))
        .repartition("lang")
        .sortWithinPartitions("lang", "doc_id")
        .select("lang", "value")
        .write.partitionBy("lang")
        .mode("overwrite")
        .text(out)
    )
    with open(marker, "w") as f:
        f.write("ok")
    return out


def scan_text_wholefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wholetext read: one row per staged lang file; recover per-file
    line count and char count.  The text writer terminates the last
    record too, so the scan strips exactly one trailing newline to
    keep the join-by-newline accounting (n_chars = Σlen + n − 1)."""
    path = _staged_wholefiles(spark, sf_dir)
    # NOTE: the wholetext switch must be the text() KWARG — the
    # .option("wholetext", ...) spelling is silently overridden by the
    # method's own default (measured: 500 line-rows instead of 5 files)
    df = (
        spark.read.text(
            os.path.join(path, "lang=*", "part-*"), wholetext=True
        )
        .withColumn(
            "lang",
            F.regexp_extract(F.input_file_name(), r"lang=([^/]+)/", 1),
        )
        # \z (absolute end of input) not $: Java's $ also matches *before*
        # a final line terminator, so a file ending "\n\n" would lose TWO
        # newlines and break the n_chars = Σlen + n − 1 accounting.
        .withColumn("body", F.regexp_replace("value", r"\n\z", ""))
    )
    return df.select(
        "lang",
        (F.size(F.split(F.col("body"), "\n", -1))).cast("long").alias("n_lines"),
        F.length("body").cast("long").alias("n_chars_total"),
    )


SCAN_TEXT_WHOLEFILE_SQL = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(length(text)) + count(*) - 1 AS BIGINT) AS n_chars_total
FROM documents
WHERE NOT contains(text, chr(10)) AND NOT contains(text, chr(13))
GROUP BY lang
"""


QUERIES: dict[str, QuerySpec] = {
    "text_collocation_llr": QuerySpec(
        text_collocation_llr, TEXT_COLLOCATION_LLR_SQL
    ),
    "text_quality_composite_gate": QuerySpec(
        text_quality_composite_gate, TEXT_QUALITY_COMPOSITE_GATE_SQL
    ),
    "dedup_embed_exact": QuerySpec(dedup_embed_exact, DEDUP_EMBED_EXACT_SQL),
    "sample_balance_upsample": QuerySpec(
        sample_balance_upsample, SAMPLE_BALANCE_UPSAMPLE_SQL
    ),
    "scan_text_wholefile": QuerySpec(
        scan_text_wholefile, SCAN_TEXT_WHOLEFILE_SQL
    ),
}
