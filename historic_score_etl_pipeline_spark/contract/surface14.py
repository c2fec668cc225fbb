"""Contract batch 19 — training-data curation operators (SURVEY.md §2K
extensions): the operations a 100 TB LLM-pretraining pipeline runs between
"raw crawl" and "tokenized shards", each as one declarative Spark plan.

* ``text_pack_shards`` — ORACLE-CHECKED sequence packing: documents are
  concatenated in a deterministic order and sliced into fixed-token-budget
  training shards (the GPT-style pack-then-chunk layout).  One window
  cumsum per language partition — no driver loop, no global sort.
* ``text_pii_redact`` — ORACLE-CHECKED PII scrub: email + phone patterns
  redacted via ``regexp_replace`` chains (RE2/Java-compatible patterns so
  the DuckDB twin is exact), with per-doc redaction counts.
* ``dedup_contamination`` — ORACLE-CHECKED benchmark-contamination check:
  character-chunk hashing (32-char windows, stride 16) equi-joined between
  the training split and a held-out eval split; any shared chunk hash
  flags a (train, eval) pair.  The join is on the chunk hash — never a
  pairwise doc × doc comparison — so it scales like any equi-join.
* ``sample_stratified_hash`` — ORACLE-CHECKED deterministic stratified
  sampling: per-language keep-rates implemented as a lexicographic
  threshold on ``md5(doc_id)`` — reproducible across engines and runs,
  no RNG state, prunable at the scan.
* ``shuffle_shard_pos`` — ORACLE-CHECKED scalable training shuffle:
  hash-bucket each doc into a shard, then rank within the shard — the
  repartition+sortWithinPartitions layout a distributed training loader
  consumes.  No global sort: the only ordering is per-shard.
* ``dedup_pipeline_e2e`` — rows-only: the full dedup chain wired end to
  end (MinHash+LSH candidates → Jaccard verify → connected components →
  keep one canonical doc per cluster).  Each stage is oracle-checked
  individually (``dedup_near_minhash``, ``dedup_ngram_jaccard``,
  ``dedup_connected_components``); this entry proves the composition.

No reference counterpart (the reference is a scraping ETL,
``/root/reference/app``); these extend the engine per the north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.text import pack_shards
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- sequence packing ---------------------------------------------------------

_SHARD_TOKENS = 2048  # token budget per training shard


def text_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into ``_SHARD_TOKENS``-token shards per language
    (:func:`operators.text.pack_shards`)."""
    return pack_shards(load_table(spark, sf_dir, "documents"), _SHARD_TOKENS)


TEXT_PACK_SHARDS_SQL = f"""
SELECT doc_id, lang, n_tokens,
       CAST(floor((cum_tokens - n_tokens) / {_SHARD_TOKENS}.0) AS BIGINT)
         AS shard_id
FROM (
  SELECT doc_id, lang,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         sum(len(string_split_regex(trim(text), '\\s+')))
           OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM documents
)
"""


# --- PII redaction ------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?[0-9][0-9()\- ]{7,}[0-9]"


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails then phone numbers; count each per doc.

    The synthetic corpus carries no PII, so a deterministic contact line
    is appended per doc first — the operator's work is then visible in
    every row.  Counts come from ``regexp_extract_all`` BEFORE
    redaction; patterns are in the RE2 ∩ Java-regex common dialect so
    Spark and DuckDB agree byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example-mail.com or +1 (555) 010-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
    )
    with_pii = docs.select("doc_id", pii_text.alias("t"))
    return with_pii.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("t", F.lit(_PHONE_RE), 0)).alias(
            "n_phones"
        ),
        F.regexp_replace(
            F.regexp_replace("t", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
    )


TEXT_PII_REDACT_SQL = rf"""
WITH with_pii AS (
  SELECT doc_id,
         text || ' contact: user' || CAST(doc_id AS VARCHAR)
              || '@example-mail.com or +1 (555) 010-'
              || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS t
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(t, '{_PHONE_RE}')) AS n_phones,
       regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
FROM with_pii
"""


# --- benchmark contamination --------------------------------------------------

_CHUNK, _STRIDE = 32, 16


def _chunk_hashes(df: DataFrame, id_alias: str) -> DataFrame:
    """(doc, chunk_hash) rows: 32-char windows at stride 16 — linear in
    corpus size.  xxhash64, NOT md5: the chunk value never surfaces in
    any output (the oracle twin replays its own md5 chain on its side),
    so the engine is free to use the 8-byte JVM-native hash — 4× less
    state per row than the 32-char hex string and no digest allocation.
    NO per-side ``.distinct()``: that cost a full shuffle of the train
    gram set (175M rows at the sf100 replica) before the join re-shuffled
    it again; distinctness is restored where it is actually needed, as
    ``count_distinct(chunk)`` inside the one post-join aggregation (the
    r11 third-decade probe caught the old shape at exponent 1.47 — two
    corpus-sized shuffles; the rewrite measures 5× faster at sf100)."""
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.length("text") - (_CHUNK - 1), F.lit(2)) - F.lit(1),
        F.lit(_STRIDE),
    )
    return (
        df.select(F.col(id_alias), F.explode(starts).alias("s"), F.col("text"))
        .select(
            id_alias,
            F.xxhash64(F.substring(F.col("text"), F.col("s"), _CHUNK)).alias(
                "chunk"
            ),
        )
    )


def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination scan: which training docs share ≥2 distinct 32-char
    chunks with the eval split?

    The fixture's eval split is derived in-query (every 50th doc
    contributes a 200-char excerpt starting at offset 49 — stride-aligned
    so chunk hashing can see it; the synthetic corpus has no natural
    duplicates, and an all-empty result would prove nothing).  Stride
    chunking only catches stride-aligned copies — that alignment
    sensitivity is inherent to the technique; ``dedup_ngram_jaccard`` is
    the alignment-free token-shingle variant.

    Scale shape (reworked r11 after the third-decade probe measured the
    old two-shuffle form at exponent 1.47): the corpus-sized train gram
    stream is map-only — explode + xxhash64, never shuffled, never
    de-duplicated up front.  The eval gram set is benchmark-sized (the
    operator's contract, same law as ``ngram_decontaminate``: benchmarks
    are MBs, corpora TBs — the fixture's 1/50 excerpt split stands in
    for it), so it is explicitly ``broadcast()``: the equi-join is a
    map-side hash probe with ZERO train-side shuffle.  The single
    shuffle left is the post-join per-pair aggregation over matched rows
    only, where ``count_distinct(chunk)`` restores the distinctness the
    dropped per-side ``.distinct()`` used to guarantee.  Measured at the
    sf100 replica: 5× faster than the old shape, identical rows."""
    docs = load_table(spark, sf_dir, "documents")
    train = _chunk_hashes(docs, "doc_id").withColumnRenamed(
        "doc_id", "train_id"
    )
    eval_docs = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("eval_id"),
        F.substring("text", 49, 200).alias("text"),
    )
    eval_ = _chunk_hashes(eval_docs, "eval_id").distinct()
    return (
        train.join(F.broadcast(eval_), "chunk")
        .groupBy("train_id", "eval_id")
        .agg(F.count_distinct("chunk").alias("n_shared_chunks"))
        .where(F.col("n_shared_chunks") >= 2)
    )


DEDUP_CONTAMINATION_SQL = f"""
WITH train AS (
  SELECT DISTINCT doc_id AS train_id, md5(substr(text, s, {_CHUNK})) AS chunk
  FROM documents,
       unnest(range(1, greatest(len(text) - {_CHUNK - 1}, 2), {_STRIDE}))
         AS t(s)
),
eval_docs AS (
  SELECT doc_id AS eval_id, substr(text, 49, 200) AS text
  FROM documents WHERE doc_id % 50 = 0
),
eval_chunks AS (
  SELECT DISTINCT eval_id, md5(substr(text, s, {_CHUNK})) AS chunk
  FROM eval_docs,
       unnest(range(1, greatest(len(text) - {_CHUNK - 1}, 2), {_STRIDE}))
         AS t(s)
)
SELECT train_id, eval_id, count(*) AS n_shared_chunks
FROM train JOIN eval_chunks USING (chunk)
GROUP BY 1, 2
HAVING count(*) >= 2
"""


# --- deterministic stratified sampling ---------------------------------------

# lexicographic md5-prefix thresholds ≈ keep-rates: '28' keeps ~16%,
# '7f' ~50%, 'ff' everything (hex chars sort identically in both engines)
_RATES = {"en": "28", "de": "7f"}
_DEFAULT_RATE = "0f"  # ~6% for every other language


def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling: keep a doc when the first
    two hex chars of ``md5(doc_id)`` fall under the language's threshold.
    Reproducible across engines/runs/retries (no RNG state), trivially
    parallel, and the predicate is a pure scan filter — no shuffle at
    all."""
    docs = load_table(spark, sf_dir, "documents")
    threshold = F.when(F.col("lang") == "en", F.lit(_RATES["en"])).when(
        F.col("lang") == "de", F.lit(_RATES["de"])
    ).otherwise(F.lit(_DEFAULT_RATE))
    key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return (
        docs.where(key <= threshold)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


SAMPLE_STRATIFIED_HASH_SQL = f"""
SELECT lang, count(*) AS n_kept
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <=
      CASE lang WHEN 'en' THEN '{_RATES["en"]}'
                WHEN 'de' THEN '{_RATES["de"]}'
                ELSE '{_DEFAULT_RATE}' END
GROUP BY lang
"""


# --- scalable training shuffle ------------------------------------------------

_N_SHARDS = 8


def shuffle_shard_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded global shuffle as a training loader consumes it: docs
    hash-bucket into ``_N_SHARDS`` shards, each shard internally ordered
    by a seeded hash.  This is repartition + sortWithinPartitions — the
    scale-safe shuffle (per-shard sorts only); a single global ORDER BY
    over 100 TB is exactly what this layout avoids."""
    docs = load_table(spark, sf_dir, "documents")
    seeded = F.md5(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string")))
    shard = F.ascii(F.substring(seeded, 1, 1)) % _N_SHARDS
    w = Window.partitionBy("shard_id").orderBy("sort_key", "doc_id")
    return (
        docs.select(
            "doc_id", shard.alias("shard_id"), seeded.alias("sort_key")
        )
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard_id", "pos")
    )


SHUFFLE_SHARD_POS_SQL = f"""
SELECT doc_id, shard_id,
       row_number() OVER (PARTITION BY shard_id
                          ORDER BY sort_key, doc_id) AS pos
FROM (
  SELECT doc_id,
         ascii(substr(md5('seed42:' || CAST(doc_id AS VARCHAR)), 1, 1))
           % {_N_SHARDS} AS shard_id,
         md5('seed42:' || CAST(doc_id AS VARCHAR)) AS sort_key
  FROM documents
)
"""


# --- end-to-end dedup pipeline ------------------------------------------------


def dedup_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang survivor counts of the shipped near-dup removal chain
    (``operators/dedup.near_dup_survivors``: LSH candidates →
    Jaccard-verify → connected components → one canonical per cluster).

    rows-only: every stage has its own oracle-checked contract entry;
    the composition's SQL twin would be a recursive-CTE fixpoint over a
    quadratic pair table, which is the exact thing the staged plan
    avoids."""
    from historic_score_etl_pipeline_spark.operators.dedup import (
        near_dup_survivors,
    )

    docs = load_table(spark, sf_dir, "documents")
    survivors = near_dup_survivors(docs, "doc_id", "text", keep=["lang"])
    return survivors.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


# --- quality-filter dead-letter split ----------------------------------------

_MIN_TOKENS = 40
_MIN_STOPWORD_RATIO = 0.05


def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality gate with an explicit dead-letter verdict:
    every doc gets ``keep``/``drop`` plus a deterministic comma-joined
    reason list — the filter never silently discards (the engine-wide
    error-channel discipline, sinks/writer.py, applied to curation).
    Pure column expressions; the whole gate is one codegen'd projection."""
    from historic_score_etl_pipeline_spark.operators.text import (
        quality_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    q = quality_features(F.col("text"))
    too_short = q["n_tokens"] < _MIN_TOKENS
    low_stop = q["stopword_ratio"] < _MIN_STOPWORD_RATIO
    reasons = F.concat_ws(
        ",",
        F.when(too_short, F.lit("too_short")),
        F.when(low_stop, F.lit("low_stopword")),
    )
    return docs.select(
        "doc_id",
        q["n_tokens"].alias("n_tokens"),
        q["stopword_ratio"].alias("stopword_ratio"),
        F.when(too_short | low_stop, F.lit("drop"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
        reasons.alias("reasons"),
    )


# mirrors operators/text.py STOPWORDS_EN
_STOPS = "'the','a','an','of','and','or','in','on','to','is'"

TEXT_QUALITY_FILTER_SQL = f"""
WITH feat AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN round(CAST(len(list_filter(toks, t -> t IN ({_STOPS})))
                              AS DOUBLE) / len(toks), 6)
              ELSE 0.0 END AS stopword_ratio
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents)
)
SELECT doc_id, n_tokens, stopword_ratio,
       CASE WHEN n_tokens < {_MIN_TOKENS}
              OR stopword_ratio < {_MIN_STOPWORD_RATIO}
            THEN 'drop' ELSE 'keep' END AS verdict,
       concat_ws(',',
         CASE WHEN n_tokens < {_MIN_TOKENS} THEN 'too_short' END,
         CASE WHEN stopword_ratio < {_MIN_STOPWORD_RATIO}
              THEN 'low_stopword' END) AS reasons
FROM feat
"""


# --- incremental near-dup (arriving batch vs corpus index) --------------------


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arriving-batch dedup shape: docs with ``doc_id >= 400`` are the
    "new batch", probed against the signature index of the first 400 —
    only new×existing collisions, cost O(|batch| × bands) regardless of
    corpus size.  rows-only: the MinHash signature pipeline is not
    SQL-expressible; collision recall is unit-tested with planted
    duplicates (tests/test_surface14.py)."""
    from historic_score_etl_pipeline_spark.operators.dedup import (
        band_buckets,
        band_probe_join,
    )

    docs = load_table(spark, sf_dir, "documents")
    index = band_buckets(docs.where(F.col("doc_id") < 400), "doc_id", "text")
    probes = band_buckets(docs.where(F.col("doc_id") >= 400), "doc_id", "text")
    pairs = band_probe_join(probes, index, "doc_id")
    return pairs.groupBy("new_id").agg(
        F.count(F.lit(1)).alias("n_collisions"),
        F.min("existing_id").alias("first_existing_id"),
    )


def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-dedup STREAM (streaming/jobs.py::
    run_incremental_dedup) run for real under AvailableNow: the corpus
    lands in two micro-batch files (split at doc_id 250, second batch
    salted with two copies of batch-1 docs), the loop probes each batch
    against the persisted signature index, and the flagged-pair output
    is returned.  rows-only: a checkpointed streaming side-effect has no
    SQL twin; cross-batch recall is unit-tested with planted duplicates
    (tests/test_streaming.py)."""
    import os
    import tempfile

    from historic_score_etl_pipeline_spark.streaming import (
        run_incremental_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    work_root = tempfile.mkdtemp(prefix="hsep_stream_dedup_")
    landing = os.path.join(work_root, "landing")
    os.makedirs(landing)
    first = docs.where(F.col("doc_id") < 250)
    dup_seed = first.where(F.col("doc_id") < 2).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    second = docs.where(F.col("doc_id") >= 250).unionByName(dup_seed)
    # plain parquet FILES (not directories): the file stream source treats
    # subdirectories as partition dirs.  Driver-side materialization is
    # fine here — this fixture staging is test-scale by construction; a
    # real landing zone is written by the upstream producer.
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    def _write(df: DataFrame, name: str) -> None:
        pdf = df.toPandas()
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(landing, name),
        )

    _write(first, "batch1.parquet")
    time.sleep(1.1)  # file-source ordering is mtime-based
    _write(second, "batch2.parquet")
    work = os.path.join(work_root, "work")
    run_incremental_dedup(spark, landing, work)
    return spark.read.parquet(os.path.join(work, "flagged"))


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (repeated-token / repeated-bigram
    counts) per document — the quality gate signal the length/punct/
    stopword features miss (operators/text.py::repetition_stats).
    Integer-exact numerators and denominators so the oracle hash is
    float-free."""
    from historic_score_etl_pipeline_spark.operators.text import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text")


TEXT_REPETITION_SQL = """
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
),
uni AS (
    SELECT doc_id, unnest(t) AS tok FROM toks
),
uni_cnt AS (
    SELECT doc_id, tok, count(*) AS cnt FROM uni GROUP BY doc_id, tok
),
uni_doc AS (
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct_tokens,
           CAST(max(cnt) AS BIGINT) AS top_token_cnt
    FROM uni_cnt GROUP BY doc_id
),
bg AS (
    SELECT doc_id,
           unnest(CASE WHEN len(t) >= 2
                  THEN list_transform(range(1, len(t)),
                                      i -> t[i] || ' ' || t[i + 1])
                  ELSE [] END) AS bg
    FROM toks
),
bg_cnt AS (
    SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY doc_id, bg
),
bg_doc AS (
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_bigrams,
           CAST(max(cnt) AS BIGINT) AS top_bigram_cnt
    FROM bg_cnt GROUP BY doc_id
)
SELECT u.doc_id, u.n_tokens, u.n_distinct_tokens, u.top_token_cnt,
       CAST(coalesce(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(b.top_bigram_cnt, 0) AS BIGINT) AS top_bigram_cnt
FROM uni_doc u LEFT JOIN bg_doc b USING (doc_id)
"""


QUERIES: dict[str, QuerySpec] = {
    "text_repetition": QuerySpec(text_repetition, TEXT_REPETITION_SQL),
    "text_pack_shards": QuerySpec(text_pack_shards, TEXT_PACK_SHARDS_SQL),
    "text_quality_filter": QuerySpec(
        text_quality_filter, TEXT_QUALITY_FILTER_SQL
    ),
    "dedup_incremental": QuerySpec(dedup_incremental, None),
    "stream_incremental_dedup": QuerySpec(stream_incremental_dedup, None),
    "text_pii_redact": QuerySpec(text_pii_redact, TEXT_PII_REDACT_SQL),
    "dedup_contamination": QuerySpec(
        dedup_contamination, DEDUP_CONTAMINATION_SQL
    ),
    "sample_stratified_hash": QuerySpec(
        sample_stratified_hash, SAMPLE_STRATIFIED_HASH_SQL
    ),
    "shuffle_shard_pos": QuerySpec(shuffle_shard_pos, SHUFFLE_SHARD_POS_SQL),
    "dedup_pipeline_e2e": QuerySpec(dedup_pipeline_e2e, None),
}
