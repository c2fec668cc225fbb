"""Round-6 batch 50 — LM scoring, codec, nested-array, calendar, and
embedding-outlier staples:

* ``text_doc_surprisal_unigram`` — per-document mean surprisal under
  the CORPUS unigram LM: Σ tf·floor(ln(T/c_t)·1e6 + 0.5) exactly —
  the perplexity-proxy quality filter (complement of the within-doc
  token entropy and the bigram corpus surprisal).
* ``str_hex_unhex_roundtrip`` — hex/unhex codec round-trip (uppercase
  hex in both engines) plus a parsed header byte — the binary-in-text
  transport surface.
* ``array_flatten_nested`` — array<array<string>> built by 10-token
  chunking, then ``flatten`` proves lossless reassembly (sizes +
  element-wise equality with the original token array).
* ``agg_quarter_rollup`` — calendar-quarter revenue grid via
  date_trunc('quarter') (probed identical in both engines; quarter
  NUMBERING, like week numbering, is the divergent trap avoided).
* ``embed_zscore_outlier`` — diagonal-Mahalanobis outlier score: per
  vector Σ_d z² in exact ppm using ONLY integer arithmetic —
  z²_ppm = (n·v−s)² div ((n·q−s²) div 1e6) from per-dim (n, Σ, Σ²) —
  plus the worst dimension (packed max_by tiebreak).  The
  embedding-space complement of the IQR length fences.

Scale notes: the unigram LM joins an aggregated |vocab|-row count
table on token (equi, combinable); hex/flatten are scan-side folds;
quarter rollup is one combinable aggregate; the z-score pass joins a
broadcast 64-row dim-stats table onto the component table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.similarity import micro_units
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- corpus-unigram surprisal per doc ---------------------------------------------


def text_doc_surprisal_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Σ tf·fix(ln(T/c_t)) per doc under the corpus unigram LM, plus
    the integer mean surprisal."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    corpus = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = corpus.agg(F.sum("c").alias("t"))
    j = tf.join(corpus, "tok").crossJoin(F.broadcast(total))
    fix = F.floor(
        F.log(F.col("t").cast("double") / F.col("c").cast("double")) * 1e6
        + F.lit(0.5)
    ).cast("long")
    agg = j.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.sum(F.col("tf") * fix).cast("long").alias("surprisal_fp"),
    )
    return agg.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "surprisal_fp",
        F.expr("surprisal_fp div n_tokens").cast("long").alias("mean_unats"),
    )


TEXT_DOC_SURPRISAL_UNIGRAM_SQL = """
WITH tok AS (
  SELECT doc_id, t AS tok
  FROM (SELECT doc_id,
               unnest(list_filter(
                 string_split_regex(lower(trim(text)), '\\s+'),
                 x -> x <> '')) AS t
        FROM documents)
), tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, tok
), corpus AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok
), agg AS (
  SELECT f.doc_id,
         CAST(sum(f.tf) AS BIGINT) AS n_tokens,
         CAST(sum(f.tf * CAST(floor(
           ln(CAST((SELECT sum(c) FROM corpus) AS DOUBLE)
              / CAST(k.c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
           AS surprisal_fp
  FROM tf f JOIN corpus k ON f.tok = k.tok
  GROUP BY f.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens, surprisal_fp,
       CAST(surprisal_fp // n_tokens AS BIGINT) AS mean_unats
FROM agg
"""


# --- hex / unhex round-trip --------------------------------------------------------


def str_hex_unhex_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uppercase-hex encode of a composed record, decode back, parse
    the first byte numerically."""
    part = load_table(spark, sf_dir, "part")
    rec = F.concat_ws("|", F.col("p_partkey"), F.col("p_brand"))
    hx = F.hex(F.encode(rec, "UTF-8"))
    back = F.decode(F.unhex(hx), "UTF-8")
    return part.select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        hx.alias("hex_rec"),
        F.length(hx).cast("long").alias("hex_len"),
        (back == rec).alias("roundtrip_ok"),
        F.conv(F.substring(hx, 1, 2), 16, 10).cast("long").alias("first_byte"),
    )


STR_HEX_UNHEX_ROUNDTRIP_SQL = """
WITH r AS (
  SELECT p_partkey,
         CAST(p_partkey AS VARCHAR) || '|' || p_brand AS rec
  FROM part
)
SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
       hex(encode(rec)) AS hex_rec,
       CAST(length(hex(encode(rec))) AS BIGINT) AS hex_len,
       decode(unhex(hex(encode(rec)))) = rec AS roundtrip_ok,
       CAST(('0x' || substr(hex(encode(rec)), 1, 2)) AS BIGINT) AS first_byte
FROM r
"""


# --- nested arrays + flatten -------------------------------------------------------


def array_flatten_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk tokens into array<array<string>> (10 per chunk), flatten
    back, prove lossless reassembly."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    n = F.size(toks)
    n_chunks = F.ceil(n / F.lit(10)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * 10 + 1, 10),
    )
    flat = F.flatten(chunks)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(chunks).cast("long").alias("n_chunks"),
        F.size(flat).cast("long").alias("n_tokens"),
        (flat == toks).alias("lossless"),
        F.element_at(F.element_at(chunks, -1), -1).alias("last_token"),
    )


ARRAY_FLATTEN_NESTED_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
), c AS (
  SELECT doc_id, toks,
         list_transform(
           generate_series(0, CAST(ceil(len(toks) / 10.0) AS BIGINT) - 1),
           i -> toks[i*10 + 1 : i*10 + 10]) AS chunks
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(chunks) AS BIGINT) AS n_chunks,
       CAST(len(flatten(chunks)) AS BIGINT) AS n_tokens,
       flatten(chunks) = toks AS lossless,
       chunks[-1][-1] AS last_token
FROM c
"""


# --- calendar-quarter rollup -------------------------------------------------------


def agg_quarter_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders per calendar quarter (date_trunc('quarter'), key as the
    quarter-start date string)."""
    orders = load_table(spark, sf_dir, "orders")
    q = (
        F.date_trunc("quarter", F.col("o_orderdate"))
        .cast("date")
        .cast("string")
    )
    return orders.groupBy(q.alias("quarter_start")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


AGG_QUARTER_ROLLUP_SQL = """
SELECT CAST(CAST(date_trunc('quarter', o_orderdate) AS DATE) AS VARCHAR)
         AS quarter_start,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders GROUP BY quarter_start
"""


# --- diagonal-Mahalanobis embedding outlier score -----------------------------------


def embed_zscore_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Σ_d z²_ppm per vector from per-dim (n, Σ, Σ²) — pure integer:
    z²_ppm = (n·v − s)² div ((n·q − s²) div 1e6); worst dim by packed
    max_by.

    Integer-range bound: (n·v − s)² needs n·max|v_fp| < 3·10⁹, i.e.
    n ≲ 3000 rows per stats group at |x| ≤ 1.  Beyond that a
    production pass pre-centers with μ = s div n (small residuals) or
    computes μ/σ as doubles — the exact-integer form exists to make
    the score oracle-checkable, not to claim BIGINT survives any n."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        F.posexplode(micro_units("embedding")).alias("dim", "v"),
    )
    stats = comp.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("q"),
    )
    j = comp.join(F.broadcast(stats), "dim")
    z2 = F.expr(
        "CASE WHEN (n*q - s*s) div 1000000 > 0 THEN "
        "((n*v - s) * (n*v - s)) div ((n*q - s*s) div 1000000) "
        "ELSE 0 END"
    )
    scored = j.select(
        "vec_id", "dim", z2.cast("long").alias("z2_ppm")
    )
    packed = F.col("z2_ppm") * F.lit(1000) - F.col("dim")
    return scored.groupBy("vec_id").agg(
        F.sum("z2_ppm").cast("long").alias("z2_sum_ppm"),
        F.max("z2_ppm").cast("long").alias("z2_max_ppm"),
        F.max_by("dim", packed).cast("long").alias("worst_dim"),
    ).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        "z2_sum_ppm",
        "z2_max_ppm",
        "worst_dim",
    )


EMBED_ZSCORE_OUTLIER_SQL = """
WITH comp AS (
  SELECT vec_id, i - 1 AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
), stats AS (
  SELECT dim, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS s,
         CAST(sum(v * v) AS BIGINT) AS q
  FROM comp GROUP BY dim
), scored AS (
  SELECT c.vec_id, c.dim,
         CASE WHEN (st.n*st.q - st.s*st.s) // 1000000 > 0 THEN
           ((st.n*c.v - st.s) * (st.n*c.v - st.s))
             // ((st.n*st.q - st.s*st.s) // 1000000)
         ELSE 0 END AS z2_ppm
  FROM comp c JOIN stats st ON c.dim = st.dim
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(sum(z2_ppm) AS BIGINT) AS z2_sum_ppm,
       CAST(max(z2_ppm) AS BIGINT) AS z2_max_ppm,
       CAST(max_by(dim, z2_ppm * 1000 - dim) AS BIGINT) AS worst_dim
FROM scored GROUP BY vec_id
"""


QUERIES: dict[str, QuerySpec] = {
    "text_doc_surprisal_unigram": QuerySpec(
        text_doc_surprisal_unigram, TEXT_DOC_SURPRISAL_UNIGRAM_SQL
    ),
    "str_hex_unhex_roundtrip": QuerySpec(
        str_hex_unhex_roundtrip, STR_HEX_UNHEX_ROUNDTRIP_SQL
    ),
    "array_flatten_nested": QuerySpec(
        array_flatten_nested, ARRAY_FLATTEN_NESTED_SQL
    ),
    "agg_quarter_rollup": QuerySpec(agg_quarter_rollup, AGG_QUARTER_ROLLUP_SQL),
    "embed_zscore_outlier": QuerySpec(
        embed_zscore_outlier, EMBED_ZSCORE_OUTLIER_SQL
    ),
}
