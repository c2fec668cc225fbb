"""Round-6 batch 73 — image tile featurization, vocabulary LCP, common-
neighbor link prediction, recency-decay sampling, 4-4-5 retail calendar:

* ``multimodal_image_tile_means`` — 2×2 tile mean-intensity features
  over REAL decoded BMP pixels (the vision-patch featurizer): per
  source and tile quadrant, pixel count / gray sum / integer mean.
  The oracle replays the renderer's byte-cycling layout positionally
  (row-major ``j → (j div w, j mod w)``), so tile membership — not
  just the gray multiset — is externally verified.
* ``text_vocab_lcp_compression`` — longest-common-prefix length
  between lexicographically adjacent DISTINCT tokens, partitioned by
  first character (a front-coding / trie-compressibility estimate for
  the vocabulary).  LCP is computed portably as a monotone prefix-
  equality count — no UDF, no loop.
* ``graph_link_predict_common_neighbors`` — link prediction on the
  part co-order graph: for the top-3-degree seeds, every non-adjacent
  2-hop candidate scored by common-neighbor count, top-10 per seed.
* ``sample_recency_halflife`` — recency-weighted sampling with a
  7-day halflife as PURE bit math: keep when the md5-uniform draw in
  [0, 2²⁰) falls under ``2²⁰ >> (age_days div 7)`` — exact 2^-k keep
  probability, no RNG state, no floats, a scan-side filter.
* ``date_calendar_445_rollup`` — the 4-4-5 retail calendar: weeks
  since a pinned Monday anchor fold into 13-week quarters split
  4+4+5, orders rolled up per fiscal (year, period).

Scale notes: tile means are ``doc_rows`` partials + a tiny
(source×4)-row merge; LCP windows partition by first character
(vocabulary-sized input, extend the prefix for wider fan-out); link
prediction joins only the 3 seed rows' neighborhoods (broadcast
seeds, wedge fan-out bounded by seed degree); the decay sample is a
stateless scan filter; the 4-4-5 rollup is integer date arithmetic
then one small groupBy.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.graph import co_order_edges
from historic_score_etl_pipeline_spark.operators.multimodal import (
    doc_rows,
    gray,
    rendered_image,
    single_byte_docs,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- 2x2 tile mean intensity ----------------------------------------------------------


def multimodal_image_tile_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source and 2×2 tile quadrant: pixel count, gray sum and
    integer mean over real decoded BMPs (gray = (R+G+B) div 3;
    tile_r = row·2 div h, tile_c = col·2 div w)."""

    def tiles(text):
        g = gray(rendered_image(text))
        h, w = g.shape
        tile = (np.arange(h)[:, None] * 2) // h * 2 + (np.arange(w)[None, :] * 2) // w
        for q in range(4):
            m = tile == q
            if m.any():
                yield q // 2, q % 2, int(m.sum()), int(g[m].sum())

    docs = single_byte_docs(load_table(spark, sf_dir, "documents"))
    schema = "source string, tile_r long, tile_c long, n_px long, sum_gray long"
    return (
        doc_rows(docs, "source", tiles, schema)
        .groupBy("source", "tile_r", "tile_c")
        .agg(
            F.sum("n_px").cast("long").alias("n_px"),
            F.sum("sum_gray").cast("long").alias("sum_gray"),
        )
        .withColumn("mean_gray", F.expr("sum_gray div n_px").cast("long"))
    )


MULTIMODAL_IMAGE_TILE_MEANS_SQL = """
WITH dims AS (
  SELECT source, text,
         strlen(text) AS nb,
         strlen(text) % 24 + 8 AS w,
         strlen(text) % 16 + 8 AS h
  FROM documents
  WHERE strlen(text) = length(text)
), px AS (
  SELECT source,
         ((t.j // w) * 2) // h AS tile_r,
         ((t.j % w) * 2) // w AS tile_c,
         CASE WHEN nb = 0 THEN 0 ELSE
           (ascii(substr(text, ((3 * t.j) % nb) + 1, 1))
            + ascii(substr(text, ((3 * t.j + 1) % nb) + 1, 1))
            + ascii(substr(text, ((3 * t.j + 2) % nb) + 1, 1))) // 3
         END AS gray
  FROM dims, unnest(generate_series(0, w * h - 1)) AS t(j)
)
SELECT source, CAST(tile_r AS BIGINT) AS tile_r,
       CAST(tile_c AS BIGINT) AS tile_c,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(gray) AS BIGINT) AS sum_gray,
       CAST(sum(gray) // count(*) AS BIGINT) AS mean_gray
FROM px GROUP BY source, tile_r, tile_c
"""


# --- vocabulary LCP (front-coding estimate) -------------------------------------------


def text_vocab_lcp_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LCP between adjacent distinct tokens per first character.

    The LCP is the COUNT of prefix lengths i where the two prefixes
    match — prefix equality is monotone in i, so the count equals the
    longest match.  Portable to any engine with list lambdas.
    """
    docs = load_table(spark, sf_dir, "documents")
    vocab = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("tok")
    ).distinct()
    w = Window.partitionBy("first_char").orderBy("tok")
    staged = vocab.select(
        F.substring("tok", 1, 1).alias("first_char"), "tok"
    ).withColumn("prev", F.lag("tok").over(w))
    lcp = F.expr(
        "size(filter(sequence(1, CAST(least(length(tok), length(prev)) AS INT)),"
        " i -> substring(tok, 1, i) = substring(prev, 1, i)))"
    )
    return (
        staged.withColumn("lcp", lcp.cast("long"))
        .groupBy("first_char")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.count("prev").cast("long").alias("n_pairs"),
            F.coalesce(F.sum("lcp"), F.lit(0)).cast("long").alias("sum_lcp"),
        )
        .withColumn(
            "avg_lcp_x100",
            F.when(
                F.col("n_pairs") > 0,
                F.expr("(sum_lcp * 100) div n_pairs"),
            ).cast("long"),
        )
    )


TEXT_VOCAB_LCP_COMPRESSION_SQL = """
WITH vocab AS (
  SELECT DISTINCT unnest(list_filter(
           string_split_regex(lower(trim(text)), '\\s+'), t -> t <> ''))
         AS tok
  FROM documents
), adj AS (
  SELECT substr(tok, 1, 1) AS first_char, tok,
         lag(tok) OVER (PARTITION BY substr(tok, 1, 1) ORDER BY tok)
           AS prev
  FROM vocab
), scored AS (
  SELECT first_char, tok, prev,
         CASE WHEN prev IS NULL THEN NULL ELSE
           len(list_filter(generate_series(1, least(len(tok), len(prev))),
                           i -> tok[1:i] = prev[1:i]))
         END AS lcp
  FROM adj
)
SELECT first_char,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(count(prev) AS BIGINT) AS n_pairs,
       CAST(coalesce(sum(lcp), 0) AS BIGINT) AS sum_lcp,
       CASE WHEN count(prev) > 0
            THEN CAST((coalesce(sum(lcp), 0) * 100) // count(prev) AS BIGINT)
            ELSE CAST(NULL AS BIGINT) END AS avg_lcp_x100
FROM scored GROUP BY first_char
"""


# --- common-neighbor link prediction --------------------------------------------------

_LP_SEEDS = 3
_LP_TOPK = 10


def graph_link_predict_common_neighbors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-10 link-prediction candidates per top-3-degree seed, scored
    by exact common-neighbor count over the part co-order graph (2-hop
    wedge join from the broadcast seed set, existing edges anti-joined
    away)."""
    edges = co_order_edges(load_table(spark, sf_dir, "lineitem"))
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    seeds = (
        deg.orderBy(F.col("deg").desc(), F.col("u"))
        .limit(_LP_SEEDS)
        .select(F.col("u").alias("seed"))
    )
    hop1 = (
        sym.join(F.broadcast(seeds), F.col("u") == F.col("seed"))
        .select("seed", F.col("v").alias("mid"))
    )
    wedges = hop1.join(
        sym.select(F.col("u").alias("mid"), F.col("v").alias("cand")), "mid"
    ).where(F.col("cand") != F.col("seed"))
    non_adjacent = wedges.join(
        sym.select(F.col("u").alias("seed"), F.col("v").alias("cand")),
        ["seed", "cand"],
        "left_anti",
    )
    scored = non_adjacent.groupBy("seed", "cand").agg(
        F.count(F.lit(1)).cast("long").alias("common_neighbors")
    )
    rk = Window.partitionBy("seed").orderBy(
        F.desc("common_neighbors"), F.asc("cand")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(rk))
        .where(F.col("rnk") <= _LP_TOPK)
        .select(
            F.col("seed").cast("long").alias("seed"),
            F.col("cand").cast("long").alias("cand"),
            "common_neighbors",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


GRAPH_LINK_PREDICT_COMMON_NEIGHBORS_SQL = f"""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
), sym AS (
  SELECT u, v FROM e UNION ALL SELECT v, u FROM e
), deg AS (
  SELECT u, count(*) AS deg FROM sym GROUP BY u
), seeds AS (
  SELECT u AS seed FROM deg ORDER BY deg DESC, u LIMIT {_LP_SEEDS}
), hop1 AS (
  SELECT s.seed, sym.v AS mid FROM sym JOIN seeds s ON sym.u = s.seed
), wedges AS (
  SELECT h.seed, sym.v AS cand
  FROM hop1 h JOIN sym ON sym.u = h.mid
  WHERE sym.v <> h.seed
), non_adj AS (
  SELECT w.seed, w.cand
  FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM sym
                    WHERE sym.u = w.seed AND sym.v = w.cand)
), scored AS (
  SELECT seed, cand, CAST(count(*) AS BIGINT) AS common_neighbors
  FROM non_adj GROUP BY seed, cand
), ranked AS (
  SELECT seed, cand, common_neighbors,
         row_number() OVER (PARTITION BY seed
                            ORDER BY common_neighbors DESC, cand) AS rnk
  FROM scored
)
SELECT CAST(seed AS BIGINT) AS seed, CAST(cand AS BIGINT) AS cand,
       common_neighbors, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_LP_TOPK}
"""


# --- recency halflife sampling --------------------------------------------------------

_DECAY_ANCHOR = "2024-02-01"
_HALFLIFE_DAYS = 7


def sample_recency_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep an event with probability exactly 2^-(age_days div 7):
    the md5-uniform draw in [0, 2^20) must fall under 2^20 >> k.
    Stateless, engine-portable, pure scan filter."""
    ev = load_table(spark, sf_dir, "events")
    kept = F.expr(
        "cast(conv(substring(md5(cast(event_id as string)), 1, 5), 16, 10)"
        " as bigint)"
        f" < shiftright(1048576, cast(datediff(DATE'{_DECAY_ANCHOR}',"
        f" to_date(ts)) div {_HALFLIFE_DAYS} as int))"
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(kept, cents).otherwise(0)).cast("long").alias("kept_cents"),
    )


SAMPLE_RECENCY_HALFLIFE_SQL = f"""
WITH scored AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 5))
              AS BIGINT)
           < (1048576 >> (date_diff('day', CAST(ts AS DATE),
                                    DATE '{_DECAY_ANCHOR}')
                          // {_HALFLIFE_DAYS})) AS kept
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN kept THEN cents ELSE 0 END) AS BIGINT)
         AS kept_cents
FROM scored GROUP BY event_type
"""


# --- 4-4-5 retail calendar ------------------------------------------------------------

_RETAIL_ANCHOR = "1994-12-26"  # the Monday on/before the first order date


def date_calendar_445_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders rolled up on the 4-4-5 retail calendar: 52-week fiscal
    years from a pinned Monday anchor, 13-week quarters split into
    4+4+5-week periods."""
    o = load_table(spark, sf_dir, "orders")
    weeks = F.expr(
        f"datediff(to_date(o_orderdate), DATE'{_RETAIL_ANCHOR}') div 7"
    )
    staged = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        weeks.alias("wk"),
    ).select(
        "cents",
        F.expr("wk div 52").cast("long").alias("fiscal_year"),
        F.expr("wk % 52").alias("wiy"),
    )
    period = (
        F.expr("wiy div 13") * 3
        + F.when(F.expr("wiy % 13") < 4, 0)
        .when(F.expr("wiy % 13") < 8, 1)
        .otherwise(2)
        + 1
    )
    return staged.select(
        "fiscal_year", period.cast("long").alias("period"), "cents"
    ).groupBy("fiscal_year", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


DATE_CALENDAR_445_ROLLUP_SQL = f"""
WITH staged AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         date_diff('day', DATE '{_RETAIL_ANCHOR}', CAST(o_orderdate AS DATE))
           // 7 AS wk
  FROM orders
), labeled AS (
  SELECT cents, CAST(wk // 52 AS BIGINT) AS fiscal_year,
         (wk % 52) // 13 * 3
         + CASE WHEN wk % 52 % 13 < 4 THEN 0
                WHEN wk % 52 % 13 < 8 THEN 1 ELSE 2 END
         + 1 AS period
  FROM staged
)
SELECT fiscal_year, CAST(period AS BIGINT) AS period,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM labeled GROUP BY fiscal_year, period
"""


QUERIES: dict[str, QuerySpec] = {
    "multimodal_image_tile_means": QuerySpec(
        multimodal_image_tile_means, MULTIMODAL_IMAGE_TILE_MEANS_SQL
    ),
    "text_vocab_lcp_compression": QuerySpec(
        text_vocab_lcp_compression, TEXT_VOCAB_LCP_COMPRESSION_SQL
    ),
    "graph_link_predict_common_neighbors": QuerySpec(
        graph_link_predict_common_neighbors,
        GRAPH_LINK_PREDICT_COMMON_NEIGHBORS_SQL,
    ),
    "sample_recency_halflife": QuerySpec(
        sample_recency_halflife, SAMPLE_RECENCY_HALFLIFE_SQL
    ),
    "date_calendar_445_rollup": QuerySpec(
        date_calendar_445_rollup, DATE_CALENDAR_445_ROLLUP_SQL
    ),
}
