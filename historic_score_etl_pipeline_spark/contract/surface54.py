"""Round-6 batch 61 — DISTINCT aggregates, rendezvous hashing,
truncated-embedding retrieval, confidence-bound ranking, and a fully
oracled image perceptual hash:

* ``agg_sum_distinct`` — sum/count/avg over DISTINCT values per group
  (the Expand-based distinct-aggregate plan).
* ``sample_rendezvous_hash`` — HRW (highest-random-weight) assignment
  of documents to 5 nodes: argmax of md5(doc|node); the law that a
  removed node strands ONLY its own keys is what makes this the
  consistent-assignment primitive (test-asserted).
* ``embed_prefix_topk_overlap`` — Matryoshka-style truncation probe:
  per query vector, top-5 neighbors by 16-dim-prefix integer dot vs
  by the full 64-dim dot, and their overlap — the quality/cost
  trade-off readout for dimension-truncated ANN.
* ``event_error_rate_wilson`` — per-type high-value rate with the
  Wilson 95% lower bound (the sort-by-lower-bound ranking pattern);
  both engines evaluate the IDENTICAL double expression tree
  (division/multiplication/sqrt are IEEE correctly rounded, so the
  doubles agree bit-for-bit) and the result is micro-fixpointed.
* ``multimodal_image_ahash`` — perceptual average-hash over REAL
  decoded BMPs (render → encode → decode → integer aHash in
  one ``doc_rows`` pass); the DuckDB oracle replays the pixels
  arithmetically from the text bytes (render_text_bmp cycles utf-8
  bytes through the grid), so a mangled header/padding/row-order
  anywhere in the codec path breaks the hash — decode is END-TO-END
  oracle-checked, not just dimension-checked.

Scale notes: distinct-agg is one Expand; HRW is scan-side (5 struct
maxes per row); the truncation probe broadcasts 10 query vectors;
Wilson is a 5-row aggregate; aHash is Arrow-batched numpy per
partition, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.multimodal import image_ahash
from historic_score_etl_pipeline_spark.sources.catalog import load_table
from historic_score_etl_pipeline_spark.operators.similarity import (
    micro_units,
    valid_vectors,
)

# --- DISTINCT aggregates -----------------------------------------------------------


def agg_sum_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum/count/avg over DISTINCT quantities per return flag."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    )
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("qty").cast("long").alias("n_distinct_qty"),
        F.sum_distinct(F.col("qty")).cast("long").alias("sum_distinct_qty"),
        F.expr("sum(DISTINCT qty) * 1000 div count(DISTINCT qty)")
        .cast("long")
        .alias("avg_distinct_milli"),
    )


AGG_SUM_DISTINCT_SQL = """
SELECT l_returnflag,
       CAST(count(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT)
         AS n_distinct_qty,
       CAST(sum(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT)
         AS sum_distinct_qty,
       CAST(sum(DISTINCT CAST(l_quantity AS BIGINT)) * 1000
            // count(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT)
         AS avg_distinct_milli
FROM lineitem GROUP BY l_returnflag
"""


# --- rendezvous (HRW) hashing ------------------------------------------------------

_HRW_NODES = ("n0", "n1", "n2", "n3", "n4")


def sample_rendezvous_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each doc to argmax_node md5(doc_id|node) — HRW: removing
    a node reassigns only that node's docs (law-checked in tests)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = F.array(
        *[
            F.struct(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("doc_id").cast("string"),
                                F.lit("|"),
                                F.lit(n),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias("s"),
                F.lit(n).alias("n"),
            )
            for n in _HRW_NODES
        ]
    )
    best = F.array_max(scored)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        best["n"].alias("node"),
        best["s"].alias("score"),
    )


SAMPLE_RENDEZVOUS_HASH_SQL = """
WITH scored AS (
  SELECT doc_id, t.node AS node,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || t.node),
                              1, 15)) AS BIGINT) AS score
  FROM documents, unnest(['n0', 'n1', 'n2', 'n3', 'n4']) AS t(node)
), ranked AS (
  SELECT doc_id, node, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, node DESC) AS rn
  FROM scored
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, node, score
FROM ranked WHERE rn = 1
"""


# --- truncated-embedding top-k overlap ----------------------------------------------

_PFX_DIMS = 16
_PFX_K = 5
_PFX_NQ = 10


def embed_prefix_topk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query (vec_id < 10): top-5 corpus neighbors by 16-dim-prefix
    integer dot vs full 64-dim dot, and the overlap size."""
    emb = valid_vectors(load_table(spark, sf_dir, "embeddings"))
    fx = micro_units("embedding")
    q = emb.where(F.col("vec_id") < _PFX_NQ).select(
        F.col("vec_id").alias("q_id"), fx.alias("qv")
    )
    c = emb.where(F.col("vec_id") >= _PFX_NQ).select(
        F.col("vec_id").alias("c_id"), fx.alias("cv")
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = c.crossJoin(F.broadcast(q)).select(
        "q_id",
        "c_id",
        dot(F.col("qv"), F.col("cv")).alias("d_full"),
        dot(
            F.slice(F.col("qv"), 1, _PFX_DIMS), F.slice(F.col("cv"), 1, _PFX_DIMS)
        ).alias("d_pfx"),
    )
    wf = Window.partitionBy("q_id").orderBy(F.col("d_full").desc(), "c_id")
    wp = Window.partitionBy("q_id").orderBy(F.col("d_pfx").desc(), "c_id")
    ranked = pairs.select(
        "q_id",
        "c_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wp).alias("rp"),
    ).where((F.col("rf") <= _PFX_K) | (F.col("rp") <= _PFX_K))
    return ranked.groupBy(F.col("q_id").cast("long").alias("q_id")).agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rf") <= _PFX_K, F.col("c_id"))
                    )
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("top5_full"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rp") <= _PFX_K, F.col("c_id"))
                    )
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("top5_prefix"),
        F.sum(
            F.when((F.col("rf") <= _PFX_K) & (F.col("rp") <= _PFX_K), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_overlap"),
    )


EMBED_PREFIX_TOPK_OVERLAP_SQL = f"""
WITH fx AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS v
  FROM embeddings
  -- quarantine gate: malformed vectors excluded (similarity.py)
  WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
), pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         list_sum(list_transform(q.v, (x, i) -> x * c.v[i])) AS d_full,
         list_sum(list_transform(q.v[1:{_PFX_DIMS}],
                                 (x, i) -> x * c.v[i])) AS d_pfx
  FROM fx q JOIN fx c
    ON q.vec_id < {_PFX_NQ} AND c.vec_id >= {_PFX_NQ}
), ranked AS (
  SELECT q_id, c_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY d_full DESC, c_id) AS rf,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY d_pfx DESC, c_id) AS rp
  FROM pairs
)
SELECT CAST(q_id AS BIGINT) AS q_id,
       array_to_string(list_transform(
         list_sort(list(c_id) FILTER (rf <= {_PFX_K})),
         x -> CAST(x AS VARCHAR)), ',') AS top5_full,
       array_to_string(list_transform(
         list_sort(list(c_id) FILTER (rp <= {_PFX_K})),
         x -> CAST(x AS VARCHAR)), ',') AS top5_prefix,
       CAST(sum(CASE WHEN rf <= {_PFX_K} AND rp <= {_PFX_K}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
FROM ranked WHERE rf <= {_PFX_K} OR rp <= {_PFX_K}
GROUP BY q_id
"""


# --- Wilson lower-bound ranking ----------------------------------------------------

_WILSON_THRESH = 75.0


def event_error_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type rate of high-value events with the Wilson 95% lower
    bound, micro-fixpointed — identical double expression both engines."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("value") >= _WILSON_THRESH, 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    # lb = (p + z²/2n − z·sqrt((p(1−p) + z²/4n)/n)) / (1 + z²/n);
    # spelled IDENTICALLY in the oracle so the IEEE doubles agree
    nd = F.col("n").cast("double")
    p = F.col("x").cast("double") / nd
    z = F.lit(1.96)
    z2 = F.lit(3.8416)
    lb = (
        p
        + z2 / (2.0 * nd)
        - z * F.sqrt((p * (1.0 - p) + z2 / (4.0 * nd)) / nd)
    ) / (1.0 + z2 / nd)
    return agg.select(
        "event_type",
        "n",
        "x",
        F.floor(lb * 1e6 + F.lit(0.5)).cast("long").alias("wilson_lb_ppm"),
    )


EVENT_ERROR_RATE_WILSON_SQL = f"""
WITH agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN value >= {_WILSON_THRESH} THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT event_type, n, x,
       CAST(floor(
         ((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
          + 3.8416 / (2.0 * CAST(n AS DOUBLE))
          - 1.96 * sqrt(((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                         * (1.0 - (CAST(x AS DOUBLE) / CAST(n AS DOUBLE)))
                         + 3.8416 / (4.0 * CAST(n AS DOUBLE)))
                        / CAST(n AS DOUBLE)))
         / (1.0 + 3.8416 / CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         AS wilson_lb_ppm
FROM agg
"""


# --- oracled image perceptual hash -------------------------------------------------


def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BMP encode→decode→integer aHash (operators/multimodal.py);
    the oracle replays pixels arithmetically from the text bytes."""
    from historic_score_etl_pipeline_spark.operators.multimodal import (
        single_byte_docs,
    )

    return image_ahash(
        single_byte_docs(load_table(spark, sf_dir, "documents"))
    )


MULTIMODAL_IMAGE_AHASH_SQL = """
WITH dims AS (
  SELECT doc_id, text,
         strlen(text) AS nb,
         strlen(text) % 24 + 8 AS w,
         strlen(text) % 16 + 8 AS h
  FROM documents
  WHERE strlen(text) = length(text)
), px AS (
  SELECT doc_id, w, h, t.j AS j,
         ((t.j // w) * 8) // h AS br,
         ((t.j % w) * 8) // w AS bc,
         CASE WHEN nb = 0 THEN 0 ELSE
           (ascii(substr(text, ((3 * t.j) % nb) + 1, 1))
            + ascii(substr(text, ((3 * t.j + 1) % nb) + 1, 1))
            + ascii(substr(text, ((3 * t.j + 2) % nb) + 1, 1))) // 3 END
           AS gray
  FROM dims, unnest(generate_series(0, w * h - 1)) AS t(j)
), cells AS (
  SELECT doc_id, any_value(w) AS w, any_value(h) AS h, br, bc,
         sum(gray) // count(*) AS cell
  FROM px GROUP BY doc_id, br, bc
), gm AS (
  SELECT doc_id, sum(cell) // 64 AS gmean
  FROM cells GROUP BY doc_id
), bits AS (
  SELECT c.doc_id, c.w, c.h, c.br * 8 + c.bc AS i,
         CASE WHEN c.cell > g.gmean THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN gm g ON c.doc_id = g.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(any_value(w) AS BIGINT) AS width,
       CAST(any_value(h) AS BIGINT) AS height,
       CAST(sum(CASE WHEN bit = 1 AND i >= 32
                     THEN (1::BIGINT << (i - 32)) ELSE 0 END) AS BIGINT)
         AS ahash_hi,
       CAST(sum(CASE WHEN bit = 1 AND i < 32
                     THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT)
         AS ahash_lo,
       CAST(sum(bit) AS BIGINT) AS n_ones
FROM bits GROUP BY doc_id
"""


QUERIES: dict[str, QuerySpec] = {
    "agg_sum_distinct": QuerySpec(agg_sum_distinct, AGG_SUM_DISTINCT_SQL),
    "sample_rendezvous_hash": QuerySpec(
        sample_rendezvous_hash, SAMPLE_RENDEZVOUS_HASH_SQL
    ),
    "embed_prefix_topk_overlap": QuerySpec(
        embed_prefix_topk_overlap, EMBED_PREFIX_TOPK_OVERLAP_SQL
    ),
    "event_error_rate_wilson": QuerySpec(
        event_error_rate_wilson, EVENT_ERROR_RATE_WILSON_SQL
    ),
    "multimodal_image_ahash": QuerySpec(
        multimodal_image_ahash, MULTIMODAL_IMAGE_AHASH_SQL
    ),
}
