"""Round-6 batch 45 — higher-order-function, map, and graph-shape
staples:

* ``hof_reduce_weighted`` — one ``aggregate`` pass with a STRUCT
  accumulator (Σfix, Σfix²) plus an index-lambda ``transform`` for the
  position-weighted sum — the three classic folds over an embedding in
  exact integer micro-units, no UDF, no explode.
* ``map_group_entries`` — the MapType surface: per-user event-type
  counts assembled with ``map_from_entries`` over a SORTED entry list,
  probed with ``try_element_at`` (ANSI-safe missing-key lookup) and
  rendered deterministically from ``map_entries``.
* ``array_setops_sorted`` — array_union / array_intersect /
  array_except over the distinct token sets of each document's two
  halves, sizes plus the sorted-CSV intersection.
* ``window_ratio_to_report`` — the BI ratio-to-report idiom: each line
  item's exact ppm share of its order total, ranked inside the order
  (one window partition, total-order tiebreak).
* ``graph_degree_distribution`` — log2-bucketed degree histogram of
  the co-order part graph; the bucket is ``length(bin(deg)) − 1`` —
  INTEGER bit-length, not a libm log2 (log2(2^k) rounding down a ulp
  would misbucket exact powers of two).

Scale notes: the HOF/array queries are scan-side per-row folds (zero
shuffles); map assembly and ratio-to-report shuffle once on their
group key; the degree histogram reuses the triangle query's edge
builder (distinct co-order pairs — an equi-join, never parts×parts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.graph import co_order_edges
from historic_score_etl_pipeline_spark.sources.catalog import load_table
from historic_score_etl_pipeline_spark.operators.similarity import (
    micro_unit,
    micro_units,
    valid_vectors,
)

# --- struct-accumulator fold over embeddings --------------------------------------


def hof_reduce_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Σ(i+1)·fix(xᵢ), Σfix(xᵢ), Σfix(xᵢ)² over each embedding where
    fix(x) = floor(x·1e6 + 0.5): the weighted sum uses transform's
    (element, index) lambda, the other two ride ONE aggregate with a
    struct accumulator."""
    emb = valid_vectors(load_table(spark, sf_dir, "embeddings"))
    fx = micro_units("embedding")
    wterm = F.transform(
        "embedding",
        lambda x, i: (i.cast("long") + 1) * micro_unit(x),
    )
    zero = F.struct(
        F.lit(0).cast("long").alias("s"), F.lit(0).cast("long").alias("q")
    )
    folded = F.aggregate(
        fx,
        zero,
        lambda acc, x: F.struct(
            (acc["s"] + x).alias("s"), (acc["q"] + x * x).alias("q")
        ),
    )
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.size("embedding").cast("long").alias("n_dims"),
        F.aggregate(wterm, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "wsum_fp"
        ),
        folded["s"].alias("sum_fp"),
        folded["q"].alias("sumsq_fp"),
    )


HOF_REDUCE_WEIGHTED_SQL = """
WITH fx AS (
  SELECT vec_id,
         len(embedding) AS n_dims,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS f
  FROM embeddings
  -- quarantine gate: malformed vectors excluded (similarity.py)
  WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(n_dims AS BIGINT) AS n_dims,
       CAST(list_sum(list_transform(f, (x, i) -> CAST(i AS BIGINT) * x))
            AS BIGINT) AS wsum_fp,
       CAST(list_sum(f) AS BIGINT) AS sum_fp,
       CAST(list_sum(list_transform(f, x -> x * x)) AS BIGINT) AS sumsq_fp
FROM fx
"""


# --- MapType assembly + lookup ----------------------------------------------------


def map_group_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type count MAP: entries sorted before
    map_from_entries (map column order is otherwise unspecified),
    looked up with try_element_at, rendered from map_entries."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
    )
    ct = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    m = F.map_from_entries(
        F.array_sort(F.collect_list(F.struct("event_type", "c")))
    )
    agg = ct.groupBy("user_id").agg(m.alias("m"))
    rendered = F.concat_ws(
        ",",
        F.transform(
            F.map_entries("m"),
            lambda e: F.concat(e["key"], F.lit(":"), e["value"].cast("string")),
        ),
    )
    return agg.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.size("m").cast("long").alias("n_types"),
        F.coalesce(F.try_element_at("m", F.lit("click")), F.lit(0))
        .cast("long")
        .alias("n_clicks"),
        rendered.alias("type_counts"),
    )


MAP_GROUP_ENTRIES_SQL = """
WITH ct AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type IS NOT NULL
  GROUP BY user_id, event_type
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN c END), 0)
            AS BIGINT) AS n_clicks,
       string_agg(event_type || ':' || CAST(c AS VARCHAR), ','
                  ORDER BY event_type) AS type_counts
FROM ct GROUP BY user_id
"""


# --- array set operations ----------------------------------------------------------


def array_setops_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra over the distinct token sets of each document's two
    halves: union/intersection/difference sizes plus the sorted
    intersection CSV (deterministic regardless of array_intersect's
    internal ordering)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    n = F.size(toks)
    a = F.array_distinct(F.slice(toks, 1, n / 2))
    b = F.array_distinct(
        F.slice(toks, (n / 2).cast("int") + 1, n - (n / 2).cast("int"))
    )
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        a.alias("a"),
        b.alias("b"),
    )
    return base.select(
        "doc_id",
        F.size(F.array_union("a", "b")).cast("long").alias("n_union"),
        F.size(F.array_intersect("a", "b")).cast("long").alias("n_intersect"),
        F.size(F.array_except("a", "b")).cast("long").alias("n_only_first"),
        F.concat_ws(",", F.array_sort(F.array_intersect("a", "b"))).alias(
            "shared_csv"
        ),
    )


ARRAY_SETOPS_SORTED_SQL = """
WITH t AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
), halves AS (
  SELECT doc_id,
         list_distinct(ws[1 : len(ws) // 2]) AS a,
         list_distinct(ws[len(ws) // 2 + 1 : len(ws)]) AS b
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(list_distinct(list_concat(a, b))) AS BIGINT) AS n_union,
       CAST(len(list_filter(a, x -> list_contains(b, x))) AS BIGINT)
         AS n_intersect,
       CAST(len(list_filter(a, x -> NOT list_contains(b, x))) AS BIGINT)
         AS n_only_first,
       coalesce(array_to_string(
         list_sort(list_filter(a, x -> list_contains(b, x))), ','), '')
         AS shared_csv
FROM halves
"""


# --- ratio to report ---------------------------------------------------------------


def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each line's exact ppm share of its order total + rank within the
    order (share desc, linenumber tiebreak) — one window partition."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    base = li.select(
        "l_orderkey", "l_linenumber", cents.alias("cents")
    )
    wr = Window.partitionBy("l_orderkey").orderBy(
        F.col("share_ppm").desc(), F.col("l_linenumber").asc()
    )
    # the rank window rides the same l_orderkey partitioning as the
    # share window — one exchange feeds both Window execs
    shared = base.select(
        "l_orderkey",
        "l_linenumber",
        "cents",
        F.expr("(cents * 1000000) div (sum(cents) OVER "
               "(PARTITION BY l_orderkey))").cast("long").alias("share_ppm"),
    )
    return shared.select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        "cents",
        "share_ppm",
        F.row_number().over(wr).cast("long").alias("rnk"),
    )


WINDOW_RATIO_TO_REPORT_SQL = """
WITH base AS (
  SELECT l_orderkey, l_linenumber,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
), shared AS (
  SELECT l_orderkey, l_linenumber, cents,
         CAST((cents * 1000000)
              // sum(cents) OVER (PARTITION BY l_orderkey) AS BIGINT)
           AS share_ppm
  FROM base
)
SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       cents, share_ppm,
       CAST(row_number() OVER (PARTITION BY l_orderkey
                               ORDER BY share_ppm DESC, l_linenumber)
            AS BIGINT) AS rnk
FROM shared
"""


# --- degree distribution -------------------------------------------------------------


def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree histogram of the co-order part graph
    (same edge builder as graph_triangle_count).  Bucket =
    bit_length(deg) − 1 via length(bin(deg)) — integer arithmetic, no
    libm log2."""
    edges = co_order_edges(load_table(spark, sf_dir, "lineitem"))
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    bucket = (F.length(F.bin(F.col("deg"))) - 1).cast("long")
    return deg.groupBy(bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("deg").cast("long").alias("min_deg"),
        F.max("deg").cast("long").alias("max_deg"),
    )


GRAPH_DEGREE_DISTRIBUTION_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
  GROUP BY node
)
SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS log2_bucket,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(deg) AS BIGINT) AS min_deg,
       CAST(max(deg) AS BIGINT) AS max_deg
FROM deg GROUP BY 1
"""


QUERIES: dict[str, QuerySpec] = {
    "hof_reduce_weighted": QuerySpec(
        hof_reduce_weighted, HOF_REDUCE_WEIGHTED_SQL
    ),
    "map_group_entries": QuerySpec(map_group_entries, MAP_GROUP_ENTRIES_SQL),
    "array_setops_sorted": QuerySpec(
        array_setops_sorted, ARRAY_SETOPS_SORTED_SQL
    ),
    "window_ratio_to_report": QuerySpec(
        window_ratio_to_report, WINDOW_RATIO_TO_REPORT_SQL
    ),
    "graph_degree_distribution": QuerySpec(
        graph_degree_distribution, GRAPH_DEGREE_DISTRIBUTION_SQL
    ),
}
