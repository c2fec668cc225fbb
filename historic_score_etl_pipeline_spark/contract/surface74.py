"""Round-6 batch 81 — linear gap-fill interpolation, SQL session
variables, per-node clustering coefficient, WAPE forecast error, image
symmetry score:

* ``window_gap_fill_interpolate`` — LINEAR interpolation over a dropout
  series (every 3rd day knocked out deterministically, then
  reconstructed): per (event_type, day) the exact rational
  v_prev·(d₂−d) + v_next·(d−d₁) over (d₂−d₁), emitted as integer
  (num, den, floor) — the time-series repair LOCF (``date_spine_gapfill``)
  can't do.  Two fill windows (backward + forward), one shuffle.
* ``sql_declare_variables`` — Spark 4 SQL session variables: DECLARE
  VARIABLE + SET VAR feeding a threshold into a query — the
  engine-surface twin of driver-interpolated constants (the
  EXECUTE IMMEDIATE sibling).
* ``graph_clustering_coeff_topk`` — per-node clustering coefficient
  2·tri(v) / deg(v)·(deg(v)−1) on the bounded co-order parts subgraph
  (partkey < 400), ordered by the ppm-fixpointed coefficient; the
  production-scale path for the global count is the edge-iterator in
  operators/graph.py:200 — this query adds the per-node attribution.
* ``event_wape_forecast_error`` — forecast EVALUATION for the dow-naive
  model (``event_forecast_dow_naive``): WAPE = Σ|aₜ − aₜ₋₇| / Σaₜ per
  event type over the scored horizon, exact integers + ppm fixpoint.
* ``multimodal_image_symmetry_score`` — horizontal mirror-symmetry
  Σ|gray[r,c] − gray[r,w−1−c]| over real decoded BMPs per source; the
  SQL twin replays mirrored pixel pairs from the text bytes.

Scale notes: interpolation joins the knocked-out spine to two
window-filled neighbors — O(|type×day|) aggregate rows; variables and
WAPE are plain grouped plans; the clustering triple-join runs on a
DOCUMENTED bounded subgraph (the contract demonstrates attribution —
operators/graph.py owns the O(m^1.5) full-graph path); symmetry is one
``doc_rows`` pass, |sources|-row output.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.graph import co_order_edges
from historic_score_etl_pipeline_spark.operators.multimodal import (
    doc_rows,
    gray,
    rendered_image,
    single_byte_docs,
)
from historic_score_etl_pipeline_spark.operators.pins import pin
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- linear gap-fill interpolation ------------------------------------------------------


def window_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knock out every 3rd epoch-day of the per-(type, day) count
    series, then linearly interpolate the holes from the surviving
    neighbors — exact rational (num, den) plus the floored value."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("dn"),
        )
        .groupBy("event_type", "dn")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    spine = (
        daily.groupBy("event_type")
        .agg(F.min("dn").alias("lo"), F.max("dn").alias("hi"))
        .select(
            "event_type", F.explode(F.sequence("lo", "hi")).alias("dn")
        )
    )
    observed = daily.where(F.col("dn") % 3 != 0)
    g = spine.join(
        observed.select("event_type", "dn", F.col("n").alias("obs")),
        ["event_type", "dn"],
        "left",
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("dn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("dn")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last("obs", ignorenulls=True).over(wb)
    prev_d = F.last(
        F.when(F.col("obs").isNotNull(), F.col("dn")), ignorenulls=True
    ).over(wb)
    next_v = F.first("obs", ignorenulls=True).over(wf)
    next_d = F.first(
        F.when(F.col("obs").isNotNull(), F.col("dn")), ignorenulls=True
    ).over(wf)
    filled = g.select(
        "event_type",
        "dn",
        "obs",
        prev_v.alias("pv"),
        prev_d.alias("pd"),
        next_v.alias("nv"),
        next_d.alias("nd"),
    )
    num = F.col("pv") * (F.col("nd") - F.col("dn")) + F.col("nv") * (
        F.col("dn") - F.col("pd")
    )
    den = F.col("nd") - F.col("pd")
    return filled.select(
        "event_type",
        F.col("dn").cast("long").alias("dn"),
        F.when(F.col("obs").isNotNull(), F.lit("observed"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.lit("interpolated"),
        )
        .otherwise(F.lit("edge_hole"))
        .alias("kind"),
        F.coalesce(F.col("obs"), F.when(den > 0, num)).cast("long").alias(
            "value_num"
        ),
        F.coalesce(
            F.when(F.col("obs").isNotNull(), F.lit(1)),
            F.when(den > 0, den),
        )
        .cast("long")
        .alias("value_den"),
    ).select(
        "event_type",
        "dn",
        "kind",
        "value_num",
        "value_den",
        F.expr("value_num div value_den").cast("long").alias("value_floor"),
    )


WINDOW_GAP_FILL_INTERPOLATE_SQL = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT event_type, unnest(generate_series(min(dn), max(dn))) AS dn
  FROM daily GROUP BY event_type
), observed AS (
  SELECT event_type, dn, n AS obs FROM daily WHERE dn % 3 <> 0
), g AS (
  SELECT s.event_type, s.dn, o.obs
  FROM spine s LEFT JOIN observed o
    ON s.event_type = o.event_type AND s.dn = o.dn
), filled AS (
  SELECT event_type, dn, obs,
         last_value(obs IGNORE NULLS) OVER
           (PARTITION BY event_type ORDER BY dn
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN obs IS NOT NULL THEN dn END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY dn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         first_value(obs IGNORE NULLS) OVER
           (PARTITION BY event_type ORDER BY dn
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN obs IS NOT NULL THEN dn END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY dn
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM g
)
SELECT event_type, CAST(dn AS BIGINT) AS dn,
       CASE WHEN obs IS NOT NULL THEN 'observed'
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interpolated'
            ELSE 'edge_hole' END AS kind,
       CAST(coalesce(obs,
              CASE WHEN nd - pd > 0
                   THEN pv * (nd - dn) + nv * (dn - pd) END) AS BIGINT)
         AS value_num,
       CAST(coalesce(CASE WHEN obs IS NOT NULL THEN 1 END,
              CASE WHEN nd - pd > 0 THEN nd - pd END) AS BIGINT)
         AS value_den,
       CAST(coalesce(obs,
              CASE WHEN nd - pd > 0
                   THEN (pv * (nd - dn) + nv * (dn - pd)) // (nd - pd)
              END) AS BIGINT) AS value_floor
FROM filled
"""


# --- SQL session variables ------------------------------------------------------------------


def sql_declare_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARE VARIABLE + SET VAR: the quantity band threshold and a
    label prefix live in session variables consumed by the query."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "v_var_lineitem"
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE qty_threshold DOUBLE DEFAULT 0.0"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE band_prefix STRING DEFAULT ''")
    spark.sql("SET VAR qty_threshold = 25.0")
    spark.sql("SET VAR band_prefix = 'band_'")
    return spark.sql(
        """
        SELECT l_returnflag,
               concat(band_prefix,
                      CASE WHEN l_quantity >= qty_threshold
                           THEN 'hi' ELSE 'lo' END) AS band,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM v_var_lineitem
        GROUP BY 1, 2
        """
    )


SQL_DECLARE_VARIABLES_SQL = """
SELECT l_returnflag,
       concat('band_', CASE WHEN l_quantity >= 25.0 THEN 'hi' ELSE 'lo' END)
         AS band,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM lineitem GROUP BY 1, 2
"""


# --- per-node clustering coefficient -----------------------------------------------------------

_CLUST_MAXKEY = 400
_CLUST_TOPK = 20


def graph_clustering_coeff_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node clustering coefficient on the bounded co-order parts
    subgraph (partkey < 400): coeff = 2·tri / deg·(deg−1), fixpointed to
    ppm; top-20 by (coeff, partkey).  The full-graph scale path is the
    edge-iterator (operators/graph.py:200) — this adds per-node
    attribution on a documented bounded slice."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") < _CLUST_MAXKEY
    )
    pairs = co_order_edges(li)
    pairs = pin(pairs)
    deg = (
        pairs.select(F.col("u").alias("x"))
        .unionByName(pairs.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    # triangles on a<b<c ordered edges: (a,b) ⋈ (b,c) ⋈ (a,c)
    e1 = pairs.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = pairs.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = pairs.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    tri_n = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("x"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("tri"))
    )
    out = deg.join(tri_n, "x", "left").select(
        F.col("x").alias("partkey"),
        "deg",
        F.coalesce("tri", F.lit(0)).cast("long").alias("tri"),
        F.when(
            F.col("deg") >= 2,
            F.expr(
                "CAST((2 * coalesce(tri, 0) * 1000000)"
                " div (deg * (deg - 1)) AS BIGINT)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("coeff_ppm"),
    )
    return out.orderBy(
        F.desc("coeff_ppm"), F.desc("tri"), F.asc("partkey")
    ).limit(_CLUST_TOPK)


GRAPH_CLUSTERING_COEFF_TOPK_SQL = f"""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem
  WHERE l_partkey < {_CLUST_MAXKEY}
), pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
), deg AS (
  SELECT x, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT u AS x FROM pairs UNION ALL SELECT v AS x FROM pairs
  ) GROUP BY x
), tri AS (
  SELECT e1.a, e1.b, e2.c
  FROM pairs e1(a, b)
  JOIN pairs e2(b2, c) ON e1.b = e2.b2
  JOIN pairs e3(a3, c3) ON e1.a = e3.a3 AND e2.c = e3.c3
), tri_n AS (
  SELECT x, CAST(count(*) AS BIGINT) AS tri FROM (
    SELECT a AS x FROM tri UNION ALL SELECT b AS x FROM tri
    UNION ALL SELECT c AS x FROM tri
  ) GROUP BY x
)
SELECT CAST(deg.x AS BIGINT) AS partkey, deg.deg,
       CAST(coalesce(tri_n.tri, 0) AS BIGINT) AS tri,
       CAST(CASE WHEN deg.deg >= 2
                 THEN (2 * coalesce(tri_n.tri, 0) * 1000000)
                      // (deg.deg * (deg.deg - 1))
                 ELSE 0 END AS BIGINT) AS coeff_ppm
FROM deg LEFT JOIN tri_n ON deg.x = tri_n.x
ORDER BY coeff_ppm DESC, tri DESC, partkey ASC LIMIT {_CLUST_TOPK}
"""


# --- WAPE forecast error -------------------------------------------------------------------------


def event_wape_forecast_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAPE of the dow-naive forecast (aₜ̂ = aₜ₋₇): per event type,
    Σ|aₜ − aₜ₋₇| and Σaₜ over the scored days, plus the ppm fixpoint."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("dn"),
        )
        .groupBy("event_type", "dn")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("dn")
    scored = daily.withColumn("f", F.lag("n", 7).over(w)).where(
        F.col("f").isNotNull()
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days_scored"),
        F.sum(F.abs(F.col("n") - F.col("f"))).cast("long").alias("abs_err"),
        F.sum("n").cast("long").alias("actual_total"),
        F.expr(
            "CAST((sum(abs(n - f)) * 1000000) div sum(n) AS BIGINT)"
        ).alias("wape_ppm"),
    )


EVENT_WAPE_FORECAST_ERROR_SQL = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, n,
         lag(n, 7) OVER (PARTITION BY event_type ORDER BY dn) AS f
  FROM daily
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_days_scored,
       CAST(sum(abs(n - f)) AS BIGINT) AS abs_err,
       CAST(sum(n) AS BIGINT) AS actual_total,
       CAST((sum(abs(n - f)) * 1000000) // sum(n) AS BIGINT) AS wape_ppm
FROM scored WHERE f IS NOT NULL GROUP BY event_type
"""


# --- image mirror-symmetry score -------------------------------------------------------------------


def multimodal_image_symmetry_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: Σ|gray[r,c] − gray[r,w−1−c]| over the left half of
    each decoded BMP — 0 means perfectly mirror-symmetric."""

    def asymmetry(text):
        g = gray(rendered_image(text))
        h, w = g.shape
        half = w // 2
        mirrored = g[:, w - half :][:, ::-1]
        return [(1, int(np.abs(g[:, :half] - mirrored).sum()), h * half)]

    docs = single_byte_docs(load_table(spark, sf_dir, "documents"))
    schema = "source string, n_images long, asym_sum long, n_pairs long"
    return doc_rows(docs, "source", asymmetry, schema).groupBy("source").agg(
        F.sum("n_images").cast("long").alias("n_images"),
        F.sum("asym_sum").cast("long").alias("asym_sum"),
        F.sum("n_pairs").cast("long").alias("n_pairs"),
    )


# mirrored-pixel replay: p = r·w + c and its mirror r·w + (w−1−c) over
# the left half (c < w div 2); gray() per multimodal.py:165-180
_SYM_GRAY = (
    "((ascii(substr(text, ((3 * ({p})) % nb) + 1, 1))"
    " + ascii(substr(text, ((3 * ({p}) + 1) % nb) + 1, 1))"
    " + ascii(substr(text, ((3 * ({p}) + 2) % nb) + 1, 1))) // 3)"
)

MULTIMODAL_IMAGE_SYMMETRY_SCORE_SQL = f"""
WITH dims AS (
  SELECT doc_id, source, text,
         strlen(text) AS nb,
         strlen(text) % 24 + 8 AS w,
         strlen(text) % 16 + 8 AS h
  FROM documents
  WHERE strlen(text) = length(text)
), px AS (
  SELECT doc_id, source,
         CASE WHEN nb = 0 THEN 0
              ELSE abs(
                {_SYM_GRAY.format(p='(t.r * w + t_c.c)')}
                - {_SYM_GRAY.format(p='(t.r * w + (w - 1 - t_c.c))')})
         END AS d
  FROM dims,
       unnest(generate_series(0, h - 1)) AS t(r),
       unnest(generate_series(0, (w // 2) - 1)) AS t_c(c)
)
SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_images,
       CAST(sum(d) AS BIGINT) AS asym_sum,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM px GROUP BY source
"""


QUERIES: dict[str, QuerySpec] = {
    "window_gap_fill_interpolate": QuerySpec(
        window_gap_fill_interpolate, WINDOW_GAP_FILL_INTERPOLATE_SQL
    ),
    "sql_declare_variables": QuerySpec(
        sql_declare_variables, SQL_DECLARE_VARIABLES_SQL
    ),
    "graph_clustering_coeff_topk": QuerySpec(
        graph_clustering_coeff_topk, GRAPH_CLUSTERING_COEFF_TOPK_SQL
    ),
    "event_wape_forecast_error": QuerySpec(
        event_wape_forecast_error, EVENT_WAPE_FORECAST_ERROR_SQL
    ),
    "multimodal_image_symmetry_score": QuerySpec(
        multimodal_image_symmetry_score, MULTIMODAL_IMAGE_SYMMETRY_SCORE_SQL
    ),
}
