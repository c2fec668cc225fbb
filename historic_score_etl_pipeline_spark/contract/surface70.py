"""Round-6 batch 77 — image edge energy, two-pass k-core, two-step
Markov paths, Simpson's-paradox rate audit, per-nation Lorenz deciles:

* ``multimodal_image_edge_energy`` — first-difference gradient energy
  over real decoded BMPs (the ``render_text_bmp`` fixture family of
  ``multimodal_image_tile_means``): per source, Σ|∂gray/∂x| and
  Σ|∂gray/∂y| in exact integers.  The cheapest edge detector there is —
  and the one whose SQL twin can replay every pixel from the text bytes.
* ``graph_kcore_two_pass`` — two peeling passes of the k-core
  decomposition (k=6) on the bipartite order–part graph: drop nodes
  with degree < k, recompute degrees on the induced subgraph, drop
  again; report (pass, n_nodes, n_edges).  At sf0.01 the second pass
  genuinely cascades (5215 → 5145 nodes).
* ``event_markov_two_step`` — the transition-count matrix SQUARED:
  paths₂(a, c) = Σ_b n(a,b)·n(b,c) from per-user consecutive event
  pairs — the two-step reachability weights, all integer.
* ``agg_simpson_rate_audit`` — Simpson's-paradox audit: return rate of
  low-quantity vs high-quantity lineitems per ship year AND pooled,
  compared WITHOUT division via cross-multiplication
  (sign(a_lo·n_hi − a_hi·n_lo)) so the ordering is exact integer.
* ``agg_lorenz_deciles`` — Lorenz-curve points: per nation, customers
  ntile(10)-bucketed by ascending spend (custkey tiebreak), cumulative
  cents and cumulative share in ppm (integer division).  The curve the
  Gini of ``agg_gini_concentration`` integrates.

Scale notes: edge energy is one ``doc_rows`` pass with map-side
partial sums (6-row output, no pixel shuffle); k-core is equi-joins +
groupBy on the distinct pair table — each pass O(|E|), the three pass
stats are 1-row scalar aggregates (allowlisted class); Markov² joins a
|types|²-row aggregate to itself — tiny; Simpson is one scan + a 7-row
re-aggregate; Lorenz windows partition per nation (the
agg_gini_concentration layout — never a global sort).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.multimodal import (
    doc_rows,
    gray,
    rendered_image,
    single_byte_docs,
)
from historic_score_etl_pipeline_spark.operators.pins import pin
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- image edge energy ------------------------------------------------------------------


def multimodal_image_edge_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: image count and exact integer Σ|horizontal diff| +
    Σ|vertical diff| of the decoded grayscale (gray = (R+G+B) div 3)."""

    def energy(text):
        g = gray(rendered_image(text))
        h = int(np.abs(np.diff(g, axis=1)).sum())
        return [(1, h, int(np.abs(np.diff(g, axis=0)).sum()))]

    docs = single_byte_docs(load_table(spark, sf_dir, "documents"))
    schema = "source string, n_images long, h_energy long, v_energy long"
    return (
        doc_rows(docs, "source", energy, schema)
        .groupBy("source")
        .agg(
            F.sum("n_images").cast("long").alias("n_images"),
            F.sum("h_energy").cast("long").alias("h_energy"),
            F.sum("v_energy").cast("long").alias("v_energy"),
        )
        .withColumn(
            "total_energy",
            (F.col("h_energy") + F.col("v_energy")).cast("long"),
        )
    )


# byte(k) = ascii(substr(text, k % nb + 1, 1)); gray(p) = mean of the
# 3 bytes at 3p, 3p+1, 3p+2 — the render_text_bmp cycling contract
# (operators/multimodal.py:165-180), same replay as the tile-means twin.
_GRAY = (
    "((ascii(substr(text, ((3 * ({p})) % nb) + 1, 1))"
    " + ascii(substr(text, ((3 * ({p}) + 1) % nb) + 1, 1))"
    " + ascii(substr(text, ((3 * ({p}) + 2) % nb) + 1, 1))) // 3)"
)

MULTIMODAL_IMAGE_EDGE_ENERGY_SQL = f"""
WITH dims AS (
  SELECT doc_id, source, text,
         strlen(text) AS nb,
         strlen(text) % 24 + 8 AS w,
         strlen(text) % 16 + 8 AS h
  FROM documents
  WHERE strlen(text) = length(text)
), e AS (
  SELECT source, doc_id,
         CASE WHEN nb = 0 OR (t.j % w) >= w - 1 THEN 0
              ELSE abs({_GRAY.format(p='t.j + 1')} - {_GRAY.format(p='t.j')})
         END AS he,
         CASE WHEN nb = 0 OR t.j >= w * (h - 1) THEN 0
              ELSE abs({_GRAY.format(p='t.j + w')} - {_GRAY.format(p='t.j')})
         END AS ve
  FROM dims, unnest(generate_series(0, w * h - 1)) AS t(j)
)
SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_images,
       CAST(sum(he) AS BIGINT) AS h_energy,
       CAST(sum(ve) AS BIGINT) AS v_energy,
       CAST(sum(he) + sum(ve) AS BIGINT) AS total_energy
FROM e GROUP BY source
"""


# --- two-pass k-core ---------------------------------------------------------------------

_KCORE_K = 6


def graph_kcore_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two peeling passes of the k-core (k=6) on the bipartite
    order–part graph (node ids: 2·orderkey / 2·partkey+1); per pass the
    surviving (n_nodes, n_edges)."""
    e0 = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_orderkey") * 2).cast("long").alias("u"),
            (F.col("l_partkey") * 2 + 1).cast("long").alias("v"),
        )
        .distinct()
    )
    # lazy lineage pins (the operators/graph.py idiom): each pass and its
    # stats row reuse ONE materialization instead of replaying the whole
    # distinct-pair chain per consumer (3 stats + 2 peels = 5 consumers)
    und0 = pin(e0.unionByName(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ))

    # r11 rework, same rows: each pass's degree table now serves BOTH the
    # peel predicate and that pass's stats row — n_nodes = count(deg) ==
    # countDistinct(u) and n_edges = Σd/2 == count(*)/2, so the old
    # per-pass countDistinct (a second 2-exchange pass over the full
    # 2m-row edge table) disappears.  deg is deliberately NOT pinned and
    # the semi joins NOT hinted: both variants were A/B'd (min of 6,
    # interleaved) — checkpoint barriers serialize the three stats
    # branches that otherwise overlap inside one job, and the hint's
    # forced build side lost to the planner's choice (old 2.10 s /
    # stats-from-deg 1.90 s / +hints 2.27 s at sf0.1).
    def deg_of(und: DataFrame) -> DataFrame:
        return und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))

    def peel(und: DataFrame, deg: DataFrame) -> DataFrame:
        keep = deg.where(F.col("d") >= _KCORE_K).select("u")
        return und.join(keep, "u", "left_semi").join(
            keep.select(F.col("u").alias("v")), "v", "left_semi"
        )

    deg0 = deg_of(und0)
    und1 = pin(peel(und0, deg0))
    deg1 = deg_of(und1)
    und2 = peel(und1, deg1)
    deg2 = deg_of(und2)

    def stats(deg: DataFrame, p: int) -> DataFrame:
        # coalesce: an empty peeled graph must report 0 edges, not NULL
        return deg.agg(
            F.lit(p).cast("long").alias("pass"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            (F.coalesce(F.sum("d"), F.lit(0)) / 2).cast("long").alias("n_edges"),
        )

    return stats(deg0, 0).unionByName(stats(deg1, 1)).unionByName(
        stats(deg2, 2)
    )


GRAPH_KCORE_TWO_PASS_SQL = f"""
WITH e0 AS (
  SELECT DISTINCT l_orderkey * 2 AS u, l_partkey * 2 + 1 AS v FROM lineitem
), und0 AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
deg0 AS (SELECT u, count(*) AS d FROM und0 GROUP BY u),
keep1 AS (SELECT u FROM deg0 WHERE d >= {_KCORE_K}),
e1 AS (SELECT u, v FROM und0
       WHERE u IN (SELECT u FROM keep1) AND v IN (SELECT u FROM keep1)),
deg1 AS (SELECT u, count(*) AS d FROM e1 GROUP BY u),
keep2 AS (SELECT u FROM deg1 WHERE d >= {_KCORE_K}),
e2 AS (SELECT u, v FROM e1
       WHERE u IN (SELECT u FROM keep2) AND v IN (SELECT u FROM keep2))
SELECT CAST(0 AS BIGINT) AS pass,
       CAST(count(DISTINCT u) AS BIGINT) AS n_nodes,
       CAST(count(*) // 2 AS BIGINT) AS n_edges FROM und0
UNION ALL SELECT 1, CAST(count(DISTINCT u) AS BIGINT),
       CAST(count(*) // 2 AS BIGINT) FROM e1
UNION ALL SELECT 2, CAST(count(DISTINCT u) AS BIGINT),
       CAST(count(*) // 2 AS BIGINT) FROM e2
"""


# --- two-step Markov paths ----------------------------------------------------------------


def event_markov_two_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """paths₂(src, dst) = Σ_b n(src,b)·n(b,dst) over the per-user
    consecutive-pair counts (ts, event_id ordering)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    n1 = (
        ev.select(
            F.col("event_type").alias("a"),
            F.lead("event_type").over(w).alias("b"),
        )
        .where(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    x = n1.select(F.col("a").alias("src"), F.col("b").alias("mid"),
                  F.col("n").alias("nx"))
    y = n1.select(F.col("a").alias("mid"), F.col("b").alias("dst"),
                  F.col("n").alias("ny"))
    return (
        x.join(y, "mid")
        .groupBy("src", "dst")
        # nx·ny multiplies two scale-growing transition counts — run in
        # DECIMAL(38,0)/HUGEINT, emit BIGINT via try_cast (r8 audit)
        .agg(
            F.sum(F.col("nx").cast("decimal(38,0)") * F.col("ny"))
            .try_cast("long")
            .alias("paths2")
        )
    )


EVENT_MARKOV_TWO_STEP_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS a,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS b
  FROM events
), n1 AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE b IS NOT NULL GROUP BY a, b
)
SELECT x.a AS src, y.b AS dst,
       TRY_CAST(sum(CAST(x.n AS HUGEINT) * y.n) AS BIGINT) AS paths2
FROM n1 x JOIN n1 y ON x.b = y.a GROUP BY 1, 2
"""


# --- Simpson's-paradox rate audit -----------------------------------------------------------


def agg_simpson_rate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate (flag 'R') of low-qty (<25) vs high-qty lineitems per
    ship year + pooled (yy=0); band comparison via exact
    cross-multiplication sign, never a float division."""
    li = load_table(spark, sf_dir, "lineitem")
    hi = (F.col("l_quantity") >= 25).cast("long")
    ret = (F.col("l_returnflag") == "R").cast("long")
    base = li.select(
        F.year("l_shipdate").cast("long").alias("yy"),
        hi.alias("hi_band"),
        ret.alias("ret"),
    )
    seg = base.groupBy("yy").agg(
        F.sum(F.when(F.col("hi_band") == 0, F.col("ret")).otherwise(0))
        .cast("long").alias("a_lo"),
        F.sum(F.when(F.col("hi_band") == 0, 1).otherwise(0))
        .cast("long").alias("n_lo"),
        F.sum(F.when(F.col("hi_band") == 1, F.col("ret")).otherwise(0))
        .cast("long").alias("a_hi"),
        F.sum(F.when(F.col("hi_band") == 1, 1).otherwise(0))
        .cast("long").alias("n_hi"),
    )
    # pooled row re-aggregates the |years|-row seg table (partial-state
    # rows only, never facts — ARCHITECTURE.md §scalar folding rule)
    pooled = seg.agg(
        F.lit(0).cast("long").alias("yy"),
        F.sum("a_lo").cast("long").alias("a_lo"),
        F.sum("n_lo").cast("long").alias("n_lo"),
        F.sum("a_hi").cast("long").alias("a_hi"),
        F.sum("n_hi").cast("long").alias("n_hi"),
    )
    both = seg.unionByName(pooled)
    lhs = F.col("a_lo") * F.col("n_hi")
    rhs = F.col("a_hi") * F.col("n_lo")
    sign = (
        F.when(lhs > rhs, 1).when(lhs < rhs, -1).otherwise(0).cast("long")
    )
    return both.select(
        "yy", "a_lo", "n_lo", "a_hi", "n_hi",
        sign.alias("lo_minus_hi_sign"),
    )


AGG_SIMPSON_RATE_AUDIT_SQL = """
WITH base AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS yy,
         CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS hi_band,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
  FROM lineitem
), seg AS (
  SELECT yy,
         CAST(sum(CASE WHEN hi_band = 0 THEN ret ELSE 0 END) AS BIGINT)
           AS a_lo,
         CAST(sum(CASE WHEN hi_band = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_lo,
         CAST(sum(CASE WHEN hi_band = 1 THEN ret ELSE 0 END) AS BIGINT)
           AS a_hi,
         CAST(sum(CASE WHEN hi_band = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hi
  FROM base GROUP BY yy
), seg_all AS (
  SELECT * FROM seg
  UNION ALL
  SELECT CAST(0 AS BIGINT), CAST(sum(a_lo) AS BIGINT),
         CAST(sum(n_lo) AS BIGINT), CAST(sum(a_hi) AS BIGINT),
         CAST(sum(n_hi) AS BIGINT)
  FROM seg
)
SELECT yy, a_lo, n_lo, a_hi, n_hi,
       CAST(CASE WHEN a_lo * n_hi > a_hi * n_lo THEN 1
                 WHEN a_lo * n_hi < a_hi * n_lo THEN -1 ELSE 0 END
            AS BIGINT) AS lo_minus_hi_sign
FROM seg_all
"""


# --- per-nation Lorenz deciles ---------------------------------------------------------------


def agg_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: customers ntile(10)-bucketed by ascending spend
    (custkey tiebreak); cumulative cents + cumulative share (ppm,
    integer division) — the Lorenz curve points."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    spend = orders.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    g = spend.join(
        cust.select(F.col("c_custkey").alias("o_custkey"),
                    F.col("c_nationkey").alias("nat")),
        "o_custkey",
    )
    wt = Window.partitionBy("nat").orderBy(
        F.col("cents").asc(), F.col("o_custkey").asc()
    )
    dec = (
        g.select("nat", "cents", F.ntile(10).over(wt).alias("decile"))
        .groupBy("nat", "decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("decile_cents"),
        )
    )
    wc = (
        Window.partitionBy("nat")
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wfull = Window.partitionBy("nat")
    return (
        dec.select(
            F.col("nat").cast("long").alias("nat"),
            F.col("decile").cast("long").alias("decile"),
            "n_customers",
            "decile_cents",
        )
        .withColumn("cum_cents", F.sum("decile_cents").over(wc).cast("long"))
        .withColumn("_tot", F.sum("decile_cents").over(wfull).cast("long"))
        .select(
            "nat", "decile", "n_customers", "decile_cents", "cum_cents",
            F.expr("(cum_cents * 1000000) div _tot")
            .cast("long")
            .alias("cum_share_ppm"),
        )
    )


AGG_LORENZ_DECILES_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
), g AS (
  SELECT c.c_nationkey AS nat, s.o_custkey, s.cents
  FROM spend s JOIN customer c ON c.c_custkey = s.o_custkey
), ranked AS (
  SELECT nat, cents,
         ntile(10) OVER (PARTITION BY nat ORDER BY cents, o_custkey)
           AS decile
  FROM g
), dec AS (
  SELECT nat, decile, CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(cents) AS BIGINT) AS decile_cents
  FROM ranked GROUP BY 1, 2
)
SELECT CAST(nat AS BIGINT) AS nat, CAST(decile AS BIGINT) AS decile,
       n_customers, decile_cents,
       CAST(sum(decile_cents) OVER (PARTITION BY nat ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_cents,
       CAST(sum(decile_cents) OVER (PARTITION BY nat ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
            // sum(decile_cents) OVER (PARTITION BY nat)
            AS BIGINT) AS cum_share_ppm
FROM dec
"""


QUERIES: dict[str, QuerySpec] = {
    "multimodal_image_edge_energy": QuerySpec(
        multimodal_image_edge_energy, MULTIMODAL_IMAGE_EDGE_ENERGY_SQL
    ),
    "graph_kcore_two_pass": QuerySpec(
        graph_kcore_two_pass, GRAPH_KCORE_TWO_PASS_SQL
    ),
    "event_markov_two_step": QuerySpec(
        event_markov_two_step, EVENT_MARKOV_TWO_STEP_SQL
    ),
    "agg_simpson_rate_audit": QuerySpec(
        agg_simpson_rate_audit, AGG_SIMPSON_RATE_AUDIT_SQL
    ),
    "agg_lorenz_deciles": QuerySpec(
        agg_lorenz_deciles, AGG_LORENZ_DECILES_SQL
    ),
}
