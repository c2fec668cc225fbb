"""Round-6 batch 95 — bridge allocation, INT96 legacy timestamps, CSV
formula sanitizing, value-band migration, image border contrast:

* ``join_bridge_weighted_allocation`` — many-to-many bridge-table
  allocation: each order belongs to (k % 3 + 1) campaigns; its cents
  split EQUALLY via floor shares with the remainder pinned to the
  lowest campaign id (Σ = cents exactly, the apportionment rule at
  bridge grain); per campaign the allocated total.
* ``scan_parquet_int96_legacy`` — the INT96 timestamp wart: a staged
  parquet written with use_deprecated_int96_timestamps (the
  Impala/Hive legacy physical type) read back correctly — day rollup
  proves the decode.
* ``sink_csv_formula_sanitize`` — CSV formula-injection defence: cells
  starting with = + - @ get a quote prefix on export; the read-back
  counts sanitized cells per status (deterministic '='-prefixed rows
  staged every 11th key).
* ``agg_band_migration_matrix`` — customer value-band migration: each
  order banded (lo/mid/hi by cents), consecutive orders per customer
  give (from_band → to_band) transition counts — the CRM migration
  matrix (the ``event_markov_transitions`` shape on the ORDER stream).
* ``multimodal_image_border_contrast`` — border-vs-interior brightness
  over real decoded BMPs: Σ gray and pixel counts for the 1-px border
  ring vs the interior, per source — vignette/frame detection terms.

Scale notes: the bridge explode is ≤3× fan-out with grouped floor
shares; INT96 and CSV sanitize are scan/sink surface; band migration
rides one customer-partitioned lag; border contrast is one
``doc_rows`` pass.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.multimodal import (
    doc_rows,
    gray,
    rendered_image,
    single_byte_docs,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- bridge-table weighted allocation ---------------------------------------------------------


def join_bridge_weighted_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bridge: order k → campaigns {k%7, k%7+1, …} of size (k%3 + 1);
    cents split equally (floor + remainder to the LOWEST campaign id);
    per campaign: memberships and allocated cents."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    bridge = o.select(
        "k",
        "cents",
        (F.col("k") % 3 + 1).alias("m"),
        F.explode(
            F.sequence(F.col("k") % 7, F.col("k") % 7 + F.col("k") % 3)
        ).alias("campaign"),
    )
    share = F.expr("cents div m")
    is_first = F.col("campaign") == F.col("k") % 7
    rem = F.expr("cents % m")
    alloc = bridge.select(
        "campaign",
        (share + F.when(is_first, rem).otherwise(0)).cast("long").alias("p"),
    )
    return alloc.groupBy(F.col("campaign").cast("long").alias("campaign")).agg(
        F.count(F.lit(1)).cast("long").alias("n_memberships"),
        F.sum("p").cast("long").alias("allocated_cents"),
    )


JOIN_BRIDGE_WEIGHTED_ALLOCATION_SQL = """
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         o_orderkey % 3 + 1 AS m
  FROM orders
), bridge AS (
  SELECT k, cents, m,
         unnest(generate_series(k % 7, k % 7 + k % 3)) AS campaign
  FROM o
)
SELECT CAST(campaign AS BIGINT) AS campaign,
       CAST(count(*) AS BIGINT) AS n_memberships,
       CAST(sum(cents // m
                + CASE WHEN campaign = k % 7 THEN cents % m ELSE 0 END)
            AS BIGINT) AS allocated_cents
FROM bridge GROUP BY 1
"""


# --- INT96 legacy timestamps -------------------------------------------------------------------


def _staged_int96(spark: SparkSession, sf_dir: str) -> str:
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "int96", sf_dir)
    done = os.path.join(out, "_STAGED")
    if not os.path.exists(done):
        # df.write-based staging (ADVICE r6 idiom: no whole-table
        # collect): Spark's own parquet writer emits the legacy INT96
        # physical type under spark.sql.parquet.outputTimestampType —
        # conf is set for the write and restored after.
        conf_key = "spark.sql.parquet.outputTimestampType"
        prev = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "INT96")
        try:
            (
                load_table(spark, sf_dir, "orders")
                .select(
                    F.col("o_orderkey").cast("long").alias("k"),
                    F.col("o_orderdate").cast("timestamp").alias("ts"),
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                    .cast("long")
                    .alias("cents"),
                )
                .write.mode("overwrite")
                .parquet(out)
            )
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)
        with open(done, "w") as f:
            f.write("ok")
    return out


def scan_parquet_int96_legacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the INT96-timestamp parquet; the month rollup proves the
    legacy physical type decodes to the same instants."""
    path = _staged_int96(spark, sf_dir)
    df = spark.read.parquet(os.path.join(path, "*.parquet"))
    return df.select(
        F.date_format(F.to_date("ts"), "yyyy-MM").alias("ym"), "cents"
    ).groupBy("ym").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


SCAN_PARQUET_INT96_LEGACY_SQL = """
SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS ym,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders GROUP BY 1
"""


# --- CSV formula sanitizing ----------------------------------------------------------------------


def _staged_sanitized_export(spark: SparkSession, sf_dir: str) -> str:
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "sanitize", sf_dir)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        o = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("k"),
            # every 11th key carries a hostile '='-prefixed cell
            F.when(
                F.col("o_orderkey") % 11 == 0,
                F.concat(F.lit("=SUM("), F.col("o_orderstatus"), F.lit(")")),
            )
            .otherwise(F.col("o_orderstatus"))
            .alias("raw_status"),
        )
        # the sanitizer: prefix ' when the cell starts with = + - @
        sanitized = o.select(
            "k",
            F.when(
                F.col("raw_status").rlike("^[=+\\-@]"),
                F.concat(F.lit("'"), F.col("raw_status")),
            )
            .otherwise(F.col("raw_status"))
            .alias("status_cell"),
        )
        sanitized.write.mode("overwrite").option("header", "true").csv(out)
    return out


def sink_csv_formula_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the sanitized export back: NO cell may start with a formula
    character; count sanitized cells per underlying status."""
    path = _staged_sanitized_export(spark, sf_dir)
    df = (
        spark.read.option("header", "true")
        .schema("k LONG, status_cell STRING")
        .csv(path)
    )
    return df.select(
        F.regexp_replace(
            F.regexp_replace("status_cell", "^'", ""), "^=SUM\\(([A-Z])\\)$",
            "$1",
        ).alias("status"),
        F.col("status_cell").startswith("'").cast("long").alias("sanitized"),
        F.col("status_cell").rlike("^[=+\\-@]").cast("long").alias("hostile"),
    ).groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("sanitized").cast("long").alias("n_sanitized"),
        F.sum("hostile").cast("long").alias("n_hostile_leaked"),
    )


SINK_CSV_FORMULA_SANITIZE_SQL = """
SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sanitized,
       CAST(0 AS BIGINT) AS n_hostile_leaked
FROM orders GROUP BY 1
"""


# --- value-band migration matrix ------------------------------------------------------------------


def agg_band_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band each order (lo < 10M ≤ mid < 25M ≤ hi cents); consecutive
    orders per customer (date, key order) give the band-transition
    counts — the CRM migration matrix."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    band = (
        F.when(F.col("cents") < 10_000_000, "lo")
        .when(F.col("cents") < 25_000_000, "mid")
        .otherwise("hi")
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    seq = o.select(
        "o_custkey", band.alias("b"), F.lead(band).over(w).alias("nb")
    ).where(F.col("nb").isNotNull())
    return seq.groupBy(
        F.col("b").alias("from_band"), F.col("nb").alias("to_band")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))


AGG_BAND_MIGRATION_MATRIX_SQL = """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey,
         CASE WHEN floor(o_totalprice * 100 + 0.5) < 10000000 THEN 'lo'
              WHEN floor(o_totalprice * 100 + 0.5) < 25000000 THEN 'mid'
              ELSE 'hi' END AS b
  FROM orders
), seq AS (
  SELECT o_custkey, b,
         lead(b) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
           AS nb
  FROM o
)
SELECT b AS from_band, nb AS to_band,
       CAST(count(*) AS BIGINT) AS n_transitions
FROM seq WHERE nb IS NOT NULL GROUP BY 1, 2
"""


# --- image border contrast ---------------------------------------------------------------------------


def multimodal_image_border_contrast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: Σ gray and pixel counts for the 1-px border ring vs
    the interior of each decoded BMP — vignette detection terms."""

    def ring(text):
        g = gray(rendered_image(text))
        h, w = g.shape
        inner = g[1 : h - 1, 1 : w - 1]
        i_sum = int(inner.sum())
        return [(1, h * w - inner.size, int(g.sum()) - i_sum, inner.size, i_sum)]

    docs = single_byte_docs(load_table(spark, sf_dir, "documents"))
    cols = ("n_images", "border_px", "border_sum", "interior_px", "interior_sum")
    schema = "source string, " + ", ".join(f"{c} long" for c in cols)
    return doc_rows(docs, "source", ring, schema).groupBy("source").agg(
        *(F.sum(c).cast("long").alias(c) for c in cols)
    )


_BC_GRAY = (
    "((ascii(substr(text, ((3 * ({p})) % nb) + 1, 1))"
    " + ascii(substr(text, ((3 * ({p}) + 1) % nb) + 1, 1))"
    " + ascii(substr(text, ((3 * ({p}) + 2) % nb) + 1, 1))) // 3)"
)

MULTIMODAL_IMAGE_BORDER_CONTRAST_SQL = f"""
WITH dims AS (
  SELECT doc_id, source, text,
         strlen(text) AS nb,
         strlen(text) % 24 + 8 AS w,
         strlen(text) % 16 + 8 AS h
  FROM documents
  WHERE strlen(text) = length(text)
), px AS (
  SELECT doc_id, source,
         CASE WHEN t.j // w = 0 OR t.j // w = h - 1
               OR t.j % w = 0 OR t.j % w = w - 1
              THEN 1 ELSE 0 END AS is_border,
         CASE WHEN nb = 0 THEN 0 ELSE {_BC_GRAY.format(p='t.j')} END AS g
  FROM dims, unnest(generate_series(0, w * h - 1)) AS t(j)
)
SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_images,
       CAST(sum(is_border) AS BIGINT) AS border_px,
       CAST(sum(is_border * g) AS BIGINT) AS border_sum,
       CAST(sum(1 - is_border) AS BIGINT) AS interior_px,
       CAST(sum((1 - is_border) * g) AS BIGINT) AS interior_sum
FROM px GROUP BY source
"""


QUERIES: dict[str, QuerySpec] = {
    "join_bridge_weighted_allocation": QuerySpec(
        join_bridge_weighted_allocation, JOIN_BRIDGE_WEIGHTED_ALLOCATION_SQL
    ),
    "scan_parquet_int96_legacy": QuerySpec(
        scan_parquet_int96_legacy, SCAN_PARQUET_INT96_LEGACY_SQL
    ),
    "sink_csv_formula_sanitize": QuerySpec(
        sink_csv_formula_sanitize, SINK_CSV_FORMULA_SANITIZE_SQL
    ),
    "agg_band_migration_matrix": QuerySpec(
        agg_band_migration_matrix, AGG_BAND_MIGRATION_MATRIX_SQL
    ),
    "multimodal_image_border_contrast": QuerySpec(
        multimodal_image_border_contrast, MULTIMODAL_IMAGE_BORDER_CONTRAST_SQL
    ),
}
