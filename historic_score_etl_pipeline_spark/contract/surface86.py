"""Round-6 batch 93 — order/line consistency audit, prefix
autocomplete, pinned NULL ordering, file inventory, runs-test terms:

* ``audit_order_line_consistency`` — the referential-consistency audit:
  per status, orders with/without lineitems, how many order totals
  equal their line-sum within 1¢, and the exact Σ|Δcents| — the
  header-vs-detail reconciliation every warehouse runs (the synthetic
  data is intentionally inconsistent; the MISMATCH stats are the
  deliverable).
* ``text_prefix_autocomplete_topk`` — the autocomplete index build:
  per 3-char prefix, the most frequent completion (count desc, word
  tiebreak) and the candidate-set size.
* ``sql_nulls_ordering_pinned`` — NULL placement pinned EXPLICITLY
  (NULLS LAST) in a ranking over a genuinely nullable lag column —
  Spark defaults NULLS FIRST ascending, DuckDB NULLS LAST: unpinned
  order-bys are cross-engine bugs; this key proves the pin.
* ``scan_file_inventory`` — storage inventory: staged text shards
  listed through binaryFile, per shard the byte size (replayable from
  line lengths) and parsed record count.
* ``window_runs_test_terms`` — Wald–Wolfowitz ingredients per supplier
  price series: n₊ (above global-series median), n₋, and the observed
  run count — the randomness audit in exact integers (the z-score is
  the reader's division).

Scale notes: the consistency audit is one orders⋈line-sums equi join;
autocomplete groups the DISTINCT vocab by prefix; NULL ordering is a
single window; the inventory reads ONLY file metadata + bytes;
runs-test terms ride one supplier-partitioned window chain.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.contract.surface78 import supplier_cents
from historic_score_etl_pipeline_spark.contract.surface79 import vocab_counts
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- order/line consistency audit ---------------------------------------------------------------


def audit_order_line_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per status: orders with/without lines, totals matching the line
    sum within 1¢, and Σ|Δcents| over orders WITH lines."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("total_cents"),
    )
    lsum = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").cast("long").alias("k"))
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("line_cents")
        )
    )
    j = o.join(lsum, "k", "left")
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count("line_cents").cast("long").alias("n_with_lines"),
        F.sum(
            (
                F.col("line_cents").isNotNull()
                & (F.abs(F.col("total_cents") - F.col("line_cents")) <= 1)
            ).cast("long")
        )
        .cast("long")
        .alias("n_consistent"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("line_cents").isNotNull(),
                    F.abs(F.col("total_cents") - F.col("line_cents")),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("sum_abs_delta"),
    )


AUDIT_ORDER_LINE_CONSISTENCY_SQL = """
WITH o AS (
  SELECT o_orderkey AS k, o_orderstatus,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
  FROM orders
), lsum AS (
  SELECT l_orderkey AS k,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS line_cents
  FROM lineitem GROUP BY 1
), j AS (
  SELECT o.o_orderstatus, o.total_cents, lsum.line_cents
  FROM o LEFT JOIN lsum ON o.k = lsum.k
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(line_cents) AS BIGINT) AS n_with_lines,
       CAST(sum(CASE WHEN line_cents IS NOT NULL
                      AND abs(total_cents - line_cents) <= 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
       CAST(coalesce(sum(CASE WHEN line_cents IS NOT NULL
                    THEN abs(total_cents - line_cents) END), 0) AS BIGINT)
         AS sum_abs_delta
FROM j GROUP BY o_orderstatus
"""


# --- prefix autocomplete -------------------------------------------------------------------------


def text_prefix_autocomplete_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per 3-char prefix (words len ≥ 3): the top completion by
    (count desc, word), the candidate count and total occurrences."""
    wc = vocab_counts(spark, sf_dir)
    keyed = wc.select(F.substring("w", 1, 3).alias("prefix"), "w", "n")
    rk = Window.partitionBy("prefix").orderBy(F.desc("n"), F.asc("w"))
    return (
        keyed.withColumn("rnk", F.row_number().over(rk))
        .groupBy("prefix")
        .agg(
            F.countDistinct("w").cast("long").alias("n_candidates"),
            F.sum("n").cast("long").alias("n_occurrences"),
            F.max(F.when(F.col("rnk") == 1, F.col("w"))).alias("top_word"),
            F.max(F.when(F.col("rnk") == 1, F.col("n")))
            .cast("long")
            .alias("top_count"),
        )
    )


TEXT_PREFIX_AUTOCOMPLETE_TOPK_SQL = """
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> length(t) >= 3)) AS w
  FROM documents
), wc AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY w
), keyed AS (
  SELECT substr(w, 1, 3) AS prefix, w, n,
         row_number() OVER (PARTITION BY substr(w, 1, 3)
                            ORDER BY n DESC, w) AS rnk
  FROM wc
)
SELECT prefix, CAST(count(DISTINCT w) AS BIGINT) AS n_candidates,
       CAST(sum(n) AS BIGINT) AS n_occurrences,
       max(CASE WHEN rnk = 1 THEN w END) AS top_word,
       CAST(max(CASE WHEN rnk = 1 THEN n END) AS BIGINT) AS top_count
FROM keyed GROUP BY prefix
"""


# --- pinned NULL ordering -------------------------------------------------------------------------


def sql_nulls_ordering_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank daily order counts by their day-over-day delta with NULLS
    LAST pinned explicitly (the first day's lag is NULL — engines
    disagree on default placement)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_nullord_orders"
    )
    return spark.sql(
        """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS d,
                 CAST(count(*) AS BIGINT) AS n
          FROM v_nullord_orders
          WHERE o_orderdate < TIMESTAMP '1995-04-01'
          GROUP BY 1
        ), lagged AS (
          SELECT CAST(d AS STRING) AS day, n,
                 n - lag(n) OVER (ORDER BY d) AS delta
          FROM daily
        )
        SELECT day, n, delta,
               CAST(row_number() OVER (ORDER BY delta ASC NULLS LAST,
                                       day ASC) AS BIGINT) AS rnk
        FROM lagged
        """
    )


SQL_NULLS_ORDERING_PINNED_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
  FROM orders
  WHERE o_orderdate < TIMESTAMP '1995-04-01'
  GROUP BY 1
), lagged AS (
  SELECT CAST(d AS VARCHAR) AS day, n,
         n - lag(n) OVER (ORDER BY d) AS delta
  FROM daily
)
SELECT day, n, CAST(delta AS BIGINT) AS delta,
       CAST(row_number() OVER (ORDER BY delta ASC NULLS LAST, day ASC)
            AS BIGINT) AS rnk
FROM lagged
"""


# --- file inventory --------------------------------------------------------------------------------


def _staged_inventory_files(spark: SparkSession, sf_dir: str) -> str:
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "inventory", sf_dir)
    done = os.path.join(out, "_STAGED")
    if not os.path.exists(done):
        # df.write-based staging (ADVICE r6: no whole-table collect):
        # repartition("status") puts each status wholly in one task, so
        # partitionBy emits exactly ONE text file per status dir — the
        # per-status shard the inventory scan expects, written by
        # executors at any scale.
        (
            load_table(spark, sf_dir, "orders")
            .select(
                F.col("o_orderkey").cast("long").cast("string")
                .alias("value"),
                F.col("o_orderstatus").alias("status"),
            )
            .repartition("status")
            .write.partitionBy("status")
            .mode("overwrite")
            .text(out)
        )
        # Fail fast (ADVICE r7): the one-file-per-status invariant the
        # scan's oracle depends on is void if the session set
        # spark.sql.files.maxRecordsPerFile > 0 and split a status dir.
        import glob

        for d in glob.glob(os.path.join(out, "status=*")):
            parts = glob.glob(os.path.join(d, "part-*"))
            if len(parts) != 1:
                raise RuntimeError(
                    f"inventory staging invariant broken: {d} has "
                    f"{len(parts)} part files (expected 1; is "
                    "spark.sql.files.maxRecordsPerFile set?)"
                )
        with open(done, "w") as f:
            f.write("ok")
    return out


def scan_file_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List the staged shards via binaryFile: per shard the exact byte
    size (Σ digits + newlines — replayable) and record count."""
    path = _staged_inventory_files(spark, sf_dir)
    files = spark.read.format("binaryFile").load(
        os.path.join(path, "status=*", "part-*")
    )
    return files.select(
        F.regexp_extract(
            F.col("path"), r"status=([A-Z])/[^/]+$", 1
        ).alias("status"),
        F.col("length").cast("long").alias("bytes"),
        (F.length(F.col("content").cast("string"))
         - F.length(F.regexp_replace(F.col("content").cast("string"),
                                     "\n", "")))
        .cast("long")
        .alias("n_records"),
    )


SCAN_FILE_INVENTORY_SQL = """
SELECT o_orderstatus AS status,
       CAST(sum(length(CAST(o_orderkey AS VARCHAR)) + 1) AS BIGINT)
         AS bytes,
       CAST(count(*) AS BIGINT) AS n_records
FROM orders GROUP BY 1
"""


# --- runs-test terms ---------------------------------------------------------------------------------


def window_runs_test_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per supplier (< 10): n₊/n₋ around the series MEDIAN (exact lower
    median, ties count as minus) and the observed run count — the
    Wald–Wolfowitz randomness-test ingredients."""
    px = supplier_cents(spark, sf_dir)
    wr = Window.partitionBy("sk").orderBy("c", "l_orderkey", "l_linenumber")
    wc = Window.partitionBy("sk")
    med = (
        px.select(
            "sk", "c",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("cnt"),
        )
        .where(F.col("rn") == F.expr("CAST((cnt + 1) div 2 AS INT)"))
        .select("sk", F.col("c").alias("med"))
    )
    seq = px.join(med, "sk").select(
        "sk",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        (F.col("c") > F.col("med")).cast("long").alias("plus"),
    )
    wt = Window.partitionBy("sk").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    runs = seq.select(
        "sk",
        "plus",
        F.when(
            F.lag("plus").over(wt).isNull()
            | (F.lag("plus").over(wt) != F.col("plus")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    return runs.groupBy("sk").agg(
        F.sum("plus").cast("long").alias("n_plus"),
        F.sum(1 - F.col("plus")).cast("long").alias("n_minus"),
        F.sum("new_run").cast("long").alias("n_runs"),
    ).select(F.col("sk").alias("l_suppkey"), "n_plus", "n_minus", "n_runs")


WINDOW_RUNS_TEST_TERMS_SQL = """
WITH px AS (
  SELECT l_suppkey AS sk, l_shipdate, l_orderkey, l_linenumber,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
  FROM lineitem WHERE l_suppkey < 10
), med AS (
  SELECT sk, c AS med FROM (
    SELECT sk, c,
           row_number() OVER (PARTITION BY sk
                              ORDER BY c, l_orderkey, l_linenumber) AS rn,
           count(*) OVER (PARTITION BY sk) AS cnt
    FROM px
  ) WHERE rn = (cnt + 1) // 2
), seq AS (
  SELECT px.sk, px.l_shipdate, px.l_orderkey, px.l_linenumber,
         CASE WHEN px.c > med.med THEN 1 ELSE 0 END AS plus
  FROM px JOIN med ON px.sk = med.sk
), runs AS (
  SELECT sk, plus,
         CASE WHEN lag(plus) OVER w IS NULL
              OR lag(plus) OVER w <> plus THEN 1 ELSE 0 END AS new_run
  FROM seq
  WINDOW w AS (PARTITION BY sk ORDER BY l_shipdate, l_orderkey,
               l_linenumber)
)
SELECT CAST(sk AS BIGINT) AS l_suppkey,
       CAST(sum(plus) AS BIGINT) AS n_plus,
       CAST(sum(1 - plus) AS BIGINT) AS n_minus,
       CAST(sum(new_run) AS BIGINT) AS n_runs
FROM runs GROUP BY sk
"""


QUERIES: dict[str, QuerySpec] = {
    "audit_order_line_consistency": QuerySpec(
        audit_order_line_consistency, AUDIT_ORDER_LINE_CONSISTENCY_SQL
    ),
    "text_prefix_autocomplete_topk": QuerySpec(
        text_prefix_autocomplete_topk, TEXT_PREFIX_AUTOCOMPLETE_TOPK_SQL
    ),
    "sql_nulls_ordering_pinned": QuerySpec(
        sql_nulls_ordering_pinned, SQL_NULLS_ORDERING_PINNED_SQL
    ),
    "scan_file_inventory": QuerySpec(
        scan_file_inventory, SCAN_FILE_INVENTORY_SQL
    ),
    "window_runs_test_terms": QuerySpec(
        window_runs_test_terms, WINDOW_RUNS_TEST_TERMS_SQL
    ),
}
