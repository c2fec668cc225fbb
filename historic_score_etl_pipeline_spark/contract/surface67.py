"""Round-6 batch 74 — concurrency duration histogram, octant kNN graph,
clustered sorted sink, path-pattern partitions, Julian day numbers:

* ``event_concurrency_duration_histogram`` — for each user, how long
  EXACTLY k event intervals were simultaneously active (60 s windows):
  the full concurrency profile, not just the max
  (``event_concurrent_intervals_max``) or the union
  (``event_interval_union_time``).  Sweep-line: ±1 boundaries, running
  level, segment length to the next boundary.
* ``embed_knn_graph_octant`` — a kNN-graph builder (top-3 neighbors
  per vector by exact integer dot product) restricted to sign-octant
  buckets of the first 4 dimensions — the coarse-quantizer blocking
  that keeps the pair space bucket-local at corpus scale.
* ``sink_sorted_clustered_write`` — write orders clustered
  (repartition by status, sorted within partitions on
  (status, date, key)) and prove the roundtrip: read-back aggregates
  match the source.  Per-file monotonicity is asserted in tests.
* ``scan_path_date_partition`` — a non-Hive date-partitioned lake
  layout (``yyyy/mm/dd/*.parquet``, no ``key=value`` dirs): stage it,
  read with ``recursiveFileLookup``, recover the partition date from
  the FILE PATH via regexp, aggregate per day.
* ``date_julian_day_number`` — proleptic-Gregorian Julian Day Number
  in pure integer arithmetic; grouped against the engine's own
  weekday so the oracle proves the classic ``(jdn + 1) mod 7``
  weekday correspondence on real data.

Scale notes: the sweep is two window passes per user partition; the
kNN graph never leaves its 16 sign buckets (bucket-local self-join +
per-vector top-3 window); the clustered sink is the write pattern
that makes downstream merge joins zero-sort; path-partition recovery
is metadata-only per file; JDN is scan-side arithmetic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table
from historic_score_etl_pipeline_spark.operators.similarity import (
    micro_units,
    valid_vectors,
)

# --- concurrency duration histogram ---------------------------------------------------

_CONC_WINDOW_S = 60


def event_concurrency_duration_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per (user, concurrency level k): total microseconds during which
    exactly k of the user's 60 s event intervals were active."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    t = F.unix_micros("ts")
    starts = ev.select(
        "user_id", "event_id", t.alias("t"), F.lit(1).alias("d")
    )
    ends = ev.select(
        "user_id",
        "event_id",
        (t + F.lit(_CONC_WINDOW_S * 1_000_000)).alias("t"),
        F.lit(-1).alias("d"),
    )
    bounds = starts.unionAll(ends)
    w = Window.partitionBy("user_id").orderBy("t", "d", "event_id")
    seg = bounds.select(
        "user_id",
        "t",
        F.sum("d").over(w).alias("level"),
        (F.lead("t").over(w) - F.col("t")).alias("micros"),
    ).where((F.col("level") > 0) & (F.col("micros") > 0))
    return seg.groupBy(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("level").cast("long").alias("level"),
    ).agg(
        F.sum("micros").cast("long").alias("micros"),
        F.count(F.lit(1)).cast("long").alias("n_segments"),
    )


EVENT_CONCURRENCY_DURATION_HISTOGRAM_SQL = f"""
WITH bounds AS (
  SELECT user_id, event_id, epoch_us(ts) AS t, 1 AS d
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  UNION ALL
  SELECT user_id, event_id, epoch_us(ts) + {_CONC_WINDOW_S * 1_000_000}, -1
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), seg AS (
  SELECT user_id,
         sum(d) OVER w AS level,
         lead(t) OVER w - t AS micros
  FROM bounds
  WINDOW w AS (PARTITION BY user_id ORDER BY t, d, event_id)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(level AS BIGINT) AS level,
       CAST(sum(micros) AS BIGINT) AS micros,
       CAST(count(*) AS BIGINT) AS n_segments
FROM seg WHERE level > 0 AND micros > 0
GROUP BY user_id, level
"""


# --- octant-bucketed kNN graph --------------------------------------------------------

_KNN_K = 3


def embed_knn_graph_octant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 neighbors per vector by exact integer dot product, blocked
    by the sign octant of the first 4 dimensions (16 buckets) — the
    kNN-graph substrate for clustering/dedup, bucket-local by design."""
    emb = valid_vectors(load_table(spark, sf_dir, "embeddings"))
    q = micro_units("embedding")
    bucket = (
        F.when(F.element_at("q", 1) > 0, 1).otherwise(0)
        + F.when(F.element_at("q", 2) > 0, 2).otherwise(0)
        + F.when(F.element_at("q", 3) > 0, 4).otherwise(0)
        + F.when(F.element_at("q", 4) > 0, 8).otherwise(0)
    )
    vecs = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"), q.alias("q")
    ).withColumn("bucket", bucket)
    a = vecs.select("bucket", F.col("vec_id").alias("a_id"), F.col("q").alias("qa"))
    b = vecs.select("bucket", F.col("vec_id").alias("b_id"), F.col("q").alias("qb"))
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, "bucket")
        .where(F.col("a_id") != F.col("b_id"))
        .select("bucket", "a_id", "b_id", dot.alias("dot"))
    )
    rk = Window.partitionBy("a_id").orderBy(F.desc("dot"), F.asc("b_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(rk))
        .where(F.col("rnk") <= _KNN_K)
        .select(
            F.col("a_id").alias("vec_id"),
            F.col("b_id").alias("nbr_id"),
            F.col("dot").cast("long").alias("dot"),
            F.col("rnk").cast("long").alias("rnk"),
            F.col("bucket").cast("long").alias("bucket"),
        )
    )


EMBED_KNN_GRAPH_OCTANT_SQL = f"""
WITH v AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                                  AS BIGINT)) AS q
  FROM embeddings
  -- quarantine gate: malformed vectors excluded (similarity.py)
  WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
), bv AS (
  SELECT vec_id, q,
         (CASE WHEN q[1] > 0 THEN 1 ELSE 0 END
          + CASE WHEN q[2] > 0 THEN 2 ELSE 0 END
          + CASE WHEN q[3] > 0 THEN 4 ELSE 0 END
          + CASE WHEN q[4] > 0 THEN 8 ELSE 0 END) AS bucket
  FROM v
), pairs AS (
  SELECT a.bucket, a.vec_id AS a_id, b.vec_id AS b_id,
         CAST(list_sum(list_transform(a.q, (x, i) -> x * b.q[i]))
              AS BIGINT) AS dot
  FROM bv a JOIN bv b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT bucket, a_id, b_id, dot,
         row_number() OVER (PARTITION BY a_id ORDER BY dot DESC, b_id)
           AS rnk
  FROM pairs
)
SELECT CAST(a_id AS BIGINT) AS vec_id, CAST(b_id AS BIGINT) AS nbr_id,
       dot, CAST(rnk AS BIGINT) AS rnk, CAST(bucket AS BIGINT) AS bucket
FROM ranked WHERE rnk <= {_KNN_K}
"""


# --- clustered sorted sink ------------------------------------------------------------


def _staged_clustered_orders(spark: SparkSession, sf_dir: str) -> str:
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "clustered", sf_dir)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        o = load_table(spark, sf_dir, "orders")
        (
            o.repartition(4, "o_orderstatus")
            .sortWithinPartitions("o_orderstatus", "o_orderdate", "o_orderkey")
            .write.mode("overwrite")
            .parquet(out)
        )
    return out


def sink_sorted_clustered_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders written clustered-by-status / sorted-within-files, read
    back and aggregated — the zero-sort layout for downstream merge
    joins; the roundtrip proves losslessness, the tests prove per-file
    monotonicity."""
    path = _staged_clustered_orders(spark, sf_dir)
    back = spark.read.parquet(path)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
        F.sum(cents).cast("long").alias("total_cents"),
    )


SINK_SORTED_CLUSTERED_WRITE_SQL = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders GROUP BY o_orderstatus
"""


# --- non-Hive path-pattern date partitions --------------------------------------------


def _staged_path_partitions(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as yyyy/mm/dd nested dirs (NO key=value names):
    one Hive-partitioned write, then dir renames to strip the labels —
    driver-side metadata moves only, never data rewrites."""
    import shutil

    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "pathpart", sf_dir)
    marker = os.path.join(out, "_STAGED_OK")
    if os.path.exists(marker):
        return out
    if os.path.exists(out):
        shutil.rmtree(out)
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    staged = ev.select(
        "event_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy").alias("y"),
        F.date_format("ts", "MM").alias("m"),
        F.date_format("ts", "dd").alias("d"),
    )
    (
        staged.repartition("y", "m", "d")
        .write.mode("overwrite")
        .partitionBy("y", "m", "d")
        .parquet(out)
    )
    # strip the hive labels: y=2024/m=01/d=05 -> 2024/01/05
    for root, dirs, _files in os.walk(out, topdown=False):
        for name in dirs:
            if "=" in name:
                src = os.path.join(root, name)
                dst = os.path.join(root, name.split("=", 1)[1])
                os.rename(src, dst)
    with open(marker, "w") as fh:
        fh.write("ok")
    return out


def scan_path_date_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recover the partition date from the FILE PATH of a non-Hive
    ``yyyy/mm/dd`` lake layout (recursiveFileLookup + regexp over
    input_file_name) and aggregate per day."""
    path = _staged_path_partitions(spark, sf_dir)
    df = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(path)
    )
    day = F.regexp_extract(
        F.input_file_name(), r"/(\d{4})/(\d{2})/(\d{2})/", 0
    )
    date_str = F.concat_ws(
        "-",
        F.regexp_extract(F.input_file_name(), r"/(\d{4})/(\d{2})/(\d{2})/", 1),
        F.regexp_extract(F.input_file_name(), r"/(\d{4})/(\d{2})/(\d{2})/", 2),
        F.regexp_extract(F.input_file_name(), r"/(\d{4})/(\d{2})/(\d{2})/", 3),
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        df.where(day != "")
        .groupBy(date_str.alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(cents).cast("long").alias("total_cents"),
        )
    )


SCAN_PATH_DATE_PARTITION_SQL = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events WHERE ts IS NOT NULL
GROUP BY 1
"""


# --- Julian day number ----------------------------------------------------------------


def date_julian_day_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proleptic-Gregorian JDN in pure integer arithmetic, grouped
    against the engine's weekday to prove the (jdn + 1) mod 7
    correspondence (JDN 0 was a Monday)."""
    o = load_table(spark, sf_dir, "orders")
    staged = o.select(
        F.year("o_orderdate").alias("yy"),
        F.month("o_orderdate").alias("mm"),
        F.dayofmonth("o_orderdate").alias("dd"),
        F.dayofweek("o_orderdate").cast("long").alias("engine_dow"),
    )
    jdn = F.expr(
        "dd + (153 * (mm + ((14 - mm) div 12) * 12 - 3) + 2) div 5"
        " + 365 * (yy + 4800 - ((14 - mm) div 12))"
        " + (yy + 4800 - ((14 - mm) div 12)) div 4"
        " - (yy + 4800 - ((14 - mm) div 12)) div 100"
        " + (yy + 4800 - ((14 - mm) div 12)) div 400"
        " - 32045"
    )
    return (
        staged.withColumn("jdn", jdn.cast("long"))
        .groupBy("engine_dow", F.expr("jdn % 7").cast("long").alias("jdn_mod7"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("jdn").cast("long").alias("min_jdn"),
            F.max("jdn").cast("long").alias("max_jdn"),
        )
    )


DATE_JULIAN_DAY_NUMBER_SQL = """
WITH parts AS (
  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yy,
         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mm,
         CAST(day(CAST(o_orderdate AS DATE)) AS BIGINT) AS dd,
         CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT)
           AS engine_dow
  FROM orders
), jd AS (
  SELECT engine_dow,
         dd + (153 * (mm + ((14 - mm) // 12) * 12 - 3) + 2) // 5
         + 365 * (yy + 4800 - ((14 - mm) // 12))
         + (yy + 4800 - ((14 - mm) // 12)) // 4
         - (yy + 4800 - ((14 - mm) // 12)) // 100
         + (yy + 4800 - ((14 - mm) // 12)) // 400
         - 32045 AS jdn
  FROM parts
)
SELECT engine_dow, CAST(jdn % 7 AS BIGINT) AS jdn_mod7,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(min(jdn) AS BIGINT) AS min_jdn,
       CAST(max(jdn) AS BIGINT) AS max_jdn
FROM jd GROUP BY engine_dow, jdn_mod7
"""


QUERIES: dict[str, QuerySpec] = {
    "event_concurrency_duration_histogram": QuerySpec(
        event_concurrency_duration_histogram,
        EVENT_CONCURRENCY_DURATION_HISTOGRAM_SQL,
    ),
    "embed_knn_graph_octant": QuerySpec(
        embed_knn_graph_octant, EMBED_KNN_GRAPH_OCTANT_SQL
    ),
    "sink_sorted_clustered_write": QuerySpec(
        sink_sorted_clustered_write, SINK_SORTED_CLUSTERED_WRITE_SQL
    ),
    "scan_path_date_partition": QuerySpec(
        scan_path_date_partition, SCAN_PATH_DATE_PARTITION_SQL
    ),
    "date_julian_day_number": QuerySpec(
        date_julian_day_number, DATE_JULIAN_DAY_NUMBER_SQL
    ),
}
