"""Round-6 batch 87 — ZIP archive ingest, word burstiness, try_*
arithmetic semantics, first-purchase rank distribution, column profile:

* ``scan_zip_archive_members`` — archive ingest: a staged ZIP with
  three CSV members read through ``binaryFile`` + an Arrow-batched
  in-task ``zipfile`` extraction (1 archive → N member rows → M record
  rows) — compressed-bundle delivery, the courier format of scraped
  corpora.
* ``text_word_burstiness`` — lexical overdispersion: for the top-20
  corpus words, the exact variance-to-mean TERMS of per-doc counts
  (D·Σx² − (Σx)² vs D·Σx — burstiness sign by cross-multiplication):
  bursty words cluster in few docs, function words spread evenly.
* ``sql_try_arithmetic_nulls`` — ANSI try_* semantics as engine
  surface: try_divide (÷0 → NULL), try_multiply / try_add (BIGINT
  overflow → NULL), try_element_at (bad index → NULL); the oracle
  replays the NULL rules with explicit CASE guards.
* ``event_first_purchase_rank`` — within user-day sessions: the
  position of the first purchase; distribution (position, n_sessions)
  plus sessions with no purchase at position 0 — the funnel-depth
  histogram.
* ``audit_column_profile`` — the describe() operator: per declared
  orders column (key, custkey, status, priority, date-as-string):
  rows, nulls, exact distinct count, min/max as strings.

Scale notes: zip members decompress inside the task (no driver
byte-shipping on read); burstiness works on the |top-words × docs|
aggregate after a broadcast top-k semi-join; the try_* suite is one
scan; rank histograms ride the session window; the profile is five
column aggregates unioned (scalar class).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- ZIP archive ingest ----------------------------------------------------------------------


def _staged_zip_archive(spark: SparkSession, sf_dir: str) -> str:
    import zipfile

    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    import glob as _glob
    import shutil

    out = app_scoped_dir(spark, "ziparc", sf_dir)
    done = os.path.join(out, "_STAGED")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        # Stage member bodies with df.write (executor-side, scalable),
        # then STREAM the staged files into the single zip artifact —
        # the driver touches file handles, never row data (ADVICE r6:
        # the old whole-table collect() would OOM at scale; a zip is
        # inherently a single-writer artifact, so the final assembly is
        # a bounded file-copy loop, not a data materialization).
        mdir = os.path.join(out, "_members")
        (
            load_table(spark, sf_dir, "orders")
            .select(
                (F.col("o_orderkey") % 3).cast("long").alias("mb"),
                F.format_string(
                    "%d,%s,%d",
                    F.col("o_orderkey").cast("long"),
                    F.col("o_orderstatus"),
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                    .cast("long"),
                ).alias("value"),
            )
            .repartition("mb")
            .write.partitionBy("mb")
            .mode("overwrite")
            .text(mdir)
        )
        with zipfile.ZipFile(
            os.path.join(out, "orders_bundle.zip"), "w", zipfile.ZIP_DEFLATED
        ) as zf:
            for i in range(3):
                parts = sorted(
                    _glob.glob(os.path.join(mdir, f"mb={i}", "part-*"))
                )
                with zf.open(f"part{i}.csv", "w") as member:
                    for p in parts:
                        with open(p, "rb") as src:
                            shutil.copyfileobj(src, member)
        shutil.rmtree(mdir, ignore_errors=True)
        with open(done, "w") as f:
            f.write("ok")
    return out


def scan_zip_archive_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract the ZIP's CSV members inside the task, parse records,
    aggregate per (member, status)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    path = _staged_zip_archive(spark, sf_dir)
    schema = StructType(
        [
            StructField("member", StringType()),
            StructField("k", LongType()),
            StructField("status", StringType()),
            StructField("cents", LongType()),
        ]
    )

    def unzip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import zipfile

        for pdf in it:
            for blob in pdf["content"]:
                with zipfile.ZipFile(io.BytesIO(bytes(blob))) as zf:
                    for name in sorted(zf.namelist()):
                        ks, sts, cs = [], [], []
                        for line in zf.read(name).decode().splitlines():
                            k, st, c = line.split(",")
                            ks.append(int(k))
                            sts.append(st)
                            cs.append(int(c))
                        yield pd.DataFrame(
                            {"member": name, "k": ks, "status": sts,
                             "cents": cs}
                        )

    recs = (
        spark.read.format("binaryFile")
        .load(os.path.join(path, "*.zip"))
        .select("content")
        .mapInPandas(unzip, schema)
    )
    return recs.groupBy("member", "status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


SCAN_ZIP_ARCHIVE_MEMBERS_SQL = """
SELECT concat('part', CAST(o_orderkey % 3 AS VARCHAR), '.csv') AS member,
       o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders GROUP BY 1, 2
"""


# --- word burstiness --------------------------------------------------------------------------

_BURST_TOPK = 20


def text_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For the top-20 corpus words: D (docs), doc-frequency, Σx, Σx²
    of per-doc counts and the cross-multiplied overdispersion sign
    (D·Σx² − (Σx)² vs (D−1)·Σx ⇔ sample VMR vs 1)."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                    lambda t: t != "",
                )
            ).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    top = (
        per_doc.groupBy("w")
        .agg(F.sum("x").alias("tot"))
        .orderBy(F.desc("tot"), F.asc("w"))
        .limit(_BURST_TOPK)
        .select("w")
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("d_total"))
    stats = (
        per_doc.join(F.broadcast(top), "w")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("doc_freq"),
            F.sum("x").cast("long").alias("sum_x"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_x2"),
        )
    )
    # 1-row corpus-size scalar broadcast (scalar-folding rule).
    # The cross-multiplied VMR comparison runs in DECIMAL(38,0)
    # (HUGEINT in the oracle): d_total·Σx² is ~1e20 at web scale —
    # past int64 — while the reported sums themselves stay int64-safe.
    joined = stats.crossJoin(F.broadcast(n_docs))
    d_dec = F.col("d_total").cast("decimal(38,0)")
    sx_dec = F.col("sum_x").cast("decimal(38,0)")
    vmr_num = d_dec * F.col("sum_x2") - sx_dec * F.col("sum_x")
    vmr_den = (d_dec - 1) * F.col("sum_x")
    return joined.select(
        "w",
        "doc_freq",
        "sum_x",
        "sum_x2",
        "d_total",
        F.when(vmr_num > vmr_den, 1)
        .when(vmr_num < vmr_den, -1)
        .otherwise(0)
        .cast("long")
        .alias("bursty_sign"),
    )


TEXT_WORD_BURSTINESS_SQL = f"""
WITH per_doc AS (
  SELECT doc_id, t.w, CAST(count(*) AS BIGINT) AS x
  FROM documents,
       unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                          u -> u <> '')) AS t(w)
  GROUP BY doc_id, t.w
), top AS (
  SELECT w FROM per_doc GROUP BY w
  ORDER BY sum(x) DESC, w LIMIT {_BURST_TOPK}
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS d_total FROM documents
), stats AS (
  SELECT p.w, CAST(count(*) AS BIGINT) AS doc_freq,
         CAST(sum(p.x) AS BIGINT) AS sum_x,
         CAST(sum(p.x * p.x) AS BIGINT) AS sum_x2
  FROM per_doc p JOIN top ON p.w = top.w GROUP BY p.w
)
SELECT w, doc_freq, sum_x, sum_x2, d_total,
       CAST(CASE WHEN CAST(d_total AS HUGEINT) * sum_x2
                      - CAST(sum_x AS HUGEINT) * sum_x
                      > CAST(d_total - 1 AS HUGEINT) * sum_x THEN 1
                 WHEN CAST(d_total AS HUGEINT) * sum_x2
                      - CAST(sum_x AS HUGEINT) * sum_x
                      < CAST(d_total - 1 AS HUGEINT) * sum_x THEN -1
                 ELSE 0 END AS BIGINT) AS bursty_sign
FROM stats, nd
"""


# --- try_* arithmetic semantics -----------------------------------------------------------------

_OVF_MUL = 9_000_000_000_000_000  # cents beyond ~1024 overflow int64


def sql_try_arithmetic_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_divide / try_multiply / try_add / try_element_at NULL
    semantics over orders, aggregated per status."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_try_orders"
    )
    return spark.sql(
        f"""
        WITH o AS (
          SELECT o_orderstatus AS status, o_orderkey AS k,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM v_try_orders
        ), t AS (
          SELECT status,
                 try_divide(cents, k % 7) AS dv,
                 try_multiply(cents, CAST({_OVF_MUL} AS BIGINT)) AS mul,
                 try_add(CAST(9223372036854775807 AS BIGINT),
                         CAST(k % 3 AS BIGINT)) AS ad,
                 try_element_at(array(10, 20, 30),
                                CAST(k % 5 + 1 AS INT)) AS el
          FROM o
        )
        SELECT status,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN dv IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_div_null,
               CAST(sum(CAST(floor(dv) AS BIGINT)) AS BIGINT)
                 AS sum_div_floor,
               CAST(sum(CASE WHEN mul IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_mul_overflow,
               CAST(sum(CASE WHEN ad IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_add_overflow,
               CAST(sum(el) AS BIGINT) AS sum_elements
        FROM t GROUP BY status
        """
    )


SQL_TRY_ARITHMETIC_NULLS_SQL = f"""
WITH o AS (
  SELECT o_orderstatus AS status, o_orderkey AS k,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), t AS (
  SELECT status,
         CASE WHEN k % 7 = 0 THEN NULL
              ELSE CAST(cents AS DOUBLE) / (k % 7) END AS dv,
         CASE WHEN cents > 9223372036854775807 // {_OVF_MUL}
              THEN NULL ELSE cents * {_OVF_MUL} END AS mul,
         CASE WHEN k % 3 > 0 THEN NULL
              ELSE 9223372036854775807 END AS ad,
         CASE WHEN k % 5 = 0 THEN 10 WHEN k % 5 = 1 THEN 20
              WHEN k % 5 = 2 THEN 30 ELSE NULL END AS el
  FROM o
)
SELECT status, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN dv IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_div_null,
       CAST(sum(CAST(floor(dv) AS BIGINT)) AS BIGINT) AS sum_div_floor,
       CAST(sum(CASE WHEN mul IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mul_overflow,
       CAST(sum(CASE WHEN ad IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_add_overflow,
       CAST(sum(el) AS BIGINT) AS sum_elements
FROM t GROUP BY status
"""


# --- first-purchase rank distribution --------------------------------------------------------------


def event_first_purchase_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within user-day sessions: the position of the FIRST purchase
    (0 = session has none); distribution (position, n_sessions)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    stepped = ev.select(
        "user_id",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        "event_type",
    ).select(
        "user_id",
        "day",
        "event_type",
        F.row_number().over(w).alias("pos"),
    )
    first_p = (
        stepped.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "day")
        .agg(F.min("pos").cast("long").alias("first_pos"))
    )
    sessions = stepped.select("user_id", "day").distinct()
    return (
        sessions.join(first_p, ["user_id", "day"], "left")
        .select(F.coalesce("first_pos", F.lit(0)).cast("long").alias("pos"))
        .groupBy("pos")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )


EVENT_FIRST_PURCHASE_RANK_SQL = """
WITH stepped AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS pos
  FROM events
), first_p AS (
  SELECT user_id, day, CAST(min(pos) AS BIGINT) AS first_pos
  FROM stepped WHERE event_type = 'purchase' GROUP BY 1, 2
), sessions AS (
  SELECT DISTINCT user_id, day FROM stepped
)
SELECT CAST(coalesce(f.first_pos, 0) AS BIGINT) AS pos,
       CAST(count(*) AS BIGINT) AS n_sessions
FROM sessions s LEFT JOIN first_p f
  ON s.user_id = f.user_id AND s.day = f.day
GROUP BY 1
"""


# --- column profile ----------------------------------------------------------------------------------


def audit_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe()-style profile of five declared orders columns: rows,
    nulls, exact distinct count, min/max as strings."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("o_orderkey"),
        F.col("o_custkey").cast("string").alias("o_custkey"),
        "o_orderstatus",
        "o_orderpriority",
        F.to_date("o_orderdate").cast("string").alias("o_orderdate"),
    )

    def prof(col: str) -> DataFrame:
        # one scalar aggregate per declared column (audit class); min/
        # max compare LEXICOGRAPHICALLY on the string form — pinned
        return o.agg(
            F.lit(col).alias("column"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col(col).isNull().cast("long")).cast("long").alias(
                "n_null"
            ),
            F.countDistinct(col).cast("long").alias("n_distinct"),
            F.min(col).alias("min_str"),
            F.max(col).alias("max_str"),
        )

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
            "o_orderdate"]
    out = prof(cols[0])
    for c in cols[1:]:
        out = out.unionByName(prof(c))
    return out


AUDIT_COLUMN_PROFILE_SQL = """
WITH o AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
         CAST(o_custkey AS VARCHAR) AS o_custkey,
         o_orderstatus, o_orderpriority,
         CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate
  FROM orders
)
SELECT 'o_orderkey' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       min(o_orderkey) AS min_str, max(o_orderkey) AS max_str
FROM o
UNION ALL
SELECT 'o_custkey', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT o_custkey) AS BIGINT),
       min(o_custkey), max(o_custkey)
FROM o
UNION ALL
SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(count(DISTINCT o_orderstatus) AS BIGINT),
       min(o_orderstatus), max(o_orderstatus)
FROM o
UNION ALL
SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(count(DISTINCT o_orderpriority) AS BIGINT),
       min(o_orderpriority), max(o_orderpriority)
FROM o
UNION ALL
SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT o_orderdate) AS BIGINT),
       min(o_orderdate), max(o_orderdate)
FROM o
"""


QUERIES: dict[str, QuerySpec] = {
    "scan_zip_archive_members": QuerySpec(
        scan_zip_archive_members, SCAN_ZIP_ARCHIVE_MEMBERS_SQL
    ),
    "text_word_burstiness": QuerySpec(
        text_word_burstiness, TEXT_WORD_BURSTINESS_SQL
    ),
    "sql_try_arithmetic_nulls": QuerySpec(
        sql_try_arithmetic_nulls, SQL_TRY_ARITHMETIC_NULLS_SQL
    ),
    "event_first_purchase_rank": QuerySpec(
        event_first_purchase_rank, EVENT_FIRST_PURCHASE_RANK_SQL
    ),
    "audit_column_profile": QuerySpec(
        audit_column_profile, AUDIT_COLUMN_PROFILE_SQL
    ),
}
