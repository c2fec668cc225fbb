"""Round-6 batch 80 — alert debounce, transaction-log table scan, CDC
snapshot diff, BPE pair counts, EXECUTE IMMEDIATE:

* ``event_alert_debounce`` — greedy rate-limited alerting: an 'error'
  event EMITS iff it is ≥ 1 h after the last EMITTED alert of that
  (user, type) — true sequential state (the emit decision feeds the
  next window), inexpressible as a plain gaps-and-islands window.
  ``applyInPandas`` per group; the oracle is a DuckDB RECURSIVE CTE
  walking the per-group sequence — an independent implementation of the
  same recurrence.
* ``scan_txn_log_table`` — a minimal lakehouse transaction log: JSON
  log entries (add/remove of parquet data files) folded IN ORDER to the
  live file set, then only live files scanned — the Delta/Iceberg
  pattern; the test asserts a removed file is really skipped.
* ``audit_snapshot_cdc_diff`` — change-data-capture between two staged
  snapshots (deterministic mutations: every 13th key deleted, every
  11th repriced +100¢, 50 synthetic inserts): full-outer join on the
  key classifies inserted/deleted/updated/unchanged with exact net
  cent deltas.
* ``text_bpe_pair_counts`` — the core BPE-training step: adjacent
  character-pair frequencies over the corpus vocabulary, weighted by
  token occurrences; top-20 merge candidates.  ONE pass over the
  distinct vocabulary (pairs explode on |vocab|, never on the corpus).
* ``sql_execute_immediate_param`` — Spark 4 parameterized dynamic SQL:
  ``EXECUTE IMMEDIATE '<query with ?>' USING <arg>`` — the engine-
  surface twin of a driver-composed query string, without string
  interpolation.

Scale notes: debounce state is one scalar per (user, type) group and
groups partition the shuffle; the txn-log fold reads ONLY the log JSON
(driver-side, bounded by log length) before any data I/O; the CDC diff
is one full-outer equi-join on the snapshot key; BPE pairs explode the
DISTINCT vocab (corpus-size-independent); EXECUTE IMMEDIATE plans
identically to the static query (no Python boundary).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- alert debounce -------------------------------------------------------------------

_DEBOUNCE_US = 3600 * 1_000_000


def event_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (user, 'error') sequence: emit iff ≥ 1 h after the last
    EMITTED alert (greedy).  Sequential state via applyInPandas."""
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("us", LongType()),
            StructField("emitted", BooleanType()),
        ]
    )

    def debounce(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["us", "event_id"])
        emitted = []
        last = None
        for us in pdf["us"]:
            fire = last is None or us >= last + _DEBOUNCE_US
            emitted.append(fire)
            if fire:
                last = us
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].astype("int64"),
                "event_id": pdf["event_id"].astype("int64"),
                "us": pdf["us"].astype("int64"),
                "emitted": emitted,
            }
        )

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts")).alias("us"),
        )
    )
    return ev.groupBy("user_id").applyInPandas(debounce, out_schema)


EVENT_ALERT_DEBOUNCE_SQL = f"""
WITH RECURSIVE ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = 'error'
), walk AS (
  SELECT user_id, us, event_id, rn, us AS last_emit, TRUE AS emitted
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.us, e.event_id, e.rn,
         CASE WHEN e.us >= w.last_emit + {_DEBOUNCE_US}
              THEN e.us ELSE w.last_emit END,
         e.us >= w.last_emit + {_DEBOUNCE_US}
  FROM ev e JOIN walk w
    ON e.user_id = w.user_id AND e.rn = w.rn + 1
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS event_id,
       CAST(us AS BIGINT) AS us, emitted
FROM walk
"""


# --- transaction-log table scan ----------------------------------------------------------

# deterministic thirds of orders by key residue; the log removes file_a
# in its last committed entry, so the live set is {file_b, file_c}
_TXN_FILES = {"file_a": 0, "file_b": 1, "file_c": 2}
_TXN_LOG = [
    {"add": "file_a"},
    {"add": "file_b"},
    {"add": "file_c", "remove": "file_a"},
]


def _staged_txn_table(spark: SparkSession, sf_dir: str) -> str:
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "txnlog", sf_dir)
    done = os.path.join(out, "_STAGED")
    if not os.path.exists(done):
        o = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        for fname, residue in _TXN_FILES.items():
            o.where(F.col("k") % 3 == residue).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(out, fname))
        logdir = os.path.join(out, "_txn_log")
        os.makedirs(logdir, exist_ok=True)
        for i, entry in enumerate(_TXN_LOG):
            with open(os.path.join(logdir, f"{i:05d}.json"), "w") as f:
                json.dump(entry, f)
        with open(done, "w") as f:
            f.write("ok")
    return out


def _live_files(table_dir: str) -> list[str]:
    """Fold the JSON log in commit order — reads ONLY the log, bounded
    by its length (the Delta/Iceberg snapshot-resolution step)."""
    import glob

    live: set[str] = set()
    for path in sorted(glob.glob(os.path.join(table_dir, "_txn_log", "*.json"))):
        with open(path) as f:
            entry = json.load(f)
        if "add" in entry:
            live.add(entry["add"])
        if "remove" in entry:
            live.discard(entry["remove"])
    return [os.path.join(table_dir, name) for name in sorted(live)]


def scan_txn_log_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve the live snapshot from the transaction log, scan only
    live data files, aggregate per status."""
    table_dir = _staged_txn_table(spark, sf_dir)
    live = _live_files(table_dir)
    df = spark.read.parquet(*live)
    return df.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.min("k").cast("long").alias("min_key"),
        F.max("k").cast("long").alias("max_key"),
    )


SCAN_TXN_LOG_TABLE_SQL = """
SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders
WHERE o_orderkey % 3 IN (1, 2)
GROUP BY 1
"""


# --- CDC snapshot diff ----------------------------------------------------------------------

_CDC_INSERTS = 50


def audit_snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between snapshot v1 (orders) and v2
    (deterministic mutations): per change class, row count and exact
    net cent delta."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    v1 = o
    # v2: delete %13==0; reprice %11==0 (surviving) +100; insert 50
    # synthetic keys ABOVE a deterministic bound (1e12 — disjoint from
    # any realistic orderkey, no max() driver action needed)
    surviving = o.where(F.col("k") % 13 != 0)
    repriced = surviving.select(
        "k",
        F.when(F.col("k") % 11 == 0, F.col("cents") + 100)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    inserts = spark.range(_CDC_INSERTS).select(
        (F.col("id") + F.lit(1_000_000_000_000)).alias("k"),
        (F.col("id") * 10 + 5).cast("long").alias("cents"),
    )
    v2 = repriced.unionByName(inserts)
    joined = v1.select(F.col("k"), F.col("cents").alias("c1")).join(
        v2.select(F.col("k"), F.col("cents").alias("c2")), "k", "full_outer"
    )
    classed = joined.select(
        F.when(F.col("c1").isNull(), "inserted")
        .when(F.col("c2").isNull(), "deleted")
        .when(F.col("c1") != F.col("c2"), "updated")
        .otherwise("unchanged")
        .alias("change"),
        F.coalesce(F.col("c2"), F.lit(0)) - F.coalesce(F.col("c1"), F.lit(0)),
    ).toDF("change", "delta")
    return classed.groupBy("change").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("delta").cast("long").alias("net_cents_delta"),
    )


AUDIT_SNAPSHOT_CDC_DIFF_SQL = f"""
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), classed AS (
  SELECT CASE
           WHEN k % 13 = 0 THEN 'deleted'
           WHEN k % 11 = 0 THEN 'updated'
           ELSE 'unchanged'
         END AS change,
         CASE
           WHEN k % 13 = 0 THEN -cents
           WHEN k % 11 = 0 THEN 100
           ELSE 0
         END AS delta
  FROM o
  UNION ALL
  SELECT 'inserted', CAST(t.i * 10 + 5 AS BIGINT)
  FROM unnest(generate_series(0, {_CDC_INSERTS} - 1)) AS t(i)
)
SELECT change, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(delta) AS BIGINT) AS net_cents_delta
FROM classed GROUP BY change
"""


# --- BPE pair counts ---------------------------------------------------------------------------

_BPE_TOPK = 20


def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent character-pair frequencies over the DISTINCT vocabulary
    weighted by token occurrences — one BPE-training merge-count pass;
    top-20 candidates."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("w")
    )
    wc = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n"))
    pairs = wc.where(F.length("w") >= 2).select(
        "n",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substr(w, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(_BPE_TOPK)
    )


TEXT_BPE_PAIR_COUNTS_SQL = f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS w
  FROM documents
), wc AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY w
), pairs AS (
  SELECT substr(w, t.i, 2) AS pair, n
  FROM wc, unnest(generate_series(1, length(w) - 1)) AS t(i)
  WHERE length(w) >= 2
)
SELECT pair, CAST(sum(n) AS BIGINT) AS cnt
FROM pairs GROUP BY pair ORDER BY cnt DESC, pair LIMIT {_BPE_TOPK}
"""


# --- EXECUTE IMMEDIATE -----------------------------------------------------------------------


def sql_execute_immediate_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized dynamic SQL: the band threshold arrives through a
    USING parameter, never string interpolation."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_exec_imm_orders"
    )
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderstatus AS status,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CASE WHEN o_totalprice < ? THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_below
           FROM v_exec_imm_orders GROUP BY o_orderstatus'
          USING 150000.0
        """
    )


SQL_EXECUTE_IMMEDIATE_PARAM_SQL = """
SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN o_totalprice < 150000.0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_below
FROM orders GROUP BY o_orderstatus
"""


QUERIES: dict[str, QuerySpec] = {
    "event_alert_debounce": QuerySpec(
        event_alert_debounce, EVENT_ALERT_DEBOUNCE_SQL
    ),
    "scan_txn_log_table": QuerySpec(
        scan_txn_log_table, SCAN_TXN_LOG_TABLE_SQL
    ),
    "audit_snapshot_cdc_diff": QuerySpec(
        audit_snapshot_cdc_diff, AUDIT_SNAPSHOT_CDC_DIFF_SQL
    ),
    "text_bpe_pair_counts": QuerySpec(
        text_bpe_pair_counts, TEXT_BPE_PAIR_COUNTS_SQL
    ),
    "sql_execute_immediate_param": QuerySpec(
        sql_execute_immediate_param, SQL_EXECUTE_IMMEDIATE_PARAM_SQL
    ),
}
