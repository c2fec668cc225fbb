"""Round-6 batch 91 — tolerance reconciliation, ISO-8601 durations,
time-split leakage audit, floor-clamped running balance, CRLF CSV:

* ``join_reconcile_tolerance`` — payments-vs-orders reconciliation with
  tolerance: staged payments carry deterministic ±1¢ / +1-day jitter;
  matching joins on the CENTS BAND (cents div 3, both bands probed) so
  |Δcents| ≤ 1 pairs meet in a bucket-equi join — never an all-pairs
  compare; per jitter class the matched counts.
* ``str_iso_duration_parse`` — ISO-8601 durations (PnDTnH) rendered
  from data then parsed BACK by regex arithmetic; per status the total
  seconds — a format the engines have no native parser for, so both
  sides replay the grammar.
* ``sample_time_group_split_audit`` — the leakage meter for a pure-time
  split (train < day 16 ≤ test): per event type, train/test sizes and
  the users present in BOTH sides (the leak ppm) — what
  ``sample_split_leakage_safe`` prevents, quantified.
* ``window_clamped_running_balance`` — balance_t = max(0, balance_{t-1}
  + flow_t): the floor clamp makes it truly SEQUENTIAL (not a window
  function — each step depends on the clamped previous state);
  ``applyInPandas`` per customer, DuckDB RECURSIVE-CTE oracle walking
  the same recurrence (the event_alert_debounce pattern).
* ``scan_csv_crlf_endings`` — Windows line endings: a staged CSV with
  explicit CRLF terminators reads back clean (no stray \\r in the last
  column) — asserted by the hash gate.

Scale notes: reconciliation probes 2 band cells per payment (banded
equi join); duration parse is one scan; the leakage audit is two
grouped passes + a semi join; the clamped balance partitions by
customer with one scalar of state per group; CRLF handling is parser
surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- tolerance reconciliation -----------------------------------------------------------------

_RECON_BAND = 3  # cents band width; |Δ| ≤ 1 pairs share or neighbor bands


def join_reconcile_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Match payments (cents + (k%3−1) jitter) back to orders within
    ±1¢ via banded equi-join; per jitter class: n_payments, n_matched,
    sum |Δcents| of matches."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    pay = o.select(
        "k",
        (F.col("cents") + F.col("k") % 3 - 1).alias("pay_cents"),
        (F.col("k") % 3 - 1).cast("long").alias("jitter"),
    )
    # probe both the payment's band and the neighbor band that could
    # hold a |Δ| ≤ 1 order amount
    probes = pay.select(
        "k",
        "pay_cents",
        "jitter",
        F.explode(
            F.array(
                F.expr(f"pay_cents div {_RECON_BAND}"),
                F.expr(f"(pay_cents + CASE WHEN pay_cents % {_RECON_BAND} = "
                       f"{_RECON_BAND - 1} THEN 1 ELSE -1 END) div "
                       f"{_RECON_BAND}"),
            )
        ).alias("band"),
    ).distinct()
    orders_banded = o.select(
        F.col("k").alias("ok"),
        "cents",
        F.expr(f"cents div {_RECON_BAND}").alias("band"),
    )
    matched = (
        probes.join(orders_banded, "band")
        .where(
            (F.col("k") == F.col("ok"))
            & (F.abs(F.col("pay_cents") - F.col("cents")) <= 1)
        )
        .select("k", "jitter",
                F.abs(F.col("pay_cents") - F.col("cents")).alias("dc"))
        .distinct()
    )
    per_pay = pay.join(matched.select("k", "dc"), "k", "left")
    return per_pay.groupBy("jitter").agg(
        F.count(F.lit(1)).cast("long").alias("n_payments"),
        F.count("dc").cast("long").alias("n_matched"),
        F.coalesce(F.sum("dc"), F.lit(0)).cast("long").alias("sum_abs_delta"),
    )


JOIN_RECONCILE_TOLERANCE_SQL = """
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), pay AS (
  SELECT k, cents + (k % 3) - 1 AS pay_cents,
         CAST((k % 3) - 1 AS BIGINT) AS jitter, cents
  FROM o
)
SELECT jitter, CAST(count(*) AS BIGINT) AS n_payments,
       CAST(sum(CASE WHEN abs(pay_cents - cents) <= 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched,
       CAST(sum(CASE WHEN abs(pay_cents - cents) <= 1
                THEN abs(pay_cents - cents) ELSE 0 END) AS BIGINT)
         AS sum_abs_delta
FROM pay GROUP BY jitter
"""


# --- ISO-8601 duration parse ---------------------------------------------------------------------


def str_iso_duration_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render PnDTnH durations (days = k%5, hours = k%24), parse them
    BACK by regex, aggregate total seconds per status."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", F.col("o_orderkey").cast("long").alias("k")
    )
    dur = F.concat(
        F.lit("P"), (F.col("k") % 5).cast("string"), F.lit("DT"),
        (F.col("k") % 24).cast("string"), F.lit("H"),
    )
    rendered = o.select("o_orderstatus", dur.alias("iso"))
    days = F.regexp_extract("iso", r"P(\d+)DT", 1).cast("long")
    hours = F.regexp_extract("iso", r"DT(\d+)H", 1).cast("long")
    secs = days * 86400 + hours * 3600
    return rendered.select("o_orderstatus", secs.alias("secs")).groupBy(
        "o_orderstatus"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("secs").cast("long").alias("total_seconds"),
        F.max("secs").cast("long").alias("max_seconds"),
    )


STR_ISO_DURATION_PARSE_SQL = """
WITH rendered AS (
  SELECT o_orderstatus,
         concat('P', CAST(o_orderkey % 5 AS VARCHAR), 'DT',
                CAST(o_orderkey % 24 AS VARCHAR), 'H') AS iso
  FROM orders
), parsed AS (
  SELECT o_orderstatus,
         CAST(regexp_extract(iso, 'P(\\d+)DT', 1) AS BIGINT) * 86400
         + CAST(regexp_extract(iso, 'DT(\\d+)H', 1) AS BIGINT) * 3600
           AS secs
  FROM rendered
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(secs) AS BIGINT) AS total_seconds,
       CAST(max(secs) AS BIGINT) AS max_seconds
FROM parsed GROUP BY o_orderstatus
"""


# --- time-split leakage audit -----------------------------------------------------------------------


def sample_time_group_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-time split (train: day ≤ 15, test: day > 15): per event
    type the split sizes and the users leaking across (in BOTH sides),
    as a ppm of test users."""
    ev = load_table(spark, sf_dir, "events")
    sides = ev.select(
        "event_type",
        "user_id",
        (F.dayofmonth("ts") > 15).cast("int").alias("is_test"),
    )
    per_user = sides.groupBy("event_type", "user_id").agg(
        F.max(1 - F.col("is_test")).alias("in_train"),
        F.max("is_test").alias("in_test"),
    )
    counts = sides.groupBy("event_type").agg(
        F.sum(1 - F.col("is_test")).cast("long").alias("n_train_events"),
        F.sum("is_test").cast("long").alias("n_test_events"),
    )
    leak = per_user.groupBy("event_type").agg(
        F.sum("in_test").cast("long").alias("n_test_users"),
        F.sum(F.col("in_train") * F.col("in_test"))
        .cast("long")
        .alias("n_leaked_users"),
    )
    return counts.join(leak, "event_type").select(
        "event_type",
        "n_train_events",
        "n_test_events",
        "n_test_users",
        "n_leaked_users",
        # zero-test-user guard: Spark's ANSI div raises on /0 where
        # DuckDB's // quietly yields NULL — make both NULL
        F.expr(
            "CASE WHEN n_test_users > 0"
            " THEN (n_leaked_users * 1000000) div n_test_users END"
        )
        .cast("long")
        .alias("leak_ppm"),
    )


SAMPLE_TIME_GROUP_SPLIT_AUDIT_SQL = """
WITH sides AS (
  SELECT event_type, user_id,
         CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END AS is_test
  FROM events
), per_user AS (
  SELECT event_type, user_id,
         max(1 - is_test) AS in_train, max(is_test) AS in_test
  FROM sides GROUP BY 1, 2
), counts AS (
  SELECT event_type,
         CAST(sum(1 - is_test) AS BIGINT) AS n_train_events,
         CAST(sum(is_test) AS BIGINT) AS n_test_events
  FROM sides GROUP BY 1
), leak AS (
  SELECT event_type,
         CAST(sum(in_test) AS BIGINT) AS n_test_users,
         CAST(sum(in_train * in_test) AS BIGINT) AS n_leaked_users
  FROM per_user GROUP BY 1
)
SELECT c.event_type, c.n_train_events, c.n_test_events,
       l.n_test_users, l.n_leaked_users,
       CAST(CASE WHEN l.n_test_users > 0
                 THEN (l.n_leaked_users * 1000000) // l.n_test_users END
            AS BIGINT) AS leak_ppm
FROM counts c JOIN leak l ON c.event_type = l.event_type
"""


# --- floor-clamped running balance --------------------------------------------------------------------


def window_clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """balance_t = max(0, balance_{t-1} + flow_t) per customer (flows:
    +cents on even orderkeys, −cents on odd) — sequential state via
    applyInPandas; output final balance + clamp count."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("o_custkey", LongType()),
            StructField("n_flows", LongType()),
            StructField("final_balance", LongType()),
            StructField("n_clamps", LongType()),
        ]
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["dn", "k"])
        bal = 0
        clamps = 0
        for f in pdf["flow"]:
            bal += int(f)
            if bal < 0:
                bal = 0
                clamps += 1
        return pd.DataFrame(
            {
                "o_custkey": [int(pdf["o_custkey"].iloc[0])],
                "n_flows": [len(pdf)],
                "final_balance": [bal],
                "n_clamps": [clamps],
            }
        )

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("dn"),
        F.col("o_orderkey").cast("long").alias("k"),
        F.when(
            F.col("o_orderkey") % 2 == 0,
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"),
        )
        .otherwise(
            -F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        )
        .alias("flow"),
    )
    return o.groupBy("o_custkey").applyInPandas(walk, out_schema)


WINDOW_CLAMPED_RUNNING_BALANCE_SQL = """
WITH RECURSIVE o AS (
  SELECT o_custkey,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS dn,
         o_orderkey AS k,
         CASE WHEN o_orderkey % 2 = 0
              THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
              ELSE -CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
         END AS flow,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
           AS rn
  FROM orders
), walk AS (
  SELECT o_custkey, rn,
         greatest(flow, 0) AS bal,
         CASE WHEN flow < 0 THEN 1 ELSE 0 END AS clamps
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.o_custkey, o.rn,
         greatest(w.bal + o.flow, 0),
         w.clamps + CASE WHEN w.bal + o.flow < 0 THEN 1 ELSE 0 END
  FROM o JOIN walk w ON o.o_custkey = w.o_custkey AND o.rn = w.rn + 1
), finals AS (
  SELECT o_custkey, max(rn) AS n_flows FROM walk GROUP BY 1
)
SELECT CAST(f.o_custkey AS BIGINT) AS o_custkey,
       CAST(f.n_flows AS BIGINT) AS n_flows,
       CAST(w.bal AS BIGINT) AS final_balance,
       CAST(w.clamps AS BIGINT) AS n_clamps
FROM finals f JOIN walk w
  ON f.o_custkey = w.o_custkey AND f.n_flows = w.rn
"""


# --- CRLF CSV ingest ----------------------------------------------------------------------------------


def _staged_crlf_csv(spark: SparkSession, sf_dir: str) -> str:
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "crlfcsv", sf_dir)
    done = os.path.join(out, "_STAGED")
    if not os.path.exists(done):
        # df.write-based staging (ADVICE r6: no whole-table collect).
        # The text writer terminates records with \n; the row value
        # itself carries the trailing \r, so every line ends \r\n —
        # the exact CRLF shape the scan must tolerate.  Headerless
        # (the scan supplies the schema): a per-part-file header would
        # otherwise be data in all but the first file.
        tmp = out + ".tmp"
        (
            load_table(spark, sf_dir, "orders")
            .select(
                F.format_string(
                    "%d,%s,%d\r",
                    F.col("o_orderkey").cast("long"),
                    F.col("o_orderstatus"),
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                    .cast("long"),
                ).alias("value"),
            )
            .write.mode("overwrite")
            .text(tmp)
        )
        os.makedirs(out, exist_ok=True)
        for name in os.listdir(tmp):
            if name.startswith("part-"):
                os.replace(
                    os.path.join(tmp, name),
                    os.path.join(out, name + ".csv"),
                )
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        with open(done, "w") as f:
            f.write("ok")
    return out


def scan_csv_crlf_endings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the CRLF-terminated CSV; the last column must arrive as a
    clean BIGINT (a stray \\r would void the cast)."""
    path = _staged_crlf_csv(spark, sf_dir)
    df = (
        spark.read.option("header", "false")
        .schema("k LONG, status STRING, cents LONG")
        .csv(os.path.join(path, "*.csv"))
    )
    return df.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("cents").isNull().cast("long")).cast("long").alias(
            "n_bad_cents"
        ),
        F.sum("cents").cast("long").alias("total_cents"),
    )


SCAN_CSV_CRLF_ENDINGS_SQL = """
SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
       CAST(0 AS BIGINT) AS n_bad_cents,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders GROUP BY 1
"""


QUERIES: dict[str, QuerySpec] = {
    "join_reconcile_tolerance": QuerySpec(
        join_reconcile_tolerance, JOIN_RECONCILE_TOLERANCE_SQL
    ),
    "str_iso_duration_parse": QuerySpec(
        str_iso_duration_parse, STR_ISO_DURATION_PARSE_SQL
    ),
    "sample_time_group_split_audit": QuerySpec(
        sample_time_group_split_audit, SAMPLE_TIME_GROUP_SPLIT_AUDIT_SQL
    ),
    "window_clamped_running_balance": QuerySpec(
        window_clamped_running_balance, WINDOW_CLAMPED_RUNNING_BALANCE_SQL
    ),
    "scan_csv_crlf_endings": QuerySpec(
        scan_csv_crlf_endings, SCAN_CSV_CRLF_ENDINGS_SQL
    ),
}
