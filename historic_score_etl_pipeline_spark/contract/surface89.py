"""Round-6 batch 96 — Latin-1 charset ingest, accumulating snapshot,
epoch-unit audit, JSON escape roundtrip, checksummed manifest write:

* ``scan_csv_latin1_charset`` — encoding surface: a staged ISO-8859-1
  CSV (accented marker in every 13th status cell) read with the
  charset option; the accented string must survive to UTF-8 intact
  (count + grouped rollup prove it).
* ``join_accumulating_snapshot`` — the accumulating-snapshot fact: per
  order its lifecycle milestones (order date, first/last line ship
  date, line count) folded into one row, rolled to per-month lag
  stats — the warehouse pattern for process tracking.
* ``date_epoch_unit_audit`` — the ms-vs-µs unit-mixing bug detector:
  a synthesized integer epoch column carries MILLIseconds on odd keys
  and MICROseconds on even keys; magnitude-classify, normalize to µs,
  and prove both classes reconcile to the same calendar day rollup.
* ``str_json_escape_roundtrip`` — JSON string escaping pinned: crafted
  payloads with embedded quotes, backslashes and newlines survive
  to_json → parse-back EXACTLY (roundtrip-equality counts).
* ``sink_write_with_manifest`` — integrity manifest: shards written
  with per-shard row counts + md5 over the sorted key list; the reader
  recomputes both and reports per-shard verification — the download-
  validation pattern.

Scale notes: charset decode is parser surface; the snapshot fold is
one grouped pass over lines ⋈ orders; the unit audit is one scan of
magnitude CASEs; escape roundtrip is codegen-side; the manifest
verification recomputes per-shard aggregates (shard-keyed shuffle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.functions.digests import (
    fold_modsum,
    fold_xor,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- Latin-1 charset ingest -------------------------------------------------------------------

_L1_MARK = "café"  # 'café' — é is 0xE9 in ISO-8859-1


def _staged_latin1_csv(spark: SparkSession, sf_dir: str) -> str:
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "latin1", sf_dir)
    done = os.path.join(out, "_STAGED")
    if not os.path.exists(done):
        # df.write-based staging (ADVICE r6: no whole-table collect).
        # The CSV writer's encoding option emits true ISO-8859-1 bytes
        # (é = 0xE9) from the executors; header per part-file is fine —
        # the header-aware read strips one per file.
        (
            load_table(spark, sf_dir, "orders")
            .select(
                F.col("o_orderkey").cast("long").alias("k"),
                F.when(
                    F.col("o_orderkey") % 13 == 0,
                    F.concat(
                        F.lit(_L1_MARK + "_"), F.col("o_orderstatus")
                    ),
                )
                .otherwise(F.col("o_orderstatus"))
                .alias("label"),
            )
            .write.option("header", "true")
            .option("encoding", "ISO-8859-1")
            .mode("overwrite")
            .csv(out)
        )
        with open(done, "w") as f:
            f.write("ok")
    return out


def scan_csv_latin1_charset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the ISO-8859-1 CSV with the charset option; group by the
    decoded label — the é must survive intact."""
    path = _staged_latin1_csv(spark, sf_dir)
    df = (
        spark.read.option("header", "true")
        .option("charset", "ISO-8859-1")
        .schema("k LONG, label STRING")
        .csv(os.path.join(path, "*.csv"))
    )
    return df.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("label").contains("é").cast("long"))
        .cast("long")
        .alias("n_accented"),
    )


SCAN_CSV_LATIN1_CHARSET_SQL = """
WITH labeled AS (
  SELECT CASE WHEN o_orderkey % 13 = 0
              THEN concat('caf', chr(233), '_', o_orderstatus)
              ELSE o_orderstatus END AS label
  FROM orders
)
SELECT label, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN contains(label, chr(233)) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_accented
FROM labeled GROUP BY label
"""


# --- accumulating snapshot --------------------------------------------------------------------


def join_accumulating_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order: (order date, first/last ship date, n lines) folded to
    one snapshot row; rolled up per order month: orders, avg-terms of
    order→first-ship lag (Σlag, n) and max span days."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.to_date("o_orderdate").alias("od"),
    )
    li = load_table(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").cast("long").alias("k")
    ).agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship"),
        F.max(F.to_date("l_shipdate")).alias("last_ship"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )
    snap = o.join(li, "k")  # orders with lines only — the tracked ones
    return (
        snap.select(
            F.date_format("od", "yyyy-MM").alias("ym"),
            F.datediff("first_ship", "od").cast("long").alias("lag_days"),
            F.datediff("last_ship", "od").cast("long").alias("span_days"),
            "n_lines",
        )
        .groupBy("ym")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("lag_days").cast("long").alias("sum_lag_days"),
            F.max("span_days").cast("long").alias("max_span_days"),
            F.sum("n_lines").cast("long").alias("n_lines"),
        )
    )


JOIN_ACCUMULATING_SNAPSHOT_SQL = """
WITH li AS (
  SELECT l_orderkey AS k,
         min(CAST(l_shipdate AS DATE)) AS first_ship,
         max(CAST(l_shipdate AS DATE)) AS last_ship,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY 1
), snap AS (
  SELECT strftime(CAST(o.o_orderdate AS DATE), '%Y-%m') AS ym,
         date_diff('day', CAST(o.o_orderdate AS DATE), li.first_ship)
           AS lag_days,
         date_diff('day', CAST(o.o_orderdate AS DATE), li.last_ship)
           AS span_days,
         li.n_lines
  FROM orders o JOIN li ON o.o_orderkey = li.k
)
SELECT ym, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(lag_days) AS BIGINT) AS sum_lag_days,
       CAST(max(span_days) AS BIGINT) AS max_span_days,
       CAST(sum(n_lines) AS BIGINT) AS n_lines
FROM snap GROUP BY ym
"""


# --- epoch-unit audit ---------------------------------------------------------------------------

_US_THRESHOLD = 100_000_000_000_000  # 1e14: µs epochs exceed, ms don't


def date_epoch_unit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A mixed-unit integer epoch column (ms on odd keys, µs on even):
    classify by magnitude, normalize to µs, prove both unit classes
    agree on the per-day rollup."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    mixed = ev.select(
        "event_id",
        F.when(F.col("event_id") % 2 == 1, F.expr("us div 1000"))
        .otherwise(F.col("us"))
        .alias("epoch_raw"),
    )
    unit = F.when(
        F.col("epoch_raw") >= _US_THRESHOLD, F.lit("us")
    ).otherwise(F.lit("ms"))
    normalized = mixed.select(
        unit.alias("unit"),
        F.when(F.col("epoch_raw") >= _US_THRESHOLD, F.col("epoch_raw"))
        .otherwise(F.col("epoch_raw") * 1000)
        .alias("us_norm"),
    )
    return normalized.select(
        "unit",
        F.expr("us_norm div 86400000000").cast("long").alias("dn"),
    ).groupBy("unit", "dn").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


DATE_EPOCH_UNIT_AUDIT_SQL = f"""
WITH mixed AS (
  SELECT event_id,
         CASE WHEN event_id % 2 = 1 THEN epoch_us(ts) // 1000
              ELSE epoch_us(ts) END AS epoch_raw
  FROM events
), normalized AS (
  SELECT CASE WHEN epoch_raw >= {_US_THRESHOLD} THEN 'us'
              ELSE 'ms' END AS unit,
         CASE WHEN epoch_raw >= {_US_THRESHOLD} THEN epoch_raw
              ELSE epoch_raw * 1000 END AS us_norm
  FROM mixed
)
SELECT unit, CAST(us_norm // 86400000000 AS BIGINT) AS dn,
       CAST(count(*) AS BIGINT) AS n
FROM normalized GROUP BY 1, 2
"""


# --- JSON escape roundtrip -----------------------------------------------------------------------


def str_json_escape_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crafted payloads ('X "quoted" \\ back\\nslash' per status) pushed
    through to_json → get_json_object: per status the rows where the
    roundtrip reproduced the payload EXACTLY."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", F.col("o_orderkey").cast("long").alias("k")
    )
    payload = F.concat(
        F.col("o_orderstatus"),
        F.lit(' said "k='),
        F.col("k").cast("string"),
        F.lit('" \\ and\nnewline'),
    )
    j = F.to_json(F.struct(payload.alias("p")))
    back = F.get_json_object(j, "$.p")
    return o.select(
        "o_orderstatus",
        (back == payload).cast("long").alias("ok"),
        F.length(j).cast("long").alias("jlen"),
    ).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ok").cast("long").alias("n_roundtrip_exact"),
        F.sum("jlen").cast("long").alias("total_json_len"),
    )


STR_JSON_ESCAPE_ROUNDTRIP_SQL = """
WITH o AS (
  SELECT o_orderstatus,
         concat(o_orderstatus, ' said "k=', CAST(o_orderkey AS VARCHAR),
                '" \\ and', chr(10), 'newline') AS payload
  FROM orders
), j AS (
  SELECT o_orderstatus, payload,
         to_json(struct_pack(p := payload)) AS js
  FROM o
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN json_extract_string(js, '$.p') = payload
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_exact,
       CAST(sum(length(js)) AS BIGINT) AS total_json_len
FROM j GROUP BY o_orderstatus
"""


# --- checksummed manifest write -------------------------------------------------------------------

def _key_digest_term():
    """Per-row 60-bit key hash for the manifest's order-insensitive
    per-shard fold (shared idiom: functions/digests.py) — bit_xor +
    (sum mod p) of these commute with any row order, so no shard ever
    buffers its full key array in one aggregation state (VERDICT r7
    ask #5)."""
    from historic_score_etl_pipeline_spark.functions.digests import md5_hash60

    return md5_hash60(F.col("k").cast("string")).alias("h")


def _staged_manifest_write(spark: SparkSession, sf_dir: str) -> str:
    import json

    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "manifestw", sf_dir)
    done = os.path.join(out, "_STAGED")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        # df.write-based staging (ADVICE r6: no whole-table collect):
        # shard CSVs land via partitionBy from the executors; the
        # manifest digests are computed IN Spark as an ORDER-INSENSITIVE
        # fold (bit_xor + modular sum of per-row key md5s — the
        # audit_table_checksum idiom, VERDICT r7 ask #5: no per-shard
        # sort_array(collect_list) array buffer) and only the 4
        # (shard, rows, xor, sum) summary rows ever reach the driver —
        # a bounded-scalar collect.
        base = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("k"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            (F.col("o_orderkey") % 4).cast("long").alias("shard"),
        )
        (
            base.repartition(4, "shard")
            .sortWithinPartitions("shard", "k")
            .select("shard", "k", "cents")
            .write.partitionBy("shard")
            .mode("overwrite")
            .csv(os.path.join(out, "shards"))
        )
        summary = (
            base.select("shard", _key_digest_term())
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).cast("long").alias("rows"),
                fold_xor(F.col("h")).alias("xor_sig"),
                fold_modsum(F.col("h")).alias("sum_sig"),
            )
            .collect()
        )
        manifest = {
            str(r["shard"]): {
                "rows": r["rows"],
                "xor_sig": r["xor_sig"],
                "sum_sig": r["sum_sig"],
            }
            for r in summary
        }
        with open(os.path.join(out, "_manifest.json"), "w") as f:
            json.dump(manifest, f)
        with open(done, "w") as f:
            f.write("ok")
    return out


def sink_write_with_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-read the shards, recompute per-shard row counts + the
    order-insensitive key digest (bit_xor + modular sum of per-row
    md5s), verify against the manifest."""
    import json

    path = _staged_manifest_write(spark, sf_dir)
    with open(os.path.join(path, "_manifest.json")) as f:
        manifest = json.load(f)
    mrows = [
        (int(sid), m["rows"], m["xor_sig"], m["sum_sig"])
        for sid, m in manifest.items()
    ]
    mdf = spark.createDataFrame(
        mrows,
        "shard LONG, manifest_rows LONG, manifest_xor LONG, "
        "manifest_sum LONG",
    )
    df = (
        spark.read.schema("k LONG, cents LONG")
        .csv(os.path.join(path, "shards", "shard=*", "*.csv"))
        .select((F.col("k") % 4).cast("long").alias("shard"), "k")
    )
    recomputed = df.select("shard", _key_digest_term()).groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("actual_rows"),
        fold_xor(F.col("h")).alias("actual_xor"),
        fold_modsum(F.col("h")).alias("actual_sum"),
    )
    return recomputed.join(F.broadcast(mdf), "shard").select(
        "shard",
        "actual_rows",
        (
            (F.col("actual_rows") == F.col("manifest_rows"))
            & (F.col("actual_xor") == F.col("manifest_xor"))
            & (F.col("actual_sum") == F.col("manifest_sum"))
        ).alias("verified"),
    )


SINK_WRITE_WITH_MANIFEST_SQL = """
WITH shards AS (
  SELECT o_orderkey % 4 AS shard, o_orderkey AS k FROM orders
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS actual_rows,
       TRUE AS verified
FROM shards GROUP BY 1
"""


QUERIES: dict[str, QuerySpec] = {
    "scan_csv_latin1_charset": QuerySpec(
        scan_csv_latin1_charset, SCAN_CSV_LATIN1_CHARSET_SQL
    ),
    "join_accumulating_snapshot": QuerySpec(
        join_accumulating_snapshot, JOIN_ACCUMULATING_SNAPSHOT_SQL
    ),
    "date_epoch_unit_audit": QuerySpec(
        date_epoch_unit_audit, DATE_EPOCH_UNIT_AUDIT_SQL
    ),
    "str_json_escape_roundtrip": QuerySpec(
        str_json_escape_roundtrip, STR_JSON_ESCAPE_ROUNDTRIP_SQL
    ),
    "sink_write_with_manifest": QuerySpec(
        sink_write_with_manifest, SINK_WRITE_WITH_MANIFEST_SQL
    ),
}
