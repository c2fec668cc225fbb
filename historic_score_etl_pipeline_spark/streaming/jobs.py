"""Structured Streaming surface (SURVEY.md §2I, §7-M5).

The reference's cadence — cron every 2 days, scrape a 2-day horizon, retry
failed loads (app/main.py:19; app/team_utilities.py:436,510-554) — is an
incremental micro-batch job.  Its Spark-native form:

* file source + ``Trigger.AvailableNow`` → process everything new, then
  stop (the cron-batch pattern with checkpointed exactly-once progress);
* watermark + ``dropDuplicates`` → the garbage/dirty tolerance (I2);
* checkpoint dir → the resume/retry state the reference hand-rolls with
  parked frames (I3);
* tumbling/session windows → the daily bucketing (I1/I4).

All transforms are shared with the batch contract — the same
DataFrame expressions run under ``readStream`` unchanged, which is the
core argument for the Spark-first design.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Explicit schemas: streaming file sources cannot infer.  The events
# landing zone has appeared in two physical shapes (see
# sources.catalog.load_table): nanosecond timestamps (must be read as
# long, then converted) and plain microsecond timestamps (declared
# TimestampType — an explicit schema also sidesteps TIMESTAMP_NTZ
# inference).  ``read_events_stream`` probes the footer and picks.
def _events_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


EVENTS_STREAM_SCHEMA = _events_schema(TimestampType())
EVENTS_STREAM_SCHEMA_NANOS = _events_schema(LongType())


def _events_are_nanos(source_dir: str) -> bool:
    """Probe one parquet footer for the physical ts type (driver-side,
    metadata-only — no data read).  Homogeneous landing zones only, which
    a real deployment enforces at ingest."""
    import pyarrow.parquet as pq

    if os.path.isfile(source_dir):
        sample = source_dir
    else:
        files = [
            os.path.join(source_dir, f)
            for f in sorted(os.listdir(source_dir))
            if f.endswith(".parquet")
        ]
        if not files:
            return False
        sample = files[0]
    try:
        return "ns" in str(pq.read_schema(sample).field("ts").type)
    except Exception:
        return False


def read_events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """events as a file-source stream (one parquet file = one micro-batch
    unit; at scale this is a date-partitioned landing zone)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    nanos = _events_are_nanos(source_dir)
    if os.path.isfile(source_dir):
        # FileStreamSource requires a directory (its basePath must be a
        # dir); stage single test files behind a symlinked landing dir.
        landing = tempfile.mkdtemp(prefix="events_landing_")
        os.symlink(source_dir, os.path.join(landing, os.path.basename(source_dir)))
        source_dir = landing
    schema = EVENTS_STREAM_SCHEMA_NANOS if nanos else EVENTS_STREAM_SCHEMA
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    if nanos:
        # integer `div`: double division loses µs precision at ns scale
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def daily_counts_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """I1: tumbling daily aggregation with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").cast("date").cast("string").alias("day"),
            "n_events",
            "sum_value",
        )
    )


def stream_stream_interval_join(
    clicks: DataFrame,
    views: DataFrame,
    lookback: str = "INTERVAL 2 HOURS",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream join: each click pairs with the same
    user's views from the preceding ``lookback`` (attribution shape).

    Both inputs carry watermarks and the join condition bounds event time
    on BOTH sides — that pair is what lets Spark expire join state; an
    unbounded condition would buffer both streams forever.  State is
    keyed by user_id, so at scale the shuffle partitions by user and the
    per-key state stays O(events within the lookback window).
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    v = views.withWatermark("ts", watermark).select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    )
    return c.join(
        v,
        F.expr(
            f"c_user = v_user AND view_ts >= click_ts - {lookback}"
            " AND view_ts <= click_ts"
        ),
    ).select("click_id", "view_id", F.col("c_user").alias("user_id"),
             "click_ts", "view_ts")


def watermarked_dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """I2: drop duplicate event_ids within the watermark — the streaming
    form of the reference's tolerate-dirty-input behavior."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def dedup_within_watermark_stream(
    events: DataFrame, keys: list[str], watermark: str = "1 hour"
) -> DataFrame:
    """Bounded-state dedup via ``dropDuplicatesWithinWatermark`` (Spark
    3.5+): unlike plain watermark + dropDuplicates — whose per-key state
    lives until the key's OWN event-time watermark expires it — this
    guarantees eviction once the watermark passes the FIRST sighting,
    so state is strictly bounded by (throughput × watermark) regardless
    of key cardinality.  The trade: a duplicate arriving after the
    watermark window re-emits (at-least-once per window), which is the
    documented contract — downstream idempotent sinks absorb it.  THE
    state-size story at 100 TB: unbounded distinct keys no longer mean
    unbounded state."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def sessionized_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """I4: session windows with an inactivity gap (the streaming twin of
    the batch gaps-and-islands query stream_session_gap)."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.col("user_id"), F.session_window("ts", gap).alias("sess"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "n_events",
        )
    )


STATEFUL_TOTALS_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_seen", TimestampType()),
    ]
)

STATEFUL_TOTALS_STATE = StructType(
    [
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_us", LongType()),
    ]
)


def stateful_user_totals_stream(events: DataFrame) -> DataFrame:
    """I3: a custom stateful operator (``applyInPandasWithState``) — the
    engine's replacement for the reference's hand-rolled cross-run state
    (parked frames + accumulated error dicts, app/team_utilities.py:521-554).

    Per-user running totals survive across micro-batches in the state
    store: each batch folds its Arrow-batched rows into (n_events,
    sum_value, last_seen) and emits the updated row.  State is partitioned
    by user_id — on a 1000-executor cluster each task owns a key range of
    the state store (RocksDB-backed in production), so state size scales
    horizontally and no executor ever holds the full keyset.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key: tuple, pdfs, state: GroupState):
        n, s, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            # pandas datetime64 .max().value is nanos; state keeps micros
            last_us = max(last_us, int(pdf["ts"].max().value) // 1000)
        state.update((n, s, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [s],
                "last_seen": [pd.Timestamp(last_us, unit="us")],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        STATEFUL_TOTALS_OUTPUT,
        STATEFUL_TOTALS_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )


SESSIONIZER_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("sess_start", TimestampType()),
        StructField("sess_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

SESSIONIZER_STATE = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


def stateful_sessionizer_stream(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "0 seconds"
) -> DataFrame:
    """Custom sessionizer on ``applyInPandasWithState`` with an EVENT-TIME
    TIMEOUT: a session closes either when a same-user event arrives past
    the gap (emitted inline) or when the watermark passes ``last event +
    gap`` with no new data (emitted by the timeout path — the case
    ``session_window`` handles internally and imperative state must handle
    explicitly).  Demonstrates the full state lifecycle: exists/get,
    update, setTimeoutTimestamp, hasTimedOut, remove."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def sess_row(user_id: int, start_us: int, last_us: int, n: int) -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "user_id": [user_id],
                "sess_start": [pd.Timestamp(start_us, unit="us")],
                "sess_end": [pd.Timestamp(last_us, unit="us")],
                "n_events": [n],
            }
        )

    def update(key: tuple, pdfs, state: GroupState):
        user_id = key[0]
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield sess_row(user_id, start_us, last_us, n)
            return
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        cur = state.get if state.exists else None
        for ts in rows["ts"]:
            ts_us = int(ts.value) // 1000
            if cur is None:
                cur = (ts_us, ts_us, 1)
            elif ts_us - cur[1] <= gap_us:
                cur = (cur[0], ts_us, cur[2] + 1)
            else:
                yield sess_row(user_id, *cur)
                cur = (ts_us, ts_us, 1)
        state.update(cur)
        # close the trailing session when the watermark passes last + gap
        state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            SESSIONIZER_OUTPUT,
            SESSIONIZER_STATE,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_foreach_batch_sink(
    stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    errors=None,
    output_mode: str = "append",
) -> None:
    """Streaming → retried idempotent sink: each micro-batch lands via
    ``sinks.writer.retried_write`` keyed by the streaming batch id, so a
    batch replayed after a crash overwrites its own directory instead of
    appending duplicates.  foreachBatch + deterministic batch-id target +
    checkpoint = exactly-once end to end — the engine's replacement for
    the reference's retry-then-park-then-salvage loops
    (app/team_utilities.py:510-554) and their double-insert hazard."""
    from historic_score_etl_pipeline_spark.sinks.writer import retried_write

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        ok = retried_write(batch_df, out_path, batch_id=str(batch_id), errors=errors)
        if not ok:
            # surface the failure to the stream (triggers Spark's retry /
            # marks the batch uncommitted in the checkpoint)
            raise RuntimeError(f"sink failed for batch {batch_id}")

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now(
    stream: DataFrame,
    checkpoint_dir: str,
    query_name: str = "job",
    output_mode: str = "append",
) -> None:
    """Process all available input then stop — the cron-batch trigger
    (exactly-once via checkpoint; resuming after a crash re-reads only
    unprocessed files, replacing the reference's parked-frame salvage).
    Aggregation streams use ``output_mode='complete'``; row streams use
    the default append.

    MEMORY SINK — callers must prove their result is BOUNDED (collected
    to the driver): fine for window×type aggregates over a closed enum,
    fatal for anything data- or key-cardinality-sized.  Per-user state
    (``stream_stateful_totals``) and join results (``stream_stream_join``)
    both outgrew it — those run through ``run_foreach_batch_sink`` into
    parquet instead (VERDICT r9/r10)."""
    q = (
        stream.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_incremental_dedup(
    spark: SparkSession,
    landing_dir: str,
    work_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Streaming incremental dedup: the signature-index design
    (operators/dedup.py::band_buckets) wired into a real AvailableNow
    loop — the production shape of near-dup removal over an ever-growing
    corpus.

    Per micro-batch (foreachBatch):
    1. probe the arriving docs' band buckets against the PERSISTED index
       (``{work_dir}/index``) — new×existing collisions only;
    2. also self-check the batch for intra-batch dups
       (``band_self_join`` over the same band table: the arrival's
       buckets are built once, persisted for the batch, and feed the
       probe, the self-check and the index write);
    3. append the batch's flagged pairs to ``{work_dir}/flagged`` and the
       surviving docs' buckets to the index, both keyed by batch id via
       the idempotent writer — a replayed batch overwrites its own
       output, so crash+resume never double-inserts index rows.  The
       probe additionally EXCLUDES the current batch's own index
       partition, and ``band_probe_join`` drops id self-pairs: a crash
       between the index write and the checkpoint commit replays the
       batch against an index that already contains its buckets, which
       would otherwise flag every doc as a duplicate of itself.

    State is the parquet index itself — bucket-partitionable, mergeable,
    no in-memory store to size; at 100 TB the index is just another
    table.  Docs schema must carry (id_col, text_col).
    """
    import os as _os

    from pyspark.sql.types import LongType as _Long
    from pyspark.sql.types import StringType as _Str
    from pyspark.sql.types import StructField as _Field
    from pyspark.sql.types import StructType as _Struct

    from historic_score_etl_pipeline_spark.operators.dedup import (
        band_buckets,
        band_probe_join,
        band_self_join,
    )
    from historic_score_etl_pipeline_spark.sinks.writer import retried_write

    index_dir = _os.path.join(work_dir, "index")
    flagged_dir = _os.path.join(work_dir, "flagged")
    schema = _Struct(
        [_Field(id_col, _Long()), _Field(text_col, _Str())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        probes = band_buckets(batch_df, id_col, text_col).persist()
        try:
            flagged = band_self_join(probes, id_col, ["bucket"]).select(
                F.col("id_b").alias("new_id"), F.col("id_a").alias("existing_id")
            )
            def _part_id(dirname: str) -> int | None:
                try:
                    return int(dirname.split("=", 1)[1])
                except (IndexError, ValueError):
                    return None

            prior_parts = [
                f
                for f in (
                    _os.listdir(index_dir) if _os.path.isdir(index_dir) else []
                )
                if f.startswith("batch_id=")
                and (_part_id(f) is not None and _part_id(f) < batch_id)
            ]
            if prior_parts:
                # Replay safety: a crash after the index write but before the
                # checkpoint commit means a replayed batch's own buckets (and
                # possibly later batches') are already in the index.  Probing
                # only STRICTLY EARLIER batch partitions makes replay
                # idempotent — the current batch never collides with itself,
                # and a full-checkpoint replay reproduces the original flagged
                # output exactly.  Id self-pairs are dropped as a second guard.
                # The index is this loop's own output, so its schema is
                # known: declaring it skips a footer-inference job.
                idx_schema = _Struct(
                    probes.schema.fields + [_Field("batch_id", _Long())]
                )
                idx = spark.read.schema(idx_schema).parquet(index_dir).where(
                    F.col("batch_id").cast("long") < F.lit(batch_id)
                )
                flagged = band_probe_join(probes, idx, id_col).unionByName(flagged)
            if not retried_write(flagged, flagged_dir, batch_id=str(batch_id)):
                raise RuntimeError(f"flagged write failed, batch {batch_id}")
            if not retried_write(probes, index_dir, batch_id=str(batch_id)):
                raise RuntimeError(f"index write failed, batch {batch_id}")
        finally:
            probes.unpersist()

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", _os.path.join(work_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


ZSCORE_OUTPUT = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("value_cents", LongType()),
        StructField("n_window", LongType()),
        StructField("is_anomaly", BooleanType()),
    ]
)

# state = the ring buffer of the user's most recent `lookback` cents
# values, oldest first
ZSCORE_STATE = StructType([StructField("recent", ArrayType(LongType()))])


def stateful_zscore_stream(
    events: DataFrame,
    lookback: int = 8,
    min_n: int = 4,
    k: int = 2,
) -> DataFrame:
    """Streaming twin of ``operators/windows.rolling_zscore_flags``: the
    same EXACT-integer |x−μ| > kσ test — (n·x−S)² > k²·(n·SS−S²) in
    BIGINT cents — evaluated online with ``applyInPandasWithState``.
    State per user is the ring buffer of the last ``lookback`` cents
    values (≤ 8 longs — constant, watermark-free), so the operator
    runs forever without state growth; on a 1000-executor cluster each
    task owns a key range of the state store.

    Rows inside a micro-batch are sorted by (ts, event_id) before the
    fold; across micro-batches the flags equal the batch operator's
    whenever the source replays in event-time order (file sources and
    Kafka-per-key both do) — asserted by the differential test
    (tests/test_streaming.py::test_stream_zscore_matches_batch_operator).
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key: tuple, pdfs, state: GroupState):
        recent: list[int] = list(state.get[0]) if state.exists else []
        out_ids, out_x, out_n, out_flag = [], [], [], []
        # ONE sort over the whole micro-batch: a user's rows can span
        # several Arrow chunks (maxRecordsPerBatch), and sorting each
        # chunk independently would fold them out of event-time order
        chunks = [pdf for pdf in pdfs if len(pdf)]
        merged = (
            pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            if chunks
            else None
        )
        for pdf in ([merged] if merged is not None else []):
            for eid, val in zip(pdf["event_id"], pdf["value"]):
                x = int(math.floor(float(val) * 100 + 0.5))
                n = len(recent)
                if n < min_n:
                    flag = False
                else:
                    s = sum(recent)
                    ss = sum(c * c for c in recent)
                    flag = (n * x - s) ** 2 > k * k * (n * ss - s * s)
                out_ids.append(int(eid))
                out_x.append(x)
                out_n.append(n)
                out_flag.append(flag)
                recent.append(x)
                if len(recent) > lookback:
                    recent.pop(0)
        state.update((recent,))
        yield pd.DataFrame(
            {
                "event_id": out_ids,
                "user_id": [key[0]] * len(out_ids),
                "value_cents": out_x,
                "n_window": out_n,
                "is_anomaly": out_flag,
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        ZSCORE_OUTPUT,
        ZSCORE_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )
