"""Structured Streaming gates (SURVEY.md §7-M5): the streaming twins
produce the same results as the batch contract queries, and checkpointed
AvailableNow runs are incremental."""

from __future__ import annotations

import tempfile
import uuid

from historic_score_etl_pipeline_spark.contract.windows import stream_tumbling_daily
from historic_score_etl_pipeline_spark.streaming import (
    daily_counts_stream,
    read_events_stream,
    run_available_now,
    run_foreach_batch_sink,
    sessionized_stream,
    stateful_sessionizer_stream,
    stateful_user_totals_stream,
    watermarked_dedup_stream,
)

SF = "/root/testdata/sf0.001"


def _run(spark, stream, output_mode):
    name = f"q_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as ckpt:
        run_available_now(stream, ckpt, name, output_mode)
    return spark.table(name)


def test_streaming_daily_counts_match_batch(spark):
    events = read_events_stream(spark, f"{SF}/events.parquet")
    got = _run(spark, daily_counts_stream(events), "complete").toPandas()
    expected = stream_tumbling_daily(spark, SF).toPandas()
    g = got.sort_values("day").reset_index(drop=True)
    e = expected.sort_values("day").reset_index(drop=True)
    assert list(g["day"]) == list(e["day"])
    assert list(g["n_events"]) == list(e["n_events"])
    assert list(g["sum_value"]) == list(e["sum_value"])


def test_streaming_dedup(spark):
    events = read_events_stream(spark, f"{SF}/events.parquet")
    got = _run(spark, watermarked_dedup_stream(events), "append")
    batch_n = spark.read.parquet(f"{SF}/events.parquet").count()
    assert got.count() == batch_n  # event_ids are unique → nothing dropped
    assert got.select("event_id").distinct().count() == batch_n


def test_streaming_session_window(spark):
    events = read_events_stream(spark, f"{SF}/events.parquet")
    got = _run(spark, sessionized_stream(events), "complete")
    assert got.count() > 0
    assert set(got.columns) == {"user_id", "sess_start", "sess_end", "n_events"}


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """I3: exactly-once incremental runs.  Run AvailableNow over one file,
    drop a second file in the landing dir, re-run with the SAME
    checkpoint: only the new file's rows are appended — the checkpoint
    replaces the reference's hand-rolled parked-frame salvage
    (app/team_utilities.py:521-554)."""
    import pyarrow.parquet as pq

    src = pq.read_table(f"{SF}/events.parquet")
    half = src.num_rows // 2
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")

    out = str(tmp_path / "out")

    def run_once():
        # parquet sink: the memory sink cannot recover from a checkpoint
        stream = watermarked_dedup_stream(
            read_events_stream(spark, str(landing))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    pq.write_table(src.slice(0, half), str(landing / "part-0.parquet"))
    run_once()
    assert spark.read.parquet(out).count() == half

    pq.write_table(src.slice(half), str(landing / "part-1.parquet"))
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == src.num_rows  # second run added ONLY the delta
    assert got.select("event_id").distinct().count() == src.num_rows


def test_stateful_sessionizer_event_time_timeout(spark, tmp_path):
    """Sessions closed by gap-exceeded AND by event-time timeout both
    emit, and every emitted session exactly matches batch sessionization
    of the data that preceded it.  Two time-ordered files: batch 2's
    events advance the watermark, firing the timeouts for batch 1's
    trailing sessions."""
    import pandas as pd
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = pq.read_table(f"{SF}/events.parquet")
    df = src.to_pandas().sort_values("ts").reset_index(drop=True)
    cutoff = len(df) // 2
    landing = tmp_path / "landing"
    landing.mkdir()
    # preserve the original arrow schema (ns timestamps) via row selection
    import pyarrow as pa

    early_ids = set(df["event_id"][:cutoff])
    mask = pa.array([eid in early_ids for eid in src["event_id"].to_pylist()])
    pq.write_table(src.filter(mask), str(landing / "part-0.parquet"))
    pq.write_table(src.filter(pa.compute.invert(mask)), str(landing / "part-1.parquet"))

    gap_min = 120
    events = read_events_stream(spark, str(landing))
    got = _run(
        spark, stateful_sessionizer_stream(events, gap_minutes=gap_min), "append"
    ).toPandas()
    assert len(got) > 0
    assert (got["sess_end"] >= got["sess_start"]).all()
    assert (got["n_events"] >= 1).all()

    # batch-side truth for the early half: every emitted session whose
    # events all lie in batch 1 must appear identically (merged sessions
    # spanning the cutoff stay in state or match the full-data roll-up,
    # so compare only sessions that ended before the cutoff time)
    cutoff_ts = df["ts"].iloc[cutoff]
    early = spark.createDataFrame(df[:cutoff][["user_id", "ts"]])
    batch_sessions = (
        early.groupBy(
            "user_id", F.session_window("ts", f"{gap_min} minutes").alias("w")
        )
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("sess_start"), "n_events")
        .toPandas()
    )
    closed = got[got["sess_end"] < cutoff_ts - pd.Timedelta(minutes=gap_min)]
    merged = closed.merge(
        batch_sessions, on=["user_id", "sess_start"], suffixes=("", "_batch")
    )
    assert len(merged) == len(closed)  # every closed session exists batch-side
    assert (merged["n_events"] == merged["n_events_batch"]).all()


def test_foreach_batch_sink_is_idempotent_per_batch(spark, tmp_path):
    """Streaming → retried_write sink: batch dirs are keyed by streaming
    batch id; restarting the whole stream from scratch (same input, fresh
    checkpoint) lands on the same batch ids and replaces rather than
    duplicates."""
    from historic_score_etl_pipeline_spark.sinks.writer import ErrorChannel

    out = str(tmp_path / "out")
    errors = ErrorChannel()
    events = read_events_stream(spark, f"{SF}/events.parquet")
    run_foreach_batch_sink(
        watermarked_dedup_stream(events), out, str(tmp_path / "c1"), errors
    )
    n = spark.read.parquet(f"{out}/batch_id=0").count()
    assert n > 0 and not errors.records

    # fresh checkpoint → the stream replays batch 0 → same target dir,
    # overwritten not appended
    events = read_events_stream(spark, f"{SF}/events.parquet")
    run_foreach_batch_sink(
        watermarked_dedup_stream(events), out, str(tmp_path / "c2"), errors
    )
    assert spark.read.parquet(f"{out}/batch_id=0").count() == n


def test_stateful_totals_accumulate_across_batches(spark, tmp_path):
    """State survives micro-batch boundaries: split events into 2 files,
    1 file per trigger, and check the final per-user totals equal the
    batch groupBy — which only holds if batch-2 updates fold into
    batch-1 state rather than restarting from zero."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = pq.read_table(f"{SF}/events.parquet")
    half = src.num_rows // 2
    landing = tmp_path / "landing"
    landing.mkdir()
    pq.write_table(src.slice(0, half), str(landing / "part-0.parquet"))
    pq.write_table(src.slice(half), str(landing / "part-1.parquet"))

    events = read_events_stream(spark, str(landing))
    got = _run(spark, stateful_user_totals_stream(events), "update")

    final = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .toPandas()
        .set_index("user_id")["n_events"]
    )
    from historic_score_etl_pipeline_spark.sources.catalog import load_table

    expected = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .count()
        .toPandas()
        .set_index("user_id")["count"]
    )
    assert final.sort_index().to_dict() == expected.sort_index().to_dict()
    # at least one user appears in both halves → emitted 2 state updates
    multi = got.groupBy("user_id").count().where(F.col("count") > 1).count()
    assert multi > 0


def test_stateful_totals_file_sink_multi_batch(spark, tmp_path):
    """VERDICT r9 ask #1: the contract key's FILE sink (the replacement
    for the user-cardinality-sized driver-memory sink) must reproduce
    update-mode semantics under real multi-batch execution — exactly one
    row per user, carrying the FINAL totals, even though users spanning
    both micro-batches were emitted twice (latest-batch-wins read-back).
    Staging events.parquet as a 2-file DIRECTORY makes read_events_stream
    (maxFilesPerTrigger=1) run two genuine batches."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from historic_score_etl_pipeline_spark.contract.surface import (
        stream_stateful_totals,
    )

    src = pq.read_table(f"{SF}/events.parquet")
    half = src.num_rows // 2
    landing = tmp_path / "events.parquet"
    landing.mkdir()
    pq.write_table(src.slice(0, half), str(landing / "part-0.parquet"))
    pq.write_table(src.slice(half), str(landing / "part-1.parquet"))

    got = stream_stateful_totals(spark, str(tmp_path)).cache()
    try:
        per_user = {
            r["user_id"]: (r["n_events"], r["sum_value"])
            for r in got.collect()
        }
        from historic_score_etl_pipeline_spark.sources.catalog import load_table

        expected = {
            r["user_id"]: (r["n"], r["s"])
            for r in load_table(spark, SF, "events")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .collect()
        }
        # one row per user (no duplicate emissions survive the read-back)
        assert got.count() == len(per_user) == len(expected)
        assert set(per_user) == set(expected)
        for uid, (n, s) in expected.items():
            gn, gs = per_user[uid]
            assert gn == n
            # summation order differs (per-batch state fold vs one agg)
            assert abs(gs - s) < 1e-6 * max(1.0, abs(s))
        # at least one user genuinely spanned both batches — otherwise
        # this test wouldn't distinguish latest-wins from append
        u0 = set(src.slice(0, half).column("user_id").to_pylist())
        u1 = set(src.slice(half).column("user_id").to_pylist())
        assert u0 & u1
    finally:
        got.unpersist()


def test_incremental_dedup_stream_flags_cross_batch_duplicate(spark, tmp_path):
    """The signature-index loop end-to-end: batch 2 contains a copy of a
    batch-1 doc — the probe against the persisted index must flag it,
    and the index must grow by each batch's buckets (exactly-once via
    batch-id dirs)."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from historic_score_etl_pipeline_spark.operators import pins
    from historic_score_etl_pipeline_spark.streaming import (
        run_incremental_dedup,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    work = str(tmp_path / "work")

    t_dup = "spark shuffles partition data across the cluster by key hash"
    batch1 = pa.table(
        {"doc_id": [1, 2], "text": [t_dup, "window functions rank rows"]}
    )
    batch2 = pa.table(
        {"doc_id": [10, 11], "text": [t_dup, "totally unrelated referee words"]}
    )
    pq.write_table(batch1, landing / "b1.parquet")
    _time.sleep(1.1)  # file-source ordering is mtime-based
    pq.write_table(batch2, landing / "b2.parquet")

    n_pins = len(pins._PINNED)
    run_incremental_dedup(spark, str(landing), work)
    # the arrival's band table is persisted for its batch only: no pin
    # outlives the loop
    assert len(pins._PINNED) == n_pins

    flagged = spark.read.parquet(f"{work}/flagged")
    pairs = {(r["new_id"], r["existing_id"]) for r in flagged.collect()}
    assert (10, 1) in pairs, pairs
    assert not any(n == 11 for n, _ in pairs), pairs

    # index holds buckets for all four docs, under two batch-id dirs
    idx = spark.read.parquet(f"{work}/index")
    assert {r["doc_id"] for r in idx.select("doc_id").distinct().collect()} == {
        1, 2, 10, 11,
    }


def test_incremental_dedup_replay_is_idempotent(spark, tmp_path):
    """Crash-replay scenario: the index write committed but the streaming
    checkpoint did not, so the batch replays against an index that
    already contains its OWN buckets.  The probe must exclude the
    current batch partition and id self-pairs — otherwise every doc in
    the replayed batch is flagged as a duplicate of itself."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from historic_score_etl_pipeline_spark.streaming import (
        run_incremental_dedup,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    work = str(tmp_path / "work")

    t_dup = "spark shuffles partition data across the cluster by key hash"
    pq.write_table(
        pa.table({"doc_id": [1, 2], "text": [t_dup, "window functions rank rows"]}),
        landing / "b1.parquet",
    )
    _time.sleep(1.1)
    pq.write_table(
        pa.table({"doc_id": [10, 11], "text": [t_dup, "totally unrelated referee words"]}),
        landing / "b2.parquet",
    )

    # First run writes index partitions batch_id=0 and batch_id=1.
    run_incremental_dedup(spark, str(landing), work)
    baseline = {
        (r["new_id"], r["existing_id"])
        for r in spark.read.parquet(f"{work}/flagged").collect()
    }
    assert (10, 1) in baseline

    # Simulate the crash: delete the checkpoint but KEEP index + flagged.
    import shutil

    shutil.rmtree(f"{work}/ckpt")
    run_incremental_dedup(spark, str(landing), work)

    replayed = {
        (r["new_id"], r["existing_id"])
        for r in spark.read.parquet(f"{work}/flagged").collect()
    }
    assert all(n != e for n, e in replayed), f"self-pairs after replay: {replayed}"
    assert replayed == baseline, (
        f"replay changed flagged output: {replayed ^ baseline}"
    )


def test_incremental_dedup_crash_window_replay_exact(spark, tmp_path):
    """The EXACT crash window (VERDICT r3 ask #7): the foreachBatch body
    completed — index AND flagged partitions for the last batch are on
    disk — but the streaming checkpoint COMMIT was never recorded.  That
    state is reproduced faithfully by deleting only the newest
    ``ckpt/commits/<epoch>`` file (offsets intact): on restart Spark
    replays exactly that one batch against an index that already
    contains its own buckets.  The strictly-earlier-batch probe
    (streaming/jobs.py::process_batch) must make the replay reproduce
    the original flagged rows EXACTLY — no self-pairs, nothing added,
    nothing lost."""
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from historic_score_etl_pipeline_spark.streaming import (
        run_incremental_dedup,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    work = str(tmp_path / "work")

    t_dup = "spark shuffles partition data across the cluster by key hash"
    t_dup2 = "adaptive query execution replans stages from runtime statistics"
    pq.write_table(
        pa.table({"doc_id": [1, 2], "text": [t_dup, t_dup2]}),
        landing / "b1.parquet",
    )
    _time.sleep(1.1)
    pq.write_table(
        pa.table(
            {"doc_id": [10, 11], "text": [t_dup, "totally unrelated referee words"]}
        ),
        landing / "b2.parquet",
    )
    _time.sleep(1.1)
    # last batch contains BOTH a cross-batch dup and an intra-batch dup,
    # so the replay must reproduce both probe paths
    pq.write_table(
        pa.table({"doc_id": [20, 21], "text": [t_dup2, t_dup2]}),
        landing / "b3.parquet",
    )

    run_incremental_dedup(spark, str(landing), work)

    def _flagged_rows() -> list[tuple]:
        return sorted(
            (r["new_id"], r["existing_id"])
            for r in spark.read.parquet(f"{work}/flagged").collect()
        )

    baseline = _flagged_rows()
    assert (10, 1) in baseline and (20, 2) in baseline and (21, 20) in baseline

    commits = _os.path.join(work, "ckpt", "commits")
    epochs = sorted(
        (f for f in _os.listdir(commits) if f.isdigit()), key=int
    )
    assert len(epochs) >= 3  # one per landing file (maxFilesPerTrigger=1)
    # the crash: batch executed, commit never written (a real crash
    # leaves neither the commit file NOR its Hadoop ChecksumFs .crc
    # sibling — removing only the visible file fails the later atomic
    # rename with FileAlreadyExistsException on the stale .crc)
    _os.remove(_os.path.join(commits, epochs[-1]))
    crc = _os.path.join(commits, f".{epochs[-1]}.crc")
    if _os.path.exists(crc):
        _os.remove(crc)
    index_parts_before = sorted(_os.listdir(_os.path.join(work, "index")))

    run_incremental_dedup(spark, str(landing), work)

    assert _flagged_rows() == baseline
    # the replayed batch overwrote its own partitions — no new ones
    assert sorted(_os.listdir(_os.path.join(work, "index"))) == index_parts_before
    # and the commit is healed for the next restart
    assert sorted(
        (f for f in _os.listdir(commits) if f.isdigit()), key=int
    ) == epochs


def test_stream_zscore_matches_batch_operator(spark, tmp_path):
    """Differential: the stateful streaming z-score must produce exactly
    the batch operator's flags when the source replays in event-time
    order — split the events file in two, one file per trigger, so the
    ring buffer must survive the micro-batch boundary."""
    import pyarrow.parquet as pq

    from historic_score_etl_pipeline_spark.contract.surface19 import (
        anomaly_zscore_rolling,
    )
    from historic_score_etl_pipeline_spark.streaming.jobs import (
        stateful_zscore_stream,
    )

    src = pq.read_table(f"{SF}/events.parquet")
    half = src.num_rows // 2
    landing = tmp_path / "landing"
    landing.mkdir()
    # file order IS event-time order in the fixtures (event_id-sorted)
    pq.write_table(src.slice(0, half), str(landing / "part-0.parquet"))
    pq.write_table(src.slice(half), str(landing / "part-1.parquet"))

    events = read_events_stream(spark, str(landing))
    got = (
        _run(spark, stateful_zscore_stream(events), "update")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    expected = (
        anomaly_zscore_rolling(spark, SF)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    assert list(got["event_id"]) == list(expected["event_id"])
    assert list(got["value_cents"]) == list(expected["value_cents"])
    assert list(got["n_window"]) == list(expected["n_window"])
    assert list(got["is_anomaly"]) == list(expected["is_anomaly"])
    assert got["is_anomaly"].any()


def test_stream_zscore_survives_multi_chunk_groups(spark, tmp_path):
    """With arrow maxRecordsPerBatch forced tiny, a user's rows span
    several pandas chunks inside one micro-batch — the fold must still
    process them in global (ts, event_id) order (regression: per-chunk
    sorting folded chunks out of order)."""
    from historic_score_etl_pipeline_spark.contract.surface19 import (
        anomaly_zscore_rolling,
    )
    from historic_score_etl_pipeline_spark.streaming.jobs import (
        stateful_zscore_stream,
    )

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
        events = read_events_stream(spark, f"{SF}/events.parquet")
        got = (
            _run(spark, stateful_zscore_stream(events), "update")
            .toPandas()
            .sort_values("event_id")
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    expected = (
        anomaly_zscore_rolling(spark, SF)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    assert list(got["n_window"]) == list(expected["n_window"])
    assert list(got["is_anomaly"]) == list(expected["is_anomaly"])


def test_watermark_drops_late_duplicates_across_batches(spark, tmp_path):
    """Watermark semantics pinned: (a) rows sharing an event_id inside
    one batch dedup to one output row; (b) a row arriving with event
    time OLDER than the advanced watermark is dropped outright — neither
    emitted nor deduped — which is exactly what bounds dropDuplicates
    state to the horizon and lets streaming dedup run forever at 100 TB
    (state is horizon-sized, not corpus-sized)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from historic_score_etl_pipeline_spark.streaming.jobs import (
        read_events_stream, watermarked_dedup_stream,
    )

    def tbl(rows):
        return pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    hr = dt.timedelta(hours=1)
    landing = tmp_path / "landing"
    landing.mkdir()
    # batch 0: original event at t0
    pq.write_table(tbl([(1, t0, 7, "click", 1.0)]), str(landing / "p0.parquet"))
    # batch 1: advance watermark far past t0 (+5h, horizon 1h), and
    # include an in-horizon duplicate pair to show suppression works
    pq.write_table(
        tbl([
            (2, t0 + 5 * hr, 8, "view", 2.0),
            (2, t0 + 5 * hr, 8, "view", 2.0),  # same event_id → deduped
        ]),
        str(landing / "p1.parquet"),
    )
    # batch 2: the ORIGINAL event replayed — 5h older than the advanced
    # watermark → dropped outright (the state-bounding contract)
    pq.write_table(tbl([(1, t0, 7, "click", 1.0)]), str(landing / "p2.parquet"))

    events = read_events_stream(spark, str(landing))
    stream = watermarked_dedup_stream(events, watermark="1 hour")
    import uuid as _uuid
    name = f"q_{_uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name).toPandas()
    # the same-batch duplicate was suppressed: user 8 appears once
    assert (out["user_id"] == 8).sum() == 1
    # the beyond-horizon replay was DROPPED: user 7 appears exactly once
    # (from batch 0) — horizon-bounded state, the price of running forever
    assert (out["user_id"] == 7).sum() == 1
    assert len(out) == 2
