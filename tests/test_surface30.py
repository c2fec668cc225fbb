"""Batch-37 behavior: CUSUM closed form vs the sequential recurrence,
integer-decay sum, Bloom bitmap, MinHash Jaccard estimate vs exact
Jaccard, KMV accuracy and mergeability — recompute twins + plan pins."""

from __future__ import annotations

import contextlib
import hashlib
import io
import math
import re

from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import surface30
from historic_score_etl_pipeline_spark.operators.sketches import (
    kmv_hashes,
    kmv_kth,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_cusum_closed_form_equals_recurrence(spark, sf_oracle):
    """The two-window closed form must equal the textbook sequential
    recurrence s_i = max(0, s_{i-1} + (x_i − target)) exactly."""
    rows = load_table(spark, sf_oracle, "events").select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("us")
    ).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        cents = math.floor(r["value"] * 100 + 0.5)
        by_user.setdefault(r["user_id"], []).append(
            (r["us"], r["event_id"], cents)
        )
    expected = {}
    for lst in by_user.values():
        lst.sort()
        total = sum(c for _u, _e, c in lst)
        target = total // len(lst)  # python // floors — matches the identity
        s = 0
        for _us, eid, c in lst:
            s = max(0, s + (c - target))
            expected[eid] = (s, 1 if s > surface30._CUSUM_FLAG else 0)
    df = surface30.event_anomaly_cusum(spark, sf_oracle)
    # plan shape FIRST (before any action: post-action explain prints
    # the AQE Initial+Final plans and double-counts every node): the two
    # running windows collapse into at most two Window nodes over one
    # user-keyed sort
    plan = _plan(df)
    assert len(re.findall(r"\(\d+\) Window", plan)) <= 2
    got = {
        r["event_id"]: (r["cusum_cents"], r["is_drift"]) for r in df.collect()
    }
    assert got == expected
    assert any(flag for _s, flag in got.values())  # drift does fire


def test_exp_decay_sum_matches_python(spark, sf_oracle):
    rows = load_table(spark, sf_oracle, "events").select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("us")
    ).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        cents = math.floor(r["value"] * 100 + 0.5)
        by_user.setdefault(r["user_id"], []).append(
            (r["us"], r["event_id"], cents)
        )
    expected = {}
    for lst in by_user.values():
        lst.sort()
        for i, (_us, eid, _c) in enumerate(lst):
            frame = [c for _u, _e, c in lst[max(0, i - 6): i + 1]]
            n = len(frame)
            expected[eid] = (
                sum(c >> (n - 1 - k) for k, c in enumerate(frame)),
                n,
            )
    got = {
        r["event_id"]: (r["decayed_cents"], r["n_win"])
        for r in surface30.window_exp_decay_sum(spark, sf_oracle).collect()
    }
    assert got == expected


def test_bloom_portable_membership_and_recompute(spark, sf_oracle):
    """Bitmap recompute must match exactly, and the bloom must have NO
    false negatives: every member's two bits are set."""
    rows = load_table(spark, sf_oracle, "events").select(
        "event_type", "user_id"
    ).collect()
    words: dict[str, dict[int, int]] = {}
    members: dict[str, set] = {}
    for r in rows:
        h = hashlib.md5(str(r["user_id"]).encode()).hexdigest()
        for b in (int(h[:2], 16), int(h[2:4], 16)):
            d = words.setdefault(r["event_type"], {})
            d[b // 16] = d.get(b // 16, 0) | (1 << (b % 16))
        members.setdefault(r["event_type"], set()).add(r["user_id"])
    got: dict[tuple, tuple] = {}
    for r in surface30.agg_bloom_portable(spark, sf_oracle).collect():
        got[(r["event_type"], r["word_idx"])] = (r["bits"], r["n_bits"])
    want = {
        (et, w): (bits, bin(bits).count("1"))
        for et, d in words.items()
        for w, bits in d.items()
    }
    assert got == want
    # no false negatives
    for et, us in members.items():
        for u in us:
            h = hashlib.md5(str(u).encode()).hexdigest()
            for b in (int(h[:2], 16), int(h[2:4], 16)):
                bits = got.get((et, b // 16), (0, 0))[0]
                assert bits & (1 << (b % 16)), (et, u, b)


def test_jaccard_estimate_tracks_exact(spark, sf_oracle):
    """For every candidate pair, |est − exact-shingle-Jaccard| must be
    within the MinHash(32) sampling error (≤ 0.25 — loose 3σ) and the
    estimate must be the exact match-count / 32."""
    out = surface30.dedup_minhash_jaccard_est(spark, sf_oracle).collect()
    assert len(out) > 5
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_oracle, "documents").collect()
    }

    def shingles(text: str) -> set:
        toks = re.split(r"\s+", text.strip().lower())
        return {
            " ".join(toks[i : i + 3])
            for i in range(max(len(toks) - 3, 0) + 1)
        }

    for r in out:
        assert r["n_match"] == round(r["j_est_r6"] * 32)
        a, b = shingles(docs[r["id_a"]]), shingles(docs[r["id_b"]])
        exact = len(a & b) / len(a | b)
        assert abs(r["j_est_r6"] - exact) <= 0.25, (
            r["id_a"], r["id_b"], r["j_est_r6"], exact,
        )


def test_kmv_accuracy(spark, sf_oracle):
    """KMV with k=64 has relative σ ≈ 1/√(k−2) ≈ 12.6%; assert a loose
    3σ envelope against the true distinct counts, and exactness below
    k."""
    rows = load_table(spark, sf_oracle, "events").select(
        "event_type", "user_id"
    ).collect()
    truth: dict[str, set] = {}
    for r in rows:
        truth.setdefault(r["event_type"], set()).add(r["user_id"])
    got = {
        r["event_type"]: (r["n_distinct"], r["est_kmv"])
        for r in surface30.agg_kmv_distinct(spark, sf_oracle).collect()
    }
    for et, users in truth.items():
        n_true = len(users)
        n_distinct, est = got[et]
        assert n_distinct == n_true
        if n_true < surface30._KMV_K:
            assert est == n_true
        else:
            assert abs(est - n_true) <= max(5, 0.38 * n_true), (
                et, est, n_true,
            )


def test_kmv_portable_is_mergeable(spark, sf_oracle):
    """Sketch union = re-rank of the hash-set union, run on the engine:
    ``kmv_kth`` over the distinct union of the per-type hash sets must
    equal ``kmv_kth`` over all distinct hashes built directly."""
    ev = load_table(spark, sf_oracle, "events").select("event_type", "user_id")
    per_type = kmv_hashes(ev, ["event_type"], "user_id")
    merged = kmv_kth(per_type.select("h").distinct(), []).collect()
    direct = kmv_kth(kmv_hashes(ev, [], "user_id"), []).collect()
    assert merged == direct
    # not vacuous: past k (h_k is set), and the union merges overlapping sets
    assert merged[0]["n"] >= surface30._KMV_K and merged[0]["h_k"] is not None
    assert per_type.count() > merged[0]["n"]
