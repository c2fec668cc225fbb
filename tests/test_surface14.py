"""Batch 19 — training-data curation operators: semantic properties beyond
the oracle hash (packing invariants, redaction completeness, contamination
recall, sampling determinism, shuffle layout)."""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract.surface14 import (
    _EMAIL_RE,
    _PHONE_RE,
    _SHARD_TOKENS,
    dedup_contamination,
    dedup_incremental,
    dedup_pipeline_e2e,
    sample_stratified_hash,
    shuffle_shard_pos,
    text_pack_shards,
    text_pii_redact,
    text_quality_filter,
)


def test_pack_shards_budget_invariant(spark, sf_oracle):
    """A doc's shard is its exclusive running-token-count divided by the
    budget — so every shard's first doc starts strictly inside the
    shard's token range, and shard ids per language are a contiguous
    0..max range."""
    rows = text_pack_shards(spark, sf_oracle).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, docs in by_lang.items():
        docs.sort(key=lambda r: r["doc_id"])
        cum = 0
        seen_shards = set()
        for r in docs:
            assert r["shard_id"] == cum // _SHARD_TOKENS, (lang, r)
            cum += r["n_tokens"]
            seen_shards.add(r["shard_id"])
        assert seen_shards == set(range(max(seen_shards) + 1))


def test_pii_redact_leaves_no_pii(spark, sf_oracle):
    df = text_pii_redact(spark, sf_oracle)
    out = df.collect()
    email = re.compile(_EMAIL_RE)
    phone = re.compile(_PHONE_RE)
    for r in out:
        assert r["n_emails"] >= 1 and r["n_phones"] >= 1
        assert not email.search(r["redacted"]), r["redacted"]
        assert not phone.search(r["redacted"]), r["redacted"]
        assert "<EMAIL>" in r["redacted"] and "<PHONE>" in r["redacted"]


def test_contamination_finds_every_planted_excerpt(spark, sf_oracle):
    """Each eval excerpt is cut from a real train doc at a stride-aligned
    offset — the scan must flag (source, eval) for every eval doc long
    enough to yield two chunks."""
    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    eligible = {
        r["doc_id"]
        for r in docs.where(
            (F.col("doc_id") % 50 == 0)
            # excerpt needs ≥ 2 chunk windows: 49 + 32 + 16 chars of text
            & (F.length("text") >= 49 + 32 + 16)
        ).collect()
    }
    found = dedup_contamination(spark, sf_oracle)
    self_hits = {
        r["eval_id"]
        for r in found.where(F.col("train_id") == F.col("eval_id")).collect()
    }
    assert eligible <= self_hits, eligible - self_hits


def test_stratified_sampling_matches_local_recompute(spark, sf_oracle):
    """The md5-threshold sample is engine-independent: recompute the kept
    set in pure Python and demand exact per-language equality."""
    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet").collect()
    rates = {"en": "28", "de": "7f"}
    expected: dict[str, int] = {}
    for r in docs:
        thr = rates.get(r["lang"], "0f")
        if hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:2] <= thr:
            expected[r["lang"]] = expected.get(r["lang"], 0) + 1
    got = {
        r["lang"]: r["n_kept"]
        for r in sample_stratified_hash(spark, sf_oracle).collect()
    }
    assert got == expected


def test_shuffle_shard_layout(spark, sf_oracle):
    """Shards are 0..7; positions within a shard are contiguous 1..n; the
    assignment is deterministic across invocations."""
    a = shuffle_shard_pos(spark, sf_oracle).collect()
    b = shuffle_shard_pos(spark, sf_oracle).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_shard: dict[int, list[int]] = {}
    for r in a:
        assert 0 <= r["shard_id"] < 8
        by_shard.setdefault(r["shard_id"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard


def test_dedup_pipeline_e2e_shape(spark, sf_oracle):
    """Survivor counts per language: positive, and never exceed the raw
    corpus counts."""
    raw = {
        r["lang"]: r["n"]
        for r in spark.read.parquet(f"{sf_oracle}/documents.parquet")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {
        r["lang"]: r["n_docs"]
        for r in dedup_pipeline_e2e(spark, sf_oracle).collect()
    }
    assert set(got) == set(raw)
    for lang, n in got.items():
        assert 0 < n <= raw[lang]


def test_quality_filter_never_silently_drops(spark, sf_oracle):
    """Every doc appears exactly once with a verdict; every drop has a
    reason; every keep has none; verdicts split the corpus non-trivially."""
    out = text_quality_filter(spark, sf_oracle).collect()
    total = spark.read.parquet(f"{sf_oracle}/documents.parquet").count()
    assert len(out) == total
    kept = [r for r in out if r["verdict"] == "keep"]
    dropped = [r for r in out if r["verdict"] == "drop"]
    assert kept and dropped
    assert all(r["reasons"] == "" for r in kept)
    assert all(r["reasons"] for r in dropped)
    for r in dropped:
        if "too_short" in r["reasons"]:
            assert r["n_tokens"] < 40
        if "low_stopword" in r["reasons"]:
            assert r["stopword_ratio"] < 0.05


def test_incremental_lsh_finds_planted_duplicate(spark):
    """A new batch containing an exact copy of an existing doc MUST
    collide with it (identical signature → every band matches); an
    unrelated doc must not collide with anything."""
    from historic_score_etl_pipeline_spark.operators.dedup import (
        band_buckets,
        band_probe_join,
    )

    existing = spark.createDataFrame(
        [
            (1, "spark shuffles partition data across the cluster by key"),
            (2, "window functions rank rows within ordered partitions"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, "spark shuffles partition data across the cluster by key"),
            (11, "entirely different words about football referees here ok"),
        ],
        ["doc_id", "text"],
    )
    pairs = band_probe_join(
        band_buckets(new, "doc_id", "text"),
        band_buckets(existing, "doc_id", "text"),
        "doc_id",
    )
    got = {(r["new_id"], r["existing_id"]) for r in pairs.collect()}
    assert (10, 1) in got
    assert not any(n == 11 for n, _ in got)


def test_band_probe_join_never_pairs_an_id_with_itself(spark):
    """A replayed batch whose buckets already reached the index: the id
    on both sides shares every bucket with itself, yet only the real
    duplicate is flagged."""
    from historic_score_etl_pipeline_spark.operators.dedup import (
        band_buckets,
        band_probe_join,
    )

    text = "spark shuffles partition data across the cluster by key"
    index = band_buckets(
        spark.createDataFrame([(1, text), (10, text)], ["doc_id", "text"]),
        "doc_id",
        "text",
    )
    probes = band_buckets(
        spark.createDataFrame([(10, text)], ["doc_id", "text"]), "doc_id", "text"
    )
    got = {tuple(r) for r in band_probe_join(probes, index, "doc_id").collect()}
    assert got == {(10, 1)}


def test_incremental_lsh_never_pairs_existing_with_existing(spark, sf_oracle):
    """The probe join's output ids partition cleanly: new_id ≥ 400,
    existing_id < 400 — the index side is never self-joined."""
    rows = dedup_incremental(spark, sf_oracle).collect()
    for r in rows:
        assert r["new_id"] >= 400
        assert r["first_existing_id"] < 400


def test_repetition_stats_hand_computed(spark):
    """Known-answer check: 'a a a b' → 4 tokens, 2 distinct, top 3;
    bigrams [a a, a a, a b] → 3 total, top 2.  Degenerate docs (empty,
    single-token) keep a row with zero bigrams instead of vanishing."""
    from historic_score_etl_pipeline_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "solo"), (3, "  "), (4, "x y x y x")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert rows[1]["n_tokens"] == 4 and rows[1]["n_distinct_tokens"] == 2
    assert rows[1]["top_token_cnt"] == 3
    assert rows[1]["n_bigrams"] == 3 and rows[1]["top_bigram_cnt"] == 2
    assert rows[2]["n_tokens"] == 1 and rows[2]["n_bigrams"] == 0
    assert rows[4]["top_bigram_cnt"] == 2  # 'x y' appears twice
    # empty doc: trim+filter leaves no tokens → no unigram row at all;
    # that doc legitimately has no repetition signal (doc 3 absent)
    assert 3 not in rows


def test_repetition_stats_single_shuffle_per_order(spark, sf_oracle):
    """Scale shape: the plan must not contain a collect_list of the token
    stream, and the unigram branch aggregates twice on the same doc_id
    key (partial → final), not via a window."""
    from historic_score_etl_pipeline_spark.operators.text import repetition_stats
    from historic_score_etl_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, sf_oracle, "documents")
    plan = (
        repetition_stats(docs, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "collect_list" not in plan and "Window" not in plan
