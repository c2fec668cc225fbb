"""Round-12 focused tests: lineage-pin release semantics and the two
operator rewrites whose internals changed (single-pass bigram surprisal,
single-shuffle funnel).  Parity covers rows at sf0.01/sf0.001; these pin
down the EDGE semantics each rewrite had to reproduce and the release
contract library users rely on."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --- pins: registration, release, per-round CC unpinning --------------------


def test_release_pins_empties_storage(spark):
    from historic_score_etl_pipeline_spark.operators import pins

    jsc = spark.sparkContext._jsc.sc()
    pins.release_pins()
    n0 = jsc.getPersistentRDDs().size()  # other tests' non-pin persists
    df = spark.range(10000).select("id", (F.col("id") % 5).alias("k"))
    cp = pins.pin(df.groupBy("k").agg(F.count(F.lit(1)).alias("n")))
    assert cp.count() == 5  # materializes the pin
    assert jsc.getPersistentRDDs().size() >= n0 + 1
    released = pins.release_pins()
    assert released >= 1
    assert jsc.getPersistentRDDs().size() <= n0


def test_unpin_releases_exactly_one(spark):
    from historic_score_etl_pipeline_spark.operators import pins

    pins.release_pins()
    a = pins.pin(spark.range(1000).select("id"))
    b = pins.pin(spark.range(2000).select("id"))
    assert a.count() == 1000 and b.count() == 2000
    jsc = spark.sparkContext._jsc.sc()
    n0 = jsc.getPersistentRDDs().size()
    pins.unpin(a)
    assert jsc.getPersistentRDDs().size() == n0 - 1
    assert b.count() == 2000  # the other pin is untouched and usable
    pins.release_pins()


def test_reliable_checkpoint_without_dir_warns_and_pins_locally(
    spark, monkeypatch
):
    """HSEP_RELIABLE_CHECKPOINT with no checkpoint dir must not degrade
    silently: pin warns, then falls back to a (registered) local pin."""
    import pytest

    from historic_score_etl_pipeline_spark.operators import pins

    assert not spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    monkeypatch.setenv("HSEP_RELIABLE_CHECKPOINT", "1")
    pins.release_pins()
    with pytest.warns(RuntimeWarning, match="no checkpoint dir"):
        cp = pins.pin(spark.range(100).select("id"))
    assert cp.count() == 100
    assert "localCheckpoint" in pins.explain_str(cp)
    assert pins.release_pins() == 1


def test_connected_components_releases_superseded_rounds(spark):
    """After a distributed CC run, only O(1) pins may remain (the final
    label table), not one per propagation round."""
    from historic_score_etl_pipeline_spark.operators import pins
    from historic_score_etl_pipeline_spark.operators.graph import (
        connected_components,
    )

    pins.release_pins()
    jsc = spark.sparkContext._jsc.sc()
    n0 = jsc.getPersistentRDDs().size()
    # a path graph forces several propagation rounds; driver_max_edges=0
    # forces the distributed loop
    edges = spark.range(8).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    labels = connected_components(edges, "src", "dst", driver_max_edges=0)
    got = _rows(labels)
    assert got == [(i, 0) for i in range(9)]
    # only the final label pin may remain — not one per propagation round
    assert jsc.getPersistentRDDs().size() <= n0 + 1
    pins.release_pins()
    assert jsc.getPersistentRDDs().size() <= n0


# --- single-pass bigram surprisal edge semantics ------------------------------


def test_bigram_surprisal_matches_bruteforce(spark):
    """Tail tokens and single-token docs must count toward the
    vocabulary but not the bigrams; per-doc sums must equal the
    occurrence-level brute force (the kd·surp identity)."""
    from historic_score_etl_pipeline_spark.operators.text import (
        bigram_surprisal,
    )

    docs = [
        (1, "a b a b a"),   # repeated bigrams within one doc (kd > 1)
        (2, "b c"),
        (3, "z"),           # single token: vocab only, no bigram row
        (4, ""),            # empty: contributes nothing
        (5, None),          # NULL text: contributes nothing
        (6, "a  b"),        # double space: empty tokens filtered
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_bigrams"], r["surprisal_unats"])
           for r in bigram_surprisal(df, "doc_id", "text").collect()}

    # brute force in python
    toks = {d: [t for t in (s or "").split(" ") if t != ""] for d, s in docs}
    vocab = {t for ts in toks.values() for t in ts}
    v = float(len(vocab))
    c2: dict = {}
    c1: dict = {}
    for ts in toks.values():
        for w1, w2 in zip(ts, ts[1:]):
            c2[(w1, w2)] = c2.get((w1, w2), 0) + 1
            c1[w1] = c1.get(w1, 0) + 1
    expect = {}
    for d, ts in toks.items():
        if len(ts) < 2:
            continue
        n = 0
        s = 0
        for w1, w2 in zip(ts, ts[1:]):
            n += 1
            p = (c2[(w1, w2)] + 1.0) / (c1[w1] + v)
            s += math.floor(-math.log(p) * 1e6 + 0.5)
        expect[d] = (n, s)
    assert got == expect


# --- single-shuffle funnel edge semantics -------------------------------------


def test_funnel_ordering_window_and_null_user(spark, monkeypatch):
    """Stage gates: a purchase BEFORE the first qualifying click must not
    convert; clicks outside (t1, t1+3d] must not qualify; NULL users are
    stage 0 (the old stage joins were null-rejecting)."""
    import historic_score_etl_pipeline_spark.contract.surface28 as s28

    rows = [
        # u1: view -> click(+1d) -> purchase(+2d): full funnel (stage 3)
        ("u1", "view", "2024-01-01 00:00:00"),
        ("u1", "click", "2024-01-02 00:00:00"),
        ("u1", "purchase", "2024-01-03 00:00:00"),
        # u2: purchase BEFORE the click: stage 2 only
        ("u2", "view", "2024-01-01 00:00:00"),
        ("u2", "purchase", "2024-01-01 12:00:00"),
        ("u2", "click", "2024-01-02 00:00:00"),
        # u3: click 4 days after the view (outside the 3-day window): stage 1
        ("u3", "view", "2024-01-01 00:00:00"),
        ("u3", "click", "2024-01-05 00:00:01"),
        # u4: click with no view at all: stage 0
        ("u4", "click", "2024-01-01 00:00:00"),
        # NULL user with a full funnel of its own: still stage 0
        (None, "view", "2024-01-01 00:00:00"),
        (None, "click", "2024-01-02 00:00:00"),
        (None, "purchase", "2024-01-03 00:00:00"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_type", "ts_s"]).select(
        "user_id", "event_type", F.to_timestamp("ts_s").alias("ts")
    )
    monkeypatch.setattr(
        s28, "load_table", lambda _spark, _sf, _name: ev
    )
    got = _rows(s28.event_funnel_conversion(spark, "unused"))
    # u4 and the NULL user are stage 0; u3 stage 1; u2 stage 2; u1 stage 3
    assert got == [(0, 2), (1, 1), (2, 1), (3, 1)]
