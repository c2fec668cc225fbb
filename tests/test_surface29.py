"""Batch-36 behavior: bucketed co-located join (zero input exchanges),
portable HLL accuracy + engine-run mergeability, deterministic mode, hash-ring
negatives, directional containment — recompute twins + plan pins."""

from __future__ import annotations

import contextlib
import hashlib
import io
import math
import re

from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import surface29
from historic_score_etl_pipeline_spark.operators.sketches import (
    hll_estimate,
    hll_ranks,
    hll_registers,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_input_exchange(spark, sf_oracle):
    """The whole point of the operator: neither bucketed side shuffles
    into the join.  The only Exchange allowed is the final small
    aggregation by mktsegment."""
    # disable broadcast for the PLAN assertion: at test SF the customer
    # side is broadcast-sized and AQE would turn the join into a BHJ,
    # hiding the property under test (results are conf-independent)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = surface29.join_bucketed_colocate(spark, sf_oracle)
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange <= 1, plan  # agg only; join inputs are co-located
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    # and it still computes the right thing
    cust = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in load_table(spark, sf_oracle, "customer").collect()
    }
    want: dict[str, list] = {}
    for r in load_table(spark, sf_oracle, "orders").collect():
        seg = cust[r["o_custkey"]]
        a = want.setdefault(seg, [0, 0.0])
        a[0] += 1
        a[1] += round(r["o_totalprice"] * 100) / 100
    got = {
        r["c_mktsegment"]: (r["n_orders"], r["total_price"])
        for r in df.collect()
    }
    assert set(got) == set(want)
    for seg, (n, tp) in got.items():
        assert n == want[seg][0]
        assert abs(tp - want[seg][1]) < 1e-6 * max(1.0, abs(tp))


def test_hll_portable_accuracy_and_recompute(spark, sf_oracle):
    """Register-level Python recompute must match EXACTLY (the sketch is
    deterministic), and the estimate must sit within ~3σ = 3·1.04/√256
    ≈ 20% of the true distinct count."""
    rows = load_table(spark, sf_oracle, "events").select(
        "event_type", "user_id"
    ).collect()
    regs: dict[str, dict[int, int]] = {}
    truth: dict[str, set] = {}
    for r in rows:
        h = hashlib.md5(str(r["user_id"]).encode()).hexdigest()
        reg = int(h[:2], 16)
        suffix = int(h[2:17], 16)
        rho = 61 if suffix == 0 else 61 - len(bin(suffix)[2:])
        d = regs.setdefault(r["event_type"], {})
        d[reg] = max(d.get(reg, 0), rho)
        truth.setdefault(r["event_type"], set()).add(r["user_id"])
    expected = {}
    for et, d in regs.items():
        s_hit = sum(1 << (35 - min(v, 35)) for v in d.values())
        s_total = s_hit + (256 - len(d)) * (1 << 35)
        raw = math.floor(surface29._HLL_EST_NUM / float(s_total) + 0.5)
        zeros = 256 - len(d)
        if zeros > 0 and raw <= 640:  # LinearCounting small-range branch
            est = math.floor(256.0 * math.log(256.0 / zeros) + 0.5)
        else:
            est = raw
        expected[et] = (len(d), s_total, est)
    got = {
        r["event_type"]: (r["regs_hit"], r["harmonic_fp"], r["est_users"])
        for r in surface29.agg_hll_portable(spark, sf_oracle).collect()
    }
    assert got == expected
    for et, (_m, _s, est) in got.items():
        true = len(truth[et])
        assert abs(est - true) <= max(3, 0.2 * true), (et, est, true)


def test_hll_portable_is_mergeable(spark, sf_oracle):
    """Sketch union = per-register max, run on the engine: the per-type
    registers of ``hll_registers`` merged register by register must equal
    the registers built directly over all users, and so must their
    ``hll_estimate`` — the defining property of a mergeable sketch."""
    ev = load_table(spark, sf_oracle, "events").select("event_type", "user_id")
    per_type = hll_registers(hll_ranks(ev, ["event_type"], "user_id"), ["event_type"])
    merged = per_type.groupBy("reg").agg(F.max("max_rho").alias("max_rho"))
    direct = hll_registers(hll_ranks(ev, [], "user_id"), [])
    merged_regs = sorted(merged.collect())
    assert merged_regs == sorted(direct.collect())
    # not vacuous: the merge folds several sketches into one
    assert per_type.count() > len(merged_regs)
    assert hll_estimate(merged, []).collect() == hll_estimate(direct, []).collect()


def test_mode_deterministic_matches_python(spark, sf_oracle):
    rows = load_table(spark, sf_oracle, "events").select(
        "user_id", "event_type"
    ).collect()
    counts: dict[int, dict[str, int]] = {}
    for r in rows:
        d = counts.setdefault(r["user_id"], {})
        d[r["event_type"]] = d.get(r["event_type"], 0) + 1
    want = {
        u: min(d.items(), key=lambda kv: (-kv[1], kv[0]))
        for u, d in counts.items()
    }
    got = {
        r["user_id"]: (r["mode_type"], r["mode_n"])
        for r in surface29.agg_mode_deterministic(spark, sf_oracle).collect()
    }
    assert got == {u: (t, n) for u, (t, n) in want.items()}


def test_pair_negatives_ring_properties(spark, sf_oracle):
    """Every doc is an anchor exactly once; within a language the
    negative ids are a permutation closing the ring (each doc is a
    negative exactly once); no self-pairs for multi-doc languages."""
    out = surface29.sample_pair_negatives(spark, sf_oracle).collect()
    docs = load_table(spark, sf_oracle, "documents").select(
        "doc_id", "lang"
    ).collect()
    by_lang: dict[str, set] = {}
    for r in docs:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    anchors = [r["anchor_id"] for r in out]
    assert sorted(anchors) == sorted(r["doc_id"] for r in docs)
    negs: dict[str, list] = {}
    for r in out:
        negs.setdefault(r["lang"], []).append(r["negative_id"])
        if len(by_lang[r["lang"]]) > 1:
            assert r["anchor_id"] != r["negative_id"]
    for lang, ns in negs.items():
        assert sorted(ns) == sorted(by_lang[lang])  # permutation/ring


def test_containment_matches_python(spark, sf_oracle):
    docs = load_table(spark, sf_oracle, "documents").select(
        "doc_id", "lang", "text"
    ).collect()

    def grams(text: str) -> set:
        toks = re.split(r"\s+", text.strip().lower())
        n = max(len(toks) - 3, 0)
        out = set()
        for i in range(n + 1):
            out.add(" ".join(toks[i : i + 3]))
        return out

    g = {r["doc_id"]: (r["lang"], grams(r["text"])) for r in docs}
    want = {}
    for ia, (la, ga) in g.items():
        if ia % surface29._CONT_THIN != 0:
            continue
        for ib, (lb, gb) in g.items():
            if ib == ia or lb != la:
                continue
            c = round(len(ga & gb) / len(ga) * 1e6)
            if c >= surface29._CONT_MIN_R6:
                want[(ia, ib)] = c
    got = {
        (r["id_a"], r["id_b"]): r["containment_r6fp"]
        for r in surface29.text_containment_ngram(spark, sf_oracle).collect()
    }
    assert set(got) == set(want)
    for k, v in got.items():
        assert abs(v - want[k]) <= 1  # python round() is banker's
    assert len(got) > 10


def test_stale_bucketed_tables_are_reaped(spark, tmp_path, monkeypatch):
    """saveAsTable fixtures leak a warehouse dir + a metastore row per
    session (review finding r5: 35 accreted dirs).  A stale sibling —
    deep-tree mtime older than the 6 h cutoff — must be dropped from
    BOTH; a warm one and the current app's tables must survive."""
    import os
    import time as _time
    from urllib.parse import urlparse

    from historic_score_etl_pipeline_spark.contract import _staging

    raw = spark.conf.get("spark.sql.warehouse.dir", "")
    wh = urlparse(raw).path or raw
    stale, warm = "hsep_bko_test_stale_app", "hsep_bko_test_warm_app"
    for name in (stale, warm):
        spark.range(1).write.mode("overwrite").saveAsTable(name)
    old = _time.time() - 7 * 3600
    for root, _dirs, files in os.walk(os.path.join(wh, stale)):
        os.utime(root, (old, old))
        for f in files:
            os.utime(os.path.join(root, f), (old, old))
    os.utime(os.path.join(wh, stale), (old, old))

    _staging.reap_stale_tables(spark, ("hsep_bko_",), {"hsep_bko_current"})

    assert not spark.catalog.tableExists(stale)
    assert not os.path.exists(os.path.join(wh, stale))
    assert spark.catalog.tableExists(warm)
    spark.sql(f"DROP TABLE IF EXISTS `{warm}`")


def test_table_live_rebuild_and_heartbeat(spark):
    """ADVICE r5: a concurrent session's reaper can rmtree a table's
    warehouse data while THIS session's Derby metastore keeps the row.
    table_live must (a) detect the dangling row, drop it, and return
    False so the caller rebuilds; (b) on a live table, bump a
    _HEARTBEAT marker so deep-tree-mtime liveness reflects last USE —
    a >6h session re-reading its tables must look warm to other
    sessions' reapers."""
    import os
    import shutil
    import time as _time

    from historic_score_etl_pipeline_spark.contract import _staging

    t = "hsep_bko_test_live_app"
    spark.range(3).write.mode("overwrite").saveAsTable(t)
    d = _staging.warehouse_table_dir(spark, t)
    assert os.path.isdir(d)

    # live: returns True and refreshes the heartbeat (tree mtime)
    before = _time.time() - 10
    for root, _dirs, files in os.walk(d):
        os.utime(root, (before, before))
        for f in files:
            os.utime(os.path.join(root, f), (before, before))
    assert _staging.table_live(spark, t) is True
    hb = os.path.join(d, "_HEARTBEAT")
    assert os.path.exists(hb)
    assert _staging.tree_mtime(d) > before + 5
    # the marker must not change what Spark reads back
    assert spark.table(t).count() == 3

    # dangling: data gone, catalog row survives -> False + row dropped
    shutil.rmtree(d)
    assert spark.catalog.tableExists(t)
    assert _staging.table_live(spark, t) is False
    assert not spark.catalog.tableExists(t)
