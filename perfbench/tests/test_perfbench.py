"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCALE = 0.1
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _generate(name, seed, root):
    return gen.GENERATORS[name](seed, str(root), SCALE)


def _bytes(root) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(name, tmp_path):
    m1, _ = _generate(name, 5, tmp_path / "a")
    m2, _ = _generate(name, 5, tmp_path / "b")
    m3, _ = _generate(name, 6, tmp_path / "c")
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")
    assert m1.files == m2.files
    assert m1.files != m3.files
    assert all(f["rows"] > 0 and f["bytes"] > 0 for f in m1.files.values())


def test_metric_names_and_benchmark_json_agree():
    names = [n for n, _ in run.END_TO_END + run.PER_LAYER]
    assert len(names) == len(set(names))
    assert all(NAME_RE.fullmatch(n) and len(n) <= 64 for n in names)
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    import workloads

    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)


def _write(path, cols: dict, types: dict | None = None):
    os.makedirs(path, exist_ok=True)
    t = pa.table({k: pa.array(v, (types or {}).get(k)) for k, v in cols.items()})
    pq.write_table(t, os.path.join(path, "part-0.parquet"))


def _nightly_outputs(out, oracle, docs_rows=None, results_rows=None):
    docs_rows = oracle.docs_rows if docs_rows is None else docs_rows
    results_rows = oracle.results_rows if results_rows is None else results_rows
    _write(os.path.join(out, "docs"), {
        "o_orderkey": [r[0] for r in docs_rows],
        "fixture_date": [r[1] for r in docs_rows],
        "customer_name": [r[2] for r in docs_rows],
        "segment": [r[3] for r in docs_rows],
        "o_totalprice": [r[4] for r in docs_rows],
        "history_json": [json.dumps([{"line": a, "ship": b, "qty": c} for a, b, c in r[5]])
                         for r in docs_rows],
    })
    _write(os.path.join(out, "results"),
           {c: [r[i] for r in results_rows] for i, c in enumerate(checks.RESULT_COLS)})
    for night, rows in oracle.referee_rows.items():
        _write(os.path.join(out, "referee", f"batch_id={night}"),
               {c: [r[i] for r in rows] for i, c in enumerate(checks.REF_COLS)})


def test_nightly_check_rejects_corrupted_output(tmp_path):
    _, truth = _generate("nightly_refresh", 3, tmp_path / "in")
    oracle = checks.NightlyOracle(str(tmp_path / "in"), truth)
    assert oracle.docs[0] > 0 and all(n for n, _ in oracle.referee.values())
    _nightly_outputs(tmp_path / "good", oracle)
    assert checks.check_nightly(str(tmp_path / "good"), oracle) == []
    bad = list(oracle.docs_rows)
    bad[0] = bad[0][:4] + (bad[0][4] + 1.0,) + bad[0][5:]
    _nightly_outputs(tmp_path / "bad_doc", oracle, docs_rows=bad)
    assert checks.check_nightly(str(tmp_path / "bad_doc"), oracle)
    _nightly_outputs(tmp_path / "lost_row", oracle, results_rows=oracle.results_rows[1:])
    assert checks.check_nightly(str(tmp_path / "lost_row"), oracle)


def _corpus_outputs(out, truth, keep_extra=(), flag_extra=(), drop_lang=None, near_missed=0):
    exact = sorted(set(range(truth.n_docs)) - truth.exact_kept - set(keep_extra))
    kept = sorted((truth.exact_kept - truth.short - truth.contaminated) | set(keep_extra))
    removed = ([(d, "exact_dup") for d in exact]
               + [(d, "short") for d in sorted(truth.short)]
               + [(d, "contaminated") for d in sorted(truth.contaminated)])
    _write(os.path.join(out, "removed"),
           {"doc_id": [r[0] for r in removed], "reason": [r[1] for r in removed]},
           {"doc_id": pa.int64()})
    by_lang = dict(truth.by_lang)
    if drop_lang:
        by_lang[drop_lang] -= 1
    by_lang[sorted(by_lang)[-1]] += near_missed
    _write(os.path.join(out, "near_dedup"),
           {"lang": sorted(by_lang), "n_docs": [by_lang[k] for k in sorted(by_lang)]},
           {"n_docs": pa.int64()})
    _write(os.path.join(out, "curated", "documents.parquet"), {"doc_id": kept},
           {"doc_id": pa.int64()})
    _write(os.path.join(out, "shards"), {"doc_id": kept}, {"doc_id": pa.int64()})
    vecs = sorted(truth.vec_dups | set(flag_extra))
    _write(os.path.join(out, "semdedup"),
           {"vec_id": vecs, "is_dup": [True] * len(vecs)}, {"vec_id": pa.int64()})


def test_corpus_check_rejects_corrupted_output(tmp_path):
    _, truth = _generate("corpus_curation", 3, tmp_path / "in")
    assert truth.contaminated and truth.short and truth.vec_dups
    # both exact and near copies were injected
    assert truth.exact_kept - truth.canonical
    assert set(range(truth.n_docs)) - truth.exact_kept
    _corpus_outputs(tmp_path / "good", truth)
    assert checks.check_corpus(str(tmp_path / "good"), truth) == []
    survivor = min(set(range(truth.n_docs)) - truth.exact_kept)
    _corpus_outputs(tmp_path / "dup_kept", truth, keep_extra=[survivor])
    assert checks.check_corpus(str(tmp_path / "dup_kept"), truth)
    _corpus_outputs(tmp_path / "canon_removed", truth, drop_lang=sorted(truth.by_lang)[0])
    assert checks.check_corpus(str(tmp_path / "canon_removed"), truth)
    _corpus_outputs(tmp_path / "canon_flagged", truth, flag_extra=[0])
    assert checks.check_corpus(str(tmp_path / "canon_flagged"), truth)
    # LSH may miss a near copy now and then, but not more than the allowance
    allowed = checks.near_miss_allowance(len(truth.exact_kept - truth.canonical))
    _corpus_outputs(tmp_path / "near_missed", truth, near_missed=allowed)
    assert checks.check_corpus(str(tmp_path / "near_missed"), truth) == []
    _corpus_outputs(tmp_path / "near_kept", truth, near_missed=allowed + 1)
    assert checks.check_corpus(str(tmp_path / "near_kept"), truth)


def _ingest_outputs(work, truth, drop=()):
    flagged = sorted(truth.dup_ids - set(drop))
    _write(os.path.join(work, "flagged", "batch_id=0"),
           {"new_id": flagged, "existing_id": [0] * len(flagged)},
           {"new_id": pa.int64(), "existing_id": pa.int64()})
    ids = [i for i in range(truth.n_docs) for _ in range(gen.BANDS)]
    _write(os.path.join(work, "index", "batch_id=0"),
           {"doc_id": ids, "bucket": list(range(len(ids)))},
           {"doc_id": pa.int64(), "bucket": pa.int64()})


def test_ingest_check_rejects_corrupted_output(tmp_path):
    _, corpus = _generate("corpus_curation", 3, tmp_path / "in")
    truth = corpus.ingest
    exact = sorted(truth.dup_ids - truth.near_ids)
    near = sorted(truth.near_ids)
    allowed = checks.near_miss_allowance(len(near))
    assert exact and len(near) > allowed and len(truth.arrivals) > 1
    _ingest_outputs(tmp_path / "good", truth)
    assert checks.check_ingest(str(tmp_path / "good"), truth) == []
    before = checks.ingest_digest(str(tmp_path / "good"))
    _ingest_outputs(tmp_path / "exact_missed", truth, drop=exact[:1])
    assert checks.check_ingest(str(tmp_path / "exact_missed"), truth)
    # the replay comparison sees any change to the flagged output
    assert checks.ingest_digest(str(tmp_path / "exact_missed")) != before
    _ingest_outputs(tmp_path / "near_missed", truth, drop=near[:allowed])
    assert checks.check_ingest(str(tmp_path / "near_missed"), truth) == []
    _ingest_outputs(tmp_path / "near_lost", truth, drop=near[:allowed + 1])
    assert checks.check_ingest(str(tmp_path / "near_lost"), truth)
