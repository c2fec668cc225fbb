"""Output checks.  Each returns a list of failure messages (empty = pass)
and never asks Spark: outputs are read back with pyarrow and compared
with the generator's ground truth or with DuckDB, an engine that shares
no code with the one under test.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb
import pyarrow.dataset as ds

from gen import BANDS, CorpusTruth, IngestTruth, NightlyTruth


def digest(rows) -> str:
    """Order-independent digest: sha256 over the sorted row reprs."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def read_rows(path: str, columns: list[str]) -> list[tuple]:
    """Rows of a parquet directory (hive partitions included), read
    without Spark."""
    if not os.path.isdir(path):
        return []
    files = [f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
             if not os.path.basename(f).startswith(("_", "."))]
    if not files:
        return []
    t = ds.dataset(files, format="parquet", partitioning="hive",
                   partition_base_dir=path).to_table(columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


# --- nightly_refresh ----------------------------------------------------------

DOC_COLS = ["o_orderkey", "fixture_date", "customer_name", "segment",
            "o_totalprice", "history_json"]
REF_COLS = ["matchlink", "refereelink", "referee_matchistlink"]
RESULT_COLS = ["match_date", "league", "home_club", "away_club",
               "home_goal", "away_goal"]


def _doc_key(row: tuple) -> tuple:
    okey, date, name, seg, price, hist = row
    lines = tuple((d["line"], d["ship"], float(d["qty"])) for d in json.loads(hist))
    return (okey, str(date), name, seg, round(price, 2), lines)


def _flagship_oracle(con, night_dir: str, start: str, days: int) -> dict[int, tuple]:
    q = f"""
    WITH fx AS (
      SELECT * FROM read_parquet('{night_dir}/orders.parquet/*.parquet')
      WHERE o_orderdate >= TIMESTAMP '{start}'
        AND o_orderdate < CAST(DATE '{start}' + INTERVAL {days} DAY AS TIMESTAMP)
    ),
    li AS (
      SELECT l_orderkey,
             list((l_linenumber, CAST(CAST(l_shipdate AS DATE) AS VARCHAR), l_quantity)
                  ORDER BY CAST(l_shipdate AS DATE), l_linenumber, l_quantity) AS lines
      FROM read_parquet('{night_dir}/lineitem.parquet/*.parquet')
      GROUP BY l_orderkey
    )
    SELECT fx.o_orderkey, CAST(CAST(fx.o_orderdate AS DATE) AS VARCHAR),
           coalesce(c.c_name, ''), coalesce(c.c_mktsegment, ''),
           fx.o_totalprice, li.lines
    FROM fx
    LEFT JOIN read_parquet('{night_dir}/customer.parquet/*.parquet') c
      ON fx.o_custkey = c.c_custkey
    LEFT JOIN li ON fx.o_orderkey = li.l_orderkey
    """
    out = {}
    for okey, date, name, seg, price, lines in con.execute(q).fetchall():
        last3 = sorted(tuple(x.values()) if isinstance(x, dict) else tuple(x)
                       for x in (lines or [])[-3:])
        out[okey] = (okey, date, name, seg, round(price, 2),
                     tuple((ln, sh, float(qty)) for ln, sh, qty in last3))
    return out


def _referee_oracle(con, night_dir: str, start: str, days: int) -> list[tuple]:
    q = f"""
    WITH o AS (SELECT * FROM read_parquet('{night_dir}/orders.parquet/*.parquet')),
    hist AS (SELECT o_custkey, min(o_orderkey) AS hk FROM o GROUP BY o_custkey)
    SELECT 'match/' || CAST(o.o_orderkey AS VARCHAR),
           coalesce('ref/' || CAST(c.c_custkey AS VARCHAR), ''),
           '{{"1":["hist/' || CAST(hist.hk AS VARCHAR) || '"]}}'
    FROM o
    LEFT JOIN read_parquet('{night_dir}/customer.parquet/*.parquet') c
      ON o.o_custkey = c.c_custkey
    LEFT JOIN hist ON o.o_custkey = hist.o_custkey
    WHERE o.o_orderdate >= CAST(DATE '{start}' AS TIMESTAMP)
      AND o.o_orderdate < CAST(DATE '{start}' + INTERVAL {days} DAY AS TIMESTAMP)
    """
    return con.execute(q).fetchall()


class NightlyOracle:
    """Expected (row count, digest) per nightly output, computed once per
    run — the inputs do not change between iterations."""

    def __init__(self, root: str, truth: NightlyTruth):
        con = duckdb.connect()
        try:
            merged: dict[int, tuple] = {}
            self.referee_rows: dict[str, list[tuple]] = {}
            for n, (start, days) in enumerate(truth.horizons):
                night_dir = os.path.join(root, f"night{n + 1}")
                merged.update(_flagship_oracle(con, night_dir, start, days))
                self.referee_rows[f"night{n + 1}"] = _referee_oracle(
                    con, night_dir, start, truth.referee_days)
        finally:
            con.close()
        self.docs_rows = list(merged.values())
        self.results_rows = [k + v for k, v in truth.page_records.items()]
        self.docs = (len(self.docs_rows), digest(self.docs_rows))
        self.results = (len(self.results_rows), digest(self.results_rows))
        self.referee = {n: (len(r), digest(r)) for n, r in self.referee_rows.items()}


def check_nightly(out_dir: str, oracle: NightlyOracle) -> list[str]:
    errs = []
    docs = [_doc_key(r) for r in read_rows(os.path.join(out_dir, "docs"), DOC_COLS)]
    if (len(docs), digest(docs)) != oracle.docs:
        errs.append(f"docs: {len(docs)} rows vs oracle {oracle.docs[0]}, or digest differs")
    res = read_rows(os.path.join(out_dir, "results"), RESULT_COLS)
    if (len(res), digest(res)) != oracle.results:
        errs.append(f"results: {len(res)} rows vs truth {oracle.results[0]}, or digest differs")
    for night, want in oracle.referee.items():
        ref = read_rows(os.path.join(out_dir, "referee", f"batch_id={night}"), REF_COLS)
        if (len(ref), digest(ref)) != want:
            errs.append(f"referee {night}: {len(ref)} rows vs oracle {want[0]}, or digest differs")
    return errs


# --- corpus_curation ------------------------------------------------------------

# MinHash LSH finds a near copy only with high probability, and the engine's
# 32 affine hash members (h + i·s mod p) are correlated: over 100 seeded
# corpora its banding shared no bucket between 1 of 14,446 injected near
# copies and their originals.  Requiring every near copy to be caught would
# fail about one seed in a hundred, so this share may be missed.  Exact
# copies and canonical documents get no allowance.
NEAR_MISS_SHARE = 0.01


def near_miss_allowance(n_near: int) -> int:
    return max(1, int(n_near * NEAR_MISS_SHARE))


def check_corpus(out_dir: str, truth: CorpusTruth) -> list[str]:
    errs = []
    removed: dict[str, set[int]] = {}
    for doc_id, reason in read_rows(os.path.join(out_dir, "removed"), ["doc_id", "reason"]):
        removed.setdefault(reason, set()).add(doc_id)
    exact_victims = set(range(truth.n_docs)) - truth.exact_kept
    if removed.get("exact_dup", set()) != exact_victims:
        errs.append(f"exact dedup removed {len(removed.get('exact_dup', ()))} docs, "
                    f"expected the {len(exact_victims)} exact copies")
    # near dedup reports survivors per language: every canonical document
    # kept leaves at least the canonical counts, and every surplus survivor
    # is a near copy LSH missed
    by_lang = dict(read_rows(os.path.join(out_dir, "near_dedup"), ["lang", "n_docs"]))
    surplus = [by_lang.get(lang, 0) - n for lang, n in truth.by_lang.items()]
    allowed = near_miss_allowance(len(truth.exact_kept - truth.canonical))
    if set(by_lang) != set(truth.by_lang) or min(surplus) < 0 or sum(surplus) > allowed:
        errs.append(f"near dedup kept {sum(by_lang.values())} docs per language "
                    f"{sorted(by_lang.items())}, expected {sorted(truth.by_lang.items())} "
                    f"plus at most {allowed} missed near copies")
    if removed.get("short", set()) != truth.short:
        errs.append("quality gate dropped a different set than the short documents")
    if removed.get("contaminated", set()) != truth.contaminated:
        errs.append("decontamination removed a different set than the contaminated documents")
    kept = {r[0] for r in read_rows(os.path.join(out_dir, "curated", "documents.parquet"), ["doc_id"])}
    want = truth.exact_kept - truth.short - truth.contaminated
    if kept != want:
        errs.append(f"curated corpus has {len(kept)} docs, expected {len(want)}")
    packed = [r[0] for r in read_rows(os.path.join(out_dir, "shards"), ["doc_id"])]
    if sorted(packed) != sorted(want):
        errs.append("shard packing lost or repeated documents")
    flagged = {r[0] for r in read_rows(os.path.join(out_dir, "semdedup"), ["vec_id", "is_dup"]) if r[1]}
    if flagged != truth.vec_dups:
        errs.append(f"semantic dedup flagged {len(flagged)} vectors, expected {len(truth.vec_dups)}")
    return errs


# --- corpus_curation: incremental arrivals ----------------------------------------


def ingest_digest(work_dir: str) -> tuple[str, str]:
    """(flagged, index) digests, batch id included."""
    flagged = read_rows(os.path.join(work_dir, "flagged"), ["batch_id", "new_id", "existing_id"])
    index = read_rows(os.path.join(work_dir, "index"), ["batch_id", "doc_id", "bucket"])
    return digest(flagged), digest(index)


def check_ingest(work_dir: str, truth: IngestTruth) -> list[str]:
    errs = []
    flagged = {r[0] for r in read_rows(os.path.join(work_dir, "flagged"), ["new_id"])}
    missed = truth.dup_ids - flagged
    allowed = near_miss_allowance(len(truth.near_ids))
    if flagged - truth.dup_ids or missed - truth.near_ids or len(missed) > allowed:
        errs.append(f"flagged {len(flagged)} new docs, expected the {len(truth.dup_ids)} "
                    f"re-sent ones less at most {allowed} missed near copies")
    n_index = len(read_rows(os.path.join(work_dir, "index"), ["doc_id"]))
    if n_index != truth.n_docs * BANDS:
        errs.append(f"index holds {n_index} rows, expected {truth.n_docs * BANDS}")
    return errs
