"""Seeded input generator for the benchmark.

Every input the engine sees is made here from ``--seed`` alone: the same
seed gives byte-identical files, a different seed different ones.  The
generator also keeps the ground truth each output check needs (which
page records are valid, which documents are injected duplicates, which
documents carry eval text), so no check has to trust the engine.

Layout under ``root`` (one workload at a time):

* ``nightly_refresh``: ``night1/`` and ``night2/`` star schemas
  (``orders``, ``customer``, ``lineitem`` as multi-file parquet
  directories) and ``pages/night1``, ``pages/night2`` page dumps.
* ``corpus_curation``: ``corpus/documents.parquet``, ``corpus/eval.parquet``,
  ``corpus/embeddings.parquet``, and ``arrivals/arrival-NN.parquet``, one
  file per micro-batch of a second corpus in seed-chosen order.

``manifest.json`` lists rows, bytes and a sha256 per generated file.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- shared vocabulary ---------------------------------------------------------

_ONSETS = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z",
           "br", "st", "tr", "kl"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ou"]
_CODAS = ["", "n", "r", "s", "k", "m"]
# two-syllable pseudo-words: ~30k distinct, so random documents share
# essentially no word 3-grams and never collide as near-duplicates
VOCAB = sorted({
    o1 + v1 + c1 + o2 + v2
    for o1 in _ONSETS for v1 in _VOWELS for c1 in _CODAS
    for o2 in _ONSETS[:8] for v2 in _VOWELS[:4]
})
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "for", "it"]
LANGS = ["en", "de", "fr", "es", "zh"]

# Row counts.  The reference scale is the sf0.1 tables (15,000 customers,
# 150,000 orders, 5,000 documents, 2,000 embeddings) and an ingest of
# about 12 arrivals of ~420 documents.  README.md gives the measured
# reason for each count below that: 48 runs must fit the run-time budget.
N_CUSTOMERS = 15_000
N_ORDERS = 150_000
N_CANONICAL = 2_000       # corpus documents before injected duplicates
N_VECTORS = 400           # embeddings before injected copies
N_ARRIVALS = 3
N_INGEST_CANONICAL = 1_000  # ingest documents before re-sent ones

LONG_TOKENS = (40, 60)    # canonical documents
SHORT_TOKENS = (8, 24)    # fail the quality gate (< QUALITY_MIN_TOKENS)
QUALITY_MIN_TOKENS = 40
EVAL_SPAN = 20            # eval passage length spliced into contaminated docs
BANDS = 8                 # band rows per document in the incremental index


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` tokens: pseudo-words with ~15% English stopwords mixed in."""
    ids = rng.integers(0, len(VOCAB), n)
    stop = rng.random(n) < 0.15
    sw = rng.integers(0, len(STOPWORDS), n)
    return [STOPWORDS[s] if is_s else VOCAB[i] for i, is_s, s in zip(ids, stop, sw)]


def _near_copy(rng: np.random.Generator, text: str) -> str:
    """A near-duplicate: one extra token appended (word 3-gram Jaccard
    ≈ 0.98), with the first word upper-cased so exact dedup misses it."""
    toks = text.split(" ")
    toks[0] = toks[0].upper()
    return " ".join(toks + [VOCAB[int(rng.integers(0, len(VOCAB)))]])


def _fingerprint(text: str) -> str:
    """What exact dedup compares: lower-cased, trimmed, whitespace collapsed."""
    return " ".join(text.lower().split())


def _exact_copy(text: str) -> str:
    """Same fingerprint after lower/trim/collapse-whitespace: an exact dup."""
    toks = text.split(" ")
    return "  " + toks[0].upper() + "  " + " ".join(toks[1:]) + " "


# --- manifest -------------------------------------------------------------------


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


@dataclass
class Manifest:
    root: str
    files: dict[str, dict] = field(default_factory=dict)

    def add(self, path: str, rows: int) -> None:
        rel = os.path.relpath(path, self.root)
        self.files[rel] = {
            "rows": rows,
            "bytes": os.path.getsize(path),
            "sha256": _sha256(path),
        }

    def write_parquet(self, table: pa.Table, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path, compression="snappy")
        self.add(path, table.num_rows)

    def write_split(self, table: pa.Table, dir_path: str, parts: int) -> None:
        """Lay a table out as ``parts`` parquet files so scans get one
        split per core instead of one task for the whole table."""
        step = -(-table.num_rows // parts)
        for i in range(parts):
            part = table.slice(i * step, step)
            self.write_parquet(part, os.path.join(dir_path, f"part-{i:03d}.parquet"))

    def write_text(self, text: str, path: str, rows: int) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8", newline="\n") as fh:
            fh.write(text)
        self.add(path, rows)

    @property
    def total_bytes(self) -> int:
        return sum(f["bytes"] for f in self.files.values())

    def save(self) -> str:
        path = os.path.join(self.root, "manifest.json")
        with open(path, "w") as fh:
            json.dump(self.files, fh, indent=1, sort_keys=True)
        return path


# --- nightly_refresh -------------------------------------------------------------

DAY0 = dt.date(1995, 1, 1)
N_DAYS = 730
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LEAGUES = ["eredivisie", "la-liga", "serie-a", "bundesliga", "ligue-1",
           "premier-league"]
NIGHT_STEP_DAYS = 2       # the reference's cron cadence: every two days
STOP_TOKEN = "Toon meer wedstrijden"


@dataclass
class NightlyTruth:
    horizons: list[tuple[str, int]]        # (start, days) per night, flagship
    referee_days: int
    page_landed: int                        # records rendered, garbage included
    page_records: dict[tuple, tuple]        # merged (date, league, home, away) → goals


def _star_tables(rng, n_cust, n_orders):
    cust = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    okeys = np.arange(1, n_orders + 1, dtype=np.int64) * 4
    # some custkeys point past the dimension: the left joins' null path
    ocust = rng.integers(1, int(n_cust * 1.02) + 1, n_orders)
    days = rng.integers(0, N_DAYS, n_orders)
    secs = rng.integers(0, 86400, n_orders)
    odate = (np.datetime64(DAY0.isoformat(), "us")
             + days.astype("timedelta64[D]") + secs.astype("timedelta64[s]"))
    orders = {
        "o_orderkey": okeys,
        "o_custkey": ocust.astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(900, 450000, n_orders), 2),
        "o_orderdate": odate,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    }
    nlines = rng.integers(1, 8, n_orders)
    l_okey = np.repeat(okeys, nlines)
    l_line = np.concatenate([np.arange(1, k + 1) for k in nlines]).astype(np.int32)
    n_li = len(l_okey)
    ship = (np.repeat(odate, nlines).astype("datetime64[D]")
            + rng.integers(1, 121, n_li).astype("timedelta64[D]")).astype(
                "datetime64[us]")
    lineitem = pa.table({
        "l_orderkey": l_okey,
        "l_partkey": rng.integers(1, 20000, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, 1000, n_li).astype(np.int64),
        "l_linenumber": l_line,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ship,
    })
    return cust, orders, lineitem


def _orders_table(cols: dict) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(cols["o_orderkey"], pa.int64()),
        "o_custkey": pa.array(cols["o_custkey"], pa.int64()),
        "o_orderstatus": pa.array(cols["o_orderstatus"], pa.string()),
        "o_totalprice": pa.array(cols["o_totalprice"], pa.float64()),
        "o_orderdate": pa.array(cols["o_orderdate"], pa.timestamp("us")),
        "o_orderpriority": pa.array(cols["o_orderpriority"], pa.string()),
    })


def _render_page(rng, records: list[tuple]) -> tuple[str, int]:
    """Render records as the scraper's token dump: comma/newline separated
    cells, blank cells (rowspan'd date continuations render an empty cell
    before the repeated date), the 'show more' stop token, and cancelled
    matches whose goal cells are not integers.  Returns (text, number of
    records rendered including cancelled ones)."""
    lines: list[str] = []
    landed = 0
    prev_date = None
    for rec in records:
        date, league, home, away, hg, ag = rec
        if date == prev_date:
            lines.append("")  # rowspan continuation: blank cell
        prev_date = date
        lines.append(",".join([date, league, home, away, str(hg), str(ag)]))
        landed += 1
        r = rng.random()
        if r < 0.08:
            # cancelled fixture: six cells, goals not integers → dropped
            lines.append(",".join([date, league, home, away, "-", "Afgelast"]))
            landed += 1
        elif r < 0.12:
            lines.append(STOP_TOKEN)
    return "\n".join(lines) + "\n", landed


def generate_nightly(seed: int, root: str, scale: float = 1.0) -> tuple[Manifest, NightlyTruth]:
    rng = np.random.default_rng([seed, 1])
    man = Manifest(root)
    n_cust, n_orders = int(N_CUSTOMERS * scale), int(N_ORDERS * scale)
    cust, orders, lineitem = _star_tables(rng, n_cust, n_orders)

    # fixed horizon lengths keep the work per run seed-independent; the
    # seed picks where they fall
    flag_days, ref_days = 150, 45
    start_day = int(rng.integers(30, N_DAYS - flag_days - 30))
    start1 = DAY0 + dt.timedelta(days=start_day)
    start2 = start1 + dt.timedelta(days=NIGHT_STEP_DAYS)

    # night 2: the same orders with ~6% re-priced/re-statused (updates)
    # plus new orders landing in the next nights' range (inserts)
    orders2 = {k: np.array(v, copy=True) for k, v in orders.items()}
    upd = rng.random(n_orders) < 0.06
    orders2["o_totalprice"][upd] = np.round(orders2["o_totalprice"][upd] * 1.1 + 1, 2)
    orders2["o_orderstatus"][upd] = "F"
    n_new = max(1, n_orders // 50)
    new_days = start_day + rng.integers(0, flag_days + NIGHT_STEP_DAYS, n_new)
    new_keys = (np.arange(1, n_new + 1, dtype=np.int64) * 4 + 1)  # odd: never clash
    new = {
        "o_orderkey": new_keys,
        "o_custkey": rng.integers(1, n_cust + 1, n_new).astype(np.int64),
        "o_orderstatus": np.full(n_new, "O"),
        "o_totalprice": np.round(rng.uniform(900, 450000, n_new), 2),
        "o_orderdate": (np.datetime64(DAY0.isoformat(), "us")
                        + new_days.astype("timedelta64[D]")
                        + rng.integers(0, 86400, n_new).astype("timedelta64[s]")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_new)],
    }
    for k in orders2:
        orders2[k] = np.concatenate([orders2[k], new[k]])
    nl = rng.integers(1, 8, n_new)
    new_li = pa.table({
        "l_orderkey": np.repeat(new_keys, nl),
        "l_partkey": rng.integers(1, 20000, nl.sum()).astype(np.int64),
        "l_suppkey": rng.integers(1, 1000, nl.sum()).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in nl]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl.sum()).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, nl.sum()), 2),
        "l_discount": np.round(rng.integers(0, 11, nl.sum()) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl.sum()) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl.sum())],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl.sum())],
        "l_shipdate": (np.repeat(new["o_orderdate"], nl).astype("datetime64[D]")
                       + rng.integers(1, 121, nl.sum()).astype("timedelta64[D]")
                       ).astype("datetime64[us]"),
    }).cast(lineitem.schema)
    lineitem2 = pa.concat_tables([lineitem, new_li])

    for night, ords, li in (("night1", orders, lineitem), ("night2", orders2, lineitem2)):
        base = os.path.join(root, night)
        man.write_split(cust, os.path.join(base, "customer.parquet"), 2)
        man.write_split(_orders_table(ords), os.path.join(base, "orders.parquet"), 4)
        man.write_split(li, os.path.join(base, "lineitem.parquet"), 4)

    # page dumps: each night scrapes the fixtures of its horizon window;
    # night 2 re-scrapes the overlap (some scores corrected) and adds the
    # two new days
    teams = [f"club-{i:03d}" for i in range(120)]
    page_days = 14
    merged: dict[tuple, tuple] = {}
    landed_total = 0
    fixtures: dict[tuple, tuple] = {}
    for d in range(page_days + NIGHT_STEP_DAYS):
        day = (start1 + dt.timedelta(days=d)).isoformat()
        for league in LEAGUES:
            for _ in range(int(rng.integers(3, 7))):
                h, a = rng.choice(len(teams), 2, replace=False)
                fixtures[(day, league, teams[h], teams[a])] = (
                    int(rng.integers(0, 6)), int(rng.integers(0, 6)))
    for n, start in enumerate((start1, start2)):
        lo, hi = start.isoformat(), (start + dt.timedelta(days=page_days)).isoformat()
        night_recs = {k: v for k, v in fixtures.items() if lo <= k[0] < hi}
        if n == 1:  # score corrections on re-scrape
            for k in sorted(night_recs)[:: 11]:
                night_recs[k] = (night_recs[k][0] + 1, night_recs[k][1])
        for league in LEAGUES:
            recs = sorted(
                (k + v for k, v in night_recs.items() if k[1] == league)
            )
            text, landed = _render_page(rng, recs)
            path = os.path.join(root, "pages", f"night{n + 1}", f"{league}.txt")
            man.write_text(text, path, landed)
            landed_total += landed
        merged.update(night_recs)

    man.save()
    truth = NightlyTruth(
        horizons=[(start1.isoformat(), flag_days), (start2.isoformat(), flag_days)],
        referee_days=ref_days,
        page_landed=landed_total,
        page_records=merged,
    )
    return man, truth


# --- corpus_curation ---------------------------------------------------------------


@dataclass
class IngestTruth:
    arrivals: list[str]          # landing files in arrival order
    dup_ids: set[int]            # every doc the probe must flag
    near_ids: set[int]           # the re-sent docs that are near, not exact, copies
    n_docs: int


@dataclass
class CorpusTruth:
    canonical: set[int]          # survive exact + near dedup
    by_lang: dict[str, int]      # canonical documents per language
    exact_kept: set[int]         # survive exact dedup (min id per fingerprint)
    short: set[int]              # dropped by the quality gate
    contaminated: set[int]       # exact-dedup survivors carrying an eval passage
    vec_dups: set[int]           # embedding copies semantic dedup must flag
    n_docs: int
    ingest: IngestTruth          # the micro-batch arrivals


def _corpus_docs(rng, n_canon: int, dup_frac: float, first_id: int = 0):
    """Canonical docs (ids first_id..) followed by injected duplicates with
    higher ids; returns (ids, texts, langs, canonical ids, short ids,
    dup → original map)."""
    ids, texts, langs = [], [], []
    short: set[int] = set()
    for i in range(n_canon):
        doc_id = first_id + i
        is_short = rng.random() < 0.05
        lo, hi = SHORT_TOKENS if is_short else LONG_TOKENS
        texts.append(" ".join(_words(rng, int(rng.integers(lo, hi)))))
        ids.append(doc_id)
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
        if is_short:
            short.add(doc_id)
    canonical = set(ids)
    long_ids = [i for i in ids if i not in short]
    n_dup = int(n_canon * dup_frac)
    dup_of: dict[int, int] = {}
    for j in range(n_dup):
        orig = long_ids[int(rng.integers(0, len(long_ids)))]
        text = texts[orig - first_id]
        doc_id = first_id + n_canon + j
        texts.append(_exact_copy(text) if rng.random() < 0.4 else _near_copy(rng, text))
        ids.append(doc_id)
        langs.append(langs[orig - first_id])
        dup_of[doc_id] = orig
    return ids, texts, langs, canonical, short, dup_of


def generate_corpus(seed: int, root: str, scale: float = 1.0) -> tuple[Manifest, CorpusTruth]:
    rng = np.random.default_rng([seed, 2])
    man = Manifest(root)
    n_canon = int(N_CANONICAL * scale)
    ids, texts, langs, canonical, short, dup_of = _corpus_docs(rng, n_canon, 0.12)

    # eval split: passages whose 13-grams must not survive in training docs
    n_eval = 20
    eval_texts = [" ".join(_words(rng, 60)) for _ in range(n_eval)]
    contaminated: set[int] = set()
    eligible = sorted(canonical - short)
    for k in rng.choice(len(eligible), max(1, n_canon // 50), replace=False):
        doc_id = eligible[int(k)]
        src = eval_texts[int(rng.integers(0, n_eval))].split(" ")
        off = int(rng.integers(0, len(src) - EVAL_SPAN))
        toks = texts[doc_id].split(" ")
        cut = int(rng.integers(1, len(toks)))
        texts[doc_id] = " ".join(toks[:cut] + src[off:off + EVAL_SPAN] + toks[cut:])
        contaminated.add(doc_id)
    # duplicates were rendered before contamination: re-render the ones
    # whose original changed so they stay duplicates of the final text
    for doc_id, orig in dup_of.items():
        if orig in contaminated:
            texts[doc_id] = (_exact_copy(texts[orig]) if rng.random() < 0.4
                             else _near_copy(rng, texts[orig]))
    # exact dedup keeps the min id per fingerprint (lower-cased, trimmed,
    # whitespace collapsed); ids ascend in creation order
    first: dict[str, int] = {}
    for doc_id, text in zip(ids, texts):
        first.setdefault(_fingerprint(text), doc_id)
    exact_kept = set(first.values())
    by_lang: dict[str, int] = {}
    for doc_id in canonical:
        by_lang[langs[doc_id]] = by_lang.get(langs[doc_id], 0) + 1

    order = rng.permutation(len(ids))
    docs = pa.table({
        "doc_id": pa.array([ids[i] for i in order], pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "lang": pa.array([langs[i] for i in order], pa.string()),
    })
    man.write_split(docs, os.path.join(root, "corpus", "documents.parquet"), 4)
    man.write_parquet(
        pa.table({"doc_id": pa.array(range(1_000_000, 1_000_000 + n_eval), pa.int64()),
                  "text": pa.array(eval_texts, pa.string())}),
        os.path.join(root, "corpus", "eval.parquet"),
    )

    # embeddings: random unit-free gaussians (cosine between distinct
    # vectors ≪ 0.7 at d=64) plus exact copies semantic dedup must flag
    n_vec, dim = int(N_VECTORS * scale), 64
    vecs = rng.standard_normal((n_vec, dim)).astype(np.float32)
    n_copy = n_vec // 10
    src = rng.integers(0, n_vec, n_copy)
    all_vecs = np.concatenate([vecs, vecs[src]])
    vec_ids = np.arange(len(all_vecs), dtype=np.int64)
    emb = pa.table({
        "vec_id": vec_ids,
        "embedding": pa.array(list(all_vecs), pa.list_(pa.float32())),
        "label": pa.array(np.zeros(len(all_vecs), dtype=np.int32)),
    })
    man.write_split(emb, os.path.join(root, "corpus", "embeddings.parquet"), 2)
    ingest = _arrivals(np.random.default_rng([seed, 4]), man, scale)
    man.save()
    truth = CorpusTruth(
        canonical=canonical,
        by_lang=by_lang,
        exact_kept=exact_kept,
        short=short,
        # a near copy of a contaminated document carries the passage too
        contaminated={i for i in exact_kept
                      if i in contaminated or dup_of.get(i) in contaminated},
        vec_dups=set(range(n_vec, n_vec + n_copy)),
        n_docs=len(ids),
        ingest=ingest,
    )
    return man, truth


# --- incremental arrivals (part of corpus_curation) ------------------------------


def _arrivals(rng, man: Manifest, scale: float, n_arrivals: int = N_ARRIVALS) -> IngestTruth:
    """A second corpus split into seed-ordered micro-batch files.  Each
    re-sent document lands in its original's arrival or a later one."""
    n_canon = int(N_INGEST_CANONICAL * scale)
    ids, texts, _, _, _, dup_of = _corpus_docs(rng, n_canon, 0.15)
    # originals spread evenly over the arrivals in seed order: none is empty
    perm = rng.permutation(n_canon)
    batch = {int(perm[k]): k * n_arrivals // n_canon for k in range(n_canon)}
    for d, o in dup_of.items():
        batch[d] = int(rng.integers(batch[o], n_arrivals))
    paths = []
    for b in range(n_arrivals):
        members = [i for i in ids if batch[i] == b]
        members = [members[k] for k in rng.permutation(len(members))]
        path = os.path.join(man.root, "arrivals", f"arrival-{b:02d}.parquet")
        man.write_parquet(
            pa.table({"doc_id": pa.array(members, pa.int64()),
                      "text": pa.array([texts[i] for i in members], pa.string())}),
            path,
        )
        paths.append(path)
    near = {d for d, o in dup_of.items() if _fingerprint(texts[d]) != _fingerprint(texts[o])}
    return IngestTruth(arrivals=paths, dup_ids=set(dup_of), near_ids=near, n_docs=len(ids))


GENERATORS = {
    "nightly_refresh": generate_nightly,
    "corpus_curation": generate_corpus,
}
