"""Deduplication operators (SURVEY.md §2K-K1/K2) — the LLM-data-pipeline
dedup family: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point of these at 100 TB):

* exact dedup never compares rows pairwise — it hash-partitions on a
  fingerprint (one shuffle) and keeps one representative per group;
* near-dup never does the O(n²) self-join — MinHash/LSH bands route
  candidate pairs through band-bucket joins (REPOSE-style partition-local
  pruning, see PAPERS.md), so work is O(n · bands + candidate pairs);
* SimHash reduces a document to one 16-bit signature; near-dup candidates
  are pairs whose signatures agree on a 4-bit band, verified by Hamming
  distance — all expressible with md5 + bit ops, no Python.

Every LSH candidate step (MinHash buckets, SimHash and hyperplane bands)
goes through one band self-join, :func:`band_self_join`.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.operators.pins import pin
from historic_score_etl_pipeline_spark.operators.scale import ensure_parallelism


def text_fingerprint(col: Column | str) -> Column:
    """Canonical content fingerprint: lowercase, collapse whitespace, md5.
    The exact-dedup key — md5 is stable across engines and languages."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def dedup_exact(
    df: DataFrame, key: Column, id_col: str, payload_cols: list[str]
) -> DataFrame:
    """Keep one representative row (min id) per fingerprint group.

    ``groupBy(fingerprint)`` = one shuffle on a uniformly-distributed md5
    key — no skew, no pairwise compare.  ``n_dups`` preserved so the
    pipeline can report dedup rates."""
    return (
        df.withColumn("fingerprint", key)
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_dups"),
            *[F.min(c).alias(c) for c in payload_cols],
        )
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct) of a text column — the unit of
    Jaccard similarity.  Pure Column expression: split → sliding windows
    via transform over index sequence → distinct."""
    c = F.col(col) if isinstance(col, str) else col
    # regex strip, not F.trim — same rationale as token_hashes: trim()
    # removes only ASCII spaces, so a tab/newline-padded doc would grow
    # spurious empty tokens and diverge from str.strip()/str.split()
    stripped = F.regexp_replace(c, r"^\s+|\s+$", "")
    toks = F.split(F.lower(stripped), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def jaccard(a: Column, b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| over array columns (inputs must be distinct)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


_MH_P = (1 << 31) - 1
# fixed odd affine constants (deterministic, pairwise-independent enough
# for LSH banding); all < 2^31 so h*a < 2^62
_MH_A = [(2 * i * 0x9E3779B9 + 1) % _MH_P for i in range(1, 65)]
_MH_B = [(i * 0x85EBCA6B) % _MH_P for i in range(1, 65)]

# MinHash signature length and LSH band count of every MinHash chain
# (8 bands of 4 rows); the DuckDB oracles replay the same numbers
NUM_HASHES = 32
BANDS = 8


def token_hashes(col: Column | str) -> Column:
    """Per-token 31-bit hashes: each token xxhash64'd ONCE, reduced mod
    2³¹-1.  The expensive string pass — stage it as its own projection."""
    c = F.col(col) if isinstance(col, str) else col
    # regex strip, not F.trim: trim() removes only ASCII spaces, so a
    # tab/newline-padded doc would split into spurious empty tokens and
    # diverge from Python str.strip()/str.split() semantics
    stripped = F.regexp_replace(c, r"^\s+|\s+$", "")
    toks = F.split(F.lower(stripped), r"\s+")
    return F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(_MH_P)))


def token_hashes_md5(col: Column | str) -> Column:
    """Engine-PORTABLE twin of :func:`token_hashes`: 31-bit token hashes
    derived from md5 (first 15 hex chars → integer, mod 2³¹−1) instead
    of xxhash64.  md5 is bit-identical in every engine, so a SQL oracle
    can replay the whole MinHash→LSH chain value-for-value — this is the
    hash the ``dedup_near_minhash`` contract query uses.  Production
    paths keep xxhash64 (several× cheaper per token); the two differ
    ONLY in the base hash, all downstream arithmetic is shared."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"^\s+|\s+$", "")
    toks = F.split(F.lower(stripped), r"\s+")
    return F.transform(
        toks,
        lambda t: F.pmod(
            F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
            F.lit(_MH_P),
        ),
    )


def shingle_hashes(th: Column, n: int = 3) -> Column:
    """Shingle hash = affine combination of n consecutive token hashes —
    pure integer math, no shingle-string allocation, and each token was
    hashed once (vs. n× when hashing concatenated n-gram strings).

    ``th`` MUST be a materialized column — build shingle hashes through
    :func:`shingle_hash_table`, which stages the token hash in a prior
    ``select``: lambda bodies inline their inputs, so passing the raw
    token_hashes *expression* here would re-split and re-hash the text
    per element access — O(tokens²) work.  Products stay < 2⁶² →
    ANSI-overflow-safe.
    """
    idx = F.sequence(F.lit(0), F.greatest(F.size(th) - n, F.lit(0)))
    combined = F.transform(
        idx,
        # F.get is 0-based and null-on-out-of-bounds (docs shorter than n
        # tokens must not throw under ANSI); coalesce(0) keeps them hashable
        lambda i: F.pmod(
            sum(
                F.coalesce(F.get(th, i + j), F.lit(0)) * F.lit(_MH_A[j])
                for j in range(1, n)
            )
            + F.coalesce(F.get(th, i), F.lit(0)),
            F.lit(_MH_P),
        ),
    )
    return F.array_distinct(combined)


def minhash_mins(base: Column, num_hashes: int = 32) -> Column:
    """Affine-derived MinHash mins over precomputed base hashes.

    One ``aggregate`` fold keeps a running array of ``num_hashes`` minima,
    updating all of them per shingle hash.  Same arithmetic as the naive
    form (num_hashes × array_min(transform(...))) but one traversal of the
    shingle array instead of ``num_hashes``, no intermediate arrays, and —
    decisive in practice — a codegen tree of constant size: the unrolled
    form compiled ~45 s of whole-stage codegen at 32 hashes on first use,
    the fold compiles in milliseconds."""
    # affine constants derived arithmetically from the family index so the
    # lambda stays free of array literals (which would be re-evaluated per
    # element): a_i = (2i·φ+1) mod P, b_i = (i·κ) mod P — matches _MH_A/_MH_B
    phi2, kappa = F.lit(2 * 0x9E3779B9), F.lit(0x85EBCA6B)
    p = F.lit(_MH_P)

    def update(acc: Column, h: Column) -> Column:
        return F.zip_with(
            acc,
            F.sequence(F.lit(1), F.lit(num_hashes)),
            lambda m, i: F.least(
                m, F.pmod(h * F.pmod(i * phi2 + 1, p) + F.pmod(i * kappa, p), p)
            ),
        )

    return F.aggregate(
        base, F.array_repeat(p.cast("long"), num_hashes), update
    )


def shingle_hash_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    keep: Sequence[str] = (),
    portable: bool = False,
) -> DataFrame:
    """(id, *keep, sh) rows: each document's distinct shingle hashes — the
    one hashing stage of the MinHash chain.  ``portable=True`` hashes
    tokens with md5 (:func:`token_hashes_md5`) so an external SQL oracle
    can replay the chain exactly."""
    cols = [id_col, *keep]
    # CPU-heavy per-row work: make sure it spreads across cores even when
    # the source is one small parquet file (at 100 TB the scan itself
    # yields enough splits and this repartition collapses to a no-op check)
    df = ensure_parallelism(df.select(*cols, text_col), id_col)
    # two staged projections (token hash → shingle combine): each stage
    # references the previous as a materialized column, so nothing is
    # inlined/recomputed per element
    hasher = token_hashes_md5 if portable else token_hashes
    return df.select(*cols, hasher(text_col).alias("th")).select(
        *cols, shingle_hashes(F.col("th")).alias("sh")
    )


def minhash_signatures(sh: DataFrame, id_col: str) -> DataFrame:
    """(id, sig) rows: the ``NUM_HASHES``-member MinHash signature of each
    :func:`shingle_hash_table` row."""
    return sh.select(id_col, minhash_mins(F.col("sh"), NUM_HASHES).alias("sig"))


def band_buckets(
    df: DataFrame, id_col: str, text_col: str, portable: bool = False
) -> DataFrame:
    """(id, bucket) rows: the LSH band index of each document — ``BANDS``
    rows per doc, bucket = hash of (band number, that band's signature
    slice).  This is the persisted "signature index" of an incremental
    dedup deployment: computed once per doc, stored partitioned by
    bucket.  ``portable=True`` swaps both hash sites to md5
    (:func:`token_hashes_md5` + an md5 bucket key) so an external SQL
    oracle can replay the chain exactly."""
    sh = shingle_hash_table(df, id_col, text_col, portable=portable)
    return band_buckets_from_sig(minhash_signatures(sh, id_col), id_col, portable)


def band_buckets_from_sig(
    sigs: DataFrame, id_col: str, portable: bool = False
) -> DataFrame:
    """Band buckets from a PRECOMPUTED signature column ``sig`` — the
    entry point when the signature is shared with another consumer
    (``dedup_minhash_jaccard_est`` compares signatures of the candidate
    pairs it bands: one MinHash fold per doc)."""
    rows_per_band = NUM_HASHES // BANDS
    return sigs.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band).alias(
                            "vals"
                        ),
                    )
                    for b in range(BANDS)
                ]
            )
        ).alias("pos", "bandrow"),
    ).select(
        id_col,
        # xxhash64 hashes the array column natively — no JSON stringify.
        # The portable path formats "band,v1,v2,..." and md5s it: byte-
        # replayable in any engine (array_to_string in DuckDB).
        F.md5(
            F.concat_ws(
                ",",
                F.col("bandrow.band").cast("string"),
                F.concat_ws(
                    ",",
                    F.transform(
                        F.col("bandrow.vals"), lambda v: v.cast("string")
                    ),
                ),
            )
        ).alias("bucket")
        if portable
        else F.xxhash64(F.col("bandrow.band"), F.col("bandrow.vals")).alias(
            "bucket"
        ),
    )


def band_self_join(
    bands: DataFrame,
    id_col: str,
    keys: Sequence[str],
    carry: Sequence[str] = (),
) -> DataFrame:
    """LSH candidate step: every pair of rows of a banded table that
    agree on all ``keys`` columns — the one band-bucket self-join every
    MinHash, SimHash and hyperplane near-dup query routes through.

    Returns distinct ``(id_a, id_b, {c}_a, {c}_b for c in carry)`` with
    ``id_a < id_b``; a pair sharing several bands comes out once.  Only
    rows sharing a full band collide, so work is O(rows + candidate
    pairs), never n².

    Callers pin ``bands`` (or its signature table) themselves: the table
    feeds BOTH join sides, and unpinned the planner broadcasts one side
    and runs the whole shingle→signature→banding chain twice.  A pinned
    table has no size statistics, so the build side is hinted
    SHUFFLE_HASH — the honest strategy at every scale (the band table is
    corpus-sized; sort-merge would sort it, broadcast would not survive
    real corpora).  Measured on the SimHash sibling at sf0.1: 3.4 s →
    1.8 s, rows identical.

    Skew: a forced SHUFFLE_HASH build side cannot spill, so ONE
    pathologically hot bucket (a boilerplate phrase shared by millions of
    docs) could OOM an executor where sort-merge would have spilled.
    Accepted knowingly: bucket keys are hash-mixed by construction and
    AQE's skew-join split stays enabled for the probe side.  If a corpus
    with degenerate buckets shows up, cap bucket width here (drop buckets
    over a frequency bound, the standard LSH stop-bucket guard) rather
    than un-hinting the join.
    """
    a, b = bands.alias("a"), bands.alias("b")
    cond = reduce(
        operator.and_,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
        + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")],
    )
    return (
        a.join(b.hint("shuffle_hash"), cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[
                F.col(f"{side}.{c}").alias(f"{c}_{side}")
                for c in carry
                for side in ("a", "b")
            ],
        )
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame, id_col: str, text_col: str, portable: bool = False
) -> DataFrame:
    """MinHash+LSH near-dup candidates.

    signature → split into ``BANDS`` rows of ``NUM_HASHES/BANDS`` values →
    :func:`band_self_join` on the bucket key.  Returns (id_a, id_b) with
    id_a < id_b.
    """
    banded = pin(band_buckets(df, id_col, text_col, portable))
    return band_self_join(banded, id_col, ["bucket"])


def hamming16_pairs(
    sig: DataFrame, id_col: str, sig_col: str, max_dist: int
) -> DataFrame:
    """Hamming-LSH over a 16-bit signature column: four 4-bit bands
    (a pair within distance 3 shares at least one band exactly) →
    :func:`band_self_join` → exact popcount(xor) ≤ ``max_dist`` verify.
    Returns (id_a, id_b, hamming)."""
    bands = sig.select(
        id_col,
        sig_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(sig_col, 4 * b)
                        .bitwiseAND(F.lit(15))
                        .alias("nib"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select(
        id_col, sig_col, F.col("bk.band").alias("band"), F.col("bk.nib").alias("nib")
    )
    cand = band_self_join(bands, id_col, ["band", "nib"], carry=[sig_col])
    dist = F.bit_count(F.col(f"{sig_col}_a").bitwiseXOR(F.col(f"{sig_col}_b")))
    return cand.select(
        "id_a", "id_b", dist.cast("long").alias("hamming")
    ).where(F.col("hamming") <= max_dist)


def band_probe_join(probes: DataFrame, index: DataFrame, id_col: str) -> DataFrame:
    """Incremental near-dup check: each PROBE doc's band buckets against
    a persisted band INDEX (both :func:`band_buckets` tables) — the
    arriving-batch shape of a production dedup service.  At 100 TB the
    index is stored bucket-partitioned, so this join co-locates without
    a shuffle of the index.

    Only probe×index collisions are produced — never index×index (already
    adjudicated in earlier batches) and never probe×probe (callers
    :func:`band_self_join` the probes for that).  Cost per batch is
    O(|probes| × bands) probe rows, independent of corpus size.  An id on
    both sides (a replayed batch whose buckets already reached the index)
    never pairs with itself.

    Returns (new_id, existing_id) distinct pairs.
    """
    n, e = probes.alias("n"), index.alias("e")
    return (
        n.join(e, F.col("n.bucket") == F.col("e.bucket"))
        .where(F.col(f"n.{id_col}") != F.col(f"e.{id_col}"))
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"e.{id_col}").alias("existing_id"),
        )
        .distinct()
    )


def near_dup_survivors(
    df: DataFrame, id_col: str, text_col: str, keep: Sequence[str]
) -> DataFrame:
    """The shipped near-dup removal chain: LSH candidates → Jaccard verify
    (≥ 0.5) over shingle hashes → connected components over verified
    pairs → keep the min-id canonical per cluster.  Returns the surviving
    ``(id, *keep)`` rows: the corpus minus every non-canonical cluster
    member."""
    from historic_score_etl_pipeline_spark.operators.graph import (
        connected_components,
    )

    # ONE corpus scan + ONE shingle-hash pass, pinned — the "persisted
    # signature index" of an industrial dedup deployment.  Banding, Jaccard
    # verification and survivorship all derive from it instead of
    # re-scanning/re-hashing the corpus 3×.  LAZY: the first downstream
    # action (CC's edge count) materializes it.
    base = pin(shingle_hash_table(df, id_col, text_col, keep))
    # banded feeds both self-join sides: pinned so the MinHash banding
    # over the signature index runs once (see band_self_join)
    banded = pin(band_buckets_from_sig(minhash_signatures(base, id_col), id_col))
    pairs = band_self_join(banded, id_col, ["bucket"])

    def side(s: str) -> DataFrame:
        return base.select(
            F.col(id_col).alias(f"id_{s}"), F.col("sh").alias(f"sh_{s}")
        )

    verified = (
        pairs.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .where(jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.5)
        .select("id_a", "id_b")
    )
    clusters = connected_components(verified, "id_a", "id_b")
    # drop every clustered doc that is not its cluster's canonical (min id)
    victims = clusters.where(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return base.select(id_col, *keep).join(victims, id_col, "left_anti")


def _simhash_majority(hashes: Column, n_bits: int) -> Column:
    """Per-bit majority vote over an array of integer hashes → packed
    signature: bit i is set iff more hashes have bit i set than clear.
    Pure bit ops inside aggregate-over-array — no UDF."""
    bits = [
        F.when(
            F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc
                + F.when(h.bitwiseAND(F.lit(1 << i).cast("long")) != 0, 1).otherwise(
                    -1
                ),
            )
            > 0,
            F.lit(1 << i).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(n_bits)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def simhash_portable(col: Column | str) -> Column:
    """16-bit SimHash over word 2-gram shingles with an md5-derived base
    hash (first 15 hex digits of the digest), replayable bit-for-bit in
    any engine with md5 — the same portability trick as
    :func:`token_hashes_md5`.  A SQL oracle therefore exercises the whole
    majority-vote fold, not just the base hash."""
    sh = shingles(col, n=2)
    hashes = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    )
    return _simhash_majority(hashes, 16)


def near_dup_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_cols: list[str],
    threshold: float = 0.4,
    sample_mod: int | None = None,
) -> DataFrame:
    """Blocked n-gram-Jaccard near-dup: self-join within coarse buckets
    (e.g. lang), compute Jaccard over 3-gram shingle sets, keep pairs ≥
    threshold.  ``sample_mod`` optionally thins the left side for cost
    control.  At scale, prefer lsh_candidate_pairs to generate the pairs
    and use this only as the verify stage."""
    base = ensure_parallelism(df, id_col).select(
        F.col(id_col),
        *[F.col(c) for c in bucket_cols],
        shingles(text_col).alias("sh"),
    )
    left = base
    if sample_mod:
        left = base.where(F.col(id_col) % sample_mod == 0)
    a, b = left.alias("a"), base.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in bucket_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    jac = jaccard(F.col("a.sh"), F.col("b.sh"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def substring_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    max_df: int = 20,
) -> DataFrame:
    """Doc pairs sharing at least one VERBATIM n-token gram, with the
    earliest shared-span start positions — the fixed-gram-length Spark
    restatement of exact-substring training-data dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"; the
    suffix-array pass becomes a gram-bucket equi-join).

    Semantics: per document each distinct gram keeps its earliest start
    (0-based token offset); grams occurring in more than ``max_df``
    documents are dropped BEFORE pairing — the boilerplate guard that is
    also the skew guard (a stop-phrase gram in 10⁶ docs would otherwise
    fan out 10¹² pairs).  Output per unordered pair (doc_a < doc_b):
    ``n_shared_grams`` and the min start offset on each side.

    Scale shape: explode → per-doc gram dedup (one shuffle keyed on
    (doc, gram)) → frequency filter and the pair join BOTH keyed on the
    gram, so Catalyst reuses one hash partitioning; per-gram fan-out is
    capped at max_df² pairs.  Never an all-pairs doc join.
    """
    toks = df.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), " "), lambda x: x != "").alias("t"),
    ).where(F.size("t") >= n)
    grams = toks.select(
        id_col,
        F.posexplode(F.sequence(F.lit(0), F.size("t") - n)).alias("_i", "start"),
        "t",
    ).select(
        id_col,
        F.col("start").cast("long").alias("start"),
        F.array_join(F.slice("t", F.col("start") + 1, F.lit(n)), " ").alias("gram"),
    )
    occ = grams.groupBy(id_col, "gram").agg(F.min("start").alias("start"))
    freq = occ.groupBy("gram").agg(F.count(F.lit(1)).alias("gram_df"))
    occf = occ.join(
        freq.where((F.col("gram_df") >= 2) & (F.col("gram_df") <= max_df)),
        "gram",
    ).select(id_col, "gram", "start")
    a, b = occf.alias("a"), occf.alias("b")
    return (
        a.join(b, "gram")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_grams"),
            F.min("a.start").alias("first_start_a"),
            F.min("b.start").alias("first_start_b"),
        )
    )


def _doc_grams_all(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, gram) rows — sliding n-token grams per document WITH
    duplicates, split on single spaces (empties dropped).  Map-only:
    linear in tokens, never shuffled here."""
    toks = df.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), " "), lambda x: x != "").alias("t"),
    ).where(F.size("t") >= n)
    return toks.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - n),
                lambda i: F.array_join(F.slice("t", i + 1, F.lit(n)), " "),
            )
        ).alias("gram"),
    )


def _doc_grams(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, gram) rows — DISTINCT sliding n-token grams per document,
    split on single spaces (empties dropped).  Linear in tokens."""
    return _doc_grams_all(df, id_col, text_col, n).distinct()


def ngram_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """Sliding n-token-gram eval-set decontamination — the GPT-3-style
    benchmark filter (Brown et al. 2020, appendix C): a training document
    is contaminated when ANY of its n-grams appears verbatim anywhere in
    the held-out eval split.  Complements chunk-hash contamination
    (stride-16 windows, contract/surface14.py) with the stride-1
    standard used for published decontamination numbers.

    Output: one row per contaminated training doc —
    ``(train_id, n_hit_grams, first_hit_gram)`` where ``n_hit_grams``
    counts the doc's DISTINCT grams that exist in the eval gram set and
    ``first_hit_gram`` is the lexicographically smallest such gram (a
    deterministic witness for auditing).

    Scale shape: both sides reduce to DISTINCT (doc, gram) /(gram) sets
    before the equi-join on ``gram`` — never a doc×doc comparison.  The
    eval gram set is tiny relative to the corpus (benchmarks are MBs,
    corpora TBs), so Catalyst broadcast-joins it; per-gram fan-out is
    bounded by eval DISTINCT which needs no skew guard.  At 100 TB the
    train-side gram explosion is map-side only (one shuffle for the
    per-doc distinct, reused by the aggregation).
    """
    # r11, same rows: the train side is NOT per-doc de-duplicated up
    # front — that distinct was a full shuffle of the exploded 13-gram
    # STRINGS (the heaviest possible shuffle payload, the same
    # super-linear shape the r11 third-decade probe caught in
    # dedup_contamination).  The corpus-sized gram stream is now
    # map-only: broadcast hash probe against the eval set, and
    # distinctness is restored where it is actually needed, as
    # count_distinct inside the one post-join aggregation over MATCHED
    # rows only.  Measured 1.36 s → 1.17 s at sf0.1, rows identical.
    train_grams = _doc_grams_all(train, id_col, text_col, n)
    eval_grams = (
        _doc_grams(eval_df, id_col, text_col, n).select("gram").distinct()
    )
    return (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(F.col(id_col).alias("train_id"))
        .agg(
            F.count_distinct("gram").cast("long").alias("n_hit_grams"),
            F.min("gram").alias("first_hit_gram"),
        )
    )
