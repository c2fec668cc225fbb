"""Round-9 batch 77 — the scale-safe siblings of the two fixed-width
banding queries (VERDICT r8 asks #1/#2):

* ``embed_lsh_hyperplane_scaled`` — hyperplane LSH whose band width is
  DERIVED FROM THE CORPUS: w = clamp(bit_length(n−1), 4, 24) bits per
  band (== ceil(log2 n), computed integer-exactly via bin()-length on
  both engines — ADVICE r9), 4 bands, so per-band bucket space 2^w tracks the corpus count
  and never saturates the way ``embed_lsh_hyperplane``'s fixed 4-bit
  bands measurably did (BASELINE.md §r8-third-batch: exponent 1.885 at
  sf10 — 64 total buckets vs 200k vectors → within-bucket pairs ~n²).
  Here 2^w ≥ n/2 by construction: expected bucket occupancy stays O(1)
  and candidate pairs stay O(n) at every scale (the cap of 24 bits —
  16.7M buckets/band — covers corpora to ~3×10⁷ vectors per partition
  grain; raise the cap constant for more).

  The corpus count reaches the plan as a 1-row broadcast (scalar-
  folding rule, ARCHITECTURE.md) — no driver fold, plan stays lazy.
  Everything else replays the fixed sibling's engine-portable chain
  (surface51.py): md5-derived ±1 hyperplanes (tag ``hps_<h>_<i>`` so
  the two keys' hyperplane families are independent), integer-quantized
  projections (floor(x·1e6 + 0.5) — exact, no float accumulation
  divergence), band-bucket equi-join, popcount(xor) ≤ 3 verify over
  the full 4w-bit signature carried as a 4-long array.

* ``dedup_simhash_scaled`` — the same widening applied to SimHash
  (``dedup_simhash_hamming``, surface48.py — the self-flagged sibling
  in the saturable class).  Measured r9: the fixed 4×4-bit geometry's
  candidate pairs grow exactly ~n² once 64 buckets ≪ corpus — 3.4M
  pairs at sf0.1 → 321M at sf1 → 31.8B at sf10 (ratios 94×/99× per
  decade; the sf10 join is not completable in the harness).  Here ONE
  md5 digest per shingle (tag ``shs_<shingle>``) carries all four
  bands — hex digits [6b, 6b+6) are band b's 24 hash bits — and the
  majority vote runs over w = clamp(bit_length(n−1), 4, 24) bits per band:
  bucket space 2^w ≥ n/2, candidates O(n) plus the true near-dup
  pairs.  Slicing the 128-bit digest (instead of the fixed sibling's
  single 16-bit signature) is what makes the width scalable: 4 bands ×
  24 bits = 96 signature bits ≤ the 128 one md5 provides, at ONE
  string hash per shingle.

Scale notes: signatures are computed in one whole-stage-codegen
projection against the broadcast width row (no shuffle): all four
bands' votes accumulate as an array-of-arrays of counters in ONE pass
over the shingle digests (hash each shingle exactly once — not once
per band or bit);
banding explodes 4 rows/doc(vector) into a (band, key) equi-join whose
key space scales with n; the verify step is array popcount arithmetic
on the joined pair — never a second pass over the corpus.  Reference
parity: the reference has no ANN/near-dup operator — these belong to
the beyond-reference LLM-data-pipeline surface (SURVEY.md §2K), the
scale-safe tier of the dedup/similarity family in operators/dedup.py
and operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.dedup import band_self_join
from historic_score_etl_pipeline_spark.operators.pins import pin
from historic_score_etl_pipeline_spark.sources.catalog import load_table

_SRPS_BANDS = 4
_SRPS_DIM = 64
_SRPS_MAX_DIST = 3
_SRPS_MIN_W = 4
# Width cap: 2^24 = 16.7M buckets/band keeps occupancy O(1) to ~3×10⁷
# rows per partition grain.  Extension path past the cap (VERDICT r9):
# - hyperplane sibling: raise the constant — its hyperplane family is
#   indexed by the flat id h < 4·w (`hps_<h>_<i>` tags), so wider bands
#   just draw MORE independent hyperplanes; nothing saturates below
#   w = 52 (the exact-2^j-in-double bound on the bit weights).
# - simhash sibling: 4 bands × 24 bits = 96 of one md5's 128 bits; past
#   w = 32 add a second digest family (`shs2_<shingle>`) and slice bands
#   2–3 from it.  Behavior AT the cap is pinned by the w=24 boundary law
#   test (tests/test_surface91.py::test_width_cap_boundary).
_SRPS_MAX_W = 24


def _srps_sign(h, i):
    """Deterministic ±1 from md5('hps_<h>_<i>') — identical in SQL."""
    tag = F.concat(
        F.lit("hps_"), h.cast("string"), F.lit("_"), i.cast("string")
    )
    bit = F.conv(F.substring(F.md5(tag), 1, 1), 16, 10).cast("long") % 2
    return F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)).cast("long")


def srps_width(n_col):
    """Band width law: w = clamp(bit_length(n−1), 4, 24) bits, computed
    as length(bin(greatest(n,1) − 1)) — INTEGER-exact (ADVICE r9).

    bit_length(n−1) == ceil(log2 n) for every n ≥ 1, but the libm form
    (Spark computes log2 as log(x)/log(2)) can land one ulp low/high at
    exact powers of two, flipping ceil() and silently giving Spark and
    the DuckDB oracle DIFFERENT widths — entirely different pair sets.
    The bin()-length form agrees digit-for-digit across Spark, DuckDB
    (same expression, surface91 oracles) and the python twin
    ((n−1).bit_length(), tests/test_surface91.py).  n is clamped to ≥ 1
    first so an empty corpus yields w = 4 on both engines instead of a
    log2(0) crash-vs-NULL divergence (bin(0) = '0' → length 1 → clamped
    to _SRPS_MIN_W, same as bit_length(0) = 0)."""
    n1 = F.greatest(n_col.cast("long"), F.lit(1)) - F.lit(1)
    return F.greatest(
        F.lit(_SRPS_MIN_W),
        F.least(F.lit(_SRPS_MAX_W), F.length(F.bin(n1)).cast("int")),
    )


def _band_pairs(sig: DataFrame, id_col: str) -> DataFrame:
    """One band row per ``ks`` element → :func:`band_self_join` on
    (band, bk) → popcount(xor) over the full 4w-bit signature ≤ 3."""
    bands = sig.select(
        id_col, "ks", F.posexplode("ks").alias("band", "bk")
    )
    cand = band_self_join(bands, id_col, ["band", "bk"], carry=["ks"])
    ham = F.aggregate(
        F.zip_with(
            "ks_a",
            "ks_b",
            lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    return cand.select(
        "id_a", "id_b", ham.cast("long").alias("hamming")
    ).where(F.col("hamming") <= _SRPS_MAX_DIST)


def embed_lsh_hyperplane_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-width SRP signatures → 4-band blocking → Hamming ≤ 3.

    Malformed (NULL / NULL-element) embeddings are quarantined on BOTH
    engines (similarity.py gate, ADVICE r9) — BEFORE the corpus count,
    so the width law sees the same n on both sides."""
    from historic_score_etl_pipeline_spark.operators.similarity import (
        micro_units,
        valid_vectors,
    )

    emb = valid_vectors(load_table(spark, sf_dir, "embeddings"))
    # 1-row scalar: corpus count → band width → 4w hyperplanes.  The
    # hyperplane matrix is folded in as a broadcast row (scalar-folding
    # rule) exactly like the fixed-width sibling's.
    hp = (
        emb.agg(F.count(F.lit(1)).alias("n"))
        .select(srps_width(F.col("n")).alias("w"))
        .select(
            "w",
            F.transform(
                F.sequence(
                    F.lit(0), F.col("w") * _SRPS_BANDS - F.lit(1)
                ),
                lambda h: F.transform(
                    F.sequence(F.lit(0), F.lit(_SRPS_DIM - 1)),
                    lambda i: _srps_sign(h, i),
                ),
            ).alias("hp"),
        )
    )
    q = micro_units("embedding")
    # ks[b] = Σ_j [ dot(q, hp[b·w+j]) > 0 ] · 2^j   (exact integer dot;
    # pow(2, j) is exact in double for j ≤ 52, and j < w ≤ 24)
    ks_col = F.transform(
        F.sequence(F.lit(0), F.lit(_SRPS_BANDS - 1)),
        lambda b: F.aggregate(
            F.sequence(F.lit(0), F.col("w") - F.lit(1)),
            F.lit(0).cast("long"),
            lambda acc, j: acc
            + F.when(
                F.aggregate(
                    F.zip_with(
                        F.col("q"),
                        F.element_at(
                            F.col("hp"),
                            (b * F.col("w") + j + 1).cast("int"),
                        ),
                        lambda x, s: x * s,
                    ),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x,
                )
                > 0,
                F.pow(F.lit(2.0), j.cast("double")).cast("long"),
            ).otherwise(F.lit(0)),
        ),
    )
    # Pinned: the signature table feeds BOTH sides of the band self-join
    # (see band_self_join)
    sig = (
        emb.crossJoin(F.broadcast(hp))
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            q.alias("q"),
            "hp",
            "w",
        )
        .select("vec_id", ks_col.alias("ks"))
    )
    sig = pin(sig)
    return _band_pairs(sig, "vec_id")


EMBED_LSH_HYPERPLANE_SCALED_SQL = f"""
WITH ok AS (
  -- quarantine gate: malformed vectors excluded BEFORE the width count
  -- (similarity.py policy, ADVICE r9)
  SELECT * FROM embeddings
  WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
), nb AS (
  SELECT count(*) AS n FROM ok
), wb AS (
  -- integer-exact width: bit_length(n-1) == ceil(log2 n) with no libm
  -- one-ulp hazard; GREATEST(n,1) guards the empty corpus (ADVICE r9)
  SELECT GREATEST({_SRPS_MIN_W}, LEAST({_SRPS_MAX_W},
           CAST(length(bin(GREATEST(n, 1) - 1)) AS INTEGER))) AS w
  FROM nb
), hp AS (
  SELECT h,
         list_transform(generate_series(0, {_SRPS_DIM - 1}), i ->
           CASE WHEN CAST(('0x' || substr(md5('hps_' || h || '_' || i), 1, 1))
                     AS BIGINT) % 2 = 1
                THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END) AS signs
  FROM wb, unnest(generate_series(0, {_SRPS_BANDS} * w - 1)) AS t(h)
), qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS q
  FROM ok
), proj AS (
  SELECT qv.vec_id, hp.h,
         list_sum(list_transform(qv.q, (x, i) -> x * hp.signs[i])) AS s
  FROM qv CROSS JOIN hp
), keys AS (
  SELECT vec_id, h // wb.w AS band,
         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << (h % wb.w))
                  ELSE 0 END) AS BIGINT) AS bk
  FROM proj, wb GROUP BY vec_id, h // wb.w
), sigs AS (
  SELECT vec_id, list(bk ORDER BY band) AS ks FROM keys GROUP BY vec_id
), bands AS (
  SELECT k.vec_id, k.band, k.bk, s.ks
  FROM keys k JOIN sigs s USING (vec_id)
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                  a.ks AS ks_a, b.ks AS ks_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bk = b.bk AND a.vec_id < b.vec_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(list_sum(list_transform(generate_series(1, {_SRPS_BANDS}),
              b -> bit_count(xor(ks_a[b], ks_b[b])))) AS BIGINT) AS hamming
FROM cand
WHERE list_sum(list_transform(generate_series(1, {_SRPS_BANDS}),
        b -> bit_count(xor(ks_a[b], ks_b[b])))) <= {_SRPS_MAX_DIST}
"""


# --- corpus-width SimHash near-dup -------------------------------------------------


def dedup_simhash_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-width SimHash: ONE md5 per shingle (``shs_`` tag; the
    128-bit digest covers all 4 bands × ≤24 bits — hex digits
    [6b, 6b+6) are band b's word), majority vote over
    w = clamp(bit_length(n−1), 4, 24) bits per band, band-bucket
    blocking, popcount(xor) ≤ 3 verify over 4w bits.  All four band
    votes accumulate in a SINGLE aggregate pass over the shingle
    digests (array-of-arrays accumulator) — each subexpression is
    referenced once, so no optimizer rewrite can duplicate the
    hashing."""
    from historic_score_etl_pipeline_spark.operators.dedup import shingles

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    wrow = docs.agg(F.count(F.lit(1)).alias("n")).select(
        srps_width(F.col("n")).alias("w")
    )
    base = docs.crossJoin(F.broadcast(wrow)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        shingles("text", n=2).alias("sh"),
        "w",
    )

    def _pow2(j):
        # literal-free 2^j: exact in double for j < w ≤ 24
        return F.pow(F.lit(2.0), j.cast("double")).cast("long")

    wseq = F.sequence(F.lit(0), F.col("w") - F.lit(1))
    # per shingle: one digest → 4 band words of 24 hash bits each
    words = F.transform(
        F.transform(
            F.col("sh"), lambda s: F.md5(F.concat(F.lit("shs_"), s))
        ),
        lambda h: F.array(
            *[
                F.conv(F.substring(h, 6 * b + 1, 6), 16, 10).cast("long")
                for b in range(_SRPS_BANDS)
            ]
        ),
    )
    zero = F.transform(
        F.sequence(F.lit(0), F.lit(_SRPS_BANDS - 1)),
        lambda _: F.transform(wseq, lambda _j: F.lit(0)),
    )
    # votes[b][j] = Σ_shingles (+1 if bit j of band-b word else −1)
    votes = F.aggregate(
        words,
        zero,
        lambda acc, wd: F.zip_with(
            acc,
            wd,
            lambda accb, wordb: F.zip_with(
                accb,
                F.transform(
                    wseq,
                    lambda j: F.when(
                        wordb.bitwiseAND(_pow2(j)) != 0, F.lit(1)
                    ).otherwise(F.lit(-1)),
                ),
                lambda x, y: x + y,
            ),
        ),
    )
    ks_col = F.transform(
        votes,
        lambda vb: F.aggregate(
            F.zip_with(
                vb,
                wseq,
                lambda v, j: F.when(v > 0, _pow2(j)).otherwise(
                    F.lit(0).cast("long")
                ),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )
    # Pinned: same rationale as the hyperplane sibling above
    sig = pin(base.select("doc_id", ks_col.alias("ks")))
    return _band_pairs(sig, "doc_id")


DEDUP_SIMHASH_SCALED_SQL = f"""
WITH nb AS (
  SELECT count(*) AS n FROM documents WHERE text IS NOT NULL
), wb AS (
  -- integer-exact width: bit_length(n-1) == ceil(log2 n) with no libm
  -- one-ulp hazard; GREATEST(n,1) guards the empty corpus (ADVICE r9)
  SELECT GREATEST({_SRPS_MIN_W}, LEAST({_SRPS_MAX_W},
           CAST(length(bin(GREATEST(n, 1) - 1)) AS INTEGER))) AS w
  FROM nb
), toks AS (
  SELECT doc_id,
         string_split_regex(
           lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')), '\\s+') AS t
  FROM documents WHERE text IS NOT NULL
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 1, 1)),
           i -> array_to_string(t[i:i+1], ' '))) AS sh
  FROM toks
), hexes AS (
  SELECT doc_id, list_transform(sh, s -> md5('shs_' || s)) AS hs
  FROM sh
), bandwords AS (
  SELECT doc_id, u.band,
         list_transform(hs, h -> CAST(('0x' ||
           substr(h, 6 * u.band + 1, 6)) AS BIGINT)) AS ws
  FROM hexes, unnest([0, 1, 2, 3]) AS u(band)
), keys AS (
  SELECT doc_id, band,
         CAST(list_sum(list_transform(generate_series(0, wb.w - 1),
           j -> CASE WHEN list_sum(list_transform(ws,
                  wd -> CASE WHEN (wd >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS bk
  FROM bandwords, wb
), sigs AS (
  SELECT doc_id, list(bk ORDER BY band) AS ks FROM keys GROUP BY doc_id
), bands AS (
  SELECT k.doc_id, k.band, k.bk, s.ks
  FROM keys k JOIN sigs s USING (doc_id)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.ks AS ks_a, b.ks AS ks_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(list_sum(list_transform(generate_series(1, {_SRPS_BANDS}),
              b -> bit_count(xor(ks_a[b], ks_b[b])))) AS BIGINT) AS hamming
FROM cand
WHERE list_sum(list_transform(generate_series(1, {_SRPS_BANDS}),
        b -> bit_count(xor(ks_a[b], ks_b[b])))) <= {_SRPS_MAX_DIST}
"""


QUERIES: dict[str, QuerySpec] = {
    "embed_lsh_hyperplane_scaled": QuerySpec(
        embed_lsh_hyperplane_scaled, EMBED_LSH_HYPERPLANE_SCALED_SQL
    ),
    "dedup_simhash_scaled": QuerySpec(
        dedup_simhash_scaled, DEDUP_SIMHASH_SCALED_SQL
    ),
}
