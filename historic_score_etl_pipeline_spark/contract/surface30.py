"""Round-5 batch 37 — sequential-looking analytics as windows, and two
more portable sketches:

* ``event_anomaly_cusum`` — CUSUM drift detection per user.  The
  textbook recurrence s_i = max(0, s_{i-1} + (x_i − target)) LOOKS
  iterative, but has the closed form
  ``s_i = prefix_i − min(0, min_{j≤i} prefix_j)`` over the deviation
  prefix sum — so it runs as TWO window functions over one shuffle,
  no recursion, no UDAF (and the oracle is plain window SQL, not a
  recursive CTE).  All arithmetic is integer cents.
* ``window_exp_decay_sum`` — recency-weighted trailing sum: the k-th
  most recent of the last 7 observations contributes cents >> k
  (halving per step back).  Geometric decay with INTEGER shifts —
  deterministic where float e^{−λΔt} factorizations drift.
* ``agg_bloom_portable`` — 256-bit Bloom filter per event type as
  sixteen 16-bit integer words (bit_or aggregate over md5-derived
  bit masks): the engine-replayable membership sketch.  Mask width 16
  keeps every shift inside a positive BIGINT in both engines (1<<63
  is UB/overflow territory — deliberately avoided).
* ``dedup_minhash_jaccard_est`` — the estimate stage completing the
  portable MinHash family: for each LSH candidate pair, estimated
  Jaccard = matching signature positions / 32, the number an
  incremental dedup service thresholds on BEFORE paying for an exact
  verify.
* ``agg_kmv_distinct`` — K-Minimum-Values distinct sketch (k = 64):
  keep the k smallest 60-bit md5 values per group; estimate
  (k−1)·2⁶⁰ / h₍ₖ₎, exact count when the group is smaller than k.
  Second mergeable cardinality sketch next to the HLL — union = min-k
  of the unioned value lists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.pins import pin
from historic_score_etl_pipeline_spark.operators.sketches import (
    _KMV_K,
    _KMV_SPACE,
    kmv_estimate,
    kmv_hashes,
    kmv_kth,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- CUSUM as two windows -----------------------------------------------------

_CUSUM_FLAG = 5_000  # cents — flag when positive drift exceeds 50 units


def event_anomaly_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user positive-drift CUSUM against the user's own mean.

    prefix_i = Σ_{j≤i} (cents_j − target_u) and the closed form
    s_i = prefix_i − min(0, running-min of prefix) replace the
    sequential recurrence: one user-keyed shuffle, two window
    functions, zero iteration — the pattern that turns 'stateful scan'
    ops into plan-native Spark.  target_u uses the engine-portable
    floor-division identity (plain div disagrees on negatives)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    base = ev.select(
        "event_id", "user_id", "ts", cents.alias("cents")
    )
    # r11: target_u as window aggregates over the SAME ordered user_id
    # spec the CUSUM windows already need — the old shape re-scanned
    # events for a per-user aggregate and broadcast-joined the
    # |users|-row result back (a corpus-keyed broadcast that could not
    # survive real scale).  All four functions below share one window
    # spec, so they collapse into ONE Window node (the ≤2-Window plan
    # law in tests/test_surface30.py still holds), and
    # prefix_i = Σ_{j≤i}(c_j − t) is computed as rsum_i − i·t — exact in
    # integers.  One scan, one exchange, no join, no broadcast.
    # Measured 2.06 s → 1.26 s at sf0.1, rows identical.
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    s = F.sum("cents").over(whole)
    n = F.count(F.lit(1)).over(whole)
    target = ((s - ((s % n + n) % n)) / n).cast("long")
    rsum = F.sum("cents").over(run)
    # count("cents") — non-null only — NOT row_number: sum(c − t) skips
    # NULL cents, so the identity must multiply t by the count of terms
    # the sum actually saw (caught by the adversarial NULL-value wave)
    rc = F.count("cents").over(run)
    prefix = rsum - rc * target
    joined = base.select(
        "event_id", "user_id", "cents", "ts", prefix.alias("prefix")
    )
    cusum = F.col("prefix") - F.least(
        F.lit(0).cast("long"), F.min("prefix").over(run)
    )
    return joined.select(
        "event_id",
        "user_id",
        cusum.alias("cusum_cents"),
        (cusum > F.lit(_CUSUM_FLAG)).cast("long").alias("is_drift"),
    )


EVENT_ANOMALY_CUSUM_SQL = f"""
WITH base AS (
  SELECT event_id, user_id, ts,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
), tgt AS (
  SELECT user_id,
         CAST((sum(cents) - ((sum(cents) % count(*) + count(*)) % count(*)))
              / count(*) AS BIGINT) AS target
  FROM base GROUP BY user_id
), pre AS (
  SELECT b.event_id, b.user_id, b.ts,
         CAST(sum(b.cents - t.target) OVER (
           PARTITION BY b.user_id ORDER BY b.ts, b.event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS prefix
  FROM base b JOIN tgt t USING (user_id)
)
SELECT event_id, user_id,
       prefix - least(0, min(prefix) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         AS cusum_cents,
       CAST(CASE WHEN prefix - least(0, min(prefix) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
              > {_CUSUM_FLAG} THEN 1 ELSE 0 END AS BIGINT) AS is_drift
FROM pre
"""


# --- integer-decay trailing sum -----------------------------------------------

_DECAY_FRAME = 6  # current + 6 preceding


def window_exp_decay_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Σ over the trailing ≤7 observations of cents >> steps-back —
    recency weighting with integer halving, bit-stable by construction.
    The frame array exists only mid-expression; one shuffle, one
    window, one fold.  NULL observations filtered on BOTH engines
    (collect_list skips NULLs, DuckDB list() keeps them)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_DECAY_FRAME, 0)
    )
    arr = F.collect_list(cents).over(w)  # oldest → newest within frame
    n = F.size(arr)

    def _halve(v: Column, p: Column) -> Column:
        # element at 1-based position p is (n − p) steps back; divide by
        # 2^(n−p) with the portable FLOOR identity — shiftright() floors
        # but DuckDB's // truncates, so negatives would diverge
        pw = F.pow(F.lit(2.0), (n - p).cast("double")).cast("long")
        return ((v - F.pmod(v, pw)) / pw).cast("long")

    decayed = F.aggregate(
        F.zip_with(arr, F.sequence(F.lit(1), n), _halve),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return ev.select(
        "event_id",
        "user_id",
        decayed.alias("decayed_cents"),
        n.cast("long").alias("n_win"),
    )


WINDOW_EXP_DECAY_SUM_SQL = f"""
WITH base AS (
  SELECT event_id, user_id, ts,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
  WHERE value IS NOT NULL
), framed AS (
  SELECT event_id, user_id,
         list(cents) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN {_DECAY_FRAME} PRECEDING AND CURRENT ROW) AS arr
  FROM base
)
SELECT event_id, user_id,
       CAST(list_sum(list_transform(
              generate_series(1, len(arr)),
              p -> (arr[p] - ((arr[p] % (1::BIGINT << (len(arr) - p))
                               + (1::BIGINT << (len(arr) - p)))
                              % (1::BIGINT << (len(arr) - p))))
                   // (1::BIGINT << (len(arr) - p))))
            AS BIGINT) AS decayed_cents,
       CAST(len(arr) AS BIGINT) AS n_win
FROM framed
"""


# --- portable Bloom filter ----------------------------------------------------

_BLOOM_BITS = 256
_BLOOM_WORD = 16  # bits per word → masks stay far from the sign bit


def agg_bloom_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """256-bit Bloom membership sketch per event type, two md5-derived
    hash functions, materialized as 16 words × 16 bits via bit_or —
    the engine-replayable pre-filter a pipeline ships to cheaply
    reject non-members before an expensive join.  Output: one row per
    (type, word) with the word's bits and popcount."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    h = F.md5(F.col("user_id").cast("string"))
    b1 = F.conv(F.substring(h, 1, 2), 16, 10).cast("long")
    b2 = F.conv(F.substring(h, 3, 2), 16, 10).cast("long")
    bits = ev.select(
        "event_type", F.explode(F.array(b1, b2)).alias("bit")
    )
    word = (F.col("bit") / F.lit(_BLOOM_WORD)).cast("long")
    mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(bit % {_BLOOM_WORD} AS INT))")
    return (
        bits.select("event_type", word.alias("word_idx"), mask.alias("mask"))
        .groupBy("event_type", "word_idx")
        .agg(F.bit_or("mask").alias("bits"))
        .select(
            "event_type",
            "word_idx",
            F.col("bits").cast("long").alias("bits"),
            F.bit_count("bits").cast("long").alias("n_bits"),
        )
    )


AGG_BLOOM_PORTABLE_SQL = f"""
WITH bits AS (
  SELECT event_type, unnest([
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))
                AS BIGINT),
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 2))
                AS BIGINT)]) AS bit
  FROM events
)
SELECT event_type,
       CAST(bit // {_BLOOM_WORD} AS BIGINT) AS word_idx,
       CAST(bit_or(1::BIGINT << CAST(bit % {_BLOOM_WORD} AS INTEGER))
            AS BIGINT) AS bits,
       CAST(bit_count(bit_or(1::BIGINT << CAST(bit % {_BLOOM_WORD}
                                               AS INTEGER)))
            AS BIGINT) AS n_bits
FROM bits
GROUP BY event_type, word_idx
"""


# --- MinHash Jaccard estimate over LSH candidates -----------------------------


def dedup_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated Jaccard (matching MinHash positions / 32) for every
    portable-LSH candidate pair — the cheap threshold stage between
    banding and exact verification.  Signatures are computed ONCE per
    doc and joined to both pair sides; the md5 base hash keeps the
    whole chain SQL-replayable."""
    from historic_score_etl_pipeline_spark.operators.dedup import (
        band_buckets_from_sig,
        band_self_join,
        minhash_signatures,
        shingle_hash_table,
    )

    sh = shingle_hash_table(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", portable=True
    )
    # sigs feeds the banding and both pair-side joins, banded both
    # self-join sides: pinned lazily so the 32-way MinHash fold and the
    # banding each run once per doc (see band_self_join)
    sigs = pin(minhash_signatures(sh, "doc_id"))
    banded = pin(band_buckets_from_sig(sigs, "doc_id", portable=True))
    pairs = band_self_join(banded, "doc_id", ["bucket"])
    matches = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: (x == y).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        pairs.join(
            sigs.select(
                F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a")
            ),
            "id_a",
        )
        .join(
            sigs.select(
                F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            matches.alias("n_match"),
            F.round(matches.cast("double") / F.lit(32.0), 6).alias("j_est_r6"),
        )
    )


# The oracle replays the full portable chain (same CTEs as
# DEDUP_NEAR_MINHASH_SQL) and adds the signature-match count per pair.
DEDUP_MINHASH_JACCARD_EST_SQL = """
WITH th AS (
  SELECT doc_id,
         list_transform(
           string_split_regex(
             lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')), '\\s+'),
           t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
                % 2147483647) AS h
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(h) - 2, 1)),
           i -> (coalesce(h[i], 0)
                 + coalesce(h[i+1], 0) * ((4*2654435769 + 1) % 2147483647)
                 + coalesce(h[i+2], 0) * ((6*2654435769 + 1) % 2147483647))
                % 2147483647)) AS sh
  FROM th
), sig AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, 32),
           i -> list_min(list_transform(
                  sh,
                  s -> (s * ((2*i*2654435769 + 1) % 2147483647)
                        + ((i*2246822507) % 2147483647))
                       % 2147483647))) AS sig
  FROM sh
), banded AS (
  SELECT doc_id,
         md5(CAST(b AS VARCHAR) || ',' ||
             array_to_string(sig[b*4 + 1 : b*4 + 4], ',')) AS bucket
  FROM sig, (SELECT unnest(generate_series(0, 7)) AS b)
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b,
       CAST(len(list_filter(generate_series(1, 32),
                            i -> sa.sig[i] = sb.sig[i])) AS BIGINT)
         AS n_match,
       round(CAST(len(list_filter(generate_series(1, 32),
                                  i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
             / 32.0, 6) AS j_est_r6
FROM pairs p
JOIN sig sa ON sa.doc_id = p.id_a
JOIN sig sb ON sb.doc_id = p.id_b
"""


# --- K-Minimum-Values distinct sketch -----------------------------------------

def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV cardinality estimate per event type: k-th smallest of the
    distinct 60-bit md5 values, est = (k−1)·2⁶⁰ / h₍ₖ₎ (exact count
    below k).  Distinct-hash dedup → per-group rank — one shuffle
    each, k rows of state per group retained."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    per_type = kmv_kth(
        kmv_hashes(ev, ["event_type"], "user_id"), ["event_type"]
    ).withColumnRenamed("n", "n_distinct")
    return per_type.select(
        "event_type",
        F.col("n_distinct").cast("long").alias("n_distinct"),
        kmv_estimate(F.col("n_distinct"), F.col("h_k"), rounded=True)
        .cast("long")
        .alias("est_kmv"),
    )


AGG_KMV_DISTINCT_SQL = f"""
WITH hashes AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM events
), ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM hashes
), per_type AS (
  SELECT event_type, count(*) AS n_distinct,
         max(CASE WHEN rk = {_KMV_K} THEN h END) AS h_k
  FROM ranked GROUP BY event_type
)
SELECT event_type,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       CAST(CASE WHEN n_distinct < {_KMV_K} THEN n_distinct
                 ELSE floor(CAST({float(_KMV_K - 1)!r} AS DOUBLE)
                            * CAST({_KMV_SPACE!r} AS DOUBLE)
                            / CAST(h_k AS DOUBLE) + 0.5)
            END AS BIGINT) AS est_kmv
FROM per_type
"""


QUERIES: dict[str, QuerySpec] = {
    "event_anomaly_cusum": QuerySpec(
        event_anomaly_cusum, EVENT_ANOMALY_CUSUM_SQL
    ),
    "window_exp_decay_sum": QuerySpec(
        window_exp_decay_sum, WINDOW_EXP_DECAY_SUM_SQL
    ),
    "agg_bloom_portable": QuerySpec(agg_bloom_portable, AGG_BLOOM_PORTABLE_SQL),
    "dedup_minhash_jaccard_est": QuerySpec(
        dedup_minhash_jaccard_est, DEDUP_MINHASH_JACCARD_EST_SQL
    ),
    "agg_kmv_distinct": QuerySpec(agg_kmv_distinct, AGG_KMV_DISTINCT_SQL),
}
