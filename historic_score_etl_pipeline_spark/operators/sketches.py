"""Mergeable sketches — the pre-aggregation pattern that makes distinct
counting tractable at 100 TB (SURVEY.md §2D-D6 extension).

``approx_count_distinct`` answers one query; a *stored HLL sketch* per
(partition, group) answers every future rollup of those groups without
rescanning the data: union the sketches, read the estimate.  That is the
Datasketches property Spark 3.5+ exposes as ``hll_sketch_agg`` /
``hll_union_agg`` / ``hll_sketch_estimate``.

The scale story: sketch build is one pass over the fact table with map-side
partial aggregation (sketches combine associatively inside the hash
aggregate); each stored sketch is ~KB regardless of input rows; any
time-range / dimension rollup then touches only sketch rows.  Re-aggregating
raw data per query is the thing this kills.

The PORTABLE families below rebuild HyperLogLog and K-Minimum-Values from
md5 and integer arithmetic only, so every register, every k-th minimum and
every estimate is bit-equal on Spark and on the DuckDB oracle — which the
engine-native Datasketches blob is not (its hash and layout are Spark's
own).  Each family is one build (``hll_ranks`` → ``hll_registers``;
``kmv_hashes`` → ``kmv_kth``), merged by the same aggregate it is built with
(per-register ``max``; re-rank of the hash-set union), and one estimate
(``hll_estimate`` / ``kmv_estimate``):

* HLL: 256 registers (p = 8) indexed by md5 byte 0; rank = leading zeros of
  a 60-bit md5 suffix + 1 via the base-2 STRING length (no float log); the
  harmonic sum Σ 2^(35−min(ρ,35)) is exact integer arithmetic, one double
  division at the end, LinearCounting below 2.5·m.
* KMV: the k = 64 smallest distinct 60-bit md5 values per group; estimate
  (k−1)·2⁶⁰ / h₍ₖ₎, exact count below k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# --- portable HyperLogLog constants --------------------------------------------
_HLL_M = 256  # registers (p = 8)
_HLL_ALPHA_M2 = 47072.71267120224  # 0.7213/(1+1.079/256) * 256²
_HLL_RHO_CAP = 35
_HLL_POW = float(1 << _HLL_RHO_CAP)  # 2^35
# numerator folded to ONE double literal (a decimal-literal product
# overflows DuckDB's DECIMAL inference; and one literal = one rounding)
_HLL_EST_NUM = _HLL_ALPHA_M2 * _HLL_POW

# --- portable K-Minimum-Values constants ---------------------------------------
_KMV_K = 64
_KMV_SPACE = float(1 << 60)


def build_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """One HLL sketch of ``value_col`` per group — the stored,
    incrementally-maintainable form of count-distinct state."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def rollup_estimate(
    sketches: DataFrame,
    rollup_cols: list[str],
) -> DataFrame:
    """Merge stored sketches up to a coarser grouping and read the
    distinct estimate — no raw-data rescan.  Sketch union is lossless
    (same lg_k), so the rolled-up estimate is IDENTICAL to the estimate
    a direct sketch over the raw data would give."""
    agg = [
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_distinct"),
        F.sum("n_rows").alias("n_rows"),
    ]
    if rollup_cols:
        return sketches.groupBy(*rollup_cols).agg(*agg)
    return sketches.agg(*agg)


def heavy_hitters_exact(
    items: DataFrame,
    item_col: str,
    k: int = 64,
    min_share_denom: int = 50,
) -> DataFrame:
    """EXACT frequent items above a frequency threshold, at sketch cost —
    the two-phase candidates-then-verify pattern with a PROVABLE
    guarantee (Misra–Gries 1982; merged-summary bound per Agarwal et al.
    2013, "Mergeable Summaries"):

    * Phase 1 (one pass, mapInPandas per partition): each partition
      keeps a Misra–Gries summary of ``k`` counters and emits ≤ k
      candidate rows.  Any item with GLOBAL count > N/(k+1) is
      guaranteed to survive in at least one partition summary — the
      candidate union is a certified superset of every item above that
      bound.
    * Phase 2 (one small join): exact counts of the candidates only
      (semi-join prunes the recount to candidate rows), filtered to
      count > N/min_share_denom.

    Validity requires ``min_share_denom < k + 1`` (threshold above the
    MG bound) — enforced.  Output is EXACT and deterministic regardless
    of partitioning (the candidate superset may vary; the verified,
    thresholded output cannot) — which is what makes an oracle possible
    for a sketch-based operator.

    Scale shape: phase 1 is embarrassingly parallel, O(k) state per
    partition, ≤ k·P candidate rows total; phase 2 re-scans the items
    once with a broadcast semi-join and aggregates only matching rows.
    The full groupBy-count this replaces shuffles EVERY distinct item;
    here the shuffle carries candidates only.
    """
    from collections.abc import Iterator

    import pandas as pd

    if min_share_denom >= k + 1:
        raise ValueError(
            f"threshold N/{min_share_denom} must exceed the MG bound "
            f"N/{k + 1}: need min_share_denom < k+1"
        )

    def mg_partition(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in pdfs:
            for item in pdf[item_col]:
                if item in counters:
                    counters[item] += 1
                elif len(counters) < k:
                    counters[item] = 1
                else:  # decrement-all step (dict rebuild, O(k))
                    counters = {
                        key: c - 1 for key, c in counters.items() if c > 1
                    }
        yield pd.DataFrame({"candidate": list(counters.keys())})

    candidates = (
        items.select(item_col)
        .mapInPandas(mg_partition, "candidate string")
        .distinct()
    )
    n_total = items.count()  # one scalar action (like CC / PageRank)
    threshold = n_total // min_share_denom
    return (
        items.join(
            F.broadcast(candidates),
            items[item_col] == candidates["candidate"],
            "inner",
        )
        .groupBy("candidate")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .where(F.col("n") > threshold)
        .select(F.col("candidate").alias(item_col), "n")
    )


# --- portable HyperLogLog ----------------------------------------------------------


def hll_ranks(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """``(group…, reg, rho)`` per row: the md5 register index of
    ``value_col`` and its rank, the input of :func:`hll_registers`."""
    h = F.md5(F.col(value_col).cast("string"))
    reg = F.conv(F.substring(h, 1, 2), 16, 10).cast("long")
    suffix = F.conv(F.substring(h, 3, 15), 16, 10).cast("long")
    # rank = leading zeros of the 60-bit suffix + 1, via base-2 STRING
    # length (conv drops leading zeros) — no float log2 to diverge
    rho = F.when(suffix == 0, F.lit(61)).otherwise(
        F.lit(61) - F.length(F.conv(suffix.cast("string"), 10, 2))
    )
    return df.select(*group_cols, reg.alias("reg"), rho.alias("rho"))


def hll_registers(ranks: DataFrame, group_cols: list[str]) -> DataFrame:
    """The portable HLL sketch per group: one ``(group…, reg, max_rho)``
    row per hit register of the :func:`hll_ranks` rows.  The register
    table IS the mergeable sketch — union is a per-register ``max`` — and
    the (group, reg) max is map-side combinable: |groups|×256 rows of
    state."""
    return ranks.groupBy(*group_cols, "reg").agg(F.max("rho").alias("max_rho"))


def hll_estimate(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """``(group…, regs_hit, harmonic_fp, est)`` from the registers of
    :func:`hll_registers`: registers hit, the exact integer harmonic
    denominator, and the estimate (raw HLL, or LinearCounting m·ln(m/V)
    while empty registers remain and the raw estimate is under 2.5·m)."""
    # shiftleft's bit count must be a column here → spell it in SQL
    pow_term = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), "
        f"{_HLL_RHO_CAP} - least(max_rho, {_HLL_RHO_CAP}))"
    )
    folded = regs.groupBy(*group_cols).agg(
        F.sum(pow_term).alias("s_hit"),
        F.count(F.lit(1)).alias("m_hit"),
    )
    # empty registers contribute 2^35 each to the harmonic denominator
    s_total = F.col("s_hit") + (F.lit(_HLL_M) - F.col("m_hit")) * F.lit(
        1 << _HLL_RHO_CAP
    )
    raw = F.floor(
        F.lit(_HLL_EST_NUM) / s_total.cast("double") + F.lit(0.5)
    ).cast("long")
    # V is an INTEGER so lc takes one of 256 values; the floor(x+0.5) at
    # unit precision makes a 1-ulp cross-engine ln divergence harmless
    # (the repo's micro-nat fixpoint convention).
    v_zero = F.lit(_HLL_M) - F.col("m_hit")
    lc = F.floor(
        F.lit(float(_HLL_M))
        * F.log(F.lit(float(_HLL_M)) / v_zero.cast("double"))
        + F.lit(0.5)
    ).cast("long")
    est = F.when(
        (v_zero > 0) & (raw <= F.lit(int(2.5 * _HLL_M))), lc
    ).otherwise(raw)
    return folded.select(
        *group_cols,
        F.col("m_hit").cast("long").alias("regs_hit"),
        s_total.cast("long").alias("harmonic_fp"),
        est.alias("est"),
    )


# --- portable K-Minimum-Values -----------------------------------------------------


def kmv_hashes(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """Distinct ``(group…, h)``: the 60-bit md5 value of ``value_col``."""
    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    return df.select(*group_cols, h.alias("h")).distinct()


def kmv_kth(hashes: DataFrame, group_cols: list[str]) -> DataFrame:
    """``(group…, n, h_k)``: the distinct-hash count and the k-th smallest
    hash per group (NULL below k).  ``hashes`` must be distinct per group;
    a merged sketch is this over the distinct union of the hash sets."""
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        hashes.select(*group_cols, "h", F.row_number().over(w).alias("rk"))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.when(F.col("rk") == _KMV_K, F.col("h"))).alias("h_k"),
        )
    )


def kmv_estimate(n: Column, h_k: Column, rounded: bool = False) -> Column:
    """(k−1)·2⁶⁰ / h₍ₖ₎, or the exact ``n`` below k.  A double, or with
    ``rounded`` a long (half-up) — round only a final estimate, never the
    terms of an inclusion–exclusion."""
    raw = F.lit(float(_KMV_K - 1)) * F.lit(_KMV_SPACE) / h_k.cast("double")
    if rounded:
        return F.when(n < _KMV_K, n).otherwise(F.floor(raw + F.lit(0.5)))
    return F.when(n < _KMV_K, n.cast("double")).otherwise(raw)
