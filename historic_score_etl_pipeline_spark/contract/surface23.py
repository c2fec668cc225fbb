"""Round-4 batch 30 — nine further engine-surface staples, every one
oracle-checked:

* ``agg_corr_matrix`` — pairwise Pearson correlations from EXACT
  decimal sums (never the engine's streaming ``corr`` accumulator,
  whose update order is engine-specific): the classic sufficient-
  statistics formulation a map-side-combined aggregate gives for free.
* ``window_cume_dist`` — cume_dist + dense_rank per language (both
  tie-stable by definition, no tiebreak needed).
* ``agg_bitmask_states`` — per-user event-type bitmask (bit_or) and the
  population histogram over masks: the funnel-state encoding that keeps
  32 behavioral flags in one BIGINT at 100 TB.
* ``scan_zorder_prune`` — Z-ORDER (Morton) clustering: user and day
  bits interleaved into one sort key, staged sorted, read back with a
  TWO-dimensional predicate that both reaches the scan.  The layout
  story one-dimensional sorting can't give: locality in two filter
  columns at once.
* ``window_rolling_minmax`` — trailing 7-row min/max/exact-avg per
  user: the rolling-stats frame with decimal-exact averaging.
* ``embed_norm_hist`` — prefix-norm (Matryoshka truncation) histogram
  over the embeddings table with integer-fixpointed squares (one
  correctly-rounded sqrt at the end): the norm-distribution check an
  embedding pipeline runs before truncating dimensions.
* ``scan_hive_partition_prune`` — hive-layout partitioned staging +
  a partition-pruned read (PartitionFilters, plan-asserted): directory
  pruning, the coarsest and cheapest data-skipping tier.
* ``setop_except_all`` — multiset EXCEPT ALL (duplicates preserved),
  the set-op family's last member beyond the r1 trio.
* ``event_attribution_last_touch`` — last-click-before-purchase
  attribution over per-user event streams (strictly-preceding frame +
  IGNORE NULLS carry): the marketing-analytics primitive.

Conventions as ever: BIGINT casts in the oracle, fixpoint-before-sum
for any float, identical expression association order across engines,
total-order tiebreaks on every order-sensitive window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table
from historic_score_etl_pipeline_spark.operators.similarity import valid_vectors

# --- exact-sums correlation matrix -------------------------------------------


def _corr_from_sums(n: Column, sx: Column, sy: Column, sxx: Column,
                    syy: Column, sxy: Column) -> Column:
    """Pearson r from exact sufficient statistics; the double arithmetic
    runs over identical IEEE inputs in the same association order in
    both engines, so round-6 is bit-stable.  Zero-variance groups (den
    not > 0) yield NULL rather than NaN/Inf — mirrors the denom>0
    pattern in operators/similarity.py::cosine and keeps the two
    engines' undefined-correlation behavior aligned (ADVICE r4)."""
    num = n * sxy - sx * sy
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    return F.when(den > 0, F.round(num / den, 6))


def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlations of (quantity, price, discount) per return
    flag.  One map-side-combined pass accumulates the decimal sufficient
    statistics (exact under any partitioning); the engine's native
    ``corr`` is deliberately avoided — its streaming update is
    order-dependent and engine-specific."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(12,2)")
    p = F.col("l_extendedprice").cast("decimal(12,2)")
    d = F.col("l_discount").cast("decimal(12,2)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("double").alias("sq"),
        F.sum(p).cast("double").alias("sp"),
        F.sum(d).cast("double").alias("sd"),
        F.sum(q * q).cast("double").alias("sqq"),
        F.sum(p * p).cast("double").alias("spp"),
        F.sum(d * d).cast("double").alias("sdd"),
        F.sum(q * p).cast("double").alias("sqp"),
        F.sum(q * d).cast("double").alias("sqd"),
        F.sum(p * d).cast("double").alias("spd"),
    )
    n = F.col("n")
    return agg.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        _corr_from_sums(n, F.col("sq"), F.col("sp"), F.col("sqq"),
                        F.col("spp"), F.col("sqp")).alias("corr_qty_price"),
        _corr_from_sums(n, F.col("sq"), F.col("sd"), F.col("sqq"),
                        F.col("sdd"), F.col("sqd")).alias("corr_qty_disc"),
        _corr_from_sums(n, F.col("sp"), F.col("sd"), F.col("spp"),
                        F.col("sdd"), F.col("spd")).alias("corr_price_disc"),
    )


AGG_CORR_MATRIX_SQL = """
WITH s AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sq,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sp,
         CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sd,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sqq,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS spp,
         CAST(sum(CAST(l_discount AS DECIMAL(12,2))
                  * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sdd,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sqp,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sqd,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS spd
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
       CASE WHEN sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp) > 0
            THEN round((n * sqp - sq * sp)
                 / (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)), 6)
       END AS corr_qty_price,
       CASE WHEN sqrt(n * sqq - sq * sq) * sqrt(n * sdd - sd * sd) > 0
            THEN round((n * sqd - sq * sd)
                 / (sqrt(n * sqq - sq * sq) * sqrt(n * sdd - sd * sd)), 6)
       END AS corr_qty_disc,
       CASE WHEN sqrt(n * spp - sp * sp) * sqrt(n * sdd - sd * sd) > 0
            THEN round((n * spd - sp * sd)
                 / (sqrt(n * spp - sp * sp) * sqrt(n * sdd - sd * sd)), 6)
       END AS corr_price_disc
FROM s
"""


# --- cume_dist / dense_rank ---------------------------------------------------


def window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist and dense_rank per language over document size — both
    are tie-STABLE (equal n_chars share the value), so no artificial
    tiebreak is needed and the result is deterministic by definition.
    NULL placement IS pinned (NULLS LAST): Spark ascends NULLS FIRST by
    default, DuckDB NULLS LAST — a NULL n_chars row would otherwise
    shift every rank in its partition (adversarial-fixture sweep)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").asc_nulls_last()
    )
    return docs.select(
        "doc_id",
        "lang",
        F.round(F.cume_dist().over(w), 6).alias("cd_r6"),
        F.dense_rank().over(w).cast("long").alias("drank"),
    )


WINDOW_CUME_DIST_SQL = """
SELECT doc_id, lang,
       round(cume_dist() OVER
             (PARTITION BY lang ORDER BY n_chars NULLS LAST), 6)
         AS cd_r6,
       CAST(dense_rank() OVER
            (PARTITION BY lang ORDER BY n_chars NULLS LAST) AS BIGINT)
         AS drank
FROM documents
"""


# --- behavioral bitmask states ------------------------------------------------

_MASK_BITS = {"view": 0, "click": 1, "signup": 2, "purchase": 3, "error": 4}


def user_bitmasks(ev: DataFrame) -> DataFrame:
    """(user_id, mask): bit_or of per-event type flags — map-side
    combined, one shuffle on user_id."""
    bit = F.lit(0)
    for etype, pos in _MASK_BITS.items():
        bit = F.when(F.col("event_type") == etype, F.lit(1 << pos)).otherwise(bit)
    return (
        ev.select("user_id", bit.alias("b"))
        .groupBy("user_id")
        .agg(F.bit_or("b").alias("mask"))
    )


def agg_bitmask_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavior encoded as one integer bitmask (bit_or over
    per-event flags), then the population histogram over masks — 32
    behavioral booleans in one BIGINT column, the funnel-state encoding
    that joins and filters for free at 100 TB.  Two tiny shuffles:
    user-key bit_or (map-side combined), then the ≤2⁵-row histogram."""
    ev = load_table(spark, sf_dir, "events")
    return user_bitmasks(ev).groupBy("mask").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    ).select(F.col("mask").cast("long").alias("mask"), "n_users")


_MASK_CASE_SQL = " ".join(
    f"WHEN event_type = '{etype}' THEN {1 << pos}"
    for etype, pos in _MASK_BITS.items()
)

AGG_BITMASK_STATES_SQL = f"""
WITH masks AS (
  SELECT user_id,
         bit_or(CASE {_MASK_CASE_SQL} ELSE 0 END) AS mask
  FROM events GROUP BY user_id
)
SELECT CAST(mask AS BIGINT) AS mask, CAST(count(*) AS BIGINT) AS n_users
FROM masks GROUP BY mask
"""


# --- Z-order clustered layout -------------------------------------------------

_Z_USER_BITS = 6  # user_id mod 64
_Z_DAY_BITS = 5  # day of month 1..31


def _morton(user_bits: Column, day_bits: Column) -> Column:
    """Interleave user (even positions) and day (odd positions) bits —
    a pure shift/mask expression, JVM codegen, no UDF."""
    z = F.lit(0)
    for i in range(_Z_USER_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(user_bits, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    for i in range(_Z_DAY_BITS):
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftright(day_bits, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z


_ZU_LO, _ZU_HI = 10, 20  # user bucket range filter
_ZD_LO, _ZD_HI = 5, 10  # day-of-month range filter


def _staged_zorder_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage events Z-ORDER-clustered on (user bucket, day): Morton-
    interleave the two dimensions into one sort key and range-partition
    + sort by it.  Points close in BOTH dimensions land close in the
    layout, so row-group min/max stats prune a two-dimensional predicate
    — what a one-column sort can only do for its leading column."""
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "zorder", sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value",
        F.dayofmonth("ts").alias("dom"),
        F.pmod(F.col("user_id"), F.lit(1 << _Z_USER_BITS)).alias("ubucket"),
    )
    z = _morton(F.col("ubucket"), F.col("dom"))
    (
        ev.withColumn("z", z)
        .repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


_ZORDER_SCHEMA = (
    "event_id long, user_id long, event_type string, value double, "
    "dom int, ubucket long"
)


def scan_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional pruned read over the Z-ordered staging: both the
    user-bucket range AND the day range reach the scan (PushedFilters,
    plan-asserted).  The oracle recomputes on the original events —
    the layout must change bytes read, never results."""
    path = _staged_zorder_events(spark, sf_dir)
    ev = spark.read.schema(_ZORDER_SCHEMA).parquet(path)
    return (
        ev.where(
            (F.col("ubucket") >= _ZU_LO) & (F.col("ubucket") <= _ZU_HI)
            & (F.col("dom") >= _ZD_LO) & (F.col("dom") <= _ZD_HI)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


SCAN_ZORDER_PRUNE_SQL = f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
WHERE (user_id % {1 << _Z_USER_BITS}) BETWEEN {_ZU_LO} AND {_ZU_HI}
  AND day(ts) BETWEEN {_ZD_LO} AND {_ZD_HI}
GROUP BY event_type
"""


# --- trailing rolling min/max/avg ---------------------------------------------

_ROLL_N = 7


def window_rolling_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-row min/max/exact-avg of value per user in event-time
    order: one shuffle on user_id, one sorted pass, O(frame) state per
    row.  The average divides a decimal-exact frame sum by the frame
    count and rounds once — no streaming float accumulation."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(-(_ROLL_N - 1), 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.min("value").over(w).alias("roll_min"),
        F.max("value").over(w).alias("roll_max"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            6,
        ).alias("roll_avg_r6"),
    )


WINDOW_ROLLING_MINMAX_SQL = f"""
SELECT event_id, user_id,
       min(value) OVER w AS roll_min,
       max(value) OVER w AS roll_max,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / count(*) OVER w, 6) AS roll_avg_r6
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN {_ROLL_N - 1} PRECEDING AND CURRENT ROW)
"""


# --- embedding-norm histogram -------------------------------------------------


_NORM_PREFIX_DIMS = 8


def embed_norm_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm histogram of the FIRST-8-dimension prefix of each
    embedding, in deci-unit buckets — the Matryoshka-truncation check
    (Kusupati et al. 2022): how much mass survives a prefix cut?  (The
    full vectors are unit-normalized, so the full-norm histogram would
    be a single bucket — the prefix norm is the informative one.)

    Each squared component is fixpointed to integer micro-units BEFORE
    the array sum (exact under any fold order); the single ``sqrt`` at
    the end is IEEE-correctly-rounded on identical integer inputs in
    both engines.  Pure projection + 2-level aggregate — no shuffle
    wider than the ≤|buckets| histogram."""
    emb = valid_vectors(load_table(spark, sf_dir, "embeddings"))
    ssq = F.aggregate(
        F.slice(F.col("embedding"), 1, _NORM_PREFIX_DIMS),
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.floor(
            x.cast("double") * x.cast("double") * F.lit(1e6) + F.lit(0.5)
        ).cast("long"),
    )
    bucket = F.floor(F.sqrt(ssq.cast("double")) / F.lit(100.0) + F.lit(0.5))
    return (
        emb.select(bucket.cast("long").alias("norm_decis"))
        .groupBy("norm_decis")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    )


EMBED_NORM_HIST_SQL = f"""
WITH ssq AS (
  SELECT list_sum(list_transform(embedding[1:{_NORM_PREFIX_DIMS}],
           x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e6 + 0.5)
                     AS BIGINT))) AS s
  FROM embeddings
  -- quarantine gate: malformed vectors excluded (similarity.py)
  WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
)
SELECT CAST(floor(sqrt(CAST(s AS DOUBLE)) / 100.0 + 0.5) AS BIGINT)
         AS norm_decis,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM ssq GROUP BY norm_decis
"""


# --- hive-partitioned staging + partition pruning -----------------------------


def _staged_partitioned_orders(spark: SparkSession, sf_dir: str) -> str:
    """Stage orders hive-partitioned by status — the directory layout
    whose pruning costs a LISTING, not a scan."""
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "hivepart", sf_dir)
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    return out


def scan_hive_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned read: the status predicate becomes a
    PartitionFilters entry (plan-asserted) — whole directories never
    open.  The coarsest data-skipping tier; at 100 TB the difference
    between listing 1/3 of the lake and scanning all of it."""
    path = _staged_partitioned_orders(spark, sf_dir)
    df = spark.read.parquet(path)
    return (
        df.where(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


SCAN_HIVE_PARTITION_PRUNE_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
"""


# --- EXCEPT ALL ---------------------------------------------------------------


def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset difference: parts shipped in 1996 EXCEPT ALL parts
    shipped in 1997 — each occurrence cancels one occurrence, the
    semantics DISTINCT-based EXCEPT cannot express.  Compacted to
    (partkey, surviving multiplicity) so the contract output stays
    small and scalar."""
    li = load_table(spark, sf_dir, "lineitem")

    def year_keys(y: int) -> DataFrame:
        return li.where(
            (F.col("l_shipdate") >= F.lit(f"{y}-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit(f"{y + 1}-01-01").cast("date"))
        ).select("l_partkey")

    return (
        year_keys(1996)
        .exceptAll(year_keys(1997))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_surviving"))
    )


SETOP_EXCEPT_ALL_SQL = """
WITH survived AS (
  SELECT l_partkey FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  EXCEPT ALL
  SELECT l_partkey FROM lineitem
  WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
)
SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_surviving
FROM survived GROUP BY l_partkey
"""


# --- last-touch attribution ---------------------------------------------------


def event_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-click-before-purchase attribution: for every purchase, the
    most recent STRICTLY-preceding click by the same user (IGNORE NULLS
    last over a to-previous-row frame) and the gap in microseconds.
    One shuffle on user_id, one sorted pass; purchases with no prior
    click surface NULLs (unattributed)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_ts = F.when(
        F.col("event_type") == "click", F.unix_micros("ts")
    )
    attributed = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.last(click_id, ignorenulls=True).over(w).alias("attr_click_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("attr_click_us"),
    )
    return attributed.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "attr_click_id",
        (F.col("ts_us") - F.col("attr_click_us")).alias("gap_us"),
    )


EVENT_ATTRIBUTION_LAST_TOUCH_SQL = """
WITH attributed AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
         last_value(CASE WHEN event_type = 'click' THEN event_id END
                    IGNORE NULLS) OVER w AS attr_click_id,
         last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
                    IGNORE NULLS) OVER w AS attr_click_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, attr_click_id, ts_us - attr_click_us AS gap_us
FROM attributed WHERE event_type = 'purchase'
"""


QUERIES: dict[str, QuerySpec] = {
    "agg_corr_matrix": QuerySpec(agg_corr_matrix, AGG_CORR_MATRIX_SQL),
    "window_cume_dist": QuerySpec(window_cume_dist, WINDOW_CUME_DIST_SQL),
    "agg_bitmask_states": QuerySpec(
        agg_bitmask_states, AGG_BITMASK_STATES_SQL
    ),
    "scan_zorder_prune": QuerySpec(scan_zorder_prune, SCAN_ZORDER_PRUNE_SQL),
    "window_rolling_minmax": QuerySpec(
        window_rolling_minmax, WINDOW_ROLLING_MINMAX_SQL
    ),
    "embed_norm_hist": QuerySpec(embed_norm_hist, EMBED_NORM_HIST_SQL),
    "scan_hive_partition_prune": QuerySpec(
        scan_hive_partition_prune, SCAN_HIVE_PARTITION_PRUNE_SQL
    ),
    "setop_except_all": QuerySpec(setop_except_all, SETOP_EXCEPT_ALL_SQL),
    "event_attribution_last_touch": QuerySpec(
        event_attribution_last_touch, EVENT_ATTRIBUTION_LAST_TOUCH_SQL
    ),
}
