"""Round-6 batch 54 — frame, bit-aggregate, morphology, grid, and
bag-semantics staples:

* ``window_range_value_frame`` — a NUMERIC range frame (RANGE BETWEEN
  500 PRECEDING AND 500 FOLLOWING over cents): each event's ±$5
  value-neighborhood count and sum per type — the kernel-density /
  price-clustering window; range frames are peer-inclusive, so the
  result is tiebreak-independent by construction.
* ``agg_bitwise_ops`` — the native bit_and / bit_or / bit_xor
  aggregate family over per-event flag words (md5-derived 16-bit
  masks) — the roll-your-own-bitmap (agg_bitmask_states) surface done
  with the engines' built-in bit aggregates instead.
* ``text_affix_freq`` — 3-char prefix/suffix frequency tables over
  tokens ≥ 5 chars (affix mining — the morphology screen); one
  explode, two map-side-combinable aggregates, unioned with a
  side tag.
* ``join_dim_grid_fill`` — the dense dim×dim grid (region ×
  order-priority) with observed counts filled in and TRUE zeros for
  unobserved cells — the grid-fill complement of the date spine,
  built from a broadcast cross of two tiny dims + one left join.
* ``setop_intersect_all`` — bag-semantics INTERSECT ALL (multiplicity
  = min of the two sides), completing the set-op family next to
  EXCEPT ALL; Spark's intersectAll vs the literal SQL.

Scale notes: the range frame shares one shuffle with its type
partition; bit aggregates are map-side combinable; affix tables are
vocab-sized; the grid is |regions|×|priorities| rows built from
broadcast dims; INTERSECT ALL hash-partitions both sides once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- numeric RANGE frame ------------------------------------------------------------


def window_range_value_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±500-cent value neighborhood per event within its type."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    base = ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        cents.alias("cents"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rangeBetween(-500, 500)
    )
    return base.select(
        "event_id",
        "event_type",
        "cents",
        F.count(F.lit(1)).over(w).cast("long").alias("n_within_5usd"),
        F.sum("cents").over(w).cast("long").alias("sum_within_5usd"),
    )


WINDOW_RANGE_VALUE_FRAME_SQL = """
WITH base AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
)
SELECT CAST(event_id AS BIGINT) AS event_id, event_type, cents,
       CAST(count(*) OVER (PARTITION BY event_type ORDER BY cents
                           RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING)
            AS BIGINT) AS n_within_5usd,
       CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY cents
                             RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING)
            AS BIGINT) AS sum_within_5usd
FROM base
"""


# --- native bit aggregates ----------------------------------------------------------


def agg_bitwise_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bit_and / bit_or / bit_xor over md5-derived 16-bit flag words
    per event type."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
    )
    flags = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("flags:"), F.col("event_id"))), 1, 4
            ),
            16,
            10,
        )
        .cast("long")
    )
    base = ev.select("event_type", flags.alias("flags"))
    return base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.bit_and("flags").cast("long").alias("flags_and"),
        F.bit_or("flags").cast("long").alias("flags_or"),
        F.bit_xor("flags").cast("long").alias("flags_xor"),
    )


AGG_BITWISE_OPS_SQL = """
WITH base AS (
  SELECT event_type,
         CAST(('0x' || substr(md5('flags:' || CAST(event_id AS VARCHAR)),
                              1, 4)) AS BIGINT) AS flags
  FROM events WHERE event_type IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(bit_and(flags) AS BIGINT) AS flags_and,
       CAST(bit_or(flags) AS BIGINT) AS flags_or,
       CAST(bit_xor(flags) AS BIGINT) AS flags_xor
FROM base GROUP BY event_type
"""


# --- affix frequency ----------------------------------------------------------------

_AFFIX_MIN_LEN = 5


def text_affix_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-char prefix and suffix counts over tokens with length ≥ 5."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
    ).where(F.length("tok") >= _AFFIX_MIN_LEN)
    pre = tok.groupBy(
        F.lit("prefix").alias("side"), F.substring("tok", 1, 3).alias("affix")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("tok").cast("long").alias("n_types"),
    )
    suf = tok.groupBy(
        F.lit("suffix").alias("side"),
        F.substring(F.col("tok"), -3, 3).alias("affix"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("tok").cast("long").alias("n_types"),
    )
    return pre.unionByName(suf)


TEXT_AFFIX_FREQ_SQL = f"""
WITH tok AS (
  SELECT t AS tok
  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
        FROM documents)
  WHERE length(t) >= {_AFFIX_MIN_LEN}
)
SELECT 'prefix' AS side, substr(tok, 1, 3) AS affix,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT tok) AS BIGINT) AS n_types
FROM tok GROUP BY affix
UNION ALL
SELECT 'suffix', substr(tok, length(tok) - 2, 3),
       CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT tok) AS BIGINT)
FROM tok GROUP BY substr(tok, length(tok) - 2, 3)
"""


# --- dense dim grid fill ------------------------------------------------------------


def join_dim_grid_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (region, priority) cell with observed order counts and
    TRUE zeros for unobserved combinations."""
    reg = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nat = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    prio = orders.select("o_orderpriority").distinct()
    grid = reg.crossJoin(prio)
    observed = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    return (
        grid.join(observed, ["r_name", "o_orderpriority"], "left")
        .select(
            "r_name",
            "o_orderpriority",
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_orders"),
            (F.coalesce("n_obs", F.lit(0)) == 0).alias("is_empty_cell"),
        )
    )


JOIN_DIM_GRID_FILL_SQL = """
WITH grid AS (
  SELECT r.r_name, p.o_orderpriority
  FROM region r CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
), observed AS (
  SELECT rg.r_name, o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_obs
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region rg ON n.n_regionkey = rg.r_regionkey
  GROUP BY rg.r_name, o.o_orderpriority
)
SELECT g.r_name, g.o_orderpriority,
       CAST(coalesce(ob.n_obs, 0) AS BIGINT) AS n_orders,
       coalesce(ob.n_obs, 0) = 0 AS is_empty_cell
FROM grid g LEFT JOIN observed ob
  ON g.r_name = ob.r_name AND g.o_orderpriority = ob.o_orderpriority
"""


# --- INTERSECT ALL ------------------------------------------------------------------


def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics intersection: (custkey, priority) pairs of
    'F'-status orders ∩ALL 'O'-status orders — multiplicity is the min
    of the two sides."""
    orders = load_table(spark, sf_dir, "orders")
    f_side = orders.where(F.col("o_orderstatus") == "F").select(
        "o_custkey", "o_orderpriority"
    )
    o_side = orders.where(F.col("o_orderstatus") == "O").select(
        "o_custkey", "o_orderpriority"
    )
    return (
        f_side.intersectAll(o_side)
        .groupBy("o_custkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("multiplicity"))
        .select(
            F.col("o_custkey").cast("long").alias("o_custkey"),
            "o_orderpriority",
            "multiplicity",
        )
    )


SETOP_INTERSECT_ALL_SQL = """
WITH ia AS (
  SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F'
  INTERSECT ALL
  SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'O'
)
SELECT CAST(o_custkey AS BIGINT) AS o_custkey, o_orderpriority,
       CAST(count(*) AS BIGINT) AS multiplicity
FROM ia GROUP BY o_custkey, o_orderpriority
"""


QUERIES: dict[str, QuerySpec] = {
    "window_range_value_frame": QuerySpec(
        window_range_value_frame, WINDOW_RANGE_VALUE_FRAME_SQL
    ),
    "agg_bitwise_ops": QuerySpec(agg_bitwise_ops, AGG_BITWISE_OPS_SQL),
    "text_affix_freq": QuerySpec(text_affix_freq, TEXT_AFFIX_FREQ_SQL),
    "join_dim_grid_fill": QuerySpec(join_dim_grid_fill, JOIN_DIM_GRID_FILL_SQL),
    "setop_intersect_all": QuerySpec(
        setop_intersect_all, SETOP_INTERSECT_ALL_SQL
    ),
}
