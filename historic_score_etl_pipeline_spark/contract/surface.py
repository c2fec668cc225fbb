"""Contract batch 6 — engine-surface widening beyond SURVEY.md §2L.

The reference never needs these (it has no bulk SQL surface at all), but a
user replacing it with this engine gets the full Spark lattice; each query
here proves one more physical path with a DuckDB oracle:

* ``agg_cube`` / ``agg_grouping_sets`` — multi-dimensional subtotal plans
  (``Expand`` operator; one shuffle, no N-pass union).
* ``agg_percentile_exact`` — exact interpolated percentiles per group.
* ``agg_approx_distinct`` — HyperLogLog++ cardinality (rows-only: sketch
  estimates are engine-specific by design).
* ``join_range_interval`` — non-equi banding join against a tiny interval
  dim (BroadcastNestedLoopJoin; the 100 TB plan keeps the dim broadcast so
  the fact side never shuffles).
* ``window_lag_lead`` — per-key neighbor access (lag/lead) with a total
  order, the base for sessionization and as-of logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.aggregates import decimal_sum_double
from historic_score_etl_pipeline_spark.sources.catalog import load_table


# --- cube: all 4 subtotal combinations in one Expand pass ------------------

def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(returnflag, linestatus): Catalyst plans one Expand (4 output
    rows per input) + one hash aggregate — a single shuffle regardless of
    how many grouping combinations, which is exactly what survives at
    100 TB vs unioning 4 separate groupBys."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            decimal_sum_double("l_quantity").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


AGG_CUBE_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# --- grouping sets: explicit subtotal shapes -------------------------------

def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((priority), (status), ()): only the requested
    combinations are expanded — cheaper than CUBE when the lattice is
    sparse."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderpriority"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count("*").alias("n"),
            decimal_sum_double("o_totalprice").alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n",
            "sum_price",
        )
    )


AGG_GROUPING_SETS_SQL = """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""


# --- exact percentiles per group -------------------------------------------

def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles of quantity per return flag.
    Exact percentile sorts within each group — fine per-group; at 100 TB
    with huge groups the library's approx_percentile (KLL-ish sketch,
    mergeable map-side) is the scale path, kept out of the oracle because
    sketches are engine-specific."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 6).alias("p75"),
    )


AGG_PERCENTILE_EXACT_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.25), 6) AS p25,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50,
       round(quantile_cont(l_quantity, 0.75), 6) AS p75
FROM lineitem GROUP BY l_returnflag
"""


# --- approx distinct (rows-only: HLL estimates differ per engine) ----------

def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct = HyperLogLog++: map-side-mergeable fixed-size
    sketch, the only sane distinct-count at 100 TB (exact countDistinct
    re-shuffles every distinct value).  Rows-only: DuckDB's HLL yields a
    different estimate for the same data, correctly so."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("n_part_approx"),
        F.count("*").alias("n_rows"),
    )


# --- range / interval banding join -----------------------------------------

_BANDS = [
    (1, "low", 0.0, 75000.0),
    (2, "mid", 75000.0, 150000.0),
    (3, "high", 150000.0, 1e12),
]

_BANDS_SCHEMA = T.StructType(
    [
        T.StructField("band_id", T.IntegerType(), False),
        T.StructField("band", T.StringType(), False),
        T.StructField("lo", T.DoubleType(), False),
        T.StructField("hi", T.DoubleType(), False),
    ]
)


def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment join (SURVEY.md §2E-E6 "range/interval →
    conditional join"): orders banded by total price against a literal
    interval dim.  The dim is broadcast → BroadcastNestedLoopJoin with the
    range predicate evaluated in codegen; the fact side streams through
    with zero shuffle before the final 3-group aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(_BANDS, _BANDS_SCHEMA)
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band_id", "band")
        .agg(
            F.count("*").alias("n_orders"),
            decimal_sum_double("o_totalprice").alias("revenue"),
        )
    )


JOIN_RANGE_INTERVAL_SQL = """
SELECT band_id, band, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
JOIN (VALUES (1, 'low', 0.0, 75000.0),
             (2, 'mid', 75000.0, 150000.0),
             (3, 'high', 150000.0, 1e12)) b(band_id, band, lo, hi)
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band_id, band
"""


# --- lag / lead neighbor access --------------------------------------------

def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Previous/next event per user (SURVEY.md §2H-H2 lag/lead): total
    order (ts, event_id) makes ties deterministic.  One shuffle on
    user_id serves both functions — Catalyst collapses same-window
    functions into a single Window exec."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


WINDOW_LAG_LEAD_SQL = """
SELECT event_id, user_id,
       lag(event_id) OVER w AS prev_event_id,
       lead(event_id) OVER w AS next_event_id
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# --- salted two-phase aggregation (skew-proof, exact) ----------------------

def agg_salted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salting rewrite (operators/scale.salted_agg) proven
    EXACT: phase 1 aggregates on (key, salt), phase 2 combines partials —
    the oracle is the plain one-phase GROUP BY.  Decimal accumulation
    makes the two-phase sum bit-identical regardless of how rows were
    salted.  At 100 TB this is the fix for a hot key that would pin one
    reducer (SURVEY.md §4.2)."""
    from historic_score_etl_pipeline_spark.operators.scale import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        ["l_returnflag"],
        {
            "qty_sum": F.sum(F.col("l_quantity").cast("decimal(18,2)")),
            "line_count": F.count("*"),
        },
    )
    return out.select(
        "l_returnflag",
        F.col("qty_sum").cast("double").alias("qty_sum"),
        "line_count",
    )


AGG_SALTED_SUM_SQL = """
SELECT l_returnflag,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum,
       count(*) AS line_count
FROM lineitem GROUP BY l_returnflag
"""


# --- positional round-robin record parser -----------------------------------

def parse_token_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's positional record assembler
    (app/team_utilities.py:76-88: k-th token → (k mod 6)-th column) as a
    declarative posexplode pivot — SURVEY.md §7 hard part (c): no stateful
    UDF, fully parallel.  First 12 tokens of each document = 2 six-field
    records; ``pos div 6`` numbers the record, ``pos mod 6`` the field."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 12)
    exploded = docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    ).select(
        "doc_id",
        F.floor(F.col("pos") / 6).cast("long").alias("rec"),
        F.pmod(F.col("pos"), F.lit(6)).alias("field"),
        "tok",
    )
    wide = (
        exploded.groupBy("doc_id", "rec")
        .pivot("field", list(range(6)))
        .agg(F.first("tok"))
    )
    return wide.select(
        "doc_id",
        "rec",
        *[F.col(str(i)).alias(f"c{i}") for i in range(6)],
    )


PARSE_TOKEN_RECORDS_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 12) AS arr
  FROM documents
), positioned AS (
  SELECT doc_id, g.i - 1 AS pos, arr[g.i] AS tok
  FROM toks, UNNEST(generate_series(1, len(arr))) AS g(i)
)
SELECT doc_id,
       CAST(pos // 6 AS BIGINT) AS rec,
       max(CASE WHEN pos % 6 = 0 THEN tok END) AS c0,
       max(CASE WHEN pos % 6 = 1 THEN tok END) AS c1,
       max(CASE WHEN pos % 6 = 2 THEN tok END) AS c2,
       max(CASE WHEN pos % 6 = 3 THEN tok END) AS c3,
       max(CASE WHEN pos % 6 = 4 THEN tok END) AS c4,
       max(CASE WHEN pos % 6 = 5 THEN tok END) AS c5
FROM positioned
GROUP BY doc_id, pos // 6
"""


# --- CSV / JSON source formats ---------------------------------------------

_FMT_COLS = ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"]


def _staged_format_dir(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """Stage orders into a CSV/JSON landing dir — the engine's
    non-parquet ingest path, exercised end-to-end.  App-scoped via
    _staging.py: a shared path with non-atomic mode('overwrite') would
    let a concurrent session read a partially committed landing dir
    (same race class as the ADVICE-r3 text-stage finding)."""
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, fmt, sf_dir)
    df = load_table(spark, sf_dir, "orders").select(*_FMT_COLS)
    writer = df.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", "true").csv(out)
    else:
        writer.json(out)
    return out


_FMT_SCHEMA = (
    "o_orderkey long, o_orderstatus string, o_orderpriority string, "
    "o_totalprice double"
)


def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest with an explicit schema (never inferSchema at scale —
    inference is a full extra pass over 100 TB), aggregated per status."""
    path = _staged_format_dir(spark, sf_dir, "csv")
    df = spark.read.schema(_FMT_SCHEMA).option("header", "true").csv(path)
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        decimal_sum_double("o_totalprice").alias("sum_price"),
    )


SCAN_CSV_SQL = """
SELECT o_orderstatus, count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders GROUP BY o_orderstatus
"""


def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingest with an explicit schema, aggregated per
    priority.  Same rule as CSV: schema is declared, not inferred."""
    path = _staged_format_dir(spark, sf_dir, "json")
    df = spark.read.schema(_FMT_SCHEMA).json(path)
    return df.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        decimal_sum_double("o_totalprice").alias("sum_price"),
    )


SCAN_JSON_SQL = """
SELECT o_orderpriority, count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders GROUP BY o_orderpriority
"""


# --- event-time range frame: trailing 7-day rolling sum --------------------

def window_range_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time (micros): per-user trailing-7-day spend.
    rangeBetween frames on the numeric epoch — identical tie semantics in
    any engine (all rows with equal order value share a frame).  One
    shuffle on user_id; the frame scan is a single sorted pass."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("roll_7d"),
    )


WINDOW_RANGE_7D_SQL = """
SELECT event_id, user_id,
       CAST(sum(CAST(value AS DECIMAL(18,6)))
              OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                    RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS roll_7d
FROM events
"""


# --- PERMISSIVE/corrupt-tolerant JSON parsing ------------------------------

def json_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference tolerates garbage mid-stream (try-int skip,
    app/team_utilities.py:82-88; failures → sentinel + error record,
    :458-465).  Declarative form: deterministically mangle ~1/7 of the
    JSON payloads, parse leniently (invalid → NULL, never a failed job),
    and report valid/corrupt counts per event type — the corrupt side is
    the dead-letter channel."""
    ev = load_table(spark, sf_dir, "events")
    mangled = F.when(
        F.col("event_id") % 7 == 0,
        F.expr("substring(props, 1, length(props)-1)"),
    ).otherwise(F.col("props"))
    parsed = F.get_json_object(mangled, "$")
    # try_cast: $.k can be a nested OBJECT (not a scalar) in dirty data —
    # an ANSI cast would fail the job, the opposite of "tolerant"
    k_val = F.get_json_object(mangled, "$.k").try_cast("int")
    return (
        ev.select(
            "event_type",
            parsed.isNotNull().alias("is_valid"),
            k_val.alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("is_valid"), 1)).alias("n_valid"),
            F.count(F.when(~F.col("is_valid"), 1)).alias("n_corrupt"),
            F.sum("k").alias("k_sum"),
        )
    )


JSON_CORRUPT_TOLERANT_SQL = """
WITH m AS (
  SELECT event_type,
         CASE WHEN event_id % 7 = 0
              THEN substring(props, 1, length(props)-1)
              ELSE props END AS props
  FROM events
), mk AS (
  -- ks: $.k extracted only under json_valid (DuckDB json_extract_string
  -- THROWS on invalid JSON), stripped of Spark's trimAll set [\\x00-\\x20]
  SELECT event_type, props,
         regexp_replace(json_extract_string(
           CASE WHEN json_valid(props) THEN props END, '$.k'),
           '^[\\x00-\\x20]+|[\\x00-\\x20]+$', '', 'g') AS ks
  FROM m
)
SELECT event_type,
       count(*) FILTER (json_valid(props)) AS n_valid,
       -- NULL props is corrupt (dead-letter), not uncounted: json_valid
       -- of NULL is NULL, which a bare FILTER would drop from BOTH sides
       count(*) FILTER (props IS NULL OR NOT json_valid(props))
         AS n_corrupt,
       -- integer-string guard matches Spark's try_cast: rejects '60.5',
       -- accepts '+5' / whitespace-padded (stripped above)
       CAST(sum(CASE WHEN regexp_matches(ks, '^[+-]?[0-9]+$')
                THEN TRY_CAST(ks AS INTEGER) END) AS BIGINT) AS k_sum
FROM mk GROUP BY event_type
"""


# --- time-granularity rollup (hypertable-style) ----------------------------

def agg_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity time rollup — daily and monthly aggregates of the
    event stream in ONE pass (grouping sets → single Expand + shuffle),
    the hypertable continuous-aggregate shape."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").cast("date").cast("string").alias("day"),
        F.date_trunc("month", "ts").cast("date").cast("string").alias("month"),
        "value",
    )
    return (
        ev.groupingSets([["day"], ["month"]], "day", "month")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.coalesce("day", F.lit("ALL")).alias("day"),
            F.coalesce("month", F.lit("ALL")).alias("month"),
            "n",
            "sum_value",
        )
    )


AGG_TIME_ROLLUP_SQL = """
SELECT coalesce(CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR), 'ALL') AS day,
       coalesce(CAST(CAST(date_trunc('month', ts) AS DATE) AS VARCHAR), 'ALL') AS month,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY GROUPING SETS ((CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR)),
                        (CAST(CAST(date_trunc('month', ts) AS DATE) AS VARCHAR)))
"""


# --- top-k n-grams per language --------------------------------------------

def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 word bigrams per language: explode bigrams (map-side, no
    data growth beyond token count), count per (lang, bigram) — one
    shuffle — then a top-k window over the (small) distinct-bigram
    aggregate with a total-order tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.get(toks, i), F.get(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counted = (
        docs.select("lang", F.explode(bigrams).alias("bg"))
        .groupBy("lang", "bg")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("bg"))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("lang", "bg", "cnt")
    )


TEXT_NGRAM_TOPK_SQL = """
SELECT lang, bg, cnt FROM (
  SELECT lang, bg, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bg) AS rn
  FROM (
    SELECT lang, bg, count(*) AS cnt
    FROM (
      SELECT lang, arr[g.i] || ' ' || arr[g.i + 1] AS bg
      FROM (SELECT lang,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
            FROM documents),
           UNNEST(generate_series(1, greatest(len(arr) - 1, 0))) AS g(i)
    ) GROUP BY lang, bg
  )
) WHERE rn <= 3
"""


# --- regression / correlation aggregates -----------------------------------

def agg_regr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in statistical aggregates (regr_slope/intercept, corr) of
    price vs quantity per return flag — single-pass, map-side-partial
    moments; rounded because moment-accumulation order differs between
    engines at double precision."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.corr(y, x), 6).alias("price_qty_corr"),
    )


AGG_REGR_STATS_SQL = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr
FROM lineitem GROUP BY l_returnflag
"""


# --- pure-SQL end-to-end (the spark.sql surface) ---------------------------

def sql_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same engine through ``spark.sql``: temp views + one SQL string
    — proves a SQL-first user needs no DataFrame code.  Catalyst compiles
    this to the identical plan as the DataFrame form (broadcast dims,
    one aggregate shuffle)."""
    from historic_score_etl_pipeline_spark.sources.catalog import (
        register_temp_views,
    )

    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderstatus = 'F'
        GROUP BY n_name
        """
    )


SQL_END_TO_END_SQL = """
SELECT n_name, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
GROUP BY n_name
"""


# --- grouped-map UDAF: per-customer EWMA (applyInPandas) -------------------

def udaf_grouped_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY.md §2J-J3: a grouped-map Pandas computation for semantics
    collect_list can't express — the exponentially weighted mean of each
    customer's order totals in (date, key) order.  Arrow-batched
    applyInPandas: one shuffle on the group key, vectorized pandas inside
    each group, never row-at-a-time Python.  Rows-only (recursive EWMA has
    no ANSI-SQL twin); exactness vs. pandas is pinned in
    tests/test_grouped_ewma.py."""
    from historic_score_etl_pipeline_spark.operators.aggregates import grouped_ewma

    orders = load_table(spark, sf_dir, "orders")
    return grouped_ewma(
        orders,
        key="o_custkey",
        value="o_totalprice",
        order=["o_orderdate", "o_orderkey"],
        alpha=0.5,
    )


# --- iterative k-means coarse quantizer ------------------------------------

def sim_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative algorithm surface (Lloyd's k-means over the embeddings
    table, 2 rounds): per round one map-only job whose numpy kernel takes
    the centroids as an argument and returns per-batch partial sums, which
    the driver re-averages; only k×d numbers visit the driver.  Rows-only
    (iterative, no ANSI-SQL twin); numpy step-parity is pinned in
    tests/test_kmeans.py."""
    from historic_score_etl_pipeline_spark.operators.similarity import kmeans_lite

    emb = load_table(spark, sf_dir, "embeddings")
    _, assigned = kmeans_lite(emb, "vec_id", "embedding", k=8, iters=2)
    return assigned


# --- multimodal frame sampling ---------------------------------------------

def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (every 2nd 32-byte chunk — the
    keyframe-extraction stand-in, decode stubbed): 1 payload → N frame
    rows inside mapInPandas, then per-media frame counts.  The count is
    arithmetically predictable from payload length, which the oracle
    checks: ceil(ceil(len/32)/2)."""
    from historic_score_etl_pipeline_spark.operators.multimodal import (
        documents_as_media,
        sample_frames,
    )

    from historic_score_etl_pipeline_spark.operators.multimodal import (
        single_byte_docs,
    )

    media = documents_as_media(
        single_byte_docs(load_table(spark, sf_dir, "documents"))
    )
    return (
        sample_frames(media, frame_bytes=32, every_n=2)
        .groupBy("media_id")
        .agg(F.count("*").alias("n_frames"))
    )


MULTIMODAL_FRAMES_SQL = """
SELECT doc_id AS media_id,
       ((strlen(text) + 31) // 32 + 1) // 2 AS n_frames
FROM documents
WHERE strlen(text) > 0 AND strlen(text) = length(text)
"""


# --- stateful streaming: applyInPandasWithState running totals -------------

def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs a REAL Structured Streaming job (not a batch twin): events as a
    file stream → per-user running totals held in the state store via
    ``applyInPandasWithState`` → AvailableNow trigger → idempotent
    PARQUET file sink (foreachBatch keyed by batch id), read back as the
    latest emission per user.  Rows-only by necessity: streaming state
    emission has no ANSI-SQL twin (SURVEY.md §2I-I3).

    The original memory sink collected every emitted row to the DRIVER —
    and this operator's output is per-user STATE, which grows with
    distinct-user cardinality: billions of rows at 100 TB (VERDICT r9;
    the same driver-sized-sink class the skew tile caught on
    ``stream_stream_join``, surface6.py).  The file sink keeps the
    emissions distributed; the latest-batch-wins read-back (window by
    user, desc batch_id) reproduces update-mode semantics exactly even
    when the source lands in multiple micro-batches
    (tests/test_streaming.py::test_stateful_totals_file_sink_multi_batch).
    """
    import os

    from pyspark.sql.types import LongType, StructField, StructType
    from pyspark.sql.window import Window

    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_stream_root,
    )
    from historic_score_etl_pipeline_spark.streaming import (
        read_events_stream,
        stateful_user_totals_stream,
    )
    from historic_score_etl_pipeline_spark.streaming.jobs import (
        STATEFUL_TOTALS_OUTPUT,
        run_foreach_batch_sink,
    )

    events = read_events_stream(spark, f"{sf_dir}/events.parquet")
    # app-scoped + wiped-on-entry: repeated invocations in one process
    # overwrite one tree instead of accumulating mkdtemp dirs + atexit
    # handlers (ADVICE r10); stale trees of dead apps are reaped inside.
    root = app_scoped_stream_root(spark, "sst", sf_dir)
    out = f"{root}/out"
    os.makedirs(out, exist_ok=True)  # zero-batch edge: read of empty dir
    run_foreach_batch_sink(
        stateful_user_totals_stream(events),
        out,
        f"{root}/ckpt",
        output_mode="update",
    )
    # explicit schema: batch_id is the partition dir the idempotent
    # writer keys on; an empty result leaves nothing to infer from.
    # (fresh StructType — .add would mutate the shared constant)
    schema = StructType(
        list(STATEFUL_TOTALS_OUTPUT.fields)
        + [StructField("batch_id", LongType())]
    )
    rows = spark.read.schema(schema).parquet(out)
    latest = Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
    return (
        rows.withColumn("_rn", F.row_number().over(latest))
        .where(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
    )


QUERIES: dict[str, QuerySpec] = {
    "stream_stateful_totals": QuerySpec(stream_stateful_totals, None),
    "agg_salted_sum": QuerySpec(agg_salted_sum, AGG_SALTED_SUM_SQL),
    "window_range_7d": QuerySpec(window_range_7d, WINDOW_RANGE_7D_SQL),
    "json_corrupt_tolerant": QuerySpec(
        json_corrupt_tolerant, JSON_CORRUPT_TOLERANT_SQL
    ),
    "agg_time_rollup": QuerySpec(agg_time_rollup, AGG_TIME_ROLLUP_SQL),
    "text_ngram_topk": QuerySpec(text_ngram_topk, TEXT_NGRAM_TOPK_SQL),
    "agg_regr_stats": QuerySpec(agg_regr_stats, AGG_REGR_STATS_SQL),
    "sql_end_to_end": QuerySpec(sql_end_to_end, SQL_END_TO_END_SQL),
    "udaf_grouped_ewma": QuerySpec(udaf_grouped_ewma, None),
    "sim_kmeans_assign": QuerySpec(sim_kmeans_assign, None),
    "multimodal_frames": QuerySpec(multimodal_frames, MULTIMODAL_FRAMES_SQL),
    "parse_token_records": QuerySpec(parse_token_records, PARSE_TOKEN_RECORDS_SQL),
    "scan_csv": QuerySpec(scan_csv, SCAN_CSV_SQL),
    "scan_json": QuerySpec(scan_json, SCAN_JSON_SQL),
    "agg_cube": QuerySpec(agg_cube, AGG_CUBE_SQL),
    "agg_grouping_sets": QuerySpec(agg_grouping_sets, AGG_GROUPING_SETS_SQL),
    "agg_percentile_exact": QuerySpec(agg_percentile_exact, AGG_PERCENTILE_EXACT_SQL),
    "agg_approx_distinct": QuerySpec(agg_approx_distinct, None),
    "join_range_interval": QuerySpec(join_range_interval, JOIN_RANGE_INTERVAL_SQL),
    "window_lag_lead": QuerySpec(window_lag_lead, WINDOW_LAG_LEAD_SQL),
}
