"""Round-6 batch 62 — fixed-width ingest, calendar rules, phonetic
blocking, multi-measure unpivot, weighted means:

* ``scan_fixed_width_file`` — the mainframe-style connector: records
  staged as FIXED-WIDTH text lines (zero-padded/space-padded columns
  at pinned offsets), read back via spark.read.text + substring
  slicing, types restored, aggregated.  Column boundaries are the
  schema — no delimiter exists to quote or escape.
* ``date_nth_weekday_of_month`` — the recurrence rule "3rd Friday of
  each month" in closed form (first-of-month + modular dow offset +
  14), joined to the orders placed that day — options-expiry-style
  calendar logic.
* ``str_phonetic_key`` — fuzzy-match blocking: a phonetic skeleton
  (first letter + squeezed consonant tail) per part name, with
  collision groups counted — the blocking key for approximate joins.
* ``unpivot_multi_measure`` — wide→long with TWO value columns per
  metric row (Spark ``unpivot`` on struct pairs / melt), the
  multi-measure inverse of the pivot family.
* ``agg_weighted_mean`` — revenue-weighted mean discount per return
  flag in exact integer arithmetic: Σ(wᵢ·xᵢ) div Σwᵢ.

Scale notes: fixed-width parse is scan-side substring slicing (one
pass, splittable lines unlike multiLine CSV); the recurrence rule is
a |months|-row dim broadcast onto a date-equality join; phonetic
keys/weighted means are scan-side groupBys; the multi-measure
unpivot is one zero-shuffle Expand.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- fixed-width file ingest -------------------------------------------------------

# layout: orderkey[10] custkey[10] status[1] cents[15] priority[15]
_FW_SPEC = (
    ("o_orderkey", 1, 10, "long"),
    ("o_custkey", 11, 10, "long"),
    ("status", 21, 1, "string"),
    ("cents", 22, 15, "long"),
    ("priority", 37, 15, "string"),
)


def scan_fixed_width_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage orders as fixed-width lines, read back by offset."""
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "fixedwidth", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    line = F.concat(
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0"),
        F.lpad(F.col("o_custkey").cast("string"), 10, "0"),
        F.col("o_orderstatus"),
        F.lpad(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .cast("string"),
            15,
            "0",
        ),
        F.rpad(F.col("o_orderpriority"), 15, " "),
    )
    o.select(line.alias("value")).write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    cols = []
    for name, start, width, typ in _FW_SPEC:
        c = F.substring("value", start, width)
        if typ == "long":
            c = c.cast("long")
        else:
            c = F.rtrim(c)
        cols.append(c.alias(name))
    back = raw.select(*cols)
    return back.groupBy("status", "priority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.max("o_custkey").cast("long").alias("max_cust"),
    )


SCAN_FIXED_WIDTH_FILE_SQL = """
SELECT o_orderstatus AS status, o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(max(o_custkey) AS BIGINT) AS max_cust
FROM orders GROUP BY 1, 2
"""


# --- nth-weekday-of-month recurrence -----------------------------------------------

_NTH = 3          # 3rd ...
_TARGET_DOW = 4   # ... Friday (Monday = 0)


def date_nth_weekday_of_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3rd Friday per observed order month (closed form), with the
    orders placed exactly that day."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.col("o_orderkey").cast("long").alias("okey"),
    )
    months = o.select(F.trunc("d", "month").alias("m1")).distinct()
    dow_m1 = (F.unix_date(F.col("m1")) + 3) % 7  # Monday = 0
    nth = F.date_add(
        F.col("m1"),
        ((F.lit(_TARGET_DOW) - dow_m1 + 7) % 7) + 7 * (_NTH - 1),
    )
    rule = months.select("m1", nth.alias("expiry"))
    joined = o.join(
        F.broadcast(rule), F.col("d") == F.col("expiry"), "right"
    )
    return joined.groupBy(
        F.date_format("m1", "yyyy-MM").alias("month"),
        F.date_format("expiry", "yyyy-MM-dd").alias("third_friday"),
    ).agg(F.count("okey").cast("long").alias("n_orders_that_day"))


DATE_NTH_WEEKDAY_OF_MONTH_SQL = f"""
WITH o AS (
  SELECT CAST(o_orderdate AS DATE) AS d, o_orderkey FROM orders
), months AS (
  SELECT DISTINCT date_trunc('month', d) AS m1 FROM o
), rule AS (
  SELECT m1,
         m1 + INTERVAL (
           (({_TARGET_DOW} - (CAST(m1 - DATE '1970-01-01' AS BIGINT) + 3) % 7
             + 7) % 7) + {7 * (_NTH - 1)}
         ) DAY AS expiry
  FROM months
)
SELECT strftime(r.m1, '%Y-%m') AS month,
       strftime(r.expiry, '%Y-%m-%d') AS third_friday,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders_that_day
FROM rule r LEFT JOIN o ON o.d = r.expiry
GROUP BY 1, 2
"""


# --- phonetic blocking key ---------------------------------------------------------


def str_phonetic_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first letter + squeezed consonant skeleton per part name word;
    collision-group sizes are the blocking-quality readout."""
    p = load_table(spark, sf_dir, "part")
    # F.get, not [1]: a one-word/empty p_name has no second token — get()
    # yields NULL like DuckDB's lenient list[2], where [1] under ANSI
    # raises INVALID_ARRAY_INDEX
    word = F.lower(F.get(F.split(F.col("p_name"), r"\s+"), 1))  # the noun
    # adjacent-duplicate squeeze as an index lambda, NOT a regex
    # backreference — RE2 (the oracle's engine) has no backrefs
    staged = p.select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        word.alias("word"),
        F.regexp_extract_all(
            F.regexp_replace(F.substring(word, 2, 100), "[aeiouy]", ""),
            F.lit("."),
            0,
        ).alias("chars"),
    )
    squeezed = F.filter(
        F.col("chars"),
        lambda x, i: (i == 0) | (x != F.element_at(F.col("chars"), i)),
    )
    per_part = staged.select(
        "p_partkey",
        "word",
        F.concat(
            F.substring("word", 1, 1), F.concat_ws("", squeezed)
        ).alias("pkey"),
    )
    return per_part.groupBy("pkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.countDistinct("word").cast("long").alias("n_words"),
        F.concat_ws(
            ",", F.array_sort(F.collect_set("word"))
        ).alias("words"),
    )


STR_PHONETIC_KEY_SQL = r"""
WITH w AS (
  SELECT p_partkey,
         lower(string_split_regex(p_name, '\s+')[2]) AS word
  FROM part
), ch AS (
  SELECT p_partkey, word,
         regexp_extract_all(
           regexp_replace(substr(word, 2), '[aeiouy]', '', 'g'), '.') AS chars
  FROM w
), keyed AS (
  SELECT p_partkey, word,
         substr(word, 1, 1)
         || array_to_string(
              list_filter(chars, (x, i) -> i = 1 OR x <> chars[i - 1]), '')
           AS pkey
  FROM ch
)
SELECT pkey,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT word) AS BIGINT) AS n_words,
       -- coalesce: an all-NULL word group aggregates to a NULL list in
       -- DuckDB, where Spark's collect_set gives [] and concat_ws ''
       coalesce(array_to_string(list_sort(list(DISTINCT word)), ','), '')
         AS words
FROM keyed GROUP BY pkey
"""


# --- multi-measure unpivot ---------------------------------------------------------


def unpivot_multi_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long with TWO value columns per metric: (sum, max) of
    quantity and price cents per flag/status, melted to metric rows."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty_sum"),
        F.max(F.col("l_quantity").cast("long")).alias("qty_max"),
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("price_sum"),
        F.max(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("price_max"),
    )
    # one Expand: each group row emits (metric, sum, max) pairs
    melted = wide.select(
        "l_returnflag",
        "l_linestatus",
        F.explode(
            F.array(
                F.struct(
                    F.lit("qty").alias("metric"),
                    F.col("qty_sum").alias("m_sum"),
                    F.col("qty_max").alias("m_max"),
                ),
                F.struct(
                    F.lit("price_cents").alias("metric"),
                    F.col("price_sum").alias("m_sum"),
                    F.col("price_max").alias("m_max"),
                ),
            )
        ).alias("e"),
    )
    return melted.select(
        "l_returnflag",
        "l_linestatus",
        F.col("e.metric").alias("metric"),
        F.col("e.m_sum").cast("long").alias("m_sum"),
        F.col("e.m_max").cast("long").alias("m_max"),
    )


UNPIVOT_MULTI_MEASURE_SQL = """
WITH wide AS (
  SELECT l_returnflag, l_linestatus,
         sum(CAST(l_quantity AS BIGINT)) AS qty_sum,
         max(CAST(l_quantity AS BIGINT)) AS qty_max,
         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS price_sum,
         max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS price_max
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus, 'qty' AS metric,
       CAST(qty_sum AS BIGINT) AS m_sum, CAST(qty_max AS BIGINT) AS m_max
FROM wide
UNION ALL
SELECT l_returnflag, l_linestatus, 'price_cents' AS metric,
       CAST(price_sum AS BIGINT), CAST(price_max AS BIGINT)
FROM wide
"""


# --- exact weighted mean -----------------------------------------------------------


def agg_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted mean discount per return flag: Σ(w·x) div Σw,
    w = extendedprice cents, x = discount micros — exact integers.
    The accumulation runs in DECIMAL(38,0) (HUGEINT in the oracle):
    per-row w·x is ~1e12, so an int64 Σ saturates near sf5 — the MEAN
    is therefore overflow-free at any scale.  The reported raw ``sum_wx``
    column is still emitted as BIGINT for the stable contract schema via
    try_cast on BOTH engines (ADVICE r7), so past ~sf4 it degrades to
    NULL identically instead of Spark-NULL-vs-DuckDB-error divergence."""
    li = load_table(spark, sf_dir, "lineitem")
    w = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    x = F.floor(F.col("l_discount") * 1e6 + F.lit(0.5)).cast("long")
    base = li.select("l_returnflag", w.alias("w"), x.alias("x"))
    wx_dec = F.col("w").cast("decimal(38,0)") * F.col("x")
    return base.groupBy("l_returnflag").agg(
        F.sum("w").cast("long").alias("sum_w"),
        F.sum(wx_dec).try_cast("long").alias("sum_wx"),
        F.expr(
            "CAST(sum(CAST(w AS DECIMAL(38,0)) * x) div sum(w) AS BIGINT)"
        ).alias("wmean_disc_micros"),
    )


AGG_WEIGHTED_MEAN_SQL = """
WITH base AS (
  SELECT l_returnflag,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS w,
         CAST(floor(l_discount * 1e6 + 0.5) AS BIGINT) AS x
  FROM lineitem
)
SELECT l_returnflag,
       CAST(sum(w) AS BIGINT) AS sum_w,
       TRY_CAST(sum(CAST(w AS HUGEINT) * x) AS BIGINT) AS sum_wx,
       CAST(sum(CAST(w AS HUGEINT) * x) // sum(w) AS BIGINT)
         AS wmean_disc_micros
FROM base GROUP BY l_returnflag
"""


QUERIES: dict[str, QuerySpec] = {
    "scan_fixed_width_file": QuerySpec(
        scan_fixed_width_file, SCAN_FIXED_WIDTH_FILE_SQL
    ),
    "date_nth_weekday_of_month": QuerySpec(
        date_nth_weekday_of_month, DATE_NTH_WEEKDAY_OF_MONTH_SQL
    ),
    "str_phonetic_key": QuerySpec(str_phonetic_key, STR_PHONETIC_KEY_SQL),
    "unpivot_multi_measure": QuerySpec(
        unpivot_multi_measure, UNPIVOT_MULTI_MEASURE_SQL
    ),
    "agg_weighted_mean": QuerySpec(agg_weighted_mean, AGG_WEIGHTED_MEAN_SQL),
}
