"""Referee pipeline — the reference's second end-to-end entry point
(SURVEY.md §3.2) re-expressed as one declarative plan.

The reference builds ``ref_historic_match`` (``app/ref_utilities.py:26-37``)
through three *sequential per-row HTTP loops* (hop 1: match → referee
profile ``:113-131``; hop 2: profile → history links ``:134-166``; hop 3:
links → history details ``:169-199``), attaching each hop's result as a
column.  Here each hop is a broadcast left join and the per-match detail
tables are sorted collect_lists.  Like the reference, only the rows the
output emits are looked up: the history links are restricted to the
fixtures' referees, and lineitem is cut to those referees' history orders
by a broadcast semi-join before the detail aggregate.  The plan shuffles
twice — for the history-link min over the referees' orders (planned for
hop 2 and for the key set, one exchange reused at run time) and for the
detail aggregate over the cut lineitem — and the fixture side stays on its
original partitioning.

Output shape parity (§1.4), over the synthetic star schema:

* scalar columns ``date, time, hometeam, awayteam, result, matchlink,
  league, refereelink`` — all strings, like the reference's VARCHAR DDL;
* ``referee_matchistlink`` — JSON ``{"1": [url]}`` with only the FIRST
  history link, reproducing the reference's limit-1 (``ref_utilities.py:125``);
* ``referee_matchhistdetails`` — JSON dict-of-7-parallel-arrays with the
  reference's exact keys *including its "Unkown Card" misspelling*
  (``ref_utilities.py:173``).  Internally this is one array-of-structs;
  the parallel-array dict exists only in the final to_json projection.

Null-hop sentinels: matches whose referee has no history get ``{}`` —
the reference's anti-join-as-sentinel behavior (``ref_utilities.py:162-163``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.sources.catalog import load_table

DETAIL_KEYS = [
    "Date",
    "Home Team",
    "Away Team",
    "Score",
    "Yellow Cards",
    "Unkown Card",  # sic — the reference's own key, ref_utilities.py:173
    "Red Cards",
]


def referee_pipeline(
    spark: SparkSession,
    sf_dir: str,
    horizon_start: str = "1997-01-01",
    horizon_days: int = 60,
) -> DataFrame:
    """Fixtures (orders) in a horizon → referee profile (customer) →
    first history link (the referee's lowest order key, fixture included) → history
    detail table (that order's line items), emitted in the reference's
    ref_historic_match shape."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    fixtures = orders.where(
        (F.col("o_orderdate") >= F.lit(horizon_start).cast("date"))
        & (
            F.col("o_orderdate")
            < F.date_add(F.lit(horizon_start).cast("date"), horizon_days)
        )
    ).select(
        F.col("o_orderkey").alias("fixture_key"),
        F.col("o_custkey").alias("ref_key"),
        F.col("o_orderdate").cast("string").alias("date"),
        F.date_format("o_orderdate", "HH:mm").alias("time"),
        F.concat(F.lit("team_"), (F.col("o_orderkey") % 100).cast("string")).alias(
            "hometeam"
        ),
        F.concat(
            F.lit("team_"), ((F.col("o_orderkey") + 1) % 100).cast("string")
        ).alias("awayteam"),
        F.col("o_orderstatus").alias("result"),
        F.concat(F.lit("match/"), F.col("o_orderkey").cast("string")).alias(
            "matchlink"
        ),
        F.col("o_orderpriority").alias("league"),
    )

    # Hop 1 — referee profile link (broadcast dim join, left: fixtures
    # with an unknown referee keep the '' sentinel).
    profiles = customer.select(
        F.col("c_custkey").alias("ref_key"),
        F.concat(F.lit("ref/"), F.col("c_custkey").cast("string")).alias(
            "refereelink"
        ),
    )
    hop1 = fixtures.join(F.broadcast(profiles), "ref_key", "left")

    # Hop 2 — the referee's FIRST history link (limit-1 per key, G1): min
    # over ALL the referee's orders, the fixture included; {"1": [link]}
    # JSON.  Only the fixtures' referees are looked up, so the links are
    # restricted to them (a semi-join Spark pushes below the min) — the
    # same left-join result, and the key set hop 3 cuts lineitem down to.
    hist_links = (
        orders.groupBy(F.col("o_custkey").alias("ref_key"))
        .agg(F.min("o_orderkey").alias("hist_okey"))
        .join(F.broadcast(fixtures.select("ref_key")), "ref_key", "left_semi")
        .select(
            "ref_key",
            "hist_okey",
            F.concat(F.lit("hist/"), F.col("hist_okey").cast("string")).alias(
                "hist_link"
            ),
        )
    )
    hop2 = hop1.join(F.broadcast(hist_links), "ref_key", "left")

    # Hop 3 — history detail table per history order: the line items as
    # one sorted array-of-structs (deterministic: sorted by line number).
    detail_struct = F.struct(
        F.col("l_linenumber").alias("line"),
        F.col("l_shipdate").cast("string").alias("d"),
        F.concat(F.lit("T"), F.col("l_partkey").cast("string")).alias("home"),
        F.concat(F.lit("T"), F.col("l_suppkey").cast("string")).alias("away"),
        F.concat_ws(
            ":",
            F.col("l_quantity").cast("int").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("score"),
        F.col("l_returnflag").alias("yellow"),
        F.col("l_linestatus").alias("unkown"),
        F.when(F.col("l_discount") > 0.05, F.lit("1")).otherwise(F.lit("0")).alias(
            "red"
        ),
    )
    # Only the referees' history orders are emitted (at most one per
    # referee): semi-join lineitem on their keys before it shuffles.
    # Broadcast like the hops — the key set is small whatever the size of
    # lineitem, but its static estimate is the whole orders aggregate, and
    # a sort-merge semi-join would shuffle every lineitem detail column.
    hist_keys = F.broadcast(hist_links.select(F.col("hist_okey").alias("l_orderkey")))
    details = (
        lineitem.join(hist_keys, "l_orderkey", "left_semi")
        .groupBy(F.col("l_orderkey").alias("hist_okey"))
        .agg(F.array_sort(F.collect_list(detail_struct)).alias("rows"))
    )
    hop3 = hop2.join(details, "hist_okey", "left")

    # Boundary projection: structs → the reference's JSON shapes.
    parallel = {
        "Date": lambda s: s["d"],
        "Home Team": lambda s: s["home"],
        "Away Team": lambda s: s["away"],
        "Score": lambda s: s["score"],
        "Yellow Cards": lambda s: s["yellow"],
        "Unkown Card": lambda s: s["unkown"],
        "Red Cards": lambda s: s["red"],
    }
    detail_json = F.to_json(
        F.struct(
            *[
                F.transform(F.col("rows"), fn).alias(key)
                for key, fn in parallel.items()
            ]
        )
    )
    return hop3.select(
        "date",
        "time",
        "hometeam",
        "awayteam",
        "result",
        "matchlink",
        "league",
        F.coalesce("refereelink", F.lit("")).alias("refereelink"),
        F.coalesce(
            F.to_json(F.create_map(F.lit("1"), F.array(F.col("hist_link")))),
            F.lit("{}"),
        ).alias("referee_matchistlink"),
        F.coalesce(
            F.when(F.col("rows").isNotNull(), detail_json), F.lit("{}")
        ).alias("referee_matchhistdetails"),
    )
