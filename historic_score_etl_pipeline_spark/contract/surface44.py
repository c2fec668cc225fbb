"""Round-6 batch 51 — cohort economics, feature assembly, mergeable
state, embedded-CSV parsing, and referential audits:

* ``event_cohort_ltv`` — the revenue companion to retention cohorts:
  per (signup-week cohort, week offset) exact cent revenue plus the
  RUNNING lifetime value per cohort — cumulative window over the
  |cohorts|×|offsets| aggregate, never events.
* ``event_feature_assembly`` — the feature-store assembly step: one
  row per user with per-type counts, recency days, and cent totals
  pivoted into columns, plus the md5 feature fingerprint of the
  canonical CSV encoding (training/serving skew detection).
* ``agg_variance_merge_proof`` — Chan's parallel-variance merge
  PROVEN exact in-engine: per-type (n, Σ, Σ²) computed directly and
  as a merge of two disjoint halves; the query emits both variance
  numerators and the equality flag — the algebraic core of map-side
  combine, oracle-checked.
* ``str_from_csv_parse`` — ``from_csv`` over an embedded quoted CSV
  line column (quotes, embedded commas) — the string→struct parse
  surface; the oracle rebuilds the expected fields from the source
  table, so the hash match proves the quote/escape round-trip.
* ``audit_fk_orphans`` — referential-integrity audit across the
  schema's FK chain (lineitem→orders, orders→customer,
  customer→nation) as one unioned anti-join count table — the
  data-quality gate every warehouse load runs.

Scale notes: cohort LTV and the variance proof are combinable
aggregates (windows over cohort-grid rows); feature assembly is one
shuffle on user_id; from_csv is scan-side; each orphan audit is an
anti join whose build side is the parent KEY set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- cohort lifetime value --------------------------------------------------------


def event_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue cents per (signup-week cohort, week offset) with the
    running LTV per cohort."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    base = ev.select(
        "user_id", F.to_date("ts").alias("day"), cents.alias("cents")
    )
    first = base.groupBy("user_id").agg(F.min("day").alias("d0"))
    j = base.join(first, "user_id")
    cohort = F.date_format(
        F.date_trunc("week", F.col("d0")).cast("date"), "yyyy-MM-dd"
    )
    offset = F.expr("datediff(day, d0) div 7")
    agg = j.groupBy(
        cohort.alias("cohort_week"), offset.cast("long").alias("week_offset")
    ).agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("rev_cents"),
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return agg.select(
        "cohort_week",
        "week_offset",
        "n_users",
        "rev_cents",
        F.sum("rev_cents").over(w).cast("long").alias("ltv_cents"),
    )


EVENT_COHORT_LTV_SQL = """
WITH base AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
), first AS (
  SELECT user_id, min(day) AS d0 FROM base GROUP BY user_id
), agg AS (
  SELECT strftime(CAST(date_trunc('week', f.d0) AS DATE), '%Y-%m-%d')
           AS cohort_week,
         CAST((b.day - f.d0) // 7 AS BIGINT) AS week_offset,
         CAST(count(DISTINCT b.user_id) AS BIGINT) AS n_users,
         CAST(sum(b.cents) AS BIGINT) AS rev_cents
  FROM base b JOIN first f ON b.user_id = f.user_id
  GROUP BY 1, 2
)
SELECT cohort_week, week_offset, n_users, rev_cents,
       CAST(sum(rev_cents) OVER (PARTITION BY cohort_week
                                 ORDER BY week_offset
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS ltv_cents
FROM agg
"""


# --- feature assembly --------------------------------------------------------------

_FEAT_TYPES = ("click", "error", "purchase", "signup", "view")


def event_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ML feature row per user: per-type counts, recency vs the
    corpus max day (broadcast scalar), cent total, and the md5
    fingerprint of the canonical CSV encoding."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    base = ev.select(
        "user_id", "event_type", F.to_date("ts").alias("day"), cents.alias("cents")
    )
    per = base.groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{t}")
            for t in _FEAT_TYPES
        ],
        F.max("day").alias("last_day"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    horizon = base.agg(F.max("day").alias("h"))
    j = per.crossJoin(F.broadcast(horizon))
    rec = F.datediff("h", "last_day").cast("long")
    feat_csv = F.concat_ws(
        ",",
        F.col("user_id"),
        *[F.col(f"n_{t}") for t in _FEAT_TYPES],
        rec,
        F.col("total_cents"),
    )
    return j.select(
        F.col("user_id").cast("long").alias("user_id"),
        *[F.col(f"n_{t}") for t in _FEAT_TYPES],
        rec.alias("recency_days"),
        "total_cents",
        F.md5(feat_csv).alias("feat_hash"),
    )


EVENT_FEATURE_ASSEMBLY_SQL = f"""
WITH base AS (
  SELECT user_id, event_type, CAST(ts AS DATE) AS day,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND event_type IS NOT NULL AND value IS NOT NULL
), per AS (
  SELECT user_id,
         {", ".join(
             f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) "
             f"AS BIGINT) AS n_{t}" for t in _FEAT_TYPES)},
         max(day) AS last_day,
         CAST(sum(cents) AS BIGINT) AS total_cents
  FROM base GROUP BY user_id
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       {", ".join(f"n_{t}" for t in _FEAT_TYPES)},
       CAST((SELECT max(day) FROM base) - last_day AS BIGINT)
         AS recency_days,
       total_cents,
       md5(CAST(user_id AS VARCHAR) || ',' ||
           {" || ',' || ".join(f"CAST(n_{t} AS VARCHAR)" for t in _FEAT_TYPES)}
           || ',' ||
           CAST(CAST((SELECT max(day) FROM base) - last_day AS BIGINT)
                AS VARCHAR)
           || ',' || CAST(total_cents AS VARCHAR)) AS feat_hash
FROM per
"""


# --- parallel-variance merge proof --------------------------------------------------


def agg_variance_merge_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chan's merge of per-half (n, Σ, Σ²) equals the direct pass:
    var_num = n·Σx² − (Σx)² is additive-mergeable because (n, Σ, Σ²)
    are; the query computes both and emits the equality — the map-side
    combine algebra, checked in-engine."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    base = ev.select(
        "event_type",
        cents.alias("x"),
        (F.col("event_id") % 2).alias("half"),
    )
    # Σx² is ~1e10-1e14 per row squared-cents and n·q − s² is QUADRATIC
    # in the group's totals, so the whole identity runs in
    # DECIMAL(38,0)/HUGEINT; the raw var_num columns stay BIGINT in the
    # contract schema via try_cast on BOTH engines (r8 audit class)
    x2 = F.col("x").cast("decimal(38,0)") * F.col("x")
    halves = base.groupBy("event_type", "half").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(x2).alias("q"),
    )
    merged = halves.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("long").alias("s"),
        F.sum("q").alias("q"),
    )
    direct = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("dn"),
        F.sum("x").cast("long").alias("ds"),
        F.sum(x2).alias("dq"),
    )
    j = merged.join(direct, "event_type")
    var_m = (
        F.col("n").cast("decimal(38,0)") * F.col("q")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    )
    var_d = (
        F.col("dn").cast("decimal(38,0)") * F.col("dq")
        - F.col("ds").cast("decimal(38,0)") * F.col("ds")
    )
    return j.select(
        "event_type",
        F.col("n"),
        var_m.try_cast("long").alias("var_num_merged"),
        var_d.try_cast("long").alias("var_num_direct"),
        (var_m == var_d).alias("merge_exact"),
    )


AGG_VARIANCE_MERGE_PROOF_SQL = """
WITH base AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
         event_id % 2 AS half
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), halves AS (
  SELECT event_type, half, count(*) AS n, sum(x) AS s,
         sum(CAST(x AS HUGEINT) * x) AS q
  FROM base GROUP BY event_type, half
), merged AS (
  SELECT event_type,
         CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(s) AS BIGINT) AS s,
         sum(q) AS q
  FROM halves GROUP BY event_type
), direct AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS dn,
         CAST(sum(x) AS BIGINT) AS ds,
         sum(CAST(x AS HUGEINT) * x) AS dq
  FROM base GROUP BY event_type
)
SELECT m.event_type, m.n,
       TRY_CAST(CAST(m.n AS HUGEINT) * m.q
                - CAST(m.s AS HUGEINT) * m.s AS BIGINT)
         AS var_num_merged,
       TRY_CAST(CAST(d.dn AS HUGEINT) * d.dq
                - CAST(d.ds AS HUGEINT) * d.ds AS BIGINT)
         AS var_num_direct,
       CAST(m.n AS HUGEINT) * m.q - CAST(m.s AS HUGEINT) * m.s
         = CAST(d.dn AS HUGEINT) * d.dq - CAST(d.ds AS HUGEINT) * d.ds
         AS merge_exact
FROM merged m JOIN direct d ON m.event_type = d.event_type
"""


# --- from_csv embedded-line parse ----------------------------------------------------


def str_from_csv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compose a quoted CSV line per order (priority contains a
    hazard comma via a synthesized note), parse it back with
    ``from_csv``, and surface the recovered fields."""
    orders = load_table(spark, sf_dir, "orders")
    note = F.concat(F.lit("prio is, "), F.col("o_orderpriority"))
    line = F.concat(
        F.col("o_orderkey").cast("string"),
        F.lit(',"'),
        note,
        F.lit('",'),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"),
    )
    parsed = F.from_csv(
        line, "k LONG, note STRING, cents LONG"
    )
    base = orders.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        parsed.alias("p"),
    )
    return base.select(
        "o_orderkey",
        F.col("p.k").alias("parsed_key"),
        F.col("p.note").alias("parsed_note"),
        F.col("p.cents").alias("parsed_cents"),
        (F.col("p.k") == F.col("o_orderkey")).alias("key_ok"),
    )


STR_FROM_CSV_PARSE_SQL = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(o_orderkey AS BIGINT) AS parsed_key,
       'prio is, ' || o_orderpriority AS parsed_note,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS parsed_cents,
       TRUE AS key_ok
FROM orders
"""


# --- FK orphan audit ----------------------------------------------------------------


def audit_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: child counts + orphan counts for
    every FK edge, one unioned table."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")

    def edge(name: str, child: DataFrame, ck: str, parent: DataFrame, pk: str):
        orphans = child.join(
            parent.select(F.col(pk).alias(ck)).distinct(), ck, "left_anti"
        )
        return child.agg(
            F.lit(name).alias("relationship"),
            F.count(F.lit(1)).cast("long").alias("n_child"),
        ).crossJoin(
            orphans.agg(F.count(F.lit(1)).cast("long").alias("n_orphan"))
        )

    return (
        edge("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(
            edge("orders->customer", orders, "o_custkey", cust, "c_custkey")
        )
        .unionByName(
            edge("customer->nation", cust, "c_nationkey", nat, "n_nationkey")
        )
    )


AUDIT_FK_ORPHANS_SQL = """
SELECT 'lineitem->orders' AS relationship,
       CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
            AS BIGINT) AS n_orphan
UNION ALL
SELECT 'orders->customer',
       CAST((SELECT count(*) FROM orders) AS BIGINT),
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
            AS BIGINT)
UNION ALL
SELECT 'customer->nation',
       CAST((SELECT count(*) FROM customer) AS BIGINT),
       CAST((SELECT count(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey))
            AS BIGINT)
"""


QUERIES: dict[str, QuerySpec] = {
    "event_cohort_ltv": QuerySpec(event_cohort_ltv, EVENT_COHORT_LTV_SQL),
    "event_feature_assembly": QuerySpec(
        event_feature_assembly, EVENT_FEATURE_ASSEMBLY_SQL
    ),
    "agg_variance_merge_proof": QuerySpec(
        agg_variance_merge_proof, AGG_VARIANCE_MERGE_PROOF_SQL
    ),
    "str_from_csv_parse": QuerySpec(str_from_csv_parse, STR_FROM_CSV_PARSE_SQL),
    "audit_fk_orphans": QuerySpec(audit_fk_orphans, AUDIT_FK_ORPHANS_SQL),
}
