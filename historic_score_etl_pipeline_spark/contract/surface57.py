"""Round-6 batch 64 — manifest-driven scans, fiscal calendars,
Benford audits, A/B guardrails, and product quantization (overflow
slots):

* ``scan_manifest_subset`` — table-format-style manifest scan: four
  parquet shards staged, a manifest file names TWO; the read plans
  over exactly the manifest-listed files (the Delta/Iceberg data-
  skipping concept without the format dependency).
* ``date_fiscal_year_rollup`` — July-start fiscal year and quarter
  per order (closed-form month arithmetic), rolled up.
* ``audit_benford_first_digit`` — the fraud-audit classic: first
  significant digit distribution of order totals in ppm against the
  Benford expectation (supplied as integer ppm constants).
* ``event_ab_srm_check`` — sample-ratio-mismatch guardrail for a
  50/50 md5 bucket split: χ² for two equal cells collapses to
  (n₁−n₂)²/n, micro-fixpointed — the health check every experiment
  pipeline runs before reading lift.
* ``embed_pq_encode`` — product quantization (8 subspaces × 4
  md5-derived centroids, all integer micro-units): per-vector PQ
  code via argmin subspace distance (first-min tiebreak) plus exact
  integer reconstruction error — the ANN compression primitive.

Scale notes: the manifest read is metadata-driven file pruning; the
fiscal/Benford/SRM keys are scan-side groupBys; PQ encoding is one
projection against a 1-row broadcast codebook (scalar-folding rule) —
at 100 TB the codebook is trained offline and the encode stays a map.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table
from historic_score_etl_pipeline_spark.operators.similarity import (
    micro_units,
    valid_vectors,
)

# --- manifest-driven scan ----------------------------------------------------------


def scan_manifest_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 4 shards, read ONLY the 2 the manifest names."""
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "manifest", sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        (F.col("o_orderkey") % 4).cast("int").alias("shard"),
    )
    for s in range(4):
        o.where(F.col("shard") == s).drop("shard").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"shard={s}"))
    manifest = os.path.join(out, "_manifest.txt")
    with open(manifest, "w") as f:
        f.write("shard=1\nshard=3\n")
    with open(manifest) as f:
        listed = [
            os.path.join(out, line.strip()) for line in f if line.strip()
        ]
    back = spark.read.schema("o_orderkey long, status string, cents long").parquet(
        *listed
    )
    return back.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


SCAN_MANIFEST_SUBSET_SQL = """
SELECT o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders WHERE o_orderkey % 4 IN (1, 3)
GROUP BY 1
"""


# --- fiscal calendar ---------------------------------------------------------------


def date_fiscal_year_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """July-start fiscal year/quarter per order, rolled up: FY(d) =
    year + [month ≥ 7], FQ = ((month − 7) mod 12) div 3 + 1."""
    o = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    mon = F.month(d)
    fy = F.year(d) + F.when(mon >= 7, 1).otherwise(0)
    fq = ((mon - 7 + 12) % 12) / 3 + 1
    return (
        o.select(
            fy.cast("long").alias("fiscal_year"),
            F.floor(fq).cast("long").alias("fiscal_quarter"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("fiscal_year", "fiscal_quarter")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


DATE_FISCAL_YEAR_ROLLUP_SQL = """
WITH tagged AS (
  SELECT CAST(year(CAST(o_orderdate AS DATE))
              + CASE WHEN month(CAST(o_orderdate AS DATE)) >= 7
                     THEN 1 ELSE 0 END AS BIGINT) AS fiscal_year,
         CAST((month(CAST(o_orderdate AS DATE)) - 7 + 12) % 12 // 3 + 1
              AS BIGINT) AS fiscal_quarter,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT fiscal_year, fiscal_quarter,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM tagged GROUP BY 1, 2
"""


# --- Benford first-digit audit -----------------------------------------------------

# floor(log10(1 + 1/d) * 1e6 + 0.5) for d = 1..9 — precomputed so no
# engine evaluates log10 at query time
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def audit_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First significant digit of order-total cents vs Benford ppm."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("long")
    counts = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    expected = F.create_map(
        *[x for d, p in _BENFORD_PPM.items() for x in (F.lit(d), F.lit(p))]
    )
    return counts.select(
        "digit",
        "n",
        F.expr("n * 1000000 div (sum(n) OVER ())").cast("long").alias("share_ppm"),
        F.element_at(expected, F.col("digit").cast("int"))
        .cast("long")
        .alias("benford_ppm"),
    )


AUDIT_BENFORD_FIRST_DIGIT_SQL = f"""
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
)
SELECT digit, n,
       CAST(n * 1000000 // (sum(n) OVER ()) AS BIGINT) AS share_ppm,
       CAST(CASE digit
         {' '.join(f'WHEN {d} THEN {p}' for d, p in _BENFORD_PPM.items())}
       END AS BIGINT) AS benford_ppm
FROM counts
"""


# --- A/B sample-ratio-mismatch guardrail -------------------------------------------


def event_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """50/50 md5 bucket split per type; χ² for two equal cells =
    (n₁−n₂)²/n, in micro units — the SRM guardrail."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    # the randomization unit is the USER — counting events would break
    # the independence the chi-square assumes (per-user event counts
    # cluster) and fire false SRM alarms
    ut = ev.select("user_id", "event_type").distinct()
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 2
    )
    agg = ut.select("event_type", bucket.alias("b")).groupBy("event_type").agg(
        F.sum(F.when(F.col("b") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("b") == 1, 1).otherwise(0)).cast("long").alias("n1"),
    )
    return agg.select(
        "event_type",
        "n0",
        "n1",
        F.expr("(n0 - n1) * (n0 - n1) * 1000000 div (n0 + n1)")
        .cast("long")
        .alias("chi2_micro"),
    )


EVENT_AB_SRM_CHECK_SQL = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
), agg AS (
  SELECT event_type,
         CAST(sum(CASE WHEN CAST(('0x' || substr(
                md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
              THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN CAST(('0x' || substr(
                md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 1
              THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM ut
  GROUP BY event_type
)
SELECT event_type, n0, n1,
       CAST((n0 - n1) * (n0 - n1) * 1000000 // (n0 + n1) AS BIGINT)
         AS chi2_micro
FROM agg
"""


# --- product quantization encode ---------------------------------------------------

_PQ_SUB = 8     # subspaces
_PQ_SUBDIM = 8  # dims per subspace
_PQ_K = 4       # centroids per subspace


def _pq_cent(b, c, i):
    """Deterministic centroid component in micro-units [−1e6, 1e6):
    md5('pq_<b>_<c>_<i>') folded to an integer — same in SQL."""
    tag = F.concat_ws(
        "_", F.lit("pq"), b.cast("string"), c.cast("string"), i.cast("string")
    )
    h = F.conv(F.substring(F.md5(tag), 1, 15), 16, 10).cast("long")
    return h % 2000001 - 1000000


def embed_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ code (argmin centroid per subspace, first-min tiebreak) and
    exact integer reconstruction error per vector."""
    # Malformed (NULL / NULL-element) embeddings quarantined on BOTH
    # engines: a NULL vector has no PQ code, and a NULL ELEMENT diverges
    # outright (DuckDB list_sum skips it, F.aggregate propagates) —
    # similarity.py gate, adversarial-fixture sweep
    emb = valid_vectors(load_table(spark, sf_dir, "embeddings"))
    cb = spark.range(1).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(_PQ_SUB - 1)),
            lambda b: F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_K - 1)),
                lambda c: F.transform(
                    F.sequence(F.lit(0), F.lit(_PQ_SUBDIM - 1)),
                    lambda i: _pq_cent(b, c, i),
                ),
            ),
        ).alias("cb")
    )
    q = micro_units("embedding")
    base = emb.crossJoin(F.broadcast(cb)).select(
        F.col("vec_id").cast("long").alias("vec_id"), q.alias("q"), "cb"
    )
    # per subspace: distances to the 4 centroids, argmin, its error
    sub_dist = lambda b, c: F.aggregate(  # noqa: E731
        F.sequence(F.lit(0), F.lit(_PQ_SUBDIM - 1)),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + (
            F.element_at(F.col("q"), (b * _PQ_SUBDIM + i + 1).cast("int"))
            - F.element_at(
                F.element_at(F.element_at(F.col("cb"), (b + 1).cast("int")), (c + 1).cast("int")),
                (i + 1).cast("int"),
            )
        )
        * (
            F.element_at(F.col("q"), (b * _PQ_SUBDIM + i + 1).cast("int"))
            - F.element_at(
                F.element_at(F.element_at(F.col("cb"), (b + 1).cast("int")), (c + 1).cast("int")),
                (i + 1).cast("int"),
            )
        ),
    )
    # for each subspace, the 4 distances; code = first argmin
    dists_b = lambda b: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.lit(_PQ_K - 1)), lambda c: sub_dist(b, c)
    )
    sub_struct = F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_SUB - 1)),
        lambda b: F.struct(
            (
                F.array_position(dists_b(b), F.array_min(dists_b(b))) - 1
            ).alias("code"),
            F.array_min(dists_b(b)).alias("err"),
        ),
    )
    out = base.select(
        "vec_id",
        F.concat_ws(
            ",",
            F.transform(sub_struct, lambda s: s["code"].cast("string")),
        ).alias("pq_code"),
        F.aggregate(
            F.transform(sub_struct, lambda s: s["err"]),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("recon_err"),
    )
    return out


EMBED_PQ_ENCODE_SQL = f"""
WITH cb AS (
  SELECT b, c,
         list_transform(generate_series(0, {_PQ_SUBDIM - 1}), i ->
           CAST(('0x' || substr(md5('pq_' || b || '_' || c || '_' || i),
                                1, 15)) AS BIGINT) % 2000001 - 1000000)
           AS cent
  FROM unnest(generate_series(0, {_PQ_SUB - 1})) AS tb(b),
       unnest(generate_series(0, {_PQ_K - 1})) AS tc(c)
), qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS q
  FROM embeddings
  -- quarantine gate: malformed vectors excluded (similarity.py)
  WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
), d AS (
  SELECT qv.vec_id, cb.b, cb.c,
         list_sum(list_transform(generate_series(1, {_PQ_SUBDIM}), i ->
           (qv.q[cb.b * {_PQ_SUBDIM} + i] - cb.cent[i])
           * (qv.q[cb.b * {_PQ_SUBDIM} + i] - cb.cent[i]))) AS dist
  FROM qv CROSS JOIN cb
), coded AS (
  SELECT vec_id, b,
         min(dist) AS err,
         min(CASE WHEN rn = 1 THEN c END) AS code
  FROM (SELECT vec_id, b, c, dist,
               row_number() OVER (PARTITION BY vec_id, b
                                  ORDER BY dist, c) AS rn
        FROM d)
  GROUP BY vec_id, b
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       array_to_string(list_transform(
         list_sort(list({{'b': b, 'c': code}})),
         s -> CAST(s.c AS VARCHAR)), ',') AS pq_code,
       CAST(sum(err) AS BIGINT) AS recon_err
FROM coded GROUP BY vec_id
"""


QUERIES: dict[str, QuerySpec] = {
    "scan_manifest_subset": QuerySpec(
        scan_manifest_subset, SCAN_MANIFEST_SUBSET_SQL
    ),
    "date_fiscal_year_rollup": QuerySpec(
        date_fiscal_year_rollup, DATE_FISCAL_YEAR_ROLLUP_SQL
    ),
    "audit_benford_first_digit": QuerySpec(
        audit_benford_first_digit, AUDIT_BENFORD_FIRST_DIGIT_SQL
    ),
    "event_ab_srm_check": QuerySpec(event_ab_srm_check, EVENT_AB_SRM_CHECK_SQL),
    "embed_pq_encode": QuerySpec(embed_pq_encode, EMBED_PQ_ENCODE_SQL),
}
