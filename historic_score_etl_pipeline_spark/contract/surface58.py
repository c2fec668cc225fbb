"""Round-6 batch 65 — ADC retrieval over PQ codes, vocabulary drift,
weighted moving averages, zstd parquet, SLA buckets:

* ``embed_pq_adc_topk`` — the PQ query path: per query vector a
  5×8×4-entry distance LUT (query-to-centroid partials, a broadcast
  dim); the corpus is scanned ONCE as codes and ADC distance is 8 LUT
  lookups + a sum — top-10 by ADC vs top-10 exact, with overlap.
  This is the asymmetric-distance-computation trick that makes PQ
  retrieval a scan problem at 100 TB (codes are 8 bytes, the LUT is
  query-side state).
* ``text_vocab_drift_topk`` — term-level corpus drift: top 20 words
  by |ppm(src0..9) − ppm(src10..19)| — the vocabulary-churn readout
  between two corpus halves.
* ``window_weighted_moving_avg`` — triangular-weight WMA over the
  trailing 7 days (weights 7..1, integer Σw·x div Σw) on the daily
  count series — the lag-free smoother between plain MA and EWMA.
* ``sink_parquet_zstd_roundtrip`` — parquet written with zstd and
  read back: codec surface beyond the default snappy.
* ``date_sla_buckets`` — order→ship latency classified into SLA
  bands (≤7, ≤30, ≤90, >90 days) per priority.

Scale notes: ADC joins the exploded code table to a 160-row broadcast
LUT (the corpus is never paired with raw query vectors); drift and
SLA are scan-side groupBys; WMA windows the |days|-row aggregate
(allowlisted partial-state SinglePartition).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.contract.surface57 import _pq_cent
from historic_score_etl_pipeline_spark.sources.catalog import load_table
from historic_score_etl_pipeline_spark.operators.similarity import (
    micro_units,
    valid_vectors,
)

# --- ADC top-k over PQ codes -------------------------------------------------------

_ADC_SUB = 8
_ADC_SUBDIM = 8
_ADC_K = 4
_ADC_NQ = 5
_ADC_TOPK = 10


def _codebook(spark: SparkSession):
    return spark.range(1).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(_ADC_SUB - 1)),
            lambda b: F.transform(
                F.sequence(F.lit(0), F.lit(_ADC_K - 1)),
                lambda c: F.transform(
                    F.sequence(F.lit(0), F.lit(_ADC_SUBDIM - 1)),
                    lambda i: _pq_cent(b, c, i),
                ),
            ),
        ).alias("cb")
    )


def embed_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by ADC (LUT-summed PQ distance) vs exact integer L2."""
    # Malformed (NULL / NULL-element) embeddings quarantined on BOTH
    # engines: a NULL vector has no PQ code, and a NULL ELEMENT diverges
    # outright (DuckDB list_sum skips it, F.aggregate propagates) —
    # similarity.py gate, adversarial-fixture sweep
    emb = valid_vectors(load_table(spark, sf_dir, "embeddings"))
    cb = _codebook(spark)
    qs = emb.where(F.col("vec_id") < _ADC_NQ).select(
        F.col("vec_id").alias("q_id"), micro_units("embedding").alias("qv")
    )
    corpus = emb.where(F.col("vec_id") >= _ADC_NQ).select(
        F.col("vec_id").alias("c_id"), micro_units("embedding").alias("cv")
    )

    def _sub_dist(vec_col, b, c):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(_ADC_SUBDIM - 1)),
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + (
                F.element_at(vec_col, (b * _ADC_SUBDIM + i + 1).cast("int"))
                - F.element_at(
                    F.element_at(
                        F.element_at(F.col("cb"), (b + 1).cast("int")),
                        (c + 1).cast("int"),
                    ),
                    (i + 1).cast("int"),
                )
            )
            * (
                F.element_at(vec_col, (b * _ADC_SUBDIM + i + 1).cast("int"))
                - F.element_at(
                    F.element_at(
                        F.element_at(F.col("cb"), (b + 1).cast("int")),
                        (c + 1).cast("int"),
                    ),
                    (i + 1).cast("int"),
                )
            ),
        )

    # corpus → 8 PQ codes (argmin per subspace, first-min tiebreak)
    coded = corpus.crossJoin(F.broadcast(cb)).select(
        "c_id",
        "cv",
        F.transform(
            F.sequence(F.lit(0), F.lit(_ADC_SUB - 1)),
            lambda b: (
                F.array_position(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(_ADC_K - 1)),
                        lambda c: _sub_dist(F.col("cv"), b, c),
                    ),
                    F.array_min(
                        F.transform(
                            F.sequence(F.lit(0), F.lit(_ADC_K - 1)),
                            lambda c: _sub_dist(F.col("cv"), b, c),
                        )
                    ),
                )
                - 1
            ).cast("long"),
        ).alias("codes"),
    )
    # query-side LUT: (q_id, b, c) -> partial distance; 5×8×4 rows
    lut = (
        qs.crossJoin(F.broadcast(cb))
        .select(
            "q_id",
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(_ADC_SUB - 1)),
                        lambda b: F.transform(
                            F.sequence(F.lit(0), F.lit(_ADC_K - 1)),
                            lambda c: F.struct(
                                b.cast("long").alias("b"),
                                c.cast("long").alias("c"),
                                _sub_dist(F.col("qv"), b, c).alias("partial"),
                            ),
                        ),
                    )
                )
            ).alias("e"),
        )
        .select("q_id", F.col("e.b").alias("b"), F.col("e.c").alias("c"),
                F.col("e.partial").alias("partial"))
    )
    code_rows = coded.select(
        "c_id",
        F.posexplode("codes").alias("b", "code"),
    )
    adc = (
        code_rows.join(
            F.broadcast(lut),
            (code_rows["b"] == lut["b"]) & (code_rows["code"] == lut["c"]),
        )
        .groupBy("q_id", "c_id")
        .agg(F.sum("partial").cast("long").alias("adc_dist"))
    )
    # exact distances for the reference ranking
    dot = lambda a, bcol: F.aggregate(  # noqa: E731
        F.zip_with(a, bcol, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    exact = corpus.crossJoin(F.broadcast(qs)).select(
        "q_id", "c_id", dot(F.col("qv"), F.col("cv")).alias("l2"),
    )
    wa = Window.partitionBy("q_id").orderBy(F.col("adc_dist"), "c_id")
    we = Window.partitionBy("q_id").orderBy(F.col("l2"), "c_id")
    top_adc = adc.select(
        "q_id", "c_id", F.row_number().over(wa).alias("ra")
    ).where(F.col("ra") <= _ADC_TOPK)
    top_exact = exact.select(
        "q_id", "c_id", F.row_number().over(we).alias("re")
    ).where(F.col("re") <= _ADC_TOPK)
    joined = top_adc.join(top_exact, ["q_id", "c_id"], "full").select(
        "q_id", "c_id", "ra", "re"
    )
    return joined.groupBy(F.col("q_id").cast("long").alias("q_id")).agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("ra").isNotNull(), F.col("c_id")))
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("top10_adc"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("re").isNotNull(), F.col("c_id")))
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("top10_exact"),
        F.sum(
            F.when(F.col("ra").isNotNull() & F.col("re").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_overlap"),
    )


EMBED_PQ_ADC_TOPK_SQL = f"""
WITH cb AS (
  SELECT b, c,
         list_transform(generate_series(0, {_ADC_SUBDIM - 1}), i ->
           CAST(('0x' || substr(md5('pq_' || b || '_' || c || '_' || i),
                                1, 15)) AS BIGINT) % 2000001 - 1000000)
           AS cent
  FROM unnest(generate_series(0, {_ADC_SUB - 1})) AS tb(b),
       unnest(generate_series(0, {_ADC_K - 1})) AS tc(c)
), fx AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS v
  FROM embeddings
  -- quarantine gate: malformed vectors excluded (similarity.py)
  WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
), subd AS (
  SELECT f.vec_id, cb.b, cb.c,
         list_sum(list_transform(generate_series(1, {_ADC_SUBDIM}), i ->
           (f.v[cb.b * {_ADC_SUBDIM} + i] - cb.cent[i])
           * (f.v[cb.b * {_ADC_SUBDIM} + i] - cb.cent[i]))) AS dist
  FROM fx f CROSS JOIN cb
), codes AS (
  SELECT vec_id, b,
         min(CASE WHEN rn = 1 THEN c END) AS code
  FROM (SELECT vec_id, b, c, dist,
               row_number() OVER (PARTITION BY vec_id, b
                                  ORDER BY dist, c) AS rn
        FROM subd WHERE vec_id >= {_ADC_NQ})
  GROUP BY vec_id, b
), lut AS (
  SELECT vec_id AS q_id, b, c, dist AS partial
  FROM subd WHERE vec_id < {_ADC_NQ}
), adc AS (
  SELECT l.q_id, k.vec_id AS c_id, sum(l.partial) AS adc_dist
  FROM codes k JOIN lut l ON k.b = l.b AND k.code = l.c
  GROUP BY 1, 2
), exact AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         list_sum(list_transform(q.v, (x, i) ->
           (x - c.v[i]) * (x - c.v[i]))) AS l2
  FROM fx q JOIN fx c
    ON q.vec_id < {_ADC_NQ} AND c.vec_id >= {_ADC_NQ}
), ra AS (
  SELECT q_id, c_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_dist, c_id) AS ra
  FROM adc
), re AS (
  SELECT q_id, c_id,
         row_number() OVER (PARTITION BY q_id ORDER BY l2, c_id) AS re
  FROM exact
), j AS (
  SELECT coalesce(a.q_id, e.q_id) AS q_id,
         coalesce(a.c_id, e.c_id) AS c_id,
         a.ra AS ra, e.re AS re
  FROM (SELECT * FROM ra WHERE ra <= {_ADC_TOPK}) a
  FULL JOIN (SELECT * FROM re WHERE re <= {_ADC_TOPK}) e
    ON a.q_id = e.q_id AND a.c_id = e.c_id
)
SELECT CAST(q_id AS BIGINT) AS q_id,
       array_to_string(list_transform(
         list_sort(list(c_id) FILTER (ra IS NOT NULL)),
         x -> CAST(x AS VARCHAR)), ',') AS top10_adc,
       array_to_string(list_transform(
         list_sort(list(c_id) FILTER (re IS NOT NULL)),
         x -> CAST(x AS VARCHAR)), ',') AS top10_exact,
       CAST(sum(CASE WHEN ra IS NOT NULL AND re IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
FROM j GROUP BY q_id
"""


# --- vocabulary drift ---------------------------------------------------------------

_DRIFT_TOPK = 20


def text_vocab_drift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 words by |ppm(half A) − ppm(half B)| where halves are
    src0..src9 vs src10..src19 (numeric source suffix)."""
    docs = load_table(spark, sf_dir, "documents")
    half = F.when(
        F.regexp_extract("source", r"(\d+)$", 1).cast("long") < 10, "a"
    ).otherwise("b")
    words = docs.select(
        half.alias("half"),
        F.explode(
            F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
        ).alias("w"),
    )
    wc = words.groupBy("half", "w").agg(F.count(F.lit(1)).alias("c"))
    totals = wc.groupBy("half").agg(F.sum("c").alias("tot"))
    ppm = wc.join(F.broadcast(totals), "half").select(
        "half", "w", F.expr("c * 1000000 div tot").alias("ppm")
    )
    wide = ppm.groupBy("w").agg(
        F.coalesce(
            F.sum(F.when(F.col("half") == "a", F.col("ppm"))), F.lit(0)
        ).alias("ppm_a"),
        F.coalesce(
            F.sum(F.when(F.col("half") == "b", F.col("ppm"))), F.lit(0)
        ).alias("ppm_b"),
    )
    return (
        wide.select(
            "w",
            F.col("ppm_a").cast("long").alias("ppm_a"),
            F.col("ppm_b").cast("long").alias("ppm_b"),
            F.abs(F.col("ppm_a") - F.col("ppm_b")).cast("long").alias("drift_ppm"),
        )
        .orderBy(F.col("drift_ppm").desc(), F.col("w"))
        .limit(_DRIFT_TOPK)
    )


TEXT_VOCAB_DRIFT_TOPK_SQL = f"""
WITH words AS (
  SELECT CASE WHEN CAST(regexp_extract(source, '(\\d+)$', 1) AS BIGINT) < 10
              THEN 'a' ELSE 'b' END AS half,
         u.w AS w
  FROM (SELECT source,
               list_transform(
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> ''), x -> {{'w': x}}) AS e
        FROM documents), unnest(e) AS t(u)
), wc AS (
  SELECT half, w, count(*) AS c FROM words GROUP BY 1, 2
), totals AS (
  SELECT half, sum(c) AS tot FROM wc GROUP BY half
), ppm AS (
  SELECT wc.half, wc.w, (wc.c * 1000000) // t.tot AS ppm
  FROM wc JOIN totals t ON wc.half = t.half
), wide AS (
  SELECT w,
         coalesce(sum(CASE WHEN half = 'a' THEN ppm END), 0) AS ppm_a,
         coalesce(sum(CASE WHEN half = 'b' THEN ppm END), 0) AS ppm_b
  FROM ppm GROUP BY w
)
SELECT w, CAST(ppm_a AS BIGINT) AS ppm_a, CAST(ppm_b AS BIGINT) AS ppm_b,
       CAST(abs(ppm_a - ppm_b) AS BIGINT) AS drift_ppm
FROM wide ORDER BY drift_ppm DESC, w LIMIT {_DRIFT_TOPK}
"""


# --- triangular weighted moving average ---------------------------------------------


def window_weighted_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WMA over the trailing 7 observed days (weights 7..1 toward the
    newest), integer Σw·x div Σw; only full-history days emitted."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.orderBy("day")
    lags = [F.lag("n", k).over(w).alias(f"l{k}") for k in range(7)]
    staged = daily.select("day", "n", *lags)
    # weight 7 for today (l0) down to 1 for six days back (l6)
    num = sum(
        (F.col(f"l{k}") * F.lit(7 - k) for k in range(1, 7)),
        F.col("l0") * F.lit(7),
    )
    full = staged.where(F.col("l6").isNotNull())
    return full.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").alias("actual"),
        (num.cast("long")).alias("wsum"),
        F.expr(
            "CAST(" + "+".join(f"l{k} * {7 - k}" for k in range(7)) + " AS BIGINT)"
            " div 28"
        )
        .cast("long")
        .alias("wma"),
    )


WINDOW_WEIGHTED_MOVING_AVG_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), lagged AS (
  SELECT day, n,
         lag(n, 0) OVER (ORDER BY day) AS l0,
         lag(n, 1) OVER (ORDER BY day) AS l1,
         lag(n, 2) OVER (ORDER BY day) AS l2,
         lag(n, 3) OVER (ORDER BY day) AS l3,
         lag(n, 4) OVER (ORDER BY day) AS l4,
         lag(n, 5) OVER (ORDER BY day) AS l5,
         lag(n, 6) OVER (ORDER BY day) AS l6
  FROM daily
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       n AS actual,
       CAST(l0*7 + l1*6 + l2*5 + l3*4 + l4*3 + l5*2 + l6*1 AS BIGINT)
         AS wsum,
       CAST((l0*7 + l1*6 + l2*5 + l3*4 + l4*3 + l5*2 + l6*1) // 28
            AS BIGINT) AS wma
FROM lagged WHERE l6 IS NOT NULL
"""


# --- zstd parquet round-trip --------------------------------------------------------


def sink_parquet_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write parquet with zstd, read back, aggregate — codec surface."""
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "zstd", sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    li.write.mode("overwrite").option("compression", "zstd").parquet(out)
    back = spark.read.schema("l_returnflag string, qty long, cents long").parquet(
        out
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qty").cast("long").alias("sum_qty"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


SINK_PARQUET_ZSTD_ROUNDTRIP_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM lineitem GROUP BY 1
"""


# --- SLA latency bands ---------------------------------------------------------------


def date_sla_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency classified into SLA bands per priority."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    days = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    band = (
        F.when(days <= 7, "0-7")
        .when(days <= 30, "8-30")
        .when(days <= 90, "31-90")
        .otherwise("90+")
    )
    return (
        j.where(days >= 0)
        .groupBy("o_orderpriority", band.alias("sla_band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.max(days).cast("long").alias("max_days"),
        )
    )


DATE_SLA_BUCKETS_SQL = """
WITH j AS (
  SELECT o_orderpriority,
         CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
              AS BIGINT) AS days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority,
       CASE WHEN days <= 7 THEN '0-7'
            WHEN days <= 30 THEN '8-30'
            WHEN days <= 90 THEN '31-90'
            ELSE '90+' END AS sla_band,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(max(days) AS BIGINT) AS max_days
FROM j WHERE days >= 0
GROUP BY 1, 2
"""


QUERIES: dict[str, QuerySpec] = {
    "embed_pq_adc_topk": QuerySpec(embed_pq_adc_topk, EMBED_PQ_ADC_TOPK_SQL),
    "text_vocab_drift_topk": QuerySpec(
        text_vocab_drift_topk, TEXT_VOCAB_DRIFT_TOPK_SQL
    ),
    "window_weighted_moving_avg": QuerySpec(
        window_weighted_moving_avg, WINDOW_WEIGHTED_MOVING_AVG_SQL
    ),
    "sink_parquet_zstd_roundtrip": QuerySpec(
        sink_parquet_zstd_roundtrip, SINK_PARQUET_ZSTD_ROUNDTRIP_SQL
    ),
    "date_sla_buckets": QuerySpec(date_sla_buckets, DATE_SLA_BUCKETS_SQL),
}
