"""Round-6 batch 84 — 1-NN classifier evaluation, hard-negative mining,
to_number/format_number roundtrip, GROUP BY ALL sugar, add_months EOM
semantics:

* ``embed_knn_classifier_eval`` — in-engine CLASSIFIER eval: every
  vector 1-NN-classified within its sign octant (exact integer dots,
  self excluded, 'none' when the octant has no peer); the confusion
  matrix (actual × predicted) the training loop reads.  First use of
  the embeddings ``label`` column.
* ``sample_hard_negatives`` — contrastive-training hard negatives: per
  anchor, the same-octant neighbor with a DIFFERENT label maximizing
  the dot product — the negatives that actually move a margin loss.
* ``str_to_number_format`` — money formatting roundtrip:
  exact cents → DECIMAL → ``format_number`` (grouping commas) →
  ``to_number`` back; the oracle pins the identity, the engine proves
  its parser/formatter agree.
* ``sql_group_by_all_sugar`` — GROUP BY ALL + ORDER BY ALL (Spark 4
  parser sugar; DuckDB is the idiom's origin — both run it literally).
* ``date_add_months_eom_semantics`` — end-of-month clamping audit:
  day-of-month survival under add_months(+1) per source day — the
  Jan-31 → Feb-29 class of bugs, pinned.

Scale notes: the classifier/negatives reuse the octant-blocked pair
plan (bucket equi-join, never all-pairs); the roundtrip and sugar
queries are single grouped scans; the EOM audit groups on a ≤31-row
key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.contract.surface75 import _quantized
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- 1-NN classifier eval -----------------------------------------------------------------


def embed_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of octant-blocked 1-NN classification:
    (actual_label, predicted_label, n) with 'none' for peerless
    octants."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("label").cast("long").alias("label"),
    )
    bv = _quantized(spark, sf_dir).join(emb, "vec_id")
    a = bv.select(
        "bucket",
        F.col("vec_id").alias("a_id"),
        F.col("q").alias("qa"),
        F.col("label").alias("a_label"),
    )
    b = bv.select(
        "bucket",
        F.col("vec_id").alias("b_id"),
        F.col("q").alias("qb"),
        F.col("label").alias("b_label"),
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    rk = Window.partitionBy("a_id").orderBy(F.desc("dot"), F.asc("b_id"))
    nn = (
        a.join(b, "bucket")
        .where(F.col("a_id") != F.col("b_id"))
        .select("a_id", "a_label", "b_id", "b_label", dot.alias("dot"))
        .withColumn("rnk", F.row_number().over(rk))
        .where(F.col("rnk") == 1)
        .select("a_id", "a_label", F.col("b_label").alias("pred"))
    )
    classified = a.select("a_id", "a_label").join(nn.select("a_id", "pred"),
                                                  "a_id", "left")
    return classified.groupBy(
        F.col("a_label").alias("actual"),
        F.coalesce(F.col("pred").cast("string"), F.lit("none")).alias(
            "predicted"
        ),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


EMBED_KNN_CLASSIFIER_EVAL_SQL = """
WITH v AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS label,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                                  AS BIGINT)) AS q
  FROM embeddings
  -- quarantine gate: malformed vectors excluded, matching the gated
  -- _quantized corpus both keys share (similarity.py policy)
  WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
), bv AS (
  SELECT vec_id, label, q,
         (CASE WHEN q[1] > 0 THEN 1 ELSE 0 END
          + CASE WHEN q[2] > 0 THEN 2 ELSE 0 END
          + CASE WHEN q[3] > 0 THEN 4 ELSE 0 END
          + CASE WHEN q[4] > 0 THEN 8 ELSE 0 END) AS bucket
  FROM v
), nn AS (
  SELECT a.vec_id AS a_id, a.label AS a_label, b.label AS b_label,
         row_number() OVER (PARTITION BY a.vec_id ORDER BY
           list_sum(list_transform(a.q, (x, i) -> x * b.q[i])) DESC,
           b.vec_id) AS rnk
  FROM bv a JOIN bv b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
), pred AS (
  SELECT bv.vec_id, bv.label AS actual,
         coalesce(CAST(nn.b_label AS VARCHAR), 'none') AS predicted
  FROM bv LEFT JOIN (SELECT * FROM nn WHERE rnk = 1) nn
    ON bv.vec_id = nn.a_id
)
SELECT CAST(actual AS BIGINT) AS actual, predicted,
       CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2
"""


# --- hard-negative mining -------------------------------------------------------------------

_HARDNEG_NQ = 20


def sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per anchor (vec_id < 20): the same-octant DIFFERENT-label
    neighbor with the largest dot product — the hardest negative."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("label").cast("long").alias("label"),
    )
    bv = _quantized(spark, sf_dir).join(emb, "vec_id")
    a = bv.where(F.col("vec_id") < _HARDNEG_NQ).select(
        "bucket",
        F.col("vec_id").alias("anchor"),
        F.col("q").alias("qa"),
        F.col("label").alias("anchor_label"),
    )
    b = bv.select(
        "bucket",
        F.col("vec_id").alias("negative"),
        F.col("q").alias("qb"),
        F.col("label").alias("neg_label"),
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    rk = Window.partitionBy("anchor").orderBy(
        F.desc("dot"), F.asc("negative")
    )
    return (
        a.join(b, "bucket")
        .where(F.col("anchor_label") != F.col("neg_label"))
        .select("anchor", "anchor_label", "negative", "neg_label",
                dot.alias("dot"))
        .withColumn("rnk", F.row_number().over(rk))
        .where(F.col("rnk") == 1)
        .select("anchor", "anchor_label", "negative", "neg_label", "dot")
    )


SAMPLE_HARD_NEGATIVES_SQL = f"""
WITH v AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS label,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                                  AS BIGINT)) AS q
  FROM embeddings
  -- quarantine gate: malformed vectors excluded, matching the gated
  -- _quantized corpus both keys share (similarity.py policy)
  WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
), bv AS (
  SELECT vec_id, label, q,
         (CASE WHEN q[1] > 0 THEN 1 ELSE 0 END
          + CASE WHEN q[2] > 0 THEN 2 ELSE 0 END
          + CASE WHEN q[3] > 0 THEN 4 ELSE 0 END
          + CASE WHEN q[4] > 0 THEN 8 ELSE 0 END) AS bucket
  FROM v
), scored AS (
  SELECT a.vec_id AS anchor, a.label AS anchor_label,
         b.vec_id AS negative, b.label AS neg_label,
         CAST(list_sum(list_transform(a.q, (x, i) -> x * b.q[i]))
              AS BIGINT) AS dot,
         row_number() OVER (PARTITION BY a.vec_id ORDER BY
           list_sum(list_transform(a.q, (x, i) -> x * b.q[i])) DESC,
           b.vec_id) AS rnk
  FROM bv a JOIN bv b
    ON a.bucket = b.bucket AND a.label <> b.label
  WHERE a.vec_id < {_HARDNEG_NQ}
)
SELECT anchor, anchor_label, negative, neg_label, dot
FROM scored WHERE rnk = 1
"""


# --- to_number / format_number roundtrip --------------------------------------------------------


def str_to_number_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cents → DECIMAL → format_number (commas) → to_number back: per
    status the row count, Σcents in, Σcents parsed back (identical by
    the gate), and how many strings carried a grouping comma."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    dec = (F.col("cents").cast("decimal(16,2)") / 100).cast("decimal(14,2)")
    s = F.format_number(dec, 2)
    parsed = F.expr(
        "to_number(format_number(CAST(CAST(cents AS DECIMAL(16,2)) / 100 "
        "AS DECIMAL(14,2)), 2), '9,999,999,999.99')"
    )
    return (
        o.select(
            "o_orderstatus",
            "cents",
            s.alias("s"),
            (parsed * 100).cast("long").alias("cents_back"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents_in"),
            F.sum("cents_back").cast("long").alias("cents_roundtrip"),
            F.sum(F.col("s").contains(",").cast("long"))
            .cast("long")
            .alias("n_with_grouping"),
        )
    )


STR_TO_NUMBER_FORMAT_SQL = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents_in,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents_roundtrip,
       CAST(sum(CASE WHEN floor(o_totalprice * 100 + 0.5) >= 100000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_with_grouping
FROM orders GROUP BY 1
"""


# --- GROUP BY ALL sugar ----------------------------------------------------------------------------


def sql_group_by_all_sugar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL — every non-aggregate column groups
    implicitly; both engines run the sugar literally."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "v_gba_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
                 AS qty
        FROM v_gba_lineitem
        GROUP BY ALL ORDER BY ALL
        """
    )


SQL_GROUP_BY_ALL_SUGAR_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS qty
FROM lineitem
GROUP BY ALL ORDER BY ALL
"""


# --- add_months end-of-month semantics ------------------------------------------------------------


def date_add_months_eom_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source day-of-month: orders count and how many lose their
    day under add_months(+1) (the Jan-31 → Feb-29 clamp)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d")
    )
    d2 = F.add_months(F.col("d"), 1)
    return (
        o.select(
            F.dayofmonth("d").cast("long").alias("dom"),
            (F.dayofmonth(d2) != F.dayofmonth("d")).cast("long").alias(
                "clamped"
            ),
        )
        .groupBy("dom")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("clamped").cast("long").alias("n_clamped"),
        )
    )


DATE_ADD_MONTHS_EOM_SEMANTICS_SQL = """
WITH o AS (
  SELECT CAST(o_orderdate AS DATE) AS d FROM orders
)
SELECT CAST(day(d) AS BIGINT) AS dom,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN day(d + INTERVAL 1 MONTH) <> day(d)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
FROM o GROUP BY 1
"""


QUERIES: dict[str, QuerySpec] = {
    "embed_knn_classifier_eval": QuerySpec(
        embed_knn_classifier_eval, EMBED_KNN_CLASSIFIER_EVAL_SQL
    ),
    "sample_hard_negatives": QuerySpec(
        sample_hard_negatives, SAMPLE_HARD_NEGATIVES_SQL
    ),
    "str_to_number_format": QuerySpec(
        str_to_number_format, STR_TO_NUMBER_FORMAT_SQL
    ),
    "sql_group_by_all_sugar": QuerySpec(
        sql_group_by_all_sugar, SQL_GROUP_BY_ALL_SUGAR_SQL
    ),
    "date_add_months_eom_semantics": QuerySpec(
        date_add_months_eom_semantics, DATE_ADD_MONTHS_EOM_SEMANTICS_SQL
    ),
}
