"""Round-6 batch 58 — signed-random-projection LSH, bipartite
similarity projection, moving-average backtest, Chao1 richness, and a
time-bounded funnel:

* ``embed_lsh_hyperplane`` — SRP-LSH (Charikar) for cosine: 16
  deterministic ±1 hyperplanes (md5-derived signs, engine-portable),
  16-bit signature from the sign of the integer-quantized projection,
  4-band blocking, popcount(xor) ≤ 3 verify.  The hyperplane matrix
  is a 1-row broadcast DF (scalar-folding rule) — vectors never pair
  all-against-all, only inside shared 4-bit band buckets.
* ``graph_bipartite_jaccard`` — the bipartite user–event_type graph
  projected onto types: per type pair |users∩|, |users∪| and Jaccard
  ppm from a user-keyed co-occurrence self-join of the DISTINCT
  (user, type) table — O(Σ per-user type-pairs), never users².
* ``event_forecast_moving_avg`` — trailing-7-day moving-average
  backtest over the daily count series (only days with a full 7-day
  history), |err| in integer counts.
* ``text_chao1_richness`` — per-source vocabulary richness: V, f1
  (hapax), f2 (dis legomena) and the bias-corrected Chao1 estimate
  ×1000: V·1000 + f1·(f1−1)·1000 div (2·(f2+1)).
* ``event_funnel_time_bounded`` — view → click → purchase where each
  step must follow the previous within 24h (first-touch per stage):
  the realistic windowed funnel, chained per-user min-aggregates,
  no events×events self-join.

Scale notes: SRP banding is 4 rows/vector into a band-bucket
equi-join; the bipartite projection and funnel key every join on
user_id; the forecast windows the |days|-row aggregate (allowlisted
SinglePartition over partial-state rows); chao1 shuffles on
(source, word) then source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.dedup import hamming16_pairs
from historic_score_etl_pipeline_spark.operators.pins import pin
from historic_score_etl_pipeline_spark.sources.catalog import load_table
from historic_score_etl_pipeline_spark.operators.similarity import (
    micro_units,
    valid_vectors,
)

# --- SRP-LSH over embeddings -------------------------------------------------------

_SRP_BITS = 16
_SRP_DIM = 64
_SRP_MAX_DIST = 3


def _srp_sign(b, i):
    """Deterministic ±1 from md5('hp_<b>_<i>') — identical in SQL."""
    tag = F.concat(
        F.lit("hp_"), b.cast("string"), F.lit("_"), i.cast("string")
    )
    bit = F.conv(F.substring(F.md5(tag), 1, 1), 16, 10).cast("long") % 2
    return F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)).cast("long")


def embed_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SRP signatures → 4-band blocking → Hamming ≤ 3 pairs."""
    emb = valid_vectors(load_table(spark, sf_dir, "embeddings"))
    hp = spark.range(1).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(_SRP_BITS - 1)),
            lambda b: F.transform(
                F.sequence(F.lit(0), F.lit(_SRP_DIM - 1)),
                lambda i: _srp_sign(b, i),
            ),
        ).alias("hp")
    )
    q = micro_units("embedding")
    # sig bit b = [ Σᵢ qᵢ·sign(b,i) > 0 ]  (exact integer dot product)
    sig_col = F.aggregate(
        F.sequence(F.lit(0), F.lit(_SRP_BITS - 1)),
        F.lit(0).cast("long"),
        lambda acc, b: acc
        + F.when(
            F.aggregate(
                F.zip_with(
                    F.col("q"),
                    F.element_at(F.col("hp"), (b + 1).cast("int")),
                    lambda x, s: x * s,
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            )
            > 0,
            # shiftleft needs a literal shift — 2^b is exact for b ≤ 15
            F.pow(F.lit(2.0), b.cast("double")).cast("long"),
        ).otherwise(F.lit(0)),
    )
    # Pinned: the band self-join consumes the signature table on both
    # sides (see band_self_join)
    sig = pin(
        emb.crossJoin(F.broadcast(hp))
        .select(F.col("vec_id").cast("long").alias("vec_id"), q.alias("q"), "hp")
        .select("vec_id", sig_col.alias("sg"))
    )
    return hamming16_pairs(sig, "vec_id", "sg", _SRP_MAX_DIST)


EMBED_LSH_HYPERPLANE_SQL = f"""
WITH hp AS (
  SELECT b,
         list_transform(generate_series(0, {_SRP_DIM - 1}), i ->
           CASE WHEN CAST(('0x' || substr(md5('hp_' || b || '_' || i), 1, 1))
                     AS BIGINT) % 2 = 1
                THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END) AS signs
  FROM unnest(generate_series(0, {_SRP_BITS - 1})) AS t(b)
), qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS q
  FROM embeddings
  -- quarantine gate: malformed vectors excluded (similarity.py)
  WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
), proj AS (
  SELECT qv.vec_id, hp.b,
         list_sum(list_transform(qv.q, (x, i) -> x * hp.signs[i])) AS s
  FROM qv CROSS JOIN hp
), sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)
              AS BIGINT) AS sg
  FROM proj GROUP BY vec_id
), bands AS (
  SELECT vec_id, sg, b AS band, (sg >> (4 * b)) & 15 AS nib
  FROM sig, unnest([0, 1, 2, 3]) AS u(b)
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                  a.sg AS sg_a, b.sg AS sg_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.nib = b.nib AND a.vec_id < b.vec_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(bit_count(xor(sg_a, sg_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sg_a, sg_b)) <= {_SRP_MAX_DIST}
"""


# --- bipartite type-similarity projection ------------------------------------------


def graph_bipartite_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type–type Jaccard over user sets from the distinct (user, type)
    bipartite edge table — co-occurrence join keyed on user_id."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    ut = ev.select("user_id", "event_type").distinct()
    per_type = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    a, b = ut.alias("a"), ut.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    na = per_type.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("na")
    )
    nb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("nb")
    )
    out = (
        inter.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_inter",
            (F.col("na") + F.col("nb") - F.col("n_inter")).alias("n_union"),
        )
    )
    return out.select(
        "type_a",
        "type_b",
        "n_inter",
        "n_union",
        F.expr("n_inter * 1000000 div n_union").alias("jaccard_ppm"),
    )


GRAPH_BIPARTITE_JACCARD_SQL = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
), per_type AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
  FROM ut GROUP BY event_type
), inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_inter,
       na.n_users + nb.n_users - n_inter AS n_union,
       CAST((n_inter * 1000000)
            // (na.n_users + nb.n_users - n_inter) AS BIGINT) AS jaccard_ppm
FROM inter
JOIN per_type na ON inter.type_a = na.event_type
JOIN per_type nb ON inter.type_b = nb.event_type
"""


# --- trailing moving-average backtest ----------------------------------------------


def event_forecast_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast each day by the integer mean of the prior 7 days
    (full-history days only); emit actual, forecast, |err|."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    enriched = daily.select(
        "day",
        "n",
        F.sum("n").over(w).alias("s7"),
        F.count("n").over(w).alias("c7"),
    ).where(F.col("c7") == 7)
    return enriched.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").alias("actual"),
        F.expr("s7 div 7").cast("long").alias("forecast"),
        F.abs(F.col("n") - F.expr("s7 div 7")).cast("long").alias("abs_err"),
    )


EVENT_FORECAST_MOVING_AVG_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), enriched AS (
  SELECT day, n,
         sum(n) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
           AS s7,
         count(n) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
           AS c7
  FROM daily
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       n AS actual,
       CAST(s7 // 7 AS BIGINT) AS forecast,
       CAST(abs(n - s7 // 7) AS BIGINT) AS abs_err
FROM enriched WHERE c7 = 7
"""


# --- Chao1 vocabulary richness -----------------------------------------------------


def text_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source V, hapax f1, dis f2 and bias-corrected Chao1 ×1000:
    V·1000 + f1·(f1−1)·1000 div (2·(f2+1))."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(
            F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
        ).alias("w"),
    )
    wc = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_src = wc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("f2"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    return per_src.select(
        "source",
        "vocab",
        "f1",
        "f2",
        "n_tokens",
        (
            F.col("vocab") * 1000
            + F.expr("f1 * (f1 - 1) * 1000 div (2 * (f2 + 1))")
        )
        .cast("long")
        .alias("chao1_milli"),
    )


TEXT_CHAO1_RICHNESS_SQL = """
WITH words AS (
  SELECT source, u.w AS w
  FROM (SELECT source,
               list_transform(
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> ''), x -> {'w': x}) AS e
        FROM documents), unnest(e) AS t(u)
), wc AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM words GROUP BY source, w
), per_src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS vocab,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
         CAST(sum(c) AS BIGINT) AS n_tokens
  FROM wc GROUP BY source
)
SELECT source, vocab, f1, f2, n_tokens,
       CAST(vocab * 1000
            + (f1 * (f1 - 1) * 1000) // (2 * (f2 + 1)) AS BIGINT)
         AS chao1_milli
FROM per_src
"""


# --- time-bounded funnel -----------------------------------------------------------


def event_funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click (≤24h after first view) → purchase (≤24h after
    that click): first-touch per stage, chained min-aggregates."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("v_ts"))
            & (F.col("ts") <= F.col("v_ts") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("ts") > F.col("c_ts"))
            & (F.col("ts") <= F.col("c_ts") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    flags = (
        v.join(c.select("user_id", F.lit(1).alias("hc")), "user_id", "left")
        .join(p.select("user_id", F.lit(1).alias("hp")), "user_id", "left")
    )
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_view"),
        F.sum(F.coalesce(F.col("hc"), F.lit(0))).cast("long").alias("n_click_24h"),
        F.sum(F.coalesce(F.col("hp"), F.lit(0)))
        .cast("long")
        .alias("n_purchase_24h"),
    )


EVENT_FUNNEL_TIME_BOUNDED_SQL = """
WITH ev AS (
  SELECT user_id, event_type, ts FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
), v AS (
  SELECT user_id, min(ts) AS v_ts FROM ev
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS c_ts
  FROM ev e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND e.ts > v.v_ts AND e.ts <= v.v_ts + INTERVAL 24 HOUR
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS p_ts
  FROM ev e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > c.c_ts AND e.ts <= c.c_ts + INTERVAL 24 HOUR
  GROUP BY e.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_click_24h,
       CAST(sum(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purchase_24h
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
"""


QUERIES: dict[str, QuerySpec] = {
    "embed_lsh_hyperplane": QuerySpec(
        embed_lsh_hyperplane, EMBED_LSH_HYPERPLANE_SQL
    ),
    "graph_bipartite_jaccard": QuerySpec(
        graph_bipartite_jaccard, GRAPH_BIPARTITE_JACCARD_SQL
    ),
    "event_forecast_moving_avg": QuerySpec(
        event_forecast_moving_avg, EVENT_FORECAST_MOVING_AVG_SQL
    ),
    "text_chao1_richness": QuerySpec(
        text_chao1_richness, TEXT_CHAO1_RICHNESS_SQL
    ),
    "event_funnel_time_bounded": QuerySpec(
        event_funnel_time_bounded, EVENT_FUNNEL_TIME_BOUNDED_SQL
    ),
}
