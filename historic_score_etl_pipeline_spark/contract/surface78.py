"""Round-6 batch 85 — underwater duration, audience overlap, greedy
graph walk, scene-cut detection, character-class histogram (overflow
slots):

* ``window_underwater_duration`` — the drawdown DURATION metric
  (``window_drawdown_max`` measures depth): per supplier price series,
  the longest consecutive run strictly below the running maximum —
  gaps-and-islands over the cummax comparison.
* ``event_type_user_jaccard`` — WEIGHTED audience overlap: per
  event-type pair the weighted Jaccard Σmin/Σmax over per-user COUNT
  vectors (exact, Σmax by the min+max identity) — the count-weighted
  sibling of the set-based ``graph_bipartite_jaccard``.
* ``graph_greedy_walk_3steps`` — deterministic 3-hop traversal: every
  node of the bounded co-order parts subgraph follows its MIN-id
  neighbor three times (three equi-joins against the argmin-neighbor
  table) — the iterated-traversal shape (walk steps are joins, not
  loops).
* ``multimodal_video_scene_cuts`` — scene-change detection over the
  ``multimodal_frames`` chunk model: per 32-byte frame the byte-sum
  signal, a CUT when |g_f − g_{f−1}| > 160; per source frame count,
  cut count and max jump.  Every quantity byte-replayable in SQL.
* ``str_char_class_histogram`` — corpus character-class profile per
  source: letters / digits / whitespace / other counts via
  regexp-strip length arithmetic (JVM-side, no explode).

Scale notes: underwater runs ride ONE supplier-partitioned window
chain; the Jaccard works on the distinct (user, type) table then a
|types|²-bounded pair join; the walk's per-hop state is the
|nodes|-row argmin table; scene cuts are a two-level aggregate over
bounded frame rows; the histogram is a single scan of length
expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.graph import co_order_edges
from historic_score_etl_pipeline_spark.operators.multimodal import (
    doc_rows,
    single_byte_docs,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- underwater duration --------------------------------------------------------------------


def supplier_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-supplier price series (suppliers < 10): ``sk``, the
    (``l_shipdate``, ``l_orderkey``, ``l_linenumber``) order columns and
    the extended price in integer cents ``c``."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_suppkey") < 10)
    return li.select(
        F.col("l_suppkey").cast("long").alias("sk"),
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("c"),
    )


def window_underwater_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per supplier (< 10): longest consecutive run of prices strictly
    below the running max, plus total underwater rows."""
    px = supplier_cents(spark, sf_dir)
    w = Window.partitionBy("sk").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    flagged = px.select(
        "sk",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        (F.col("c") < F.max("c").over(wrun)).cast("long").alias("uw"),
    ).withColumn(
        "grp", F.sum(1 - F.col("uw")).over(wrun)
    )
    runs = (
        flagged.where(F.col("uw") == 1)
        .groupBy("sk", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("run_len"))
    )
    totals = flagged.groupBy("sk").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("uw").cast("long").alias("n_underwater"),
    )
    longest = runs.groupBy("sk").agg(
        F.max("run_len").cast("long").alias("longest_underwater")
    )
    return totals.join(longest, "sk", "left").select(
        F.col("sk").alias("l_suppkey"),
        "n_rows",
        "n_underwater",
        F.coalesce("longest_underwater", F.lit(0))
        .cast("long")
        .alias("longest_underwater"),
    )


WINDOW_UNDERWATER_DURATION_SQL = """
WITH px AS (
  SELECT l_suppkey AS sk, l_shipdate, l_orderkey, l_linenumber,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
  FROM lineitem WHERE l_suppkey < 10
), flagged AS (
  SELECT sk, l_shipdate, l_orderkey, l_linenumber,
         CASE WHEN c < max(c) OVER w THEN 1 ELSE 0 END AS uw
  FROM px
  WINDOW w AS (PARTITION BY sk ORDER BY l_shipdate, l_orderkey,
               l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW)
), grouped AS (
  SELECT sk, uw,
         sum(1 - uw) OVER (PARTITION BY sk ORDER BY l_shipdate,
           l_orderkey, l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING AND
           CURRENT ROW) AS grp
  FROM flagged
), runs AS (
  SELECT sk, grp, CAST(count(*) AS BIGINT) AS run_len
  FROM grouped WHERE uw = 1 GROUP BY 1, 2
), totals AS (
  SELECT sk, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(uw) AS BIGINT) AS n_underwater
  FROM grouped GROUP BY sk
), longest AS (
  SELECT sk, CAST(max(run_len) AS BIGINT) AS longest_underwater
  FROM runs GROUP BY sk
)
SELECT CAST(t.sk AS BIGINT) AS l_suppkey, t.n_rows, t.n_underwater,
       CAST(coalesce(l.longest_underwater, 0) AS BIGINT)
         AS longest_underwater
FROM totals t LEFT JOIN longest l ON t.sk = l.sk
"""


# --- audience overlap Jaccard ---------------------------------------------------------------


def event_type_user_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED Jaccard between event types over per-user count vectors:
    J_W = Σᵤ min(c_uA, c_uB) / Σᵤ max(c_uA, c_uB), exact integers with
    Σmax = totA + totB − Σmin (min+max = a+b with absent = 0).  The
    SET-based twin is ``graph_bipartite_jaccard`` (surface51) — counts
    weight the overlap, membership alone does not."""
    ev = load_table(spark, sf_dir, "events")
    uc = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tots = uc.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("tot")
    )
    minsum = (
        uc.alias("x")
        .join(uc.alias("y"), F.col("x.user_id") == F.col("y.user_id"))
        .where(F.col("x.event_type") < F.col("y.event_type"))
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(
            F.sum(F.least("x.c", "y.c")).cast("long").alias("min_sum"),
            F.count(F.lit(1)).cast("long").alias("n_both_users"),
        )
    )
    return (
        minsum.join(
            tots.select(F.col("event_type").alias("type_a"),
                        F.col("tot").alias("tot_a")),
            "type_a",
        )
        .join(
            tots.select(F.col("event_type").alias("type_b"),
                        F.col("tot").alias("tot_b")),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_both_users",
            "min_sum",
            (F.col("tot_a") + F.col("tot_b") - F.col("min_sum"))
            .cast("long")
            .alias("max_sum"),
            F.expr(
                "CAST((min_sum * 1000000) div (tot_a + tot_b - min_sum)"
                " AS BIGINT)"
            ).alias("weighted_jaccard_ppm"),
        )
    )


EVENT_TYPE_USER_JACCARD_SQL = """
WITH uc AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), tots AS (
  SELECT event_type, CAST(sum(c) AS BIGINT) AS tot FROM uc GROUP BY 1
), minsum AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         CAST(sum(least(x.c, y.c)) AS BIGINT) AS min_sum,
         CAST(count(*) AS BIGINT) AS n_both_users
  FROM uc x JOIN uc y ON x.user_id = y.user_id
  WHERE x.event_type < y.event_type
  GROUP BY 1, 2
)
SELECT m.type_a, m.type_b, m.n_both_users, m.min_sum,
       CAST(ta.tot + tb.tot - m.min_sum AS BIGINT) AS max_sum,
       CAST((m.min_sum * 1000000) // (ta.tot + tb.tot - m.min_sum)
            AS BIGINT) AS weighted_jaccard_ppm
FROM minsum m
JOIN tots ta ON m.type_a = ta.event_type
JOIN tots tb ON m.type_b = tb.event_type
"""


# --- greedy 3-step walk ------------------------------------------------------------------------

_WALK_MAXKEY = 400


def graph_greedy_walk_3steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every node of the bounded co-order parts subgraph follows its
    min-id neighbor for 3 hops — three equi-joins, no loop."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") < _WALK_MAXKEY
    )
    pairs = co_order_edges(li)
    und = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nxt = und.groupBy("u").agg(F.min("v").cast("long").alias("nxt"))
    h1 = nxt.select(F.col("u").alias("start"), F.col("nxt").alias("hop1"))
    h2 = nxt.select(F.col("u").alias("hop1"), F.col("nxt").alias("hop2"))
    h3 = nxt.select(F.col("u").alias("hop2"), F.col("nxt").alias("hop3"))
    return h1.join(h2, "hop1").join(h3, "hop2").select(
        "start", "hop1", "hop2", "hop3"
    )


GRAPH_GREEDY_WALK_3STEPS_SQL = f"""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem
  WHERE l_partkey < {_WALK_MAXKEY}
), pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
), und AS (
  SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
), nxt AS (
  SELECT u, CAST(min(v) AS BIGINT) AS nxt FROM und GROUP BY u
)
SELECT CAST(h1.u AS BIGINT) AS start, h1.nxt AS hop1, h2.nxt AS hop2,
       h3.nxt AS hop3
FROM nxt h1 JOIN nxt h2 ON h1.nxt = h2.u JOIN nxt h3 ON h2.nxt = h3.u
"""


# --- scene-cut detection ---------------------------------------------------------------------------

_FRAME_BYTES = 32
_CUT_THRESH = 160


def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-byte frames over the binary payload (the multimodal_frames
    chunk model); per source: frames, cuts (|Δ byte-sum| > 160) and the
    max jump."""

    def cuts(text):
        raw = text.encode("utf-8")
        sums = [
            sum(raw[i : i + _FRAME_BYTES])
            for i in range(0, len(raw), _FRAME_BYTES)
        ]
        jumps = [abs(b - a) for a, b in zip(sums, sums[1:])]
        n_cuts = sum(1 for j in jumps if j > _CUT_THRESH)
        return [(1, len(sums), n_cuts, max(jumps, default=0))]

    docs = single_byte_docs(load_table(spark, sf_dir, "documents"))
    schema = "source string, n_clips long, n_frames long, n_cuts long, max_jump long"
    return doc_rows(docs, "source", cuts, schema).groupBy("source").agg(
        F.sum("n_clips").cast("long").alias("n_clips"),
        F.sum("n_frames").cast("long").alias("n_frames"),
        F.sum("n_cuts").cast("long").alias("n_cuts"),
        F.max("max_jump").cast("long").alias("max_jump"),
    )


MULTIMODAL_VIDEO_SCENE_CUTS_SQL = f"""
WITH dims AS (
  SELECT doc_id, source, text,
         strlen(text) AS nb
  FROM documents
  WHERE strlen(text) = length(text)
), frames AS (
  -- nb = 0 yields an EMPTY series (start > stop): an empty clip has no
  -- frames, matching the Spark chunker exactly; the clip itself is
  -- still counted via the dims LEFT JOIN below
  SELECT doc_id, source, t.f AS f,
         (SELECT sum(ascii(substr(text, t.f * {_FRAME_BYTES} + u.i + 1, 1)))
          FROM unnest(generate_series(
            0, least({_FRAME_BYTES}, nb - t.f * {_FRAME_BYTES}) - 1))
            AS u(i)
         ) AS g
  FROM dims,
       unnest(generate_series(
         0, CAST(ceil(nb / {_FRAME_BYTES}.0) AS BIGINT) - 1)) AS t(f)
), jumps AS (
  SELECT doc_id, source, f, g,
         abs(g - lag(g) OVER (PARTITION BY doc_id ORDER BY f)) AS j
  FROM frames
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS nf,
         CAST(sum(CASE WHEN j > {_CUT_THRESH} THEN 1 ELSE 0 END) AS BIGINT)
           AS nc,
         CAST(coalesce(max(j), 0) AS BIGINT) AS mj
  FROM jumps GROUP BY 1
)
SELECT d.source, CAST(count(*) AS BIGINT) AS n_clips,
       CAST(coalesce(sum(p.nf), 0) AS BIGINT) AS n_frames,
       CAST(coalesce(sum(p.nc), 0) AS BIGINT) AS n_cuts,
       CAST(coalesce(max(p.mj), 0) AS BIGINT) AS max_jump
FROM dims d LEFT JOIN per_doc p USING (doc_id)
GROUP BY d.source
"""


# --- character-class histogram -----------------------------------------------------------------------


def str_char_class_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: letter / digit / whitespace / other character counts
    via regexp-strip length arithmetic — no explode."""
    docs = load_table(spark, sf_dir, "documents")

    def cnt(pattern: str):
        return (
            F.length("text")
            - F.length(F.regexp_replace("text", pattern, ""))
        ).cast("long")

    per = docs.select(
        "source",
        F.length("text").cast("long").alias("total"),
        cnt("[A-Za-z]").alias("letters"),
        cnt("[0-9]").alias("digits"),
        cnt("\\s").alias("spaces"),
    ).withColumn(
        "other",
        (
            F.col("total") - F.col("letters") - F.col("digits")
            - F.col("spaces")
        ).cast("long"),
    )
    return per.groupBy("source").agg(
        F.sum("total").cast("long").alias("total"),
        F.sum("letters").cast("long").alias("letters"),
        F.sum("digits").cast("long").alias("digits"),
        F.sum("spaces").cast("long").alias("spaces"),
        F.sum("other").cast("long").alias("other"),
    )


STR_CHAR_CLASS_HISTOGRAM_SQL = """
WITH per AS (
  SELECT source, CAST(length(text) AS BIGINT) AS total,
         CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '',
              'g')) AS BIGINT) AS letters,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
              AS BIGINT) AS digits,
         CAST(length(text) - length(regexp_replace(text, '\\s', '', 'g'))
              AS BIGINT) AS spaces
  FROM documents
)
SELECT source, CAST(sum(total) AS BIGINT) AS total,
       CAST(sum(letters) AS BIGINT) AS letters,
       CAST(sum(digits) AS BIGINT) AS digits,
       CAST(sum(spaces) AS BIGINT) AS spaces,
       CAST(sum(total - letters - digits - spaces) AS BIGINT) AS other
FROM per GROUP BY source
"""


QUERIES: dict[str, QuerySpec] = {
    "window_underwater_duration": QuerySpec(
        window_underwater_duration, WINDOW_UNDERWATER_DURATION_SQL
    ),
    "event_type_user_jaccard": QuerySpec(
        event_type_user_jaccard, EVENT_TYPE_USER_JACCARD_SQL
    ),
    "graph_greedy_walk_3steps": QuerySpec(
        graph_greedy_walk_3steps, GRAPH_GREEDY_WALK_3STEPS_SQL
    ),
    "multimodal_video_scene_cuts": QuerySpec(
        multimodal_video_scene_cuts, MULTIMODAL_VIDEO_SCENE_CUTS_SQL
    ),
    "str_char_class_histogram": QuerySpec(
        str_char_class_histogram, STR_CHAR_CLASS_HISTOGRAM_SQL
    ),
}
