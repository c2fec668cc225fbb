"""Round-6 batch 57 — URL structure, outer-explode NULL semantics,
business-day arithmetic, RAKE keyword extraction, and BY-NAME union:

* ``str_parse_url_parts`` — compose a canonical product URL per order
  then take it apart again with ``parse_url`` (HOST / PATH / a named
  QUERY parameter / REF) — the scrape-side inverse of
  ``project_concat_url`` (reference builds match URLs the same way,
  app/team_utilities.py:423-430).
* ``array_explode_outer_null`` — ``posexplode_outer`` row-preservation:
  documents whose long-token array is EMPTY must survive with NULL
  (pos, token); the DuckDB twin models outer-unnest as unnesting a
  ``[NULL]`` sentinel for empty arrays.
* ``date_business_days`` — weekday count between order and ship date
  in CLOSED FORM (W(d) = 5·⌊m/7⌋ + min(m mod 7, 5) on Monday-aligned
  day numbers, weekdays in [d1,d2) = W(d2) − W(d1)) — no per-row date
  sequence materialization, scan-side arithmetic only.
* ``text_rake_phrases`` — RAKE-style keyword extraction: phrases are
  maximal stopword-free token runs (running stop-count segmentation),
  word score = Σdeg·1000 div freq over phrase instances
  (deg(w) += phrase length per containing instance), phrase score =
  the sum over its word instances; top 20 (score desc, phrase asc).
* ``setop_union_by_name`` — schema-aligning union: events and orders
  project DIFFERENT column sets; unionByName(allowMissingColumns)
  null-fills each side (DuckDB: UNION ALL BY NAME).

Scale notes: URL parse / explode / business days are scan-side; RAKE
shuffles on doc (segmentation window), (doc, gid) (phrase agg), and
word (corpus stats) — each keyed, no all-pairs anywhere; the BY-NAME
union is a zero-shuffle concatenation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.pins import pin
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- URL composition + parse_url ---------------------------------------------------


def str_parse_url_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: build a URL per order, then parse_url it back into
    host / path / named query param / fragment."""
    o = load_table(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://shop.example.com:8443/cat/"),
        F.lower(F.regexp_replace(F.col("o_orderpriority"), r"[^A-Za-z0-9]+", "-")),
        F.lit("/item?id="),
        F.col("o_orderkey").cast("string"),
        F.lit("&st="),
        F.col("o_orderstatus"),
        F.lit("#frag"),
    )
    return o.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("st")).alias("q_st"),
        F.parse_url(url, F.lit("REF")).alias("fragment"),
    )


STR_PARSE_URL_PARTS_SQL = """
WITH built AS (
  SELECT o_orderkey,
         'https://shop.example.com:8443/cat/'
         || lower(regexp_replace(o_orderpriority, '[^A-Za-z0-9]+', '-', 'g'))
         || '/item?id=' || CAST(o_orderkey AS VARCHAR)
         || '&st=' || o_orderstatus || '#frag' AS url
  FROM orders
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       url,
       regexp_extract(url, '^[a-z]+://([^/?#]+?)(?::[0-9]+)?[/?#]', 1)
         AS host,
       regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
       regexp_extract(url, '[?&]st=([^&#]*)', 1) AS q_st,
       regexp_extract(url, '#(.*)$', 1) AS fragment
FROM built
"""


# --- posexplode_outer NULL preservation --------------------------------------------

_LONG_TOK = 8


def array_explode_outer_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs with NO long tokens (≥ 8 chars) must survive the explode
    with NULL pos/token — posexplode_outer semantics."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"),
        lambda x: F.length(x) >= _LONG_TOK,
    )
    return (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), toks.alias("t"))
        .select("doc_id", F.posexplode_outer("t").alias("pos", "token"))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            "token",
        )
    )


ARRAY_EXPLODE_OUTER_NULL_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> length(x) >= {_LONG_TOK}) AS t
  FROM documents
), sent AS (
  SELECT doc_id,
         -- coalesce: a NULL token array (NULL text) must also keep its
         -- row, exactly like Spark's posexplode_outer on a NULL array
         CASE WHEN coalesce(len(t), 0) = 0
              THEN [{{'i': CAST(NULL AS BIGINT), 'x': CAST(NULL AS VARCHAR)}}]
              ELSE list_transform(t, (x, i) ->
                     {{'i': CAST(i - 1 AS BIGINT), 'x': x}}) END AS e
  FROM toks
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       u.i AS pos, u.x AS token
FROM sent, unnest(e) AS t(u)
"""


# --- closed-form business-day counting ---------------------------------------------


def date_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekdays in [o_orderdate, l_shipdate) per priority bucket —
    W(d2) − W(d1) closed form, no date-sequence arrays."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )

    def _w(col):
        # m: days since Monday 1969-12-29 (unix_date(Thu 1970-01-01)=0)
        m = F.unix_date(F.to_date(col)) + F.lit(3)
        return F.lit(5) * F.floor(m / 7).cast("long") + F.least(
            m % 7, F.lit(5)
        ).cast("long")

    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).where(
        F.to_date("l_shipdate") >= F.to_date("o_orderdate")
    )
    bd = (_w(F.col("l_shipdate")) - _w(F.col("o_orderdate"))).alias("bd")
    per_line = j.select("o_orderpriority", bd)
    return per_line.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("bd").cast("long").alias("sum_bdays"),
        F.min("bd").cast("long").alias("min_bdays"),
        F.max("bd").cast("long").alias("max_bdays"),
    )


DATE_BUSINESS_DAYS_SQL = """
WITH j AS (
  SELECT o_orderpriority,
         CAST(CAST(l_shipdate AS DATE) - DATE '1969-12-29' AS BIGINT) AS m2,
         CAST(CAST(o_orderdate AS DATE) - DATE '1969-12-29' AS BIGINT) AS m1
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)
), bd AS (
  SELECT o_orderpriority,
         (5 * (m2 // 7) + least(m2 % 7, 5))
         - (5 * (m1 // 7) + least(m1 % 7, 5)) AS bd
  FROM j
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(bd) AS BIGINT) AS sum_bdays,
       CAST(min(bd) AS BIGINT) AS min_bdays,
       CAST(max(bd) AS BIGINT) AS max_bdays
FROM bd GROUP BY o_orderpriority
"""


# --- RAKE-style keyword extraction -------------------------------------------------

_RAKE_STOPS = ("a", "the")
_RAKE_TOPK = 20


def text_rake_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal stopword-free runs scored by Σ(deg·1000 div freq) over
    word instances; top 20 phrases (score desc, phrase asc)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(
            F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
        ).alias("pos", "w"),
    )
    stop = F.col("w").isin(*_RAKE_STOPS)
    wseg = Window.partitionBy("doc_id").orderBy("pos")
    seg = toks.select(
        "doc_id",
        "pos",
        "w",
        F.sum(F.when(stop, 1).otherwise(0)).over(wseg).alias("gid"),
        stop.alias("is_stop"),
    ).where(~F.col("is_stop"))
    # r11 rework, same rows: aggregate each run ONCE into (phrase, plen,
    # word array) and pin it — the old shape re-ran the posexplode +
    # window-sort subtree for every consumer (5 scan replays in the plan
    # audit: seg fed phrases AND wi, phrases fed wi AND the final join).
    # Word instances are re-derived by exploding the pinned runs (order
    # inside a run is irrelevant to wstats/pscore sums); plen =
    # size(ws) == the old count(*).  Measured: 1.51 s → 1.34 s at sf0.1,
    # ordered rows identical.
    runs = (
        seg.groupBy("doc_id", "gid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ).alias("ws")
        )
        .select(
            "doc_id",
            "gid",
            F.concat_ws(" ", "ws").alias("phrase"),
            F.size("ws").cast("long").alias("plen"),
            "ws",
        )
    )
    runs = pin(runs)
    wi = runs.select("doc_id", "gid", "plen", F.explode("ws").alias("w"))
    wstats = wi.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    )
    scored_wi = wi.join(F.broadcast(wstats), "w").select(
        "doc_id", "gid", F.expr("deg * 1000 div freq").alias("wscore")
    )
    pscore = scored_wi.groupBy("doc_id", "gid").agg(
        F.sum("wscore").cast("long").alias("score")
    )
    return (
        runs.select("doc_id", "gid", "phrase").join(pscore, ["doc_id", "gid"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occ"),
            F.max("score").cast("long").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("phrase"))
        .limit(_RAKE_TOPK)
    )


TEXT_RAKE_PHRASES_SQL = f"""
WITH toks AS (
  SELECT doc_id, u.i - 1 AS pos, u.x AS w
  FROM (SELECT doc_id,
               list_transform(
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> ''),
                 (x, i) -> {{'i': i, 'x': x}}) AS e
        FROM documents), unnest(e) AS t(u)
), seg AS (
  SELECT doc_id, pos, w,
         sum(CASE WHEN w IN ('a', 'the') THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS gid
  FROM toks
  QUALIFY w NOT IN ('a', 'the')
), phrases AS (
  SELECT doc_id, gid,
         string_agg(w, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM seg GROUP BY doc_id, gid
), wi AS (
  SELECT s.doc_id, s.gid, s.w, p.plen
  FROM seg s JOIN phrases p ON s.doc_id = p.doc_id AND s.gid = p.gid
), wstats AS (
  SELECT w, count(*) AS freq, sum(plen) AS deg
  FROM wi GROUP BY w
), pscore AS (
  SELECT wi.doc_id, wi.gid,
         CAST(sum((ws.deg * 1000) // ws.freq) AS BIGINT) AS score
  FROM wi JOIN wstats ws ON wi.w = ws.w
  GROUP BY wi.doc_id, wi.gid
)
SELECT p.phrase,
       CAST(count(*) AS BIGINT) AS n_occ,
       CAST(max(s.score) AS BIGINT) AS score
FROM phrases p JOIN pscore s ON p.doc_id = s.doc_id AND p.gid = s.gid
GROUP BY p.phrase
ORDER BY score DESC, phrase
LIMIT {_RAKE_TOPK}
"""


# --- BY-NAME union with missing columns --------------------------------------------


def setop_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity feed: events and orders project different columns;
    unionByName(allowMissingColumns) null-fills each side."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    a = ev.select(
        F.col("event_id").cast("long").alias("rec_id"),
        F.lit("events").alias("src"),
        F.col("event_type").alias("kind"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.col("user_id").cast("long").alias("user_id"),
    )
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_orderkey").cast("long").alias("rec_id"),
        F.lit("orders").alias("src"),
        F.col("o_orderstatus").alias("kind"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.col("o_orderpriority").alias("priority"),
    )
    return a.unionByName(b, allowMissingColumns=True)


SETOP_UNION_BY_NAME_SQL = """
SELECT CAST(event_id AS BIGINT) AS rec_id,
       'events' AS src,
       event_type AS kind,
       CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(NULL AS VARCHAR) AS priority
FROM events WHERE value IS NOT NULL
UNION ALL BY NAME
SELECT CAST(o_orderkey AS BIGINT) AS rec_id,
       'orders' AS src,
       o_orderstatus AS kind,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
       o_orderpriority AS priority
FROM orders
"""


QUERIES: dict[str, QuerySpec] = {
    "str_parse_url_parts": QuerySpec(str_parse_url_parts, STR_PARSE_URL_PARTS_SQL),
    "array_explode_outer_null": QuerySpec(
        array_explode_outer_null, ARRAY_EXPLODE_OUTER_NULL_SQL
    ),
    "date_business_days": QuerySpec(date_business_days, DATE_BUSINESS_DAYS_SQL),
    "text_rake_phrases": QuerySpec(text_rake_phrases, TEXT_RAKE_PHRASES_SQL),
    "setop_union_by_name": QuerySpec(setop_union_by_name, SETOP_UNION_BY_NAME_SQL),
}
