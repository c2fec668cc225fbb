"""Round-6 batch 71 — named-window reuse, readability proxies, regex
HTML-table ingest, metric rank agreement, decade histograms (overflow
slots):

* ``sql_named_window_reuse`` — the SQL WINDOW clause: one named spec
  shared by rank / running sum (the ANSI default RANGE frame — the
  (date, key) ordering is unique so RANGE ≡ ROWS) / lead, and the
  plan must collapse to ONE Window exec (asserted in tests).
* ``text_readability_proxy`` — readability features per source: mean
  word length ×100 and pseudo-syllables (vowel groups) per word ppm —
  the Flesch-style signal computable on this corpus.
* ``scan_html_table_regex`` — the reference's natural habitat was
  scraped HTML tables (app/team_utilities.py DOM walks); here a
  staged ``<tr><td>…`` table is re-ingested with spark.read.text +
  regexp_extract — messy-markup parsing without an HTML library,
  lossless by fingerprint.
* ``embed_metric_rank_correlation`` — do inner-product and (negative)
  L2 rankings agree?  Spearman ρ per query vector over the corpus,
  EXACT: both sort keys are integers, ρ_ppm = 1e6 − 6Σd²·1e6 div
  (n(n²−1)) — the metric-choice diagnostic for an ANN stack.
* ``agg_decade_histogram`` — order totals bucketed by decimal decade
  via digit count (string length — integer, no libm log10), the
  log-scale money histogram.

Scale notes: the named window is one shuffle; readability and the
decade histogram are scan-side; the HTML re-ingest is splittable
line-oriented text; rank correlation broadcasts 5 query vectors and
ranks with two per-query windows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.sources.catalog import load_table
from historic_score_etl_pipeline_spark.operators.similarity import (
    micro_units,
    valid_vectors,
)

# --- named WINDOW clause reuse -------------------------------------------------------


def sql_named_window_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One named WINDOW spec feeding rank, running sum and lead."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_nw_orders")
    return spark.sql(
        """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               o_orderstatus,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    OVER w AS BIGINT) AS run_cents,
               CAST(lead(o_orderkey) OVER w AS BIGINT) AS next_key
        FROM v_nw_orders
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_orderdate, o_orderkey)
        """
    )


SQL_NAMED_WINDOW_REUSE_SQL = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       o_orderstatus,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            OVER w AS BIGINT) AS run_cents,
       CAST(lead(o_orderkey) OVER w AS BIGINT) AS next_key
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey)
"""


# --- readability proxy ---------------------------------------------------------------


def text_readability_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: mean word length ×100 and vowel-group
    (pseudo-syllable) rate per word ppm."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
        ).alias("w"),
    )
    syl = F.size(
        F.regexp_extract_all(F.col("w"), F.lit("[aeiouy]+"), 0)
    ).cast("long")
    staged = toks.select("source", "w", syl.alias("syl"))
    return staged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.expr("sum(length(w)) * 100 div count(*)")
        .cast("long")
        .alias("avg_word_len_x100"),
        F.expr("sum(syl) * 1000000 div count(*)")
        .cast("long")
        .alias("syllables_per_word_ppm"),
    )


TEXT_READABILITY_PROXY_SQL = """
WITH toks AS (
  SELECT source, u.w AS w
  FROM (SELECT source,
               list_transform(
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> ''), x -> {'w': x}) AS e
        FROM documents), unnest(e) AS t(u)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(w)) * 100 // count(*) AS BIGINT)
         AS avg_word_len_x100,
       CAST(sum(len(regexp_extract_all(w, '[aeiouy]+'))) * 1000000
            // count(*) AS BIGINT) AS syllables_per_word_ppm
FROM toks GROUP BY source
"""


# --- regex HTML-table ingest ---------------------------------------------------------


def scan_html_table_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage orders as <tr><td> rows, re-ingest with read.text +
    regexp_extract — the library-free scraped-table parser
    (reference parity: app/team_utilities.py DOM table walks)."""
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "htmltable", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    row_html = F.concat(
        F.lit("<tr><td>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</td><td>"),
        F.col("o_orderstatus"),
        F.lit("</td><td>"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .cast("string"),
        F.lit("</td></tr>"),
    )
    o.select(row_html.alias("value")).write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    pat = r"<tr><td>(\d+)</td><td>([A-Z])</td><td>(\d+)</td></tr>"
    parsed = raw.select(
        F.regexp_extract("value", pat, 1).cast("long").alias("o_orderkey"),
        F.regexp_extract("value", pat, 2).alias("status"),
        F.regexp_extract("value", pat, 3).cast("long").alias("cents"),
    ).where(F.col("o_orderkey").isNotNull())
    return parsed.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )


SCAN_HTML_TABLE_REGEX_SQL = """
SELECT o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders GROUP BY 1
"""


# --- metric rank agreement -----------------------------------------------------------

_RC_NQ = 5


def embed_metric_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman ρ between inner-product and negative-L2 rankings per
    query — both sort keys integer-exact, ρ in exact ppm.  Malformed
    (NULL or NULL-element) embeddings are quarantined on BOTH engines
    (similarity.py gate): un-gated, a NULL distance would rank NULLS
    FIRST under Spark ASC but NULLS LAST under DuckDB ASC, and a NULL
    ELEMENT diverges outright (list_sum skips it, F.aggregate
    propagates)."""
    emb = valid_vectors(load_table(spark, sf_dir, "embeddings"))
    fx = micro_units("embedding")
    q = emb.where(F.col("vec_id") < _RC_NQ).select(
        F.col("vec_id").alias("q_id"), fx.alias("qv")
    )
    c = emb.where(F.col("vec_id") >= _RC_NQ).select(
        F.col("vec_id").alias("c_id"), fx.alias("cv")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    l2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = c.crossJoin(F.broadcast(q)).select(
        "q_id", "c_id", dot.alias("dp"), l2.alias("dl")
    )
    wd = Window.partitionBy("q_id").orderBy(F.col("dp").desc(), "c_id")
    wl = Window.partitionBy("q_id").orderBy(F.col("dl").asc(), "c_id")
    ranked = pairs.select(
        "q_id",
        "c_id",
        F.row_number().over(wd).cast("long").alias("rd"),
        F.row_number().over(wl).cast("long").alias("rl"),
    )
    # Σd² and n·(n²−1) are both CUBIC in the per-query candidate count,
    # so the ratio runs in DECIMAL(38,0)/HUGEINT (int64 dies past ~2.1M
    # candidates per query); raw sum_d2 stays BIGINT for the stable
    # contract schema via try_cast on BOTH engines (degrades to NULL
    # identically, the surface55 pattern).  Found by the r8 2-factor
    # agg·agg extension of the int-product audit.
    return ranked.groupBy(F.col("q_id").cast("long").alias("q_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            (F.col("rd") - F.col("rl")).cast("decimal(38,0)")
            * (F.col("rd") - F.col("rl"))
        )
        .try_cast("long")
        .alias("sum_d2"),
        F.expr(
            "1000000 - (6 * sum(CAST(rd - rl AS DECIMAL(38,0)) * (rd - rl))"
            " * 1000000)"
            " div (CAST(count(*) AS DECIMAL(38,0)) * count(*) * count(*)"
            " - count(*))"
        )
        .cast("long")
        .alias("spearman_ppm"),
    )


EMBED_METRIC_RANK_CORRELATION_SQL = f"""
WITH fx AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS v
  FROM embeddings
  -- quarantine gate: malformed vectors excluded (similarity.py)
  WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
), pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         list_sum(list_transform(q.v, (x, i) -> x * c.v[i])) AS dp,
         list_sum(list_transform(q.v, (x, i) ->
           (x - c.v[i]) * (x - c.v[i]))) AS dl
  FROM fx q JOIN fx c ON q.vec_id < {_RC_NQ} AND c.vec_id >= {_RC_NQ}
), ranked AS (
  SELECT q_id, c_id,
         row_number() OVER (PARTITION BY q_id ORDER BY dp DESC, c_id)
           AS rd,
         row_number() OVER (PARTITION BY q_id ORDER BY dl ASC, c_id)
           AS rl
  FROM pairs
)
SELECT CAST(q_id AS BIGINT) AS q_id,
       CAST(count(*) AS BIGINT) AS n,
       TRY_CAST(sum(CAST(rd - rl AS HUGEINT) * (rd - rl)) AS BIGINT)
         AS sum_d2,
       CAST(1000000 - (6 * sum(CAST(rd - rl AS HUGEINT) * (rd - rl))
            * 1000000)
            // (CAST(count(*) AS HUGEINT) * count(*) * count(*)
                - count(*)) AS BIGINT)
         AS spearman_ppm
FROM ranked GROUP BY q_id
"""


# --- decimal decade histogram --------------------------------------------------------


def agg_decade_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order totals bucketed by decimal decade: digits(cents) − 1 via
    string length — integer, no libm log10."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    decade = (F.length(cents.cast("string")) - 1).cast("long")
    return (
        o.select(decade.alias("decade"), cents.alias("c"))
        .groupBy("decade")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("c").cast("long").alias("min_cents"),
            F.max("c").cast("long").alias("max_cents"),
        )
    )


AGG_DECADE_HISTOGRAM_SQL = """
WITH c AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c FROM orders
)
SELECT CAST(length(CAST(c AS VARCHAR)) - 1 AS BIGINT) AS decade,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(min(c) AS BIGINT) AS min_cents,
       CAST(max(c) AS BIGINT) AS max_cents
FROM c GROUP BY 1
"""


QUERIES: dict[str, QuerySpec] = {
    "sql_named_window_reuse": QuerySpec(
        sql_named_window_reuse, SQL_NAMED_WINDOW_REUSE_SQL
    ),
    "text_readability_proxy": QuerySpec(
        text_readability_proxy, TEXT_READABILITY_PROXY_SQL
    ),
    "scan_html_table_regex": QuerySpec(
        scan_html_table_regex, SCAN_HTML_TABLE_REGEX_SQL
    ),
    "embed_metric_rank_correlation": QuerySpec(
        embed_metric_rank_correlation, EMBED_METRIC_RANK_CORRELATION_SQL
    ),
    "agg_decade_histogram": QuerySpec(
        agg_decade_histogram, AGG_DECADE_HISTOGRAM_SQL
    ),
}
