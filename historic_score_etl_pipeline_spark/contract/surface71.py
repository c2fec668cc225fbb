"""Round-6 batch 78 — audio peak counting, overlapping-window UDTF,
map HOFs, correlated scalar subqueries, longest-increasing-run UDAF:

* ``multimodal_audio_peak_count`` — strict local maxima over REAL
  decoded WAV samples (the ``render_text_wav`` fixture family): per
  source, clip count, total samples, peak count and integer peak
  density (ppm of interior samples).  The naive onset detector whose
  SQL twin replays every sample from the text bytes.
* ``udtf_overlap_chunks`` — the 1→N table transform as an OVERLAPPING
  window chunker (width 16 words, stride 8): the standard LLM
  training-data chunking shape (context windows with 50% overlap),
  emitted Arrow-batched via ``mapInPandas``; disjoint chunking is
  ``udtf_explode_matches``.  Hash oracle replays the window arithmetic.
* ``hof_map_filter_values`` — the map higher-order trio:
  ``map_from_entries`` → ``map_filter`` (count ≥ 3) →
  ``transform_values`` (share in ppm of the user total) → explode back
  to rows.  The oracle replays relationally — maps are an engine
  surface, not a semantics change.
* ``subq_correlated_scalar_avg`` — orders strictly above their own
  customer's average order value, with the average compared by exact
  cross-multiplication (cents · n > Σcents) through TWO correlated
  scalar subqueries that Catalyst decorrelates into one aggregate
  join — no per-row re-scan (plan-asserted).
* ``udaf_longest_increasing_run`` — grouped-map UDAF
  (``applyInPandas``): longest strictly-increasing run of price cents
  per supplier in (shipdate, orderkey, linenumber) order; the oracle is
  the classic gaps-and-islands window replay — a REAL hash oracle for
  the J3 grouped-UDAF path.

Scale notes: audio peaks are one ``doc_rows`` pass with per-clip
reduction (|sources|-row output); the chunker is linear in words with
stride-bounded fan-out (≤ 2× token duplication, the documented overlap
cost); map HOFs run JVM-side on pre-aggregated |user×type| rows; the
correlated subqueries become ONE groupBy(custkey) aggregate joined
back (never a nested re-scan); the UDAF partitions by supplier —
per-group state is one (prev, run, best) triple.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.multimodal import (
    doc_rows,
    rendered_samples,
    single_byte_docs,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- audio peak count -------------------------------------------------------------------


def multimodal_audio_peak_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: clips, total samples, strict local maxima
    (s[j-1] < s[j] > s[j+1]) and integer peak density in ppm of the
    interior (n-2 per clip)."""

    def peaks(text):
        s = rendered_samples(text)
        n = len(s)
        pk = int(((s[1:-1] > s[:-2]) & (s[1:-1] > s[2:])).sum()) if n > 2 else 0
        return [(1, n, pk, max(n - 2, 0))]

    docs = single_byte_docs(load_table(spark, sf_dir, "documents"))
    schema = (
        "source string, n_clips long, n_samples long, n_peaks long, n_interior long"
    )
    return (
        doc_rows(docs, "source", peaks, schema)
        .groupBy("source")
        .agg(
            F.sum("n_clips").cast("long").alias("n_clips"),
            F.sum("n_samples").cast("long").alias("n_samples"),
            F.sum("n_peaks").cast("long").alias("n_peaks"),
            F.sum("n_interior").alias("_int"),
        )
        .select(
            "source",
            "n_clips",
            "n_samples",
            "n_peaks",
            F.expr("(n_peaks * 1000000) div _int")
            .cast("long")
            .alias("peak_density_ppm"),
        )
    )


MULTIMODAL_AUDIO_PEAK_COUNT_SQL = """
WITH dims AS (
  SELECT doc_id, source, text,
         strlen(text) AS nb,
         strlen(text) % 441 + 100 AS n
  FROM documents
  WHERE strlen(text) = length(text)
), samp AS (
  SELECT doc_id, source, n, t.j AS j,
         CASE WHEN nb = 0 THEN 0
              ELSE (ascii(substr(text, (t.j % nb) + 1, 1)) - 128) * 256 END
           AS s
  FROM dims, unnest(generate_series(0, n - 1)) AS t(j)
), lagged AS (
  SELECT doc_id, source, n, s,
         lag(s) OVER (PARTITION BY doc_id ORDER BY j) AS ps,
         lead(s) OVER (PARTITION BY doc_id ORDER BY j) AS ns
  FROM samp
), per_doc AS (
  SELECT doc_id, source, any_value(n) AS n,
         sum(CASE WHEN ps IS NOT NULL AND ns IS NOT NULL
                   AND s > ps AND s > ns THEN 1 ELSE 0 END) AS pk
  FROM lagged GROUP BY doc_id, source
)
SELECT source, CAST(count(*) AS BIGINT) AS n_clips,
       CAST(sum(n) AS BIGINT) AS n_samples,
       CAST(sum(pk) AS BIGINT) AS n_peaks,
       CAST(sum(pk) * 1000000 // sum(n - 2) AS BIGINT) AS peak_density_ppm
FROM per_doc GROUP BY source
"""


# --- overlapping-window chunker UDTF ------------------------------------------------------

_CHUNK_W, _CHUNK_STRIDE = 16, 8


def udtf_overlap_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per overlapping 16-word window (stride 8) of each
    document — the LLM context-window chunker; Arrow-batched 1→N."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("win_idx", LongType()),
            StructField("n_words", LongType()),
            StructField("chunk", StringType()),
        ]
    )

    def windows(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, lens, chunks = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = (text or "").split()
                for k, i in enumerate(range(0, max(len(words), 1), _CHUNK_STRIDE)):
                    w = words[i : i + _CHUNK_W]
                    ids.append(doc_id)
                    idxs.append(k)
                    lens.append(len(w))
                    chunks.append(" ".join(w))
            yield pd.DataFrame(
                {"doc_id": ids, "win_idx": idxs, "n_words": lens,
                 "chunk": chunks}
            )

    from historic_score_etl_pipeline_spark.operators.scale import (
        ensure_parallelism,
    )

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents"), "doc_id"
    ).select("doc_id", "text")
    return docs.mapInPandas(windows, out_schema)


UDTF_OVERLAP_CHUNKS_SQL = f"""
WITH w AS (
  -- coalesce to []: the Python chunker treats NULL text as zero words
  -- (one empty window), so the replay must not propagate a NULL list
  SELECT doc_id,
         coalesce(list_filter(string_split_regex(text, '\\s+'),
                              t -> t <> ''), []) AS ws
  FROM documents
), g AS (
  SELECT doc_id, ws,
         unnest(generate_series(
           0, CAST(ceil(greatest(len(ws), 1) / {_CHUNK_STRIDE}.0) AS BIGINT)
              - 1)) AS win_idx
  FROM w
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(win_idx AS BIGINT) AS win_idx,
       CAST(len(ws[win_idx * {_CHUNK_STRIDE} + 1 :
                   win_idx * {_CHUNK_STRIDE} + {_CHUNK_W}]) AS BIGINT)
         AS n_words,
       -- coalesce: DuckDB's array_to_string([]) is NULL, Python's
       -- ' '.join([]) is ''
       coalesce(array_to_string(ws[win_idx * {_CHUNK_STRIDE} + 1 :
                                   win_idx * {_CHUNK_STRIDE} + {_CHUNK_W}],
                                ' '), '')
         AS chunk
FROM g
"""


# --- map higher-order functions ------------------------------------------------------------


def hof_map_filter_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: event-type counts as a MAP, map_filter(count ≥ 3),
    transform_values(share ppm of the user total), explode to rows."""
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    m = cnt.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "cnt"))
        ).alias("m"),
        F.sum("cnt").cast("long").alias("t"),
    )
    kept = m.select(
        "user_id",
        "t",
        F.map_filter("m", lambda _k, v: v >= 3).alias("mk"),
    ).select(
        "user_id",
        F.transform_values(
            "mk", lambda _k, v: F.struct(
                v.alias("cnt"),
                ((v * 1000000) / F.col("t")).cast("long").alias("share_ppm"),
            )
        ).alias("mv"),
    )
    ex = kept.select("user_id", F.explode("mv").alias("event_type", "s"))
    return ex.select(
        "user_id",
        "event_type",
        F.col("s.cnt").alias("cnt"),
        F.col("s.share_ppm").alias("share_ppm"),
    )


HOF_MAP_FILTER_VALUES_SQL = """
WITH cnt AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT user_id, CAST(sum(cnt) AS BIGINT) AS t FROM cnt GROUP BY 1
)
SELECT c.user_id, c.event_type, c.cnt,
       CAST(c.cnt * 1000000 // t.t AS BIGINT) AS share_ppm
FROM cnt c JOIN tot t ON c.user_id = t.user_id
WHERE c.cnt >= 3
"""


# --- correlated scalar subqueries -------------------------------------------------------------


def subq_correlated_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders strictly above their customer's average order value —
    exact integer comparison (cents · n_orders > Σcents) via two
    correlated scalar subqueries, decorrelated by Catalyst."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_subq_corr_orders"
    )
    return spark.sql(
        """
        WITH o AS (
          SELECT o_orderkey, o_custkey,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM v_subq_corr_orders
        )
        SELECT o1.o_orderkey, o1.o_custkey, o1.cents
        FROM o o1
        WHERE o1.cents * (SELECT count(*) FROM o o2
                          WHERE o2.o_custkey = o1.o_custkey)
              > (SELECT sum(cents) FROM o o3
                 WHERE o3.o_custkey = o1.o_custkey)
        """
    )


SUBQ_CORRELATED_SCALAR_AVG_SQL = """
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT o1.o_orderkey, o1.o_custkey, o1.cents
FROM o o1
WHERE o1.cents * (SELECT count(*) FROM o o2
                  WHERE o2.o_custkey = o1.o_custkey)
      > (SELECT sum(cents) FROM o o3 WHERE o3.o_custkey = o1.o_custkey)
"""


# --- longest-increasing-run grouped UDAF -------------------------------------------------------


def udaf_longest_increasing_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDAF: per supplier, the longest strictly-increasing
    run of price cents in (shipdate, orderkey, linenumber) order —
    one (prev, run, best) triple of state per group."""
    from collections.abc import Iterator  # noqa: F401 — parity of imports

    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("l_suppkey", LongType()),
            StructField("n_rows", LongType()),
            StructField("longest_run", LongType()),
        ]
    )

    def longest(pdf: pd.DataFrame) -> pd.DataFrame:
        # Vectorized run detection (guide §4.2: hand whole batches to
        # numpy instead of looping rows in Python).  np.floor on float64
        # is the same IEEE op as math.floor per element, so cents are
        # bit-identical to the old per-row loop; a run's length at row i
        # is i − (index of its most recent non-increase), via a running
        # maximum over start indices.  A/B'd row-identical.
        import numpy as np

        pdf = pdf.sort_values(
            ["l_shipdate", "l_orderkey", "l_linenumber"]
        )
        c = np.floor(
            pdf["l_extendedprice"].to_numpy(dtype=np.float64) * 100 + 0.5
        ).astype(np.int64)
        n = len(c)
        if n == 0:
            best = 0
        else:
            idx = np.arange(n)
            is_start = np.ones(n, dtype=bool)
            is_start[1:] = c[1:] <= c[:-1]
            run_start = np.maximum.accumulate(np.where(is_start, idx, 0))
            best = int((idx - run_start + 1).max())
        return pd.DataFrame(
            {
                "l_suppkey": [int(pdf["l_suppkey"].iloc[0])],
                "n_rows": [n],
                "longest_run": [best],
            }
        )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
        "l_extendedprice",
    )
    return li.groupBy("l_suppkey").applyInPandas(longest, out_schema)


UDAF_LONGEST_INCREASING_RUN_SQL = """
WITH px AS (
  SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
  FROM lineitem
), flagged AS (
  SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, c,
         CASE WHEN c > lag(c) OVER (PARTITION BY l_suppkey
              ORDER BY l_shipdate, l_orderkey, l_linenumber)
              THEN 0 ELSE 1 END AS brk
  FROM px
), grps AS (
  SELECT l_suppkey,
         sum(brk) OVER (PARTITION BY l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS g
  FROM flagged
), runs AS (
  SELECT l_suppkey, g, CAST(count(*) AS BIGINT) AS run_len
  FROM grps GROUP BY 1, 2
)
SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey,
       CAST(sum(run_len) AS BIGINT) AS n_rows,
       CAST(max(run_len) AS BIGINT) AS longest_run
FROM runs GROUP BY 1
"""


QUERIES: dict[str, QuerySpec] = {
    "multimodal_audio_peak_count": QuerySpec(
        multimodal_audio_peak_count, MULTIMODAL_AUDIO_PEAK_COUNT_SQL
    ),
    "udtf_overlap_chunks": QuerySpec(
        udtf_overlap_chunks, UDTF_OVERLAP_CHUNKS_SQL
    ),
    "hof_map_filter_values": QuerySpec(
        hof_map_filter_values, HOF_MAP_FILTER_VALUES_SQL
    ),
    "subq_correlated_scalar_avg": QuerySpec(
        subq_correlated_scalar_avg, SUBQ_CORRELATED_SCALAR_AVG_SQL
    ),
    "udaf_longest_increasing_run": QuerySpec(
        udaf_longest_increasing_run, UDAF_LONGEST_INCREASING_RUN_SQL
    ),
}
