"""Round-6 batch 63 — BFS frontiers, audio frame features, resilient
and recursive scans, and interval-union time:

* ``graph_bfs_2hop`` — per-seed BFS frontier expansion over the
  co-order part graph (same edge builder as triangle/degree keys):
  seeds = top-3 degree nodes, exact min-distance tier sizes at hop 1
  and hop 2 from two keyed joins — no whole-graph broadcast.
* ``multimodal_audio_frame_rms`` — frame-level audio features over
  REAL RIFF/WAVE decode (64-sample frames: integer energy Σs², count,
  peak |s|); render_text_wav cycles text bytes into int16 samples, so
  the oracle replays every frame arithmetically — the audio codec
  path is end-to-end hash-oracled like the image path.
* ``scan_recursive_glob`` — recursiveFileLookup + pathGlobFilter:
  parquet staged under nested dirs with decoy .json siblings; only
  the globbed parquet contributes.
* ``scan_ignore_corrupt_files`` — a garbage ``.parquet`` planted in
  the staged dir; ignoreCorruptFiles must skip it and the aggregate
  must equal the clean data — the 100 TB "one bad file must not kill
  the job" discipline.
* ``event_interval_union_time`` — the sweep-line dual: total UNION
  time covered by the 30-min event intervals per type (Σ gap-lengths
  where running concurrency > 0) — interval dedup of time.

Scale notes: BFS frontiers stay node-keyed joins; audio framing is
Arrow-batched numpy, no shuffle; both scan keys are scan-side; the
union-time sweep partitions by event_type.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from historic_score_etl_pipeline_spark.contract import QuerySpec
from historic_score_etl_pipeline_spark.operators.graph import co_order_edges
from historic_score_etl_pipeline_spark.operators.multimodal import (
    doc_rows,
    rendered_samples,
    single_byte_docs,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

# --- 2-hop BFS frontiers -----------------------------------------------------------

_BFS_SEEDS = 3


def graph_bfs_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hop-1 / hop-2 tier sizes from the top-3-degree seeds."""
    edges = co_order_edges(load_table(spark, sf_dir, "lineitem"))
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    seeds = (
        deg.orderBy(F.col("deg").desc(), F.col("u"))
        .limit(_BFS_SEEDS)
        .select(F.col("u").alias("seed"))
    )
    d1 = (
        sym.join(F.broadcast(seeds), F.col("u") == F.col("seed"))
        .select("seed", F.col("v").alias("node"))
        .distinct()
        .where(F.col("node") != F.col("seed"))
    )
    d2 = (
        sym.join(d1.withColumnRenamed("node", "u"), ["u"])
        .select("seed", F.col("v").alias("node"))
        .distinct()
        .join(d1, ["seed", "node"], "left_anti")
        .where(F.col("node") != F.col("seed"))
    )
    return (
        d1.groupBy("seed")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hop1"))
        .join(
            d2.groupBy("seed").agg(F.count(F.lit(1)).cast("long").alias("n_hop2")),
            "seed",
            "left",
        )
        .select(
            F.col("seed").cast("long").alias("seed"),
            "n_hop1",
            F.coalesce("n_hop2", F.lit(0)).cast("long").alias("n_hop2"),
        )
    )


GRAPH_BFS_2HOP_SQL = f"""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
), sym AS (
  SELECT u, v FROM e UNION ALL SELECT v, u FROM e
), deg AS (
  SELECT u, count(*) AS deg FROM sym GROUP BY u
), seeds AS (
  SELECT u AS seed FROM deg ORDER BY deg DESC, u LIMIT {_BFS_SEEDS}
), d1 AS (
  SELECT DISTINCT s.seed, sym.v AS node
  FROM sym JOIN seeds s ON sym.u = s.seed
  WHERE sym.v <> s.seed
), d2 AS (
  SELECT DISTINCT d1.seed, sym.v AS node
  FROM sym JOIN d1 ON sym.u = d1.node
  WHERE sym.v <> d1.seed
    AND NOT EXISTS (SELECT 1 FROM d1 i
                    WHERE i.seed = d1.seed AND i.node = sym.v)
)
SELECT CAST(d1.seed AS BIGINT) AS seed,
       CAST(count(DISTINCT d1.node) AS BIGINT) AS n_hop1,
       CAST(coalesce(h2.n_hop2, 0) AS BIGINT) AS n_hop2
FROM d1
LEFT JOIN (SELECT seed, count(*) AS n_hop2 FROM d2 GROUP BY seed) h2
       ON d1.seed = h2.seed
GROUP BY d1.seed, h2.n_hop2
"""


# --- audio frame energy ------------------------------------------------------------

_FRAME = 64


def multimodal_audio_frame_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV decode → 64-sample frames → integer energy/peak per
    frame."""

    def frames(text):
        s = rendered_samples(text)
        for f in range(0, (len(s) + _FRAME - 1) // _FRAME):
            fr = s[f * _FRAME : (f + 1) * _FRAME]
            yield f, len(fr), int((fr * fr).sum()), int(np.abs(fr).max())

    docs = single_byte_docs(load_table(spark, sf_dir, "documents"))
    return doc_rows(
        docs,
        "doc_id",
        frames,
        "media_id long, frame_idx long, n_samples long, energy long, peak long",
    )


MULTIMODAL_AUDIO_FRAME_RMS_SQL = f"""
WITH dims AS (
  SELECT doc_id, text,
         strlen(text) AS nb,
         strlen(text) % 441 + 100 AS n
  FROM documents
  WHERE strlen(text) = length(text)
), samp AS (
  SELECT doc_id, t.j AS j, t.j // {_FRAME} AS frame_idx,
         CASE WHEN nb = 0 THEN 0
              ELSE (ascii(substr(text, (t.j % nb) + 1, 1)) - 128) * 256 END
           AS s
  FROM dims, unnest(generate_series(0, n - 1)) AS t(j)
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(s * s) AS BIGINT) AS energy,
       CAST(max(abs(s)) AS BIGINT) AS peak
FROM samp GROUP BY doc_id, frame_idx
"""


# --- recursive glob scan -----------------------------------------------------------


def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested dirs + decoy .json files; recursiveFileLookup with
    pathGlobFilter='*.parquet' must see exactly the parquet rows."""
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "recglob", sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    a = o.where(F.col("o_orderkey") % 2 == 0)
    b = o.where(F.col("o_orderkey") % 2 == 1)
    a.write.mode("overwrite").parquet(os.path.join(out, "region=a/depth2"))
    b.write.mode("overwrite").parquet(os.path.join(out, "region=b/depth2/depth3"))
    # decoys that the glob must exclude
    a.limit(5).write.mode("overwrite").json(os.path.join(out, "region=a/decoy"))
    back = (
        spark.read.schema("o_orderkey long, status string, cents long")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(out)
    )
    return back.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


SCAN_RECURSIVE_GLOB_SQL = """
SELECT o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders GROUP BY 1
"""


# --- corrupt-file tolerance --------------------------------------------------------


def scan_ignore_corrupt_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A planted garbage .parquet must be skipped by
    ignoreCorruptFiles; the aggregate equals the clean data."""
    from historic_score_etl_pipeline_spark.contract._staging import (
        app_scoped_dir,
    )

    out = app_scoped_dir(spark, "corrupt", sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    o.write.mode("overwrite").parquet(out)
    with open(os.path.join(out, "part-junk.parquet"), "wb") as f:
        f.write(b"NOT A PARQUET FILE \x00\x01\x02 definitely corrupt")
    back = (
        spark.read.schema("o_orderkey long, priority string, cents long")
        .option("ignoreCorruptFiles", "true")
        .parquet(out)
    )
    return back.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


SCAN_IGNORE_CORRUPT_FILES_SQL = """
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders GROUP BY 1
"""


# --- interval union time -----------------------------------------------------------

_UNION_MIN = 30


def event_interval_union_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total time covered by the union of 30-min event intervals per
    type: Σ(next_t − t) over sweep segments with concurrency > 0."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    bounds = ev.select(
        "event_type",
        F.col("event_id").cast("long").alias("event_id"),
        F.explode(
            F.array(
                F.struct(F.unix_micros("ts").alias("t"), F.lit(1).alias("d")),
                F.struct(
                    (
                        F.unix_micros("ts") + F.lit(_UNION_MIN * 60 * 1000000)
                    ).alias("t"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("b"),
    ).select(
        "event_type", "event_id", F.col("b.t").alias("t"), F.col("b.d").alias("d")
    )
    w = Window.partitionBy("event_type").orderBy("t", "d", "event_id")
    seg = bounds.select(
        "event_type",
        "t",
        F.sum("d").over(w).alias("conc"),
        F.lead("t", 1).over(w).alias("t_next"),
    )
    return seg.where(
        (F.col("conc") > 0) & F.col("t_next").isNotNull()
    ).groupBy("event_type").agg(
        F.sum(F.col("t_next") - F.col("t")).cast("long").alias("covered_us"),
        F.count(F.lit(1)).cast("long").alias("n_segments"),
    )


EVENT_INTERVAL_UNION_TIME_SQL = f"""
WITH bounds AS (
  SELECT event_type, event_id, epoch_us(ts) AS t, 1 AS d
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  UNION ALL
  SELECT event_type, event_id,
         epoch_us(ts) + {_UNION_MIN * 60 * 1000000}, -1
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
), seg AS (
  SELECT event_type, t,
         sum(d) OVER (PARTITION BY event_type
                      ORDER BY t, d, event_id) AS conc,
         lead(t) OVER (PARTITION BY event_type
                       ORDER BY t, d, event_id) AS t_next
  FROM bounds
)
SELECT event_type,
       CAST(sum(t_next - t) AS BIGINT) AS covered_us,
       CAST(count(*) AS BIGINT) AS n_segments
FROM seg WHERE conc > 0 AND t_next IS NOT NULL
GROUP BY event_type
"""


QUERIES: dict[str, QuerySpec] = {
    "graph_bfs_2hop": QuerySpec(graph_bfs_2hop, GRAPH_BFS_2HOP_SQL),
    "multimodal_audio_frame_rms": QuerySpec(
        multimodal_audio_frame_rms, MULTIMODAL_AUDIO_FRAME_RMS_SQL
    ),
    "scan_recursive_glob": QuerySpec(
        scan_recursive_glob, SCAN_RECURSIVE_GLOB_SQL
    ),
    "scan_ignore_corrupt_files": QuerySpec(
        scan_ignore_corrupt_files, SCAN_IGNORE_CORRUPT_FILES_SQL
    ),
    "event_interval_union_time": QuerySpec(
        event_interval_union_time, EVENT_INTERVAL_UNION_TIME_SQL
    ),
}
