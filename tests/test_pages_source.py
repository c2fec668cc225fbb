"""Custom DataSource gate (SURVEY.md §2A-A1/A2): scraped-page landing
files read as a parallel Spark source with source-side filter pushdown."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, StringContains

from historic_score_etl_pipeline_spark.sources.pages_source import (
    MatchPagesDataSource,
    MatchPagesReader,
    parse_page_tokens,
)

PAGE_A = """13.08. 20:30
la-liga
Real Madrid
Barcelona
2
1
14.08. 18:00
la-liga
Sevilla
Valencia
0
0
"""

# cancelled match: goals are not ints → record dropped
PAGE_B = """13.08. 21:00
serie-b
Parma
Bari
Geannuleerd
-
14.08. 19:30
serie-b
Como
Pisa
3
2
"""

# stop-word token + blank lines interleaved
PAGE_C = """Toon meer wedstrijden
15.08. 17:00
eredivisie
Ajax
PSV

1
4
"""


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    d = tmp_path_factory.mktemp("pages")
    for name, body in [("a.txt", PAGE_A), ("b.txt", PAGE_B), ("c.txt", PAGE_C)]:
        (d / name).write_text(body)
    return str(d)


def test_parse_page_tokens_drops_garbage():
    rows = list(parse_page_tokens(PAGE_B.replace("\n", ",").split(",")))
    assert rows == [("14.08. 19:30", "serie-b", "Como", "Pisa", 3, 2)]


def test_source_reads_all_pages_in_parallel(spark, landing):
    spark.dataSource.register(MatchPagesDataSource)
    df = spark.read.format("match_pages").option("path", landing).load()
    rows = {tuple(r) for r in df.collect()}
    assert rows == {
        ("13.08. 20:30", "la-liga", "Real Madrid", "Barcelona", 2, 1),
        ("14.08. 18:00", "la-liga", "Sevilla", "Valencia", 0, 0),
        ("14.08. 19:30", "serie-b", "Como", "Pisa", 3, 2),
        ("15.08. 17:00", "eredivisie", "Ajax", "PSV", 1, 4),
    }
    # small files pack into one split (MAX_SPLIT_BYTES / OPEN_COST_BYTES)
    assert df.rdd.getNumPartitions() == 1


def test_partitions_pack_sorted_files_up_to_the_budget(landing, monkeypatch):
    """Files past the split budget go to further splits, in name order."""
    import os

    from historic_score_etl_pipeline_spark.sources import pages_source

    a, b, c = (os.path.join(landing, f) for f in ("a.txt", "b.txt", "c.txt"))
    reader = MatchPagesReader({"path": landing})
    monkeypatch.setattr(pages_source, "OPEN_COST_BYTES", 0)
    monkeypatch.setattr(
        pages_source, "MAX_SPLIT_BYTES", os.path.getsize(a) + os.path.getsize(b)
    )
    assert [p.paths for p in reader.partitions()] == [[a, b], [c]]
    # a file over the budget still gets a split of its own
    monkeypatch.setattr(pages_source, "MAX_SPLIT_BYTES", 1)
    assert [p.paths for p in reader.partitions()] == [[a], [b], [c]]
    # the open cost alone can close a split
    monkeypatch.setattr(pages_source, "MAX_SPLIT_BYTES", 1000)
    monkeypatch.setattr(pages_source, "OPEN_COST_BYTES", 1000)
    assert [p.paths for p in reader.partitions()] == [[a], [b], [c]]


def test_source_filter_pushdown(spark, landing):
    spark.dataSource.register(MatchPagesDataSource)
    df = (
        spark.read.format("match_pages")
        .option("path", landing)
        .load()
        .where(F.col("league") == "la-liga")
    )
    assert df.count() == 2
    assert {r["home_club"] for r in df.collect()} == {"Real Madrid", "Sevilla"}


def test_stream_reads_incrementally_by_offset(spark, tmp_path):
    """Streaming form: first run reads the landed pages; a file added
    afterwards is picked up by a resumed run (same checkpoint) WITHOUT
    re-reading the old files — the offset is the sorted-file index."""
    spark.dataSource.register(MatchPagesDataSource)
    landing = tmp_path / "pages"
    landing.mkdir()
    (landing / "0001.txt").write_text(PAGE_A)
    (landing / "0002.txt").write_text(PAGE_B)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("match_pages")
            .option("path", str(landing))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out).count() == 3  # A: 2 rows, B: 1 valid row

    (landing / "0003.txt").write_text(PAGE_C)
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 4  # only PAGE_C's single row was appended
    assert got.where(F.col("league") == "eredivisie").count() == 1


def test_push_filters_partitions_supported_from_unsupported():
    reader = MatchPagesReader({"path": "/nonexistent"})
    supported_eq = EqualTo(("league",), "la-liga")
    supported_contains = StringContains(("league",), "liga")
    unsupported = GreaterThan(("home_goal",), 1)
    leftover = list(
        reader.pushFilters([supported_eq, supported_contains, unsupported])
    )
    assert leftover == [unsupported]
    assert reader._league_eq == "la-liga"
    assert reader._league_contains == "liga"
