"""Custom Python DataSource: scraped match pages as a first-class source.

SURVEY.md §2A-A1/A2: the reference "scans" flashscore/worldfootball pages
with Selenium/BeautifulSoup into token lists (app/team_utilities.py:20-50,
app/ref_utilities.py:65-81).  The engine models the landed page dumps as a
real Spark table via the PySpark 4 DataSource API, so the raw token
streams join the catalog instead of living in driver-side Python:

* the sorted page files are packed into splits the way Spark packs small
  files (``MAX_SPLIT_BYTES`` per split, ``OPEN_COST_BYTES`` charged per
  file): a night's few small dumps are one Python task, because each
  Python task wave carries a fixed worker start-up cost that dwarfs
  parsing them, while a landing zone larger than one split still parses
  in parallel — the Spark-native replacement for the reference's serial
  per-league loop (app/team_utilities.py:376);
* record parsing runs inside the executors (the reference's tokenizer
  semantics: 6-field records, garbage rows dropped — the arity filter of
  app/team_utilities.py:417-420);
* ``pushFilters`` handles league equality / containment predicates at the
  source, so a pruned read never materializes non-matching rows — the
  DataSource-API form of predicate pushdown.

Usage::

    spark.dataSource.register(MatchPagesDataSource)
    df = (spark.read.format("match_pages")
          .option("path", landing_dir).load()
          .where(F.col("league") == "la-liga"))   # pushed to the source
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
    StringContains,
)

PAGE_SCHEMA = (
    "match_date string, league string, home_club string, away_club string, "
    "home_goal int, away_goal int"
)

_N_FIELDS = 6

# the defaults of spark.sql.files.maxPartitionBytes / openCostInBytes
MAX_SPLIT_BYTES = 128 * 1024 * 1024
OPEN_COST_BYTES = 4 * 1024 * 1024


def parse_page_tokens(tokens: Sequence[str]) -> Iterator[tuple]:
    """The reference's record assembly (app/team_utilities.py:76-88) made
    pure: consume a token stream in 6-field records; records whose goal
    fields aren't ints are dropped (cancelled matches — the arity/validity
    filter of app/team_utilities.py:417-420, try-int of :84)."""
    fields: list[str] = []
    for tok in tokens:
        tok = tok.strip()
        if not tok or tok == "Toon meer wedstrijden":  # B6 stop-word
            continue
        fields.append(tok)
        if len(fields) == _N_FIELDS:
            date, league, home, away, hg, ag = fields
            fields = []
            try:
                yield (date, league, home, away, int(hg), int(ag))
            except ValueError:
                continue  # cancelled/garbage record


class _PagePartition(InputPartition):
    def __init__(self, paths: list[str]):
        self.paths = paths


class MatchPagesReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("match_pages source requires option 'path'")
        self._league_eq: str | None = None
        self._league_contains: str | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept league equality/containment; everything else stays in
        the Spark plan (returned = unsupported)."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("league",):
                self._league_eq = f.value
            elif isinstance(f, StringContains) and f.attribute == ("league",):
                self._league_contains = f.value
            else:
                yield f

    def partitions(self) -> list[_PagePartition]:
        """Sorted page files packed in order: a file joins the current
        split unless it would push the split past ``MAX_SPLIT_BYTES``;
        each file also charges ``OPEN_COST_BYTES`` (Spark's
        ``FilePartition`` packing)."""
        files = sorted(
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.endswith(".txt")
        )
        splits: list[_PagePartition] = []
        current: list[str] = []
        size = 0
        for p in files:
            n = os.path.getsize(p)
            if current and size + n > MAX_SPLIT_BYTES:
                splits.append(_PagePartition(current))
                current, size = [], 0
            current.append(p)
            size += n + OPEN_COST_BYTES
        if current:
            splits.append(_PagePartition(current))
        return splits

    def read(self, partition: _PagePartition) -> Iterator[tuple]:
        for path in partition.paths:
            with open(path, encoding="utf-8") as fh:
                tokens = fh.read().replace("\n", ",").split(",")  # C1 tokenizer
            for row in parse_page_tokens(tokens):
                league = row[1]
                if self._league_eq is not None and league != self._league_eq:
                    continue
                if (
                    self._league_contains is not None
                    and self._league_contains not in league
                ):
                    continue
                yield row


class MatchPagesStreamReader(SimpleDataSourceStreamReader):
    """Streaming twin of the batch reader: the offset is an index into the
    lexicographically sorted file list, so each micro-batch reads exactly
    the files that landed since the last checkpointed offset — the
    continuous form of the reference's every-2-days scrape cadence
    (app/main.py:19).  Files must land with monotonically sorting names
    (ts-prefixed), the standard landing-zone contract."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("match_pages source requires option 'path'")

    def _files(self) -> list[str]:
        return sorted(f for f in os.listdir(self.path) if f.endswith(".txt"))

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def _rows(self, names: list[str]) -> Iterator[tuple]:
        for name in names:
            with open(os.path.join(self.path, name), encoding="utf-8") as fh:
                tokens = fh.read().replace("\n", ",").split(",")
            yield from parse_page_tokens(tokens)

    def read(self, start: dict):
        files = self._files()
        i = start["idx"]
        # materialized list, not a generator: Spark's prefetch cache
        # copy.copy()s the returned iterator
        return list(self._rows(files[i:])), {"idx": len(files)}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        files = self._files()
        return list(self._rows(files[start["idx"] : end["idx"]]))


class MatchPagesDataSource(DataSource):
    """``spark.read.format("match_pages")`` / ``spark.readStream.format(
    "match_pages")`` — scraped-page landing files as a parallel,
    filter-pushing batch source and an incrementally-offset stream."""

    @classmethod
    def name(cls) -> str:
        return "match_pages"

    def schema(self) -> str:
        return PAGE_SCHEMA

    def reader(self, schema) -> MatchPagesReader:
        return MatchPagesReader(self.options)

    def simpleStreamReader(self, schema) -> MatchPagesStreamReader:
        return MatchPagesStreamReader(self.options)
