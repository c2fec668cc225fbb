"""Sinks: retried idempotent writer + error channel (SURVEY.md §2A-A4,
§4.2).

The reference retries each league's Postgres load twice, parks failed
frames, unions and retries them at end of run, and accumulates error dicts
mailed to a human (app/team_utilities.py:510-554; app/main.py:24-47) —
with a bug where the final referee retry writes the wrong frame
(app/ref_utilities.py:240), which this engine deliberately does not
reproduce.

Spark-first restatement:

* task-level retries are Spark's job; the writer adds *batch-level*
  idempotence: each batch writes to a deterministic batch-id directory
  with overwrite mode, so a re-run replaces rather than duplicates
  (exactly-once per batch id — the ``foreachBatch`` discipline).
* the error side-channel is a DataFrame, not a global dict: failures are
  recorded as typed rows and written next to the data, queryable like
  anything else.
* JDBC parity: the same frame can be pointed at ``format("jdbc")`` with
  ``batchsize`` — kept behind an option so tests run on parquet.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

ERROR_SCHEMA = StructType(
    [
        StructField("context", StringType()),
        StructField("error", StringType()),
        StructField("batch_id", StringType()),
    ]
)


@dataclass
class ErrorChannel:
    """Typed replacement for the reference's global ``except_messgs`` dict
    (app/team_utilities.py:15)."""

    records: list[tuple[str, str, str]] = field(default_factory=list)

    def record(self, context: str, error: Exception | str, batch_id: str) -> None:
        self.records.append((context, str(error), batch_id))

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.records, ERROR_SCHEMA)

    def report(self) -> str:
        """The email-body fold (app/main.py:24-36) as a plain string."""
        return "\n".join(
            f"{ctx}: {err} [batch {bid}]" for ctx, err, bid in sorted(self.records)
        )


def format_error_email(
    team_errors: dict[str, str],
    ref_errors: dict[str, str],
    today: str,
    tomorrow: str,
) -> tuple[str, str]:
    """(subject, body) in the reference's EXACT email shape
    (app/main.py:24-43): header line + blank line, a ``Teams' Match
    History`` section and a ``Referee's History`` section, each entry as
    ``key: value`` — the LAST entry of each section followed by a blank
    line (the reference's last-item special case, app/main.py:27-29).

    The SMTP send itself (app/main.py:45-47) stays out of engine scope —
    this returns the message for whatever transport the deployment owns;
    insertion order of the dicts is preserved, like the reference's
    ``list(dict.keys())`` iteration."""
    subject = f"Error Logs for {today} and {tomorrow} Extraction."
    body = f"Error Logs for {today} and {tomorrow} Extraction.\n\n"
    body += "Teams' Match History\n"
    team_keys = list(team_errors)
    for item in team_keys:
        tail = "\n\n" if item == team_keys[-1] else "\n"
        body += f"{item}: {team_errors[item]}{tail}"
    body += "Referee's History\n"
    ref_keys = list(ref_errors)
    for item in ref_keys:
        tail = "\n\n" if item == ref_keys[-1] else "\n"
        body += f"{item}: {ref_errors[item]}{tail}"
    return subject, body


def retried_write(
    df: DataFrame,
    path: str,
    batch_id: str,
    errors: ErrorChannel | None = None,
    attempts: int = 2,
    partition_by: list[str] | None = None,
) -> bool:
    """Idempotent parquet write with bounded retries.

    Writes to ``{path}/batch_id={batch_id}`` in overwrite mode — re-running
    the same batch id replaces the directory instead of appending
    duplicates, which is what makes retry safe (the reference's
    ``to_sql(append)`` + retry can double-insert)."""
    target = f"{path}/batch_id={batch_id}"
    last_err: Exception | None = None
    for attempt in range(attempts):
        try:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(target)
            return True
        except Exception as e:  # noqa: BLE001
            last_err = e
            if errors is not None:
                errors.record(f"write attempt {attempt + 1} → {target}", e, batch_id)
            if attempt + 1 < attempts:
                time.sleep(0.1 * (attempt + 1))
    if errors is not None and last_err is not None:
        errors.record(f"write FAILED after {attempts} attempts → {target}", last_err, batch_id)
    return False


# The reference's Postgres DDL for its one table, column-for-column
# (app/team_utilities.py:345-358): seven VARCHARs and five JSONB documents.
# Spark's JDBC writer would default every StringType to TEXT; passing this
# mapping through ``createTableColumnTypes`` reproduces the exact dialect
# types when Spark itself creates the table.
HISTORIC_MATCH_COLUMN_TYPES: dict[str, str] = {
    "date": "VARCHAR(64)",
    "hometeam": "VARCHAR(256)",
    "awayteam": "VARCHAR(256)",
    "match_urls": "VARCHAR(1024)",
    "home_urls": "VARCHAR(1024)",
    "away_urls": "VARCHAR(1024)",
    "league": "VARCHAR(256)",
    "home_team_matches": "JSONB",
    "away_team_matches": "JSONB",
    "head2head_matches": "JSONB",
    "home_team_matchespattern": "JSONB",
    "away_team_matchespattern": "JSONB",
}


def column_types_ddl(column_types: dict[str, str]) -> str:
    """Render a ``createTableColumnTypes`` option value from a mapping.

    Postgres JSONB note (the reference's target dialect): Spark sends JSON
    documents as plain JDBC strings, and Postgres rejects implicit
    varchar→jsonb parameter binding unless the connection URL carries
    ``stringtype=unspecified`` — so a production Postgres URL looks like
    ``jdbc:postgresql://host/db?stringtype=unspecified``.  With that flag,
    ``to_json``-serialized columns land as real JSONB, matching the
    reference's ``json.dumps`` → ``to_sql`` path
    (app/team_utilities.py:323,365).  Embedded Derby (the CI database,
    tests/test_jdbc_sink.py) has no JSONB type, so tests exercise this
    plumbing with VARCHAR types; only the mapping values change per
    dialect.
    """
    return ", ".join(f"{name} {sql_type}" for name, sql_type in column_types.items())


def jdbc_write(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 10_000,
    column_types: dict[str, str] | None = None,
    **options: str,
) -> None:
    """JDBC sink parity with the reference's SQLAlchemy ``to_sql`` batch
    append (app/team_utilities.py:363-365; ``batchsize`` is the Spark twin
    of its "multiple rows at a time" batching, app/team_utilities.py:329).

    Integration-tested against embedded Apache Derby (on Spark's own
    classpath) in tests/test_jdbc_sink.py — a real ``format("jdbc")``
    write + read-back, including the append-mode double-insert hazard the
    reference's retry loop has (app/team_utilities.py:510-522) and this
    engine's parquet batch-id writer avoids.  Against a production
    Postgres only the url/driver options change."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    if column_types:
        writer = writer.option(
            "createTableColumnTypes", column_types_ddl(column_types)
        )
    writer.options(**options).mode(mode).save()
