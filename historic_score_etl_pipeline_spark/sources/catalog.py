"""Table catalog: typed landing-zone parquet sources.

The reference's "catalog" is a dict of 26 league names → scrape URLs
(``/root/reference/app/var.py:3-30``); each league is one partition of a
logical fixtures source.  The engine models sources as parquet tables read
through ``spark.read`` so Catalyst gets predicate pushdown, column pruning
and partition pruning for free (SURVEY.md §4.1).

At 100 TB these tables would be date/key-partitioned directories; the scan
API is identical, so the code below does not change — only the paths do.

Schema reuse: ``spark.read.parquet`` runs a one-task footer job to infer
the schema on every call.  :func:`load_table` remembers the schema Spark
inferred for a local path and reads an unchanged table with
``spark.read.schema(cached)``, which runs no job.  The key is the path,
its data-file set (relative name, size, mtime) and a hash of the
session's SQL conf, because conf changes what inference returns
(``spark.sql.parquet.inferTimestampNTZ.enabled`` turns a ``timestamp``
column into ``timestamp_ntz``).  A rewritten table or any conf change
infers again; a non-local or unlistable path is read plainly, so Spark's
own errors are unchanged.  Tables rewritten on every write
(``sinks/merge.committed``, the streaming dedup index,
:func:`stage_landing_zone`) stay out: their key would never repeat.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _ensure_conf(spark: SparkSession, key: str, value: str) -> None:
    """Pin a session conf the catalog's semantics depend on — loudly.

    Contract (documented here and in ARCHITECTURE.md): ``load_table``
    requires a UTC session timezone (timestamp→date truncation parity with
    the timezone-naive DuckDB oracle) and nanos-as-long parquet reads for
    ``events``.  The harness calls our queries with its own session, so we
    cannot rely on :func:`~historic_score_etl_pipeline_spark.session.get_spark`
    having run.  We therefore pin the conf, but never *silently*: when the
    caller's session already satisfies the requirement this is a no-op, and
    when it does not we emit a UserWarning naming the conf we changed so a
    host application embedding the library sees the mutation.
    """
    try:
        current = spark.conf.get(key, None)
    except Exception:  # conf key unknown to this Spark build
        current = None
    if current == value:
        return
    warnings.warn(
        f"historic_score_etl_pipeline_spark: pinning session conf {key}="
        f"{value!r} (was {current!r}) — required for oracle-parity "
        "timestamp semantics; see sources/catalog.py docstring",
        UserWarning,
        stacklevel=3,
    )
    spark.conf.set(key, value)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# path -> (key, schema Spark inferred under that key); one entry per path,
# so the cache is bounded by the number of tables read
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _files_stamp(path: str) -> tuple:
    """(relative name, size, mtime_ns) of every file under ``path``."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    out, dirs = [], [path]
    while dirs:
        with os.scandir(dirs.pop()) as it:
            for e in it:
                if e.is_dir():
                    dirs.append(e.path)
                else:
                    s = e.stat()
                    out.append((os.path.relpath(e.path, path), s.st_size, s.st_mtime_ns))
    return tuple(sorted(out))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that skips schema inference when the
    table and the session conf are as they were at the last inference."""
    # a URI may name a remote store, and a relative path resolves against
    # the JVM's working directory, which need not be this process's
    if not os.path.isabs(path):
        return spark.read.parquet(path)
    try:
        files = _files_stamp(path)
    except OSError:
        return spark.read.parquet(path)
    # one JVM call; spark.conf.getAll would copy every entry into Python
    conf = spark._jsparkSession.sessionState().conf().getAllConfs().hashCode()
    key = (files, conf)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table.  Plain ``spark.read.parquet`` — pushdown-friendly;
    an unchanged table reuses its inferred schema (module docstring).

    ``events.parquet`` is written with nanosecond timestamps, which the
    vectorized parquet reader rejects; we read nanos as long (runtime conf)
    and rebuild a microsecond timestamp column — the same truncation DuckDB
    applies when casting ns → its microsecond-precision TIMESTAMP, keeping
    oracle parity.

    The ``ts`` column is normalized to plain ``TIMESTAMP`` no matter how the
    caller's session reads the file.  Three ingestion shapes exist in the
    wild: (a) nanos-as-long → ``bigint`` (our sessions set the legacy conf),
    (b) ``timestamp[us]`` with no TZ metadata → ``TIMESTAMP_NTZ`` under
    Spark 4's ``spark.sql.parquet.inferTimestampNTZ.enabled`` (the harness
    session), (c) plain ``TIMESTAMP``.  The reference's date handling is
    wall-clock-naive throughout (``app/team_utilities.py:433``,
    ``app/ref_utilities.py:104``), so NTZ-as-UTC is the correct reading:
    under the pinned UTC session TZ the NTZ→TIMESTAMP cast is value-exact,
    and every downstream ``unix_micros(ts)`` call site sees one stable type.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    # Timestamp→date/bucket semantics must not depend on the caller's
    # session timezone (the harness brings its own session): parquet
    # instants render as UTC wall-clock, exactly how the timezone-naive
    # DuckDB oracle sees the same values.  No-op when already UTC; warns
    # when it must actually mutate the caller's session (see _ensure_conf).
    _ensure_conf(spark, "spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        _ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer `div`, not `/1000` double division: at ~1.7e18 ns a
            # double has 256 ns spacing, so float division truncates to the
            # WRONG microsecond for ~half the values
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Spark 4 NTZ inference (harness session): wall clock is UTC by
            # construction, and the session TZ is pinned UTC above, so this
            # cast is value-exact and restores the TIMESTAMP type every
            # downstream unix_micros()/cast-to-bigint call site requires.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Scan every catalog table (lazy — no jobs run until an action)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose the catalog to ``spark.sql`` as temp views."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def stage_landing_zone(
    spark: SparkSession, sf_dir: str, out_dir: str, splits: int = 32
) -> str:
    """Ingest: rewrite the landing zone into the engine's preferred layout.

    The driver's test parquet is one file with ONE row group per table, so
    a scan cannot parallelize below one task no matter the split size.
    Real deployments control their storage layout at load time (every
    TPC-style benchmark has an untimed load phase); this materializes each
    table as a ``splits``-file directory with identical rows and schema.
    At 100 TB the landing zone is already thousands of row-group-aligned
    files and this step is a no-op.

    Content-neutral: raw ``spark.read`` → ``repartition(splits)`` → write.
    ``events`` keeps its nanos-as-long ``ts`` column untouched so
    :func:`load_table` applies the same µs conversion either way.  Returns
    ``out_dir``; skips work when the staging marker is already present.
    """
    # Staleness guard: the staged copy lives in /tmp across harness
    # rounds, but the source testdata can be regenerated between rounds
    # (its timestamp physical type DID change once).  The marker stores a
    # signature of the source files; any size/mtime drift forces a
    # restage instead of silently benching stale data.
    sig = ";".join(
        f"{name}:{os.path.getsize(p)}:{int(os.path.getmtime(p))}"
        for name in TABLES
        for p in [os.path.join(sf_dir, f"{name}.parquet")]
        if os.path.exists(p)
    )
    marker = os.path.join(out_dir, "_STAGED")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == sig:
                return out_dir
    _ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in TABLES:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        # saturate the cores for any non-tiny table — rows are a poor proxy
        # for CPU weight (5k documents of text outweigh 600k lineitems)
        cnt = df.count()
        n = splits if cnt >= 10 * splits else max(1, cnt // 10)
        df.repartition(n).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
    with open(marker, "w") as f:
        f.write(sig)
    return out_dir
