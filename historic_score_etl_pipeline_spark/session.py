"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]`` single-JVM; the conf below is written so the
same code lands well on a 1000-executor cluster: AQE owns runtime shuffle
partitioning (coalesce + skew-split), broadcast threshold is explicit, and
Arrow is on for the few Pandas-UDF operators.

Two confs concern the Python workers:

* ``spark.python.daemon.module`` names ``worker_daemon``, so Python workers
  fork from a daemon in which a zip importer re-reads pyspark.zip or the
  spark-core jar only when the archive changed, instead of before every
  task (~0.2 s per Python task on CPython 3.11).
* ``spark.executorEnv.PYTHONPATH`` is the package's parent directory, so
  workers import that daemon and the engine's Arrow kernels from where
  this driver imported them, whatever the JVM's cwd is.  Spark puts the
  entry after its own paths and before the driver process's
  ``PYTHONPATH``.

Note: library code in this package must NOT depend on these confs — the
driver harness calls our queries with its own session, whose workers run
the stock ``pyspark.daemon``.  The factory exists for our own tests,
bench.py, and interactive use.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "historic-score-etl-pipeline-spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalesce of shuffle partitions, skew-join splitting,
        # broadcast demotion — the 100 TB safety net.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Static shuffle parallelism before AQE coalesces; sized to local CPUs
        # here, would be ~2-3x total cores on a real cluster.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # Arrow for pandas_udf / mapInPandas / toPandas boundaries.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Source-side predicate pushdown for Python DataSources (the
        # match_pages scraped-page source implements pushFilters).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Keep 128 MB scan splits (parquet row-group aligned) — default, but
        # pinned explicitly because bench timings depend on it.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Broadcast anything under 32 MB — all dims in this schema qualify.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Deterministic session timezone so timestamp parity with the DuckDB
        # oracle does not depend on the host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Python workers: see the module docstring.
        .config("spark.python.daemon.module",
                "historic_score_etl_pipeline_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    return builder.getOrCreate()
