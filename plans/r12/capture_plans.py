#!/usr/bin/env python
"""Capture plans for headline queries (guide §1) — round-12 edition.

Usage: python plans/r12/capture_plans.py <suffix> [name1,name2,...] [--executed]

Writes plans/r12/<query>_<suffix>.txt for each named headline query or
``flagship`` (all headline queries plus the flagship when no names are
given).  Each file holds the pre-execution ``explain("formatted")`` plan;
with ``--executed`` the query is additionally run and the post-AQE executed
plan (``queryExecution().executedPlan()``) is appended — the evidence that
runtime re-optimization (AQE coalescing, broadcast demotion) kept the
claimed shape.  Uses the same staged landing zone and split sizing as
bench.py so scan nodes match what the bench times.
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
sys.path.insert(0, REPO_ROOT)

from historic_score_etl_pipeline_spark import contract  # noqa: E402
from historic_score_etl_pipeline_spark.plans.flagship import flagship_pipeline  # noqa: E402
from historic_score_etl_pipeline_spark.session import get_spark  # noqa: E402
from historic_score_etl_pipeline_spark.sources.catalog import stage_landing_zone  # noqa: E402

import bench  # noqa: E402  (for HEADLINE)


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--executed"]
    executed = "--executed" in sys.argv[1:]
    suffix = args[0] if args else "before"
    names = args[1].split(",") if len(args) > 1 else bench.HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    import tempfile

    staged = os.path.join(
        tempfile.gettempdir(),
        f"hsep_bench_stage_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    sf_dir = stage_landing_zone(spark, sf_dir, staged)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(512 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", str(128 * 1024))

    qs = {**contract.queries(), "flagship": flagship_pipeline}
    out_dir = os.path.join(REPO_ROOT, "plans", "r12")
    if len(args) <= 1:
        names = names + ["flagship"]
    targets = [(n, lambda n=n: qs[n](spark, sf_dir)) for n in names]
    import io
    from contextlib import redirect_stdout

    for name, fn in targets:
        try:
            df = fn()
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            if executed:
                # run the DataFrame's own query execution: a noop write
                # plans a fresh one, leaving this plan at isFinalPlan=false
                df._jdf.queryExecution().toRdd().count()
                plan += "\n\n=== executed plan (post-AQE) ===\n"
                plan += df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR: {type(exc).__name__}: {exc}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{suffix}.txt")


if __name__ == "__main__":
    main()
