#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload nightly_refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout that holds the engine package.  Builds
its inputs from ``--seed``, starts one ``local[N]`` session (N = min(4,
cores)), sets up, warms up with one iteration, then runs closed-loop
iterations for ``--seconds`` seconds, checking every output.  The last
line of stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced iterations and reports the per-layer metrics (span
self times, counts, Spark counters, tracing overhead).  Everything the
run writes stays under ``.perfbench_work/`` in the checkout and is
removed at exit; traced runs also leave their spans in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "historic_score_etl_pipeline_spark"

# (name, unit) — the order BENCHMARK.json lists them in
END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("peak_rss_mb", "MB"),
    ("out_bytes_per_in_byte", "B/B"),
]
# measured like the end-to-end metrics (untraced iterations) but too noisy
# between runs on a shared 4-core host to carry a bound: reported per layer
DEMOTED = [("task_s", "s"), ("arrival_p50_s", "s"), ("arrival_p90_s", "s")]

# span name → self-time metric
SPAN_METRICS = {
    "sources.pages": "sources.pages_s",
    "sources.scan": "sources.scan_s",
    "plans.flagship": "plans.flagship_s",
    "plans.referee": "plans.referee_s",
    "sinks.merge": "sinks.merge_s",
    "sinks.write": "sinks.write_s",
    "operators.dedup.exact": "operators.dedup.exact_s",
    "contract.dedup_e2e": "contract.dedup_e2e_s",
    "operators.text.quality": "operators.text.quality_s",
    "operators.dedup.decontam": "operators.dedup.decontam_s",
    "contract.pack": "contract.pack_s",
    "operators.similarity.semdedup": "operators.similarity.semdedup_s",
    "streaming.arrival": "streaming.arrival_s",
}
PER_LAYER = (
    DEMOTED
    + [("session.start_s", "s")]
    + [(m, "s") for m in SPAN_METRICS.values()]
    + [
        ("bench.self_s", "s"),
        ("trace.overhead_s", "s"),
        ("sources.pages_kept_ratio", "ratio"),
        ("plans.rows_out", "count"),
        ("sinks.files_written", "count"),
        ("sinks.bytes_written", "B"),
        ("sinks.retries", "count"),
        ("operators.dedup.flagged_pairs", "count"),
        ("operators.pins.pinned_mb", "MB"),
        ("streaming.index_rows", "count"),
        ("streaming.index_files", "count"),
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("spark.task_s", "s"),
        ("spark.shuffle_write_mb", "MB"),
        ("spark.spill_mb", "MB"),
        ("spark.gc_s", "s"),
        ("spark.failed_tasks", "count"),
    ]
)
GEN_REPEATS = 3


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    checkout's work directory before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("SPARK_DRIVER_MEM", None)  # the session's default heap
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the status store keeps this many finished stages/jobs; spans
        # read it incrementally, so it only needs to outlast one span
        "spark.ui.retainedStages": "5000",
        "spark.ui.retainedJobs": "5000",
    }
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    # committed (not touched) heap and a fixed young generation: with G1's
    # adaptive heap and young sizing, peak RSS spread ~20% between runs
    java = f"-Djava.io.tmpdir={tmp} -Xms4g -Xmn1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'{args} --driver-java-options "{java}" pyspark-shell')


def quiet(spark) -> None:
    """ERROR log level, and the DAGScheduler's post-query 'Failed to
    update accumulator' race (a straggler task reporting SQL metrics
    after the next query GC'd them) silenced as noise."""
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler",
        jvm.org.apache.logging.log4j.Level.FATAL,
    )


def stop_spark(spark) -> None:
    """Stop the session, close the JVM gateway and wait for every child
    process (JVM, Python workers) to end."""
    from pyspark import SparkContext

    from spans import alive, children_of

    # taken before the stop: once the JVM exits, its Python workers are
    # re-parented and no longer show up as our descendants
    procs = children_of(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while any(map(alive, procs)) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in filter(alive, procs):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while any(map(alive, procs)) and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default)."""
    s = sorted(values)
    k = (len(s) - 1) * q
    lo, hi = int(k), min(int(k) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def layer_metrics(tracer, run_id: str, it, start_s: float) -> dict[str, float]:
    self_t = tracer.self_times(run_id)
    out = {m: self_t.get(span, 0.0) for span, m in SPAN_METRICS.items()}
    out["session.start_s"] = start_s
    out["bench.self_s"] = self_t.get("run", 0.0) + self_t.get("night", 0.0)
    landed = it.counts.get("pages_landed", 0)
    out["sources.pages_kept_ratio"] = (
        tracer.totals(run_id, "pages_kept") / landed if landed else 0.0)
    out["plans.rows_out"] = tracer.totals(run_id, "rows_out")
    out["sinks.files_written"] = it.counts.get("sink_files", 0)
    out["sinks.bytes_written"] = it.counts.get("sink_bytes", 0)
    out["sinks.retries"] = it.counts.get("retries", 0)
    out["operators.dedup.flagged_pairs"] = it.counts.get("flagged_pairs", 0)
    out["operators.pins.pinned_mb"] = it.counts.get("pinned_mb", 0.0)
    out["streaming.index_rows"] = it.counts.get("index_rows", 0)
    out["streaming.index_files"] = it.counts.get("index_files", 0)
    for k, v in tracer.spark_totals(run_id).items():
        out[f"spark.{k}"] = v
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        __import__(PACKAGE)
        import duckdb  # noqa: F401 — the nightly oracle
        import pyspark  # noqa: F401
    except ImportError as exc:
        log(f"perfbench: cannot import the engine or its dependencies: {exc}")
        return 2
    from spans import SparkCounters, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        return 2

    cpus = min(4, os.cpu_count() or 1)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    from historic_score_etl_pipeline_spark.operators.pins import release_pins
    from historic_score_etl_pipeline_spark.session import get_spark

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus)
        start_s = time.perf_counter() - t0
        quiet(spark)
        counters = SparkCounters(spark)
        tracer = Tracer(False, counters)
        wl = WORKLOADS[args.workload](spark, tracer)
        attempted = failed = 0

        # inputs: generated GEN_REPEATS times; the median time is set-up,
        # and every repeat must reproduce the first byte for byte
        gen_times, manifests = [], []
        for r in range(GEN_REPEATS):
            g0 = time.perf_counter()
            man, truth = wl.generate(args.seed, os.path.join(work, f"inputs-{r}"))
            gen_times.append(time.perf_counter() - g0)
            manifests.append((man, truth))
        same = all(m.files == manifests[0][0].files for m, _ in manifests)
        attempted += 1
        failed += 0 if same else 1
        if not same:
            log("perfbench: the generator is not deterministic for this seed")
        man, truth = manifests[0]
        for r in range(1, GEN_REPEATS):
            shutil.rmtree(os.path.join(work, f"inputs-{r}"), ignore_errors=True)
        wl.bind(man.root, man, truth)

        def iterate(k: int, traced: bool):
            tracer.enabled = traced
            tracer.run_id = f"iter{k}"
            counters.poll()  # drop stages of whatever ran before
            out_dir = os.path.join(work, f"out-{k}")
            if k:
                it = wl.run(out_dir)
                log(f"perfbench: iteration {k}{' traced' if traced else ''}: "
                    f"wall {it.wall_s:.3f} s")
            else:
                it = wl.warm(out_dir)
            it.counts["task_s"] = counters.poll()["task_s"] if not traced else 0.0
            release_pins()
            shutil.rmtree(out_dir, ignore_errors=True)
            for e in it.errors:
                log(f"perfbench: iteration {k}: {e}")
            return it

        w0 = time.perf_counter()
        warm = iterate(0, False)
        warm_s = time.perf_counter() - w0
        setup_s = start_s + statistics.median(gen_times) + warm_s
        attempted += warm.attempted
        failed += warm.failed
        log(f"perfbench: set-up {setup_s:.2f} s (session {start_s:.2f}, "
            f"inputs {statistics.median(gen_times):.2f} x{GEN_REPEATS}, "
            f"warm-up {warm_s:.2f}); input {wl.in_bytes} B in memory-sized files")

        plain, traced_its = [], []
        m0 = time.perf_counter()
        k = 1
        while True:
            it = iterate(k, False)
            plain.append(it)
            k += 1
            if args.trace:
                traced_its.append((f"iter{k}", iterate(k, True)))
                k += 1
            if time.perf_counter() - m0 >= args.seconds:
                break
        for it in plain + [t for _, t in traced_its]:
            attempted += it.attempted
            failed += it.failed

        arrivals = [a for it in plain for a in it.arrivals]
        untraced = {
            "setup_s": setup_s,
            "wall_s": statistics.median(it.wall_s for it in plain),
            "task_s": statistics.median(it.counts["task_s"] for it in plain),
            "arrival_p50_s": pct(arrivals, 0.5),
            "arrival_p90_s": pct(arrivals, 0.9),
            "peak_rss_mb": max(it.peak_rss_mb for it in plain),
            "out_bytes_per_in_byte": statistics.median(
                it.out_bytes for it in plain) / wl.in_bytes,
        }
        log(f"perfbench: {len(plain)} untraced iterations, {len(arrivals)} arrivals")
        if args.trace:
            rows = [layer_metrics(tracer, rid, it, start_s)
                    for rid, it in traced_its]
            metrics = {n: statistics.median(r[n] for r in rows)
                       for n, _ in PER_LAYER if n in rows[0]}
            metrics.update({n: untraced[n] for n, _ in DEMOTED})
            metrics["trace.overhead_s"] = (
                statistics.median(it.wall_s for _, it in traced_its)
                - untraced["wall_s"])
            spec = PER_LAYER
            path = os.path.join(ROOT, ".perfbench_out",
                                f"trace-{args.workload}-seed{args.seed}.json")
            tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                               "traced_iterations": len(rows), "metrics": metrics})
            log(f"perfbench: {len(rows)} traced iterations; spans written to "
                f"{os.path.relpath(path, ROOT)}")
        else:
            metrics = {n: untraced[n] for n, _ in END_TO_END}
            spec = END_TO_END
        units = dict(spec)
        for name, value in metrics.items():
            log(f"  {name:36s} {value:14.4f} {units[name]}")
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": metrics[n], "unit": u} for n, u in spec},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
