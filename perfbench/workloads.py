"""The two closed-loop workloads.  One client each: an iteration starts
only after the previous one committed its outputs.

Every call into the engine goes through a layer's public function and
sits in a span named after that layer.  In traced mode each
DataFrame-returning layer is forced at its boundary (persist + count) so
its self time lands on its own span; untraced, the plan stays lazy and
runs inside the sink that consumes it.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import checks
import gen
from spans import Tracer, peak_rss_mb, reset_peak_rss


@dataclass
class Iteration:
    wall_s: float = 0.0
    peak_rss_mb: float = 0.0
    arrivals: list[float] = field(default_factory=list)
    out_bytes: int = 0
    out_files: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)

    def op(self, ok: bool = True, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(why)


def parquet_files(*dirs: str) -> tuple[int, int]:
    """(files, bytes) of committed parquet data files under ``dirs``."""
    n = size = 0
    for d in dirs:
        for f in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
            if os.path.isfile(f) and not os.path.basename(f).startswith(("_", ".")):
                n += 1
                size += os.path.getsize(f)
    return n, size


class Workload:
    name = ""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tr = tracer
        self._forced: list = []
        self.jvm_pid = type(spark.sparkContext)._gateway.proc.pid

    # -- set-up ----------------------------------------------------------------
    def generate(self, seed: int, root: str):
        return gen.GENERATORS[self.name](seed, root)

    def bind(self, root: str, manifest: gen.Manifest, truth) -> None:
        """Adopt one generated input set (and prepare its checks)."""
        self.root, self.manifest, self.truth = root, manifest, truth

    @property
    def in_bytes(self) -> int:
        return self.manifest.total_bytes

    # -- helpers -----------------------------------------------------------------
    def force(self, df, count_key: str | None = None):
        """Traced mode only: materialize ``df`` at the layer boundary and
        record its row count."""
        if not self.tr.enabled:
            return df
        df = df.persist()
        n = df.count()
        self._forced.append(df)
        if count_key:
            self.tr.count(count_key, n)
        return df

    def release_forced(self) -> None:
        for df in self._forced:
            df.unpersist(blocking=True)
        self._forced.clear()

    def done(self, it: Iteration, t0: float) -> None:
        """End of the timed region: the last output is committed.  Memory
        is read here, so the read-backs and checks that follow do not
        count."""
        it.wall_s = time.perf_counter() - t0
        it.peak_rss_mb = peak_rss_mb(self.jvm_pid)

    def run(self, out_dir: str) -> Iteration:
        it = Iteration()
        # input generation, the oracle and earlier checks stay out of the peak
        reset_peak_rss(self.jvm_pid)
        try:
            with self.tr.span("run"):
                self.iteration(out_dir, it)
        except Exception as exc:  # noqa: BLE001 — a failed operation, not a crash
            it.op(False, f"{type(exc).__name__}: {str(exc)[:300]}")
        finally:
            self.release_forced()
        try:
            for msg in self.check(out_dir, it):
                it.op(False, msg)
        except Exception as exc:  # noqa: BLE001 — e.g. an output never written
            it.op(False, f"check raised {type(exc).__name__}: {str(exc)[:300]}")
        it.op()  # the check itself
        return it

    def warm(self, out_dir: str) -> Iteration:
        """One untimed pass so JIT compilation and lazy set-up happen
        before measurement."""
        return self.run(out_dir)

    def iteration(self, out_dir: str, it: Iteration) -> None:
        raise NotImplementedError

    def check(self, out_dir: str, it: Iteration) -> list[str]:
        raise NotImplementedError


class NightlyRefresh(Workload):
    name = "nightly_refresh"

    def bind(self, root, manifest, truth):
        super().bind(root, manifest, truth)
        from historic_score_etl_pipeline_spark.sources.pages_source import (
            MatchPagesDataSource,
        )

        self.spark.dataSource.register(MatchPagesDataSource)
        self.oracle = checks.NightlyOracle(root, truth)

    def iteration(self, out_dir: str, it: Iteration) -> None:
        from historic_score_etl_pipeline_spark.plans.flagship import flagship_pipeline
        from historic_score_etl_pipeline_spark.plans.referee import referee_pipeline
        from historic_score_etl_pipeline_spark.sinks.merge import merge_upsert
        from historic_score_etl_pipeline_spark.sinks.writer import (
            ErrorChannel,
            retried_write,
        )
        from historic_score_etl_pipeline_spark.sources.catalog import load_table

        spark, tr = self.spark, self.tr
        errors = ErrorChannel()
        t_first = None
        for n, (start, days) in enumerate(self.truth.horizons):
            night = f"night{n + 1}"
            star = os.path.join(self.root, night)
            landing = os.path.join(out_dir, "landing", night)
            # the night's page dumps land: staged copy, then one rename
            staging = landing + ".staging"
            shutil.copytree(os.path.join(self.root, "pages", night), staging)
            os.makedirs(os.path.dirname(landing), exist_ok=True)
            os.replace(staging, landing)
            t_land = time.perf_counter()
            t_first = t_first or t_land
            with tr.span("night"):
                with tr.span("sources.pages"):
                    pages = (spark.read.format("match_pages")
                             .option("path", landing).load())
                    pages = self.force(pages, "pages_kept")
                    it.op()
                with tr.span("sinks.merge"):
                    merge_upsert(spark, os.path.join(out_dir, "results"), pages,
                                 ["match_date", "league", "home_club", "away_club"])
                    it.op()
                if tr.enabled:
                    with tr.span("sources.scan"):
                        for t in ("orders", "customer", "lineitem"):
                            load_table(spark, star, t).write.format("noop").mode(
                                "overwrite").save()
                with tr.span("plans.flagship"):
                    docs = self.force(flagship_pipeline(spark, star, start, days),
                                      "rows_out")
                    it.op()
                with tr.span("sinks.merge"):
                    merge_upsert(spark, os.path.join(out_dir, "docs"), docs,
                                 ["o_orderkey"])
                    it.op()
                with tr.span("plans.referee"):
                    ref = self.force(
                        referee_pipeline(spark, star, start, self.truth.referee_days),
                        "rows_out")
                    it.op()
                with tr.span("sinks.write"):
                    ok = retried_write(ref, os.path.join(out_dir, "referee"),
                                       batch_id=night, errors=errors)
                    it.op(ok, f"referee write for {night} exhausted its retries")
            it.arrivals.append(time.perf_counter() - t_land)
        self.done(it, t_first)
        it.counts["retries"] = sum(
            1 for r in errors.records if r[0].startswith("write attempt"))
        it.counts["pages_landed"] = self.truth.page_landed
        it.out_files, it.out_bytes = parquet_files(
            *(os.path.join(out_dir, d) for d in ("results", "docs", "referee")))
        it.counts["sink_files"], it.counts["sink_bytes"] = it.out_files, it.out_bytes

    def check(self, out_dir: str, it: Iteration) -> list[str]:
        return checks.check_nightly(out_dir, self.oracle)


class CorpusCuration(Workload):
    """Batch curation of one corpus, then incremental ingest of a second
    one arriving as micro-batches (the arrivals give ``arrival_*``)."""

    name = "corpus_curation"
    OUTPUTS = ("exact", "near_dedup", "curated", "removed", "shards", "semdedup")
    # the warm-up ingests only this many arrivals: the others run the same
    # code, and a full cold pass costs ~7 s more per run
    WARM_ARRIVALS = 2

    def warm(self, out_dir: str) -> Iteration:
        it = Iteration()
        try:
            self.curate(out_dir, it)
            self.ingest(out_dir, it, self.truth.ingest.arrivals[:self.WARM_ARRIVALS])
        except Exception as exc:  # noqa: BLE001 — a failed operation, not a crash
            it.op(False, f"{type(exc).__name__}: {str(exc)[:300]}")
        for msg in checks.check_corpus(out_dir, self.truth):
            it.op(False, msg)
        it.op()
        return it

    def iteration(self, out_dir: str, it: Iteration) -> None:
        t0 = time.perf_counter()
        self.curate(out_dir, it)
        self.ingest(out_dir, it, self.truth.ingest.arrivals)
        self.done(it, t0)
        work = os.path.join(out_dir, "work")
        flagged, index = os.path.join(work, "flagged"), os.path.join(work, "index")
        it.counts["flagged_pairs"] = len(checks.read_rows(flagged, ["new_id"]))
        it.counts["index_rows"] = len(checks.read_rows(index, ["doc_id"]))
        it.counts["index_files"] = parquet_files(index)[0]
        it.counts["sink_files"], it.counts["sink_bytes"] = parquet_files(flagged, index)
        it.out_files, it.out_bytes = parquet_files(
            flagged, index, *(os.path.join(out_dir, d) for d in self.OUTPUTS))

    def curate(self, out_dir: str, it: Iteration) -> None:
        """The batch chain over ``corpus/``.  The near-duplicate stage is
        the contract's ``dedup_pipeline_e2e`` (LSH, Jaccard verification
        and connected components in one plan).  It reports survivors per
        language, not their ids, so the stages after it run over the
        exact-dedup output."""
        from historic_score_etl_pipeline_spark.contract.surface14 import (
            dedup_pipeline_e2e,
            text_pack_shards,
        )
        from historic_score_etl_pipeline_spark.operators import dedup, pins
        from historic_score_etl_pipeline_spark.operators.similarity import (
            semantic_dedup,
        )
        from historic_score_etl_pipeline_spark.operators.text import quality_features
        from historic_score_etl_pipeline_spark.sources.catalog import load_table

        spark, tr = self.spark, self.tr
        corpus = os.path.join(self.root, "corpus")
        with tr.span("sources.scan"):
            docs = self.force(load_table(spark, corpus, "documents"), "docs_in")
            it.op()
        exact_dir = os.path.join(out_dir, "exact")
        with tr.span("operators.dedup.exact"):
            exact = dedup.dedup_exact(
                docs, dedup.text_fingerprint("text"), "doc_id", ["text", "lang"])
            # reused by the write, the quality gate and the removal log
            exact = pins.pin(exact.select("doc_id", "text", "lang"))
            exact.write.mode("overwrite").parquet(
                os.path.join(exact_dir, "documents.parquet"))
            it.op()
        with tr.span("contract.dedup_e2e"):
            dedup_pipeline_e2e(spark, exact_dir).write.mode("overwrite").parquet(
                os.path.join(out_dir, "near_dedup"))
            it.op()
        with tr.span("operators.text.quality"):
            n_tok = quality_features(F.col("text"))["n_tokens"]
            kept = self.force(exact.where(n_tok >= gen.QUALITY_MIN_TOKENS))
            short = exact.where(n_tok < gen.QUALITY_MIN_TOKENS).select("doc_id")
            it.op()
        with tr.span("operators.dedup.decontam"):
            eval_df = spark.read.parquet(os.path.join(corpus, "eval.parquet"))
            hits = self.force(dedup.ngram_decontaminate(kept, eval_df, "doc_id", "text", 13)
                              .select(F.col("train_id").alias("doc_id")))
            curated = kept.join(hits, "doc_id", "left_anti")
            it.op()
        curated_dir = os.path.join(out_dir, "curated")
        curated.select("doc_id", "text", "lang").write.mode("overwrite").parquet(
            os.path.join(curated_dir, "documents.parquet"))
        exact_victims = docs.join(exact.select("doc_id"), "doc_id", "left_anti")
        removed = (
            exact_victims.select("doc_id", F.lit("exact_dup").alias("reason"))
            .unionByName(short.select("doc_id", F.lit("short").alias("reason")))
            .unionByName(hits.select("doc_id", F.lit("contaminated").alias("reason")))
        )
        removed.write.mode("overwrite").parquet(os.path.join(out_dir, "removed"))
        with tr.span("contract.pack"):
            shards = self.force(text_pack_shards(spark, curated_dir))
            shards.write.mode("overwrite").parquet(os.path.join(out_dir, "shards"))
            it.op()
        with tr.span("operators.similarity.semdedup"):
            # 2 Lloyd rounds instead of 3: the injected copies are exact, so
            # they share a cluster whatever the centroids converge to
            flags = semantic_dedup(load_table(spark, corpus, "embeddings"), "vec_id",
                                   k=16, iters=2)
            flags = self.force(flags)
            flags.select("vec_id", "is_dup").write.mode("overwrite").parquet(
                os.path.join(out_dir, "semdedup"))
            it.op()
        if tr.enabled:
            self.release_forced()
            it.counts["pinned_mb"] = storage_mb(spark)
        pins.release_pins()

    def ingest(self, out_dir: str, it: Iteration, arrivals: list[str]) -> None:
        """Micro-batches land one at a time; each landing is one
        AvailableNow call that probes and extends the band index."""
        from historic_score_etl_pipeline_spark.streaming.jobs import (
            run_incremental_dedup,
        )

        tr = self.tr
        landing = os.path.join(out_dir, "landing")
        work = os.path.join(out_dir, "work")
        os.makedirs(landing)
        for path in arrivals:
            tmp = os.path.join(landing, ".landing.tmp")
            shutil.copyfile(path, tmp)
            os.replace(tmp, os.path.join(landing, os.path.basename(path)))
            t_land = time.perf_counter()
            with tr.span("streaming.arrival"):
                run_incremental_dedup(self.spark, landing, work)
                it.op()
            it.arrivals.append(time.perf_counter() - t_land)

    def check(self, out_dir: str, it: Iteration) -> list[str]:
        from historic_score_etl_pipeline_spark.streaming.jobs import (
            run_incremental_dedup,
        )

        work = os.path.join(out_dir, "work")
        errs = checks.check_corpus(out_dir, self.truth)
        errs += checks.check_ingest(work, self.truth.ingest)
        # replay the last arrival: forget its commit, rerun from the
        # checkpoint, and require identical flagged and index outputs
        before = checks.ingest_digest(work)
        commits = os.path.join(work, "ckpt", "commits")
        last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
        os.remove(os.path.join(commits, last))
        crc = os.path.join(commits, f".{last}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        run_incremental_dedup(self.spark, os.path.join(out_dir, "landing"), work)
        it.op()
        if not os.path.exists(os.path.join(commits, last)):
            errs.append(f"replay of batch {last} did not commit")
        if checks.ingest_digest(work) != before:
            errs.append(f"replay of batch {last} changed the flagged or index output")
        return errs


def storage_mb(spark) -> float:
    """Storage (memory + disk) held by cached and checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


WORKLOADS = {w.name: w for w in (NightlyRefresh, CorpusCuration)}
