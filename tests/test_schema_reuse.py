"""``load_table`` reads an unchanged table without a footer-inference job
(sources/catalog.py), and infers again whenever the files or the session
conf change."""

from __future__ import annotations

import os
import uuid

from historic_score_etl_pipeline_spark.sources.catalog import load_table


def _jobs_run_by(spark, fn):
    """(Spark jobs ``fn()`` ran, its result); the count comes from the
    status store through a job group, so it does not depend on how many
    jobs the store retains."""
    sc = spark.sparkContext
    group = f"schema-reuse-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def test_unchanged_table_is_read_without_a_job(spark, sf_smoke):
    first = load_table(spark, sf_smoke, "orders")
    n, again = _jobs_run_by(spark, lambda: load_table(spark, sf_smoke, "orders"))
    assert n == 0
    assert again.schema == first.schema
    assert again.schema.json() == first.schema.json()


def test_rewritten_table_shows_its_new_column(spark, tmp_path):
    sf = str(tmp_path)
    path = os.path.join(sf, "region.parquet")
    spark.createDataFrame([(0, "AFRICA")], "r_regionkey long, r_name string").write.parquet(path)
    assert load_table(spark, sf, "region").columns == ["r_regionkey", "r_name"]
    spark.createDataFrame(
        [(0, "AFRICA", "hot")], "r_regionkey long, r_name string, r_comment string"
    ).write.mode("overwrite").parquet(path)
    df = load_table(spark, sf, "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [tuple(r) for r in df.collect()] == [(0, "AFRICA", "hot")]


def test_inference_conf_flip_reinfers_on_the_same_path(spark, sf_smoke):
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    original = spark.conf.get(key)
    try:
        types = []
        for flag in ("true", "false", "true"):
            spark.conf.set(key, flag)
            types.append(dict(load_table(spark, sf_smoke, "orders").dtypes)["o_orderdate"])
        assert types == ["timestamp_ntz", "timestamp", "timestamp_ntz"]
    finally:
        spark.conf.set(key, original)
