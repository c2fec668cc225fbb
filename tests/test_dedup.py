"""Dedup family quality gates: LSH recall vs exact Jaccard, dedup
fixpoint, fingerprint stability."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.operators.dedup import (
    band_self_join,
    dedup_exact,
    jaccard,
    lsh_candidate_pairs,
    near_dup_jaccard,
    shingle_hash_table,
    shingle_hashes,
    shingles,
    text_fingerprint,
    token_hashes,
    token_hashes_md5,
)
from historic_score_etl_pipeline_spark.operators.pins import explain_str


def _docs_with_dups(spark):
    """Documents plus planted near-duplicates (suffix noise) and exact
    duplicates, so recall is measurable."""
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    near = base.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    exact = base.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return base.unionByName(near).unionByName(exact)


def test_exact_dedup_fixpoint(spark):
    docs = _docs_with_dups(spark)
    once = dedup_exact(docs, text_fingerprint("text"), "doc_id", ["lang"])
    n_once = once.count()
    # dedup of the dedup result changes nothing (fixpoint)
    twice = dedup_exact(
        once.withColumnRenamed("fingerprint", "fp0").withColumn(
            "text", F.lit(None).cast("string")
        ),
        F.col("fp0"),
        "doc_id",
        ["lang"],
    )
    assert twice.count() == n_once
    # planted exact dups collapse: distinct fingerprints < total rows
    assert n_once < docs.count()
    # every group kept exactly one representative
    assert once.groupBy("fingerprint").count().where("count > 1").count() == 0


def test_lsh_recall_vs_exact_jaccard(spark):
    docs = _docs_with_dups(spark)
    # ground truth: true near-dup pairs (jaccard >= 0.8 on 3-gram shingles)
    withsh = docs.select("doc_id", shingles("text").alias("sh"))
    a, b = withsh.alias("a"), withsh.alias("b")
    truth = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            jaccard(F.col("a.sh"), F.col("b.sh")).alias("j"),
        )
        .where(F.col("j") >= 0.8)
    )
    truth_pairs = {(r.id_a, r.id_b) for r in truth.collect()}
    assert truth_pairs, "planted near-dups must appear in ground truth"

    cand = lsh_candidate_pairs(docs, "doc_id", "text")
    cand_pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    recall = len(truth_pairs & cand_pairs) / len(truth_pairs)
    assert recall >= 0.9, f"LSH recall too low: {recall} over {len(truth_pairs)} pairs"


def test_near_dup_jaccard_finds_planted(spark):
    docs = _docs_with_dups(spark)
    out = near_dup_jaccard(docs, "doc_id", "text", ["lang"], threshold=0.8)
    # planted near-dups (suffix noise) have jaccard ≈ shingle overlap ≈ >0.9
    assert out.count() > 0
    assert out.where(F.col("jaccard") > 1.0).count() == 0


# --- band_self_join: the one LSH band self-join --------------------------------

# (id, band, bk, sig): ids 1 and 3 share BOTH bands; 2 shares band 0 with
# them; 5's bk values collide with 2's only across different bands.
_BANDS = [
    (3, 0, 7, 30), (1, 0, 7, 10), (1, 1, 9, 10), (3, 1, 9, 30),
    (2, 0, 7, 20), (2, 1, 5, 20), (5, 0, 5, 50), (5, 1, 8, 50),
]


def _band_frame(spark):
    return spark.createDataFrame(_BANDS, "id long, band int, bk long, sig long")


def test_band_self_join_pairs_once_and_ordered(spark):
    rows = band_self_join(_band_frame(spark), "id", ["band", "bk"]).collect()
    pairs = [(r.id_a, r.id_b) for r in rows]
    assert all(a < b for a, b in pairs)
    # (1, 3) shares two bands but is one row
    assert sorted(pairs) == [(1, 2), (1, 3), (2, 3)]


def test_band_self_join_keys_need_full_equality(spark):
    bands = _band_frame(spark)
    both = {tuple(r) for r in band_self_join(bands, "id", ["band", "bk"]).collect()}
    bk_only = {tuple(r) for r in band_self_join(bands, "id", ["bk"]).collect()}
    assert (2, 5) not in both
    assert bk_only == both | {(2, 5)}


def test_band_self_join_carries_both_sides(spark):
    out = band_self_join(_band_frame(spark), "id", ["band", "bk"], carry=["sig"])
    assert out.columns == ["id_a", "id_b", "sig_a", "sig_b"]
    for r in out.collect():
        assert (r.sig_a, r.sig_b) == (10 * r.id_a, 10 * r.id_b)


# --- shingle_hash_table: the one hashing stage ---------------------------------


@pytest.mark.parametrize("portable", [False, True])
def test_shingle_hash_table_hashes_each_token_once(spark, portable):
    """The token split appears once in the plan (the shingle combine reads
    the staged token-hash column, never the inlined expression), and the
    shingle hashes equal the explicitly staged two-projection chain."""
    docs = spark.createDataFrame(
        [
            (1, "  Spark shuffles\tpartition data across the cluster  "),
            (2, "two words"),
            (3, ""),
            (4, "a b c d a b c d"),
        ],
        "doc_id long, text string",
    )
    sh = shingle_hash_table(docs, "doc_id", "text", portable=portable)
    assert explain_str(sh).count("split(lower(regexp_replace(") == 1

    hasher = token_hashes_md5 if portable else token_hashes
    staged = docs.select("doc_id", hasher("text").alias("th")).select(
        "doc_id", shingle_hashes(F.col("th")).alias("sh")
    )
    assert {r.doc_id: r.sh for r in sh.collect()} == {
        r.doc_id: r.sh for r in staged.collect()
    }
