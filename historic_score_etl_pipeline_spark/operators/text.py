"""Text analysis operators (SURVEY.md §2K-K4): language ID, quality
scoring, token counting, fingerprinting.

All pure Column expressions — at 100 TB these run inside whole-stage
codegen over the scan, no shuffle at all (per-row map work), which is the
best possible shape for corpus-wide text featurization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Tiny marker-word lists per language — an n-gram/stopword heuristic in the
# spirit of langid's feature voting, deliberately simple + deterministic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "la", "los", "que"),
    "fr": ("le", "la", "les", "et"),
    "zh": ("的", "是", "了", "在"),
}

STOPWORDS_EN = ("the", "a", "an", "of", "and", "or", "in", "on", "to", "is")

# BPE-ish word/piece tokenizer: words, numbers, or single non-space symbols.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count_regex(col: Column | str) -> Column:
    """Token count under the BPE-ish regex (words / numbers / symbols)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_REGEX), F.lit(0))).cast("bigint")


def marker_hits(col: Column | str, markers: tuple[str, ...]) -> Column:
    """How many tokens are in the marker list."""
    t = tokens(col)
    lst = list(markers)
    return F.size(F.filter(t, lambda tok: tok.isin(*lst))).cast("bigint")


def lang_id(col: Column | str) -> Column:
    """Argmax of marker-word hits across languages; 'und' when no marker
    fires.  Ties break in fixed language order (sorted keys) so the result
    is deterministic."""
    best_lang = F.lit("und")
    best_hits = F.lit(0).cast("bigint")
    for lang in sorted(LANG_MARKERS):  # fixed order → deterministic argmax
        hits = marker_hits(col, LANG_MARKERS[lang])
        is_better = hits > best_hits
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return best_lang


def quality_features(col: Column | str) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality signals (the classic
    Gopher/C4-style filters, rounded for engine-neutral comparison)."""
    c = F.col(col) if isinstance(col, str) else col
    t = tokens(c)
    n_tok = F.size(t).cast("bigint")
    n_chars = F.length(c).cast("bigint")
    n_punct = F.size(
        F.regexp_extract_all(c, F.lit(r"[^\sA-Za-z0-9]"), F.lit(0))
    ).cast("bigint")
    n_stop = F.size(F.filter(t, lambda tok: tok.isin(*STOPWORDS_EN))).cast("bigint")
    mean_tok_len = F.when(
        n_tok > 0,
        F.round((n_chars - (n_tok - 1)) / n_tok, 6),
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "mean_token_len": mean_tok_len,
        "punct_ratio": F.when(n_chars > 0, F.round(n_punct / n_chars, 6)).otherwise(
            F.lit(0.0)
        ),
        "stopword_ratio": F.when(n_tok > 0, F.round(n_stop / n_tok, 6)).otherwise(
            F.lit(0.0)
        ),
    }


def repetition_stats(df, id_col: str, text_col: str):
    """Gopher-style repetition signals per document (Rae et al. 2021,
    §A1.1: repeated-token and repeated-n-gram fractions drive the
    quality gate).  Outputs are integer-exact counts — numerators and
    denominators, not floats — so external oracles hash-match without
    float-rounding drift; callers derive fractions.

    Columns: ``n_tokens``, ``n_distinct_tokens``, ``top_token_cnt`` (count
    of the most frequent token), ``n_bigrams``, ``top_bigram_cnt``.

    Scale shape: explode → two-level aggregate, every stage keyed on the
    document id, so Spark plans ONE shuffle per n-gram order and the
    per-key state is bounded by per-doc vocabulary (no collect_list of
    the whole token stream).  Ties need no break — only the max count is
    taken, never the arg-max token.

    The input is hash-partitioned by ``id_col`` BEFORE the CPU-heavy map
    side (regex tokenize → explode → partial hash agg), at a count that
    tracks the input's split count (operators/scale.py::
    keyed_parallelism).  The keyed exchange moves only the COMPACT docs
    table, and because hashpartitioning(id) satisfies every downstream
    grouped distribution here, the exploded token/bigram streams never
    shuffle at ANY scale.  History: r9 measured the un-partitioned form
    at exponent 1.52 (5 scan splits pinning the whole stage);
    ensure_parallelism fixed that regime but is a no-op once the scan
    has enough splits, so the r11 THIRD-decade probe caught the exploded
    streams shuffling again at sf100 (675 scan splits, exponent 1.17);
    keyed_parallelism closes both regimes.
    """
    from pyspark.sql import functions as F

    from historic_score_etl_pipeline_spark.operators.scale import (
        keyed_parallelism,
    )

    toks = keyed_parallelism(df, id_col).select(
        F.col(id_col), tokens(F.col(text_col)).alias("t")
    ).withColumn("t", F.filter("t", lambda x: x != ""))

    uni = (
        toks.select(id_col, F.explode("t").alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.max("cnt").alias("top_token_cnt"),
        )
    )
    bigrams = toks.select(
        id_col,
        F.explode(
            # sequence(0, -1) descends in Spark, so guard short docs with
            # an explicit empty array instead of a sequence bound
            F.expr(
                "CASE WHEN size(t) >= 2 THEN transform(sequence(0, size(t) - 2),"
                " i -> concat(t[i], ' ', t[i + 1])) ELSE array() END"
            )
        ).alias("bg"),
    )
    bi = (
        bigrams.groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.max("cnt").alias("top_bigram_cnt"),
        )
    )
    # left join: a 0/1-token doc has no bigrams → zeros, not dropped rows
    return (
        uni.join(bi, id_col, "left")
        .select(
            id_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
            F.col("top_token_cnt").cast("long").alias("top_token_cnt"),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.col("top_bigram_cnt"), F.lit(0)).cast("long").alias(
                "top_bigram_cnt"
            ),
        )
    )


def bigram_surprisal(df, id_col: str, text_col: str):
    """Corpus-trained bigram-LM cross-entropy per document — the
    CCNet-style "perplexity against a reference LM" quality signal
    (Wenzek et al. 2020), with the corpus itself as the training set so
    the score is self-contained and deterministic.

    Model: add-one-smoothed bigram probabilities
    ``p(w2 | w1) = (c(w1,w2) + 1) / (c(w1,·) + V)`` with ``V`` the
    unigram vocabulary size.  Per document the operator emits
    ``n_bigrams`` and ``surprisal_unats`` = Σ round(-ln(p) · 1e6) — a
    fixed-point integer in micro-nats.  Integer addition is associative,
    so the per-doc sum is EXACT under any partitioning/summation order —
    a float sum would drift with shuffle order and break cross-engine
    hashing.  Callers derive cross-entropy as ``surprisal_unats / 1e6 /
    n_bigrams``.

    Scale shape (100 TB): ONE token-explode pass (r12 single-pass rework,
    VERDICT r11 ask #3 — previously the corpus was exploded twice for
    bigrams and once more for the vocabulary): each token occurrence is
    emitted exactly once as (w1 = token, w2 = next token or NULL at the
    document tail), so the per-doc bigram counts, the corpus bigram
    counts, the prefix counts AND the vocabulary size all derive from a
    single aggregated table.  The only corpus-sized shuffle is the
    (doc, w1, w2) partial-aggregated count; the count tables are
    vocabulary-bounded; the score join is an explicit SHUFFLE_HASH with
    the bigram-vocabulary table as the build side (post-checkpoint it
    has no statistics — the planner would sort-merge; a broadcast would
    not survive a real corpus' bigram vocabulary), with AQE handling any
    hot bigram on the probe side; the prefix-count and vocab-size sides
    are broadcast.  No Python UDFs anywhere — ln/floor are JVM
    intrinsics.  Per-bigram surprisal is an integer, so the per-doc sum
    Σ surp over occurrences equals Σ kd·surp over DISTINCT per-doc
    bigrams exactly — that identity is what buys the single pass.
    Measured at sf0.1: 2.01 → 1.69 s min-of-6 interleaved, rows
    identical.
    """
    from pyspark.sql import functions as F

    from historic_score_etl_pipeline_spark.operators.pins import pin

    toks = df.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), " "), lambda x: x != "").alias("t"),
    )
    # one emission per token occurrence: (w1, w2-or-NULL); the NULL rows
    # carry the document tails so countDistinct(w1) IS the vocabulary
    stream = (
        toks.where(F.size("t") >= 1)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 1),
                    lambda i: F.struct(
                        F.get("t", i).alias("w1"), F.get("t", i + 1).alias("w2")
                    ),
                )
            ).alias("bg"),
        )
        .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    # Pinned: d2all feeds the corpus bigram counts, the vocabulary scalar
    # and the score join's probe side — one materialization for three
    # consumers (the r11 divergent-pushed-filter disease otherwise
    # re-runs the scan+tokenize per consumer).
    d2all = pin(
        stream.groupBy(id_col, "w1", "w2").agg(F.count(F.lit(1)).alias("kd"))
    )
    d2n = d2all.where(F.col("w2").isNotNull())
    c2 = pin(d2n.groupBy("w1", "w2").agg(F.sum("kd").alias("c2")))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    # vocabulary size: a 1-row broadcast DF folded into the expression —
    # NO driver action.  The cast to double happens once here so c1 + v
    # is the same IEEE add as the previous c1 + lit(float(vsize)).
    vdf = d2all.agg(F.countDistinct("w1").cast("double").alias("v"))
    surp = F.floor(
        -F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("v")))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return (
        d2n.join(c2.hint("shuffle_hash"), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vdf))
        .withColumn("surp", surp)
        .groupBy(id_col)
        .agg(
            F.sum("kd").cast("long").alias("n_bigrams"),
            F.sum(F.col("kd") * F.col("surp")).cast("long").alias(
                "surprisal_unats"
            ),
        )
    )


def chunk_windows(df, id_col: str, text_col: str, size: int = 32, stride: int = 24):
    """Overlapping fixed-size token chunks per document — the RAG /
    context-window packing primitive (chunk k covers tokens
    [k·stride, k·stride + size)).

    One projection + one explode, zero shuffles, zero UDFs: chunk starts
    are a ``sequence(0, n_tok-1, stride)``, the chunk body a
    ``slice``.  Every document with ≥1 token emits ≥1 chunk; the final
    chunk may be short (never empty).  Output is exact-string /
    integer-only, so the oracle hash has no float surface.
    """
    from pyspark.sql import functions as F

    if size <= 0 or stride <= 0:
        raise ValueError(f"size and stride must be positive, got {size}/{stride}")
    toks = df.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), " "), lambda x: x != "").alias("t"),
    ).where(F.size("t") > 0)
    e = toks.select(
        id_col,
        "t",
        F.posexplode(
            F.sequence(F.lit(0), F.size("t") - 1, F.lit(stride))
        ).alias("chunk_idx", "start"),
    )
    chunk = F.slice("t", F.col("start") + 1, F.lit(size))
    return e.select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("start").cast("long").alias("start"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def token_entropy(df, id_col: str, text_col: str):
    """Shannon entropy of each document's within-doc token distribution —
    the gibberish/degenerate-repetition quality signal that complements
    corpus-level surprisal (``bigram_surprisal``): low entropy flags
    looping/boilerplate text, abnormally high entropy flags random-token
    noise (a standard pretraining-corpus filter alongside the Gopher
    repetition rules, Rae et al. 2021 §A1.1).

    Per doc with token counts ``c(tok)`` and total ``N``:
    ``entropy_unats = Σ_tok round((c/N) · ln(N/c) · 1e6)`` — every float
    term is fixed-pointed to integer micro-nats BEFORE the sum, so the
    result is exact under any partitioning/summation order (the same
    determinism contract as ``bigram_surprisal``).  Also emits ``n_tokens``
    and ``n_types``; callers derive normalized entropy as
    ``entropy_unats / 1e6 / ln(n_types)``.

    Scale shape (100 TB): explode → (doc, tok) count with map-side
    partial aggregation, so the first shuffle carries the REDUCED
    (doc, tok, count) rows, not raw tokens; the second shuffle (doc key,
    for the window total + final sum) carries the same reduced table —
    both are vocabulary-bounded per doc, far below the exploded volume.
    No join anywhere; ln/floor are JVM intrinsics — no Python.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), " "), lambda x: x != "").alias("t"),
    ).where(F.size("t") > 0)
    counts = (
        toks.select(id_col, F.explode("t").alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").over(Window.partitionBy(id_col))
    term = F.floor(
        (F.col("c").cast("double") / F.col("n"))
        * F.log(F.col("n").cast("double") / F.col("c"))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return (
        counts.withColumn("n", n)
        .withColumn("term", term)
        .groupBy(id_col)
        .agg(
            F.max("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum("term").cast("long").alias("entropy_unats"),
        )
    )


def pack_shards(docs: DataFrame, budget: int = 2048) -> DataFrame:
    """Pack documents into fixed-token-budget training shards per language.

    Docs are ordered deterministically (doc_id) inside each language,
    token counts cumsum'd, and a doc lands in shard
    ``floor(exclusive_cumsum / budget)`` — the standard concat-then-chunk
    pretraining layout.  One hash shuffle on ``lang``; at 100 TB the
    window state is one running long per partition."""
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.withColumn("n_tokens", F.size(tokens("text")))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.floor(
                (F.col("cum_tokens") - F.col("n_tokens")) / F.lit(budget)
            ).alias("shard_id"),
        )
    )
