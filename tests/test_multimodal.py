"""Multimodal plumbing gates (SURVEY.md §2K-K5): binary payloads through
Arrow-batched transforms — metadata pruning, resize contract, frame
sampling reassembly, stub gating."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from historic_score_etl_pipeline_spark.operators.multimodal import (
    decode_image_stub,
    documents_as_media,
    resize_media,
    resize_stub,
    sample_frames,
)
from historic_score_etl_pipeline_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def test_resize_contract(spark):
    media = documents_as_media(load_table(spark, SF, "documents")).limit(50)
    out = resize_media(media, target_bytes=64)
    rows = out.select("n_bytes").distinct().collect()
    assert [r["n_bytes"] for r in rows] == [64]
    assert out.count() == 50  # 1:1, partition-preserving


def test_sample_frames_counts_and_sizes(spark):
    media = documents_as_media(load_table(spark, SF, "documents")).limit(50)
    frames = sample_frames(media, frame_bytes=32, every_n=2)
    joined = (
        frames.groupBy("media_id")
        .agg(F.count("*").alias("n"), F.max("frame_bytes").alias("maxb"))
        .join(media.select("media_id", "n_bytes"), "media_id")
    )
    # arithmetic check: n == ceil(ceil(n_bytes/32)/2), no frame over 32B
    expected = joined.withColumn(
        "want",
        F.floor((F.floor((F.col("n_bytes") + 31) / 32) + 1) / 2),
    )
    assert expected.where(F.col("n") != F.col("want")).count() == 0
    assert joined.where(F.col("maxb") > 32).count() == 0


def test_stubs_raise_without_fake():
    with pytest.raises(NotImplementedError):
        decode_image_stub(b"xx", fake=False)
    with pytest.raises(NotImplementedError):
        resize_stub(b"xx", 8, fake=False)


def test_bmp_roundtrip_odd_widths():
    """encode→decode identity, including widths whose 3-byte rows need
    padding (the classic BMP bug surface)."""
    import numpy as np

    from historic_score_etl_pipeline_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.default_rng(7)
    for w, h in [(1, 1), (2, 3), (5, 4), (8, 8), (23, 17), (24, 16)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        out = decode_bmp(encode_bmp(img))
        assert out.shape == (h, w, 3)
        assert (out == img).all(), f"roundtrip mismatch at {w}x{h}"


def test_ppm_roundtrip_and_dispatch():
    import numpy as np

    from historic_score_etl_pipeline_spark.operators.multimodal import (
        decode_image,
        encode_ppm,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(6, 9, 3), dtype=np.uint8)
    assert (decode_image(encode_ppm(img)) == img).all()
    with pytest.raises(ValueError, match="undecodable"):
        decode_image(b"\x89PNG not really")


def test_render_text_bmp_dims_are_arithmetic():
    from historic_score_etl_pipeline_spark.operators.multimodal import (
        decode_bmp,
        render_text_bmp,
    )

    for text in ["", "a", "hello world", "x" * 100, "naïve café ☕"]:
        nb = len(text.encode("utf-8"))
        img = decode_bmp(render_text_bmp(text))
        assert img.shape == (nb % 16 + 8, nb % 24 + 8, 3), text
    # deterministic
    assert render_text_bmp("same text") == render_text_bmp("same text")


def test_extract_features_real_decode(spark):
    """Image media must come back decoded=true with pixel-derived dims and
    a real mean; opaque media stays decoded=false with null mean."""
    from historic_score_etl_pipeline_spark.operators.multimodal import (
        documents_as_image_media,
        extract_features,
    )

    docs = load_table(spark, SF, "documents").limit(40)
    feats = extract_features(documents_as_image_media(docs)).collect()
    assert len(feats) == 40
    assert all(r["decoded"] for r in feats)
    assert all(r["mean_px"] is not None for r in feats)
    assert all(8 <= r["width"] <= 31 and 8 <= r["height"] <= 23 for r in feats)

    opaque = extract_features(documents_as_media(docs)).collect()
    assert all(not r["decoded"] and r["mean_px"] is None for r in opaque)


def test_resize_images_real(spark):
    """Real resize: every output payload is a valid BMP of the target
    dimensions, and a solid-color image stays solid after resampling."""
    import numpy as np

    from historic_score_etl_pipeline_spark.operators.multimodal import (
        decode_bmp,
        documents_as_image_media,
        encode_bmp,
        resize_image,
        resize_images,
    )

    docs = load_table(spark, SF, "documents").limit(20)
    out = resize_images(documents_as_image_media(docs), width=12, height=10)
    for r in out.collect():
        img = decode_bmp(bytes(r["payload"]))
        assert img.shape == (10, 12, 3)
    solid = encode_bmp(np.full((9, 7, 3), 200, dtype=np.uint8))
    resized = decode_bmp(resize_image(solid, 4, 5))
    assert (resized == 200).all() and resized.shape == (5, 4, 3)


def test_png_roundtrip_fused_equals_composed(spark, sf_oracle):
    """The fused single-Python-stage path must be row-identical to the
    two-stage composition, and its plan must carry exactly ONE Python
    boundary node — a MapInArrow since r12 (raw Arrow batches, no pandas
    materialization), and no MapInPandas alongside it."""
    from historic_score_etl_pipeline_spark.operators.multimodal import (
        documents_as_image_media,
        png_roundtrip_features,
        png_roundtrip_from_docs,
    )
    from historic_score_etl_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, sf_oracle, "documents")
    fused = png_roundtrip_from_docs(docs)
    composed = png_roundtrip_features(documents_as_image_media(docs))
    a = sorted(map(tuple, fused.collect()))
    b = sorted(map(tuple, composed.collect()))
    assert a == b and a

    plan = fused._jdf.queryExecution().explainString(
        fused._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    import re

    # formatted mode prints each node twice (tree line + detail header);
    # count the detail headers
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 1
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 0


def test_doc_rows_carries_key_fans_out_and_renders_empty_text(spark):
    """One kernel row per tuple ``fn`` returns, each led by its document's
    key: a doc may yield none or several, and NULL/empty text still
    renders (as "")."""
    from historic_score_etl_pipeline_spark.operators.multimodal import (
        doc_rows,
        rendered_image,
        rendered_samples,
    )

    docs = spark.createDataFrame(
        [(10, "a", "ab"), (20, "b", ""), (30, "b", None), (40, "a", "x")],
        "doc_id int, src string, text string",
    )

    def fn(text):
        width = rendered_image(text).shape[1]  # nb % 24 + 8
        n = {0: 1, 1: 0}.get(len(text), 2)  # empty → 1 row, 1 byte → none
        return [(width, j) for j in range(n)]

    rows = doc_rows(docs, "doc_id", fn, "media_id long, width long, j long")
    assert sorted(map(tuple, rows.collect())) == [
        (10, 10, 0), (10, 10, 1), (20, 8, 0), (30, 8, 0),
    ]
    n_samples = doc_rows(
        docs, "src", lambda t: [(len(rendered_samples(t)),)], "src string, n long"
    )
    # n_samples = nb % 441 + 100, so NULL and "" both render 100 samples
    assert sorted(map(tuple, n_samples.collect())) == [
        ("a", 101), ("a", 102), ("b", 100), ("b", 100),
    ]


def test_pixel_histogram_is_one_map_in_arrow(spark, sf_smoke):
    """The per-source histogram is the doc_rows kernel plus a Spark
    aggregate: one MapInArrow, no MapInPandas."""
    import re

    from historic_score_etl_pipeline_spark.contract.surface61 import (
        multimodal_pixel_histogram,
    )
    from historic_score_etl_pipeline_spark.operators.pins import explain_str

    plan = explain_str(multimodal_pixel_histogram(spark, sf_smoke), "formatted")
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 1
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 0


def test_contract_modules_do_not_decode_media():
    """Render→decode lives in operators/multimodal only: no contract
    module names decode_image/decode_wav, and no contract function runs
    mapInPandas over rendered media.  (surface19's BMP file stager may
    still call render_text_bmp: it writes files, it decodes nothing.)"""
    import ast
    from pathlib import Path

    import historic_score_etl_pipeline_spark.contract as contract

    decoders = {"decode_image", "decode_wav"}
    renderers = {
        "render_text_bmp", "render_text_wav", "rendered_image", "rendered_samples",
    }

    def names(node):
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                yield n.id
            elif isinstance(n, ast.Attribute):
                yield n.attr
            elif isinstance(n, ast.alias):
                yield n.name

    offenders = []
    for path in sorted(Path(contract.__file__).parent.glob("*.py")):
        tree = ast.parse(path.read_text())
        if decoders & set(names(tree)):
            offenders.append(f"{path.name}: decodes media")
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef):
                used = set(names(fn))
                if "mapInPandas" in used and renderers & used:
                    offenders.append(f"{path.name}:{fn.name}: mapInPandas media")
    assert not offenders, offenders


def test_contract_modules_hold_no_sketch_or_co_order_copies():
    """Portable sketches and the co-order part graph have one home each
    (operators/sketches, operators/graph.co_order_edges): no contract
    module defines an ``_HLL_*``/``_KMV_*`` constant, names the
    ``max_rho`` register column, or spells the ``a.l_partkey <
    b.l_partkey`` self-join."""
    import ast
    from pathlib import Path

    import historic_score_etl_pipeline_spark.contract as contract

    def spells_self_join(node):
        return (
            isinstance(node, ast.Compare)
            and isinstance(node.ops[0], ast.Lt)
            and {"a.l_partkey", "b.l_partkey"}
            <= {
                c.value
                for c in ast.walk(node)
                if isinstance(c, ast.Constant) and isinstance(c.value, str)
            }
        )

    offenders = []
    for path in sorted(Path(contract.__file__).parent.glob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign | ast.AnnAssign):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    if isinstance(t, ast.Name) and t.id.startswith(("_HLL_", "_KMV_")):
                        offenders.append(f"{path.name}: defines {t.id}")
            elif isinstance(node, ast.Constant) and node.value == "max_rho":
                offenders.append(f"{path.name}:{node.lineno}: groups on max_rho")
            if spells_self_join(node):
                offenders.append(f"{path.name}:{node.lineno}: co-order self-join")
    assert not offenders, offenders
