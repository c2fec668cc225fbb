"""Multimodal columns (SURVEY.md §2K-K5): image/audio/video as opaque
``binary`` payloads + typed metadata structs.

The Spark-side plumbing is real — schema, Arrow-batched Python passes,
partition-preserving signatures.  The decode step is REAL for the two
codec-free raster formats implemented here in pure numpy (24-bit
uncompressed BMP and binary PPM/P6: header parse, row-padding/bottom-up
layout, BGR↔RGB); :func:`extract_features` dispatches on magic bytes and
decodes genuine image payloads end-to-end.  PNG (stdlib zlib) and WAV/PCM
audio decode for real via :mod:`operators.codecs`.  Only formats that need
an external codec library (JPEG/WebP/Vorbis/H.264) keep the clearly-marked
stub gate (NotImplementedError, or the deterministic fake for plumbing
tests).

Every per-document media feature runs through ONE kernel,
:func:`doc_rows`: a single ``mapInArrow`` pass that hands each document's
text to a plain Python function and emits its 0..n result tuples after
the document's key.  :func:`rendered_image` / :func:`rendered_samples`
hold the only render→decode sequence (text → real BMP/WAV → pixels /
samples), so a feature is a numpy function of one clip; cross-document
totals are a Spark ``groupBy().agg()`` over the kernel's rows, whose
partial aggregate is the map-side combine.

At 100 TB: binary payloads dominate scan bytes, so the metadata struct is
kept in separate (pruned) columns — a query touching only metadata never
reads payload bytes from parquet (column pruning).  The Python passes
stream Arrow batches, so peak executor memory is one batch of payloads,
not one partition.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from historic_score_etl_pipeline_spark.operators.codecs import (
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("checksum", LongType()),
        StructField("mean_px", DoubleType()),
        StructField("decoded", BooleanType()),
    ]
)


# --- real pure-numpy raster codecs (BMP 24bpp, PPM P6) ----------------------


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as a 24-bit uncompressed BMP
    (BITMAPINFOHEADER, bottom-up rows, 4-byte row padding, BGR order) —
    no external codec, just the file format."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("encode_bmp expects an (H, W, 3) uint8 array")
    h, w, _ = pixels.shape
    row_size = (w * 3 + 3) & ~3
    data = np.zeros((h, row_size), dtype=np.uint8)
    data[:, : w * 3] = np.flipud(pixels[:, :, ::-1]).reshape(h, w * 3)
    body = data.tobytes()
    file_header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 54)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return file_header + info_header + body


def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode a 24-bit uncompressed BMP into an (H, W, 3) uint8 RGB array.
    Handles bottom-up (positive height) and top-down (negative) layouts
    and per-row padding; rejects compressed or non-24bpp files loudly."""
    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", payload, 10)[0]
    _, w, h, _, bpp, compression = struct.unpack_from("<IiiHHI", payload, 14)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    top_down = h < 0
    h = abs(h)
    row_size = (w * 3 + 3) & ~3
    data = np.frombuffer(payload, np.uint8, count=h * row_size, offset=offset)
    rows = data.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    rgb = rows[:, :, ::-1]
    return rgb.copy() if top_down else np.flipud(rgb).copy()


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as binary PPM (P6, maxval 255)."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("encode_ppm expects an (H, W, 3) uint8 array")
    h, w, _ = pixels.shape
    return f"P6\n{w} {h}\n255\n".encode() + pixels.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Decode a binary PPM (P6) into an (H, W, 3) uint8 RGB array."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header = magic, width, height, maxval as whitespace-separated tokens
    # (comments stripped), then one whitespace byte, then raw RGB.
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    data = np.frombuffer(payload, np.uint8, count=h * w * 3, offset=pos)
    return data.reshape(h, w, 3).copy()


def decode_image(payload: bytes) -> np.ndarray:
    """Real image decode, dispatched on magic bytes.  BMP and PPM decode
    with the pure-numpy codecs above; PNG decodes through the stdlib-zlib
    codec in :mod:`operators.codecs` (all five scanline filters, CRC
    verified).  Raises ValueError for formats this container cannot decode
    without an external codec library (JPEG/WebP/…)."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        img = decode_png(payload)
        if img.shape[2] == 3:
            return img
        if img.shape[2] == 4:  # drop alpha
            return img[:, :, :3].copy()
        # gray / gray+alpha → replicate luminance to RGB
        return np.repeat(img[:, :, :1], 3, axis=2).copy()
    raise ValueError(
        f"undecodable payload (magic {payload[:2]!r}); only BMP/PPM/PNG "
        "have codec-free decoders in this environment"
    )


def render_text_bmp(text: str) -> bytes:
    """Deterministically render a document's text into a REAL BMP: the
    utf-8 bytes cycle through an arithmetically-sized pixel grid
    (``width = n_bytes % 24 + 8``, ``height = n_bytes % 16 + 8``), so an
    external SQL oracle can verify the decoded dimensions from
    ``octet_length`` alone while the pixels still depend on content."""
    raw = text.encode("utf-8")
    nb = len(raw)
    w, h = nb % 24 + 8, nb % 16 + 8
    need = w * h * 3
    if nb == 0:
        flat = np.zeros(need, dtype=np.uint8)
    else:
        reps = need // nb + 1
        flat = np.frombuffer((raw * reps)[:need], dtype=np.uint8)
    return encode_bmp(flat.reshape(h, w, 3))


# DuckDB-side twin of single_byte_docs (strlen = bytes, length = chars)
SINGLE_BYTE_TEXT_SQL = "strlen(text) = length(text)"


def single_byte_docs(docs: DataFrame) -> DataFrame:
    """Documents whose text is pure single-byte UTF-8 (byte length ==
    char length; NULL text drops out of the comparison on both engines).
    The payload-synthesis oracles replay bytes with
    ``ascii(substr(text, k, 1))`` — an identity that holds only when
    byte == codepoint — so multi-byte / NULL texts are outside the
    payload-synthesis domain, enforced identically on BOTH engines
    (adversarial-fixture sweep, round 8)."""
    return docs.where(F.octet_length("text") == F.length("text"))


def doc_rows(
    docs: DataFrame,
    key: str,
    fn: Callable[[str], Iterable[tuple]],
    schema: StructType | str,
) -> DataFrame:
    """The per-document Python kernel: ONE ``mapInArrow`` pass over
    ``docs.select(key, "text")``.  ``fn(text)`` returns 0..n tuples for
    one document (NULL text arrives as ``""``, so it still renders); each
    tuple becomes a row led by that document's ``key`` value.

    ``schema`` (a StructType or DDL string) types the output: its first
    field receives ``key`` and the rest take the tuple elements in order.
    Raw Arrow batches cross the boundary both ways — no pandas
    materialization, and the key column is gathered, never re-boxed."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)

    def batches(it):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        types = [to_arrow_type(f.dataType) for f in schema.fields]
        for b in it:
            take, rows = [], []
            for i, t in enumerate(b.column(1).to_pylist()):
                for row in fn(t or ""):
                    take.append(i)
                    rows.append(row)
            cols = zip(*rows) if rows else [[]] * (len(types) - 1)
            yield pa.RecordBatch.from_arrays(
                [b.column(0).take(pa.array(take, pa.int64())).cast(types[0])]
                + [pa.array(c, t) for c, t in zip(cols, types[1:])],
                names=schema.fieldNames(),
            )

    return docs.select(key, "text").mapInArrow(batches, schema)


def rendered_image(text: str) -> np.ndarray:
    """``text`` rendered to a real BMP and decoded back: (H, W, 3) uint8."""
    return decode_image(render_text_bmp(text))


def rendered_samples(text: str) -> np.ndarray:
    """``text`` rendered to a real WAV and decoded back: flat int64 samples."""
    return decode_wav(render_text_wav(text))[0].reshape(-1).astype(np.int64)


def gray(img: np.ndarray) -> np.ndarray:
    """Integer luminance of an (H, W, 3) image: (R+G+B) div 3, int64 —
    the form every SQL oracle replays from the text bytes."""
    return img.astype(np.int64).sum(axis=2) // 3


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Model a media table from the documents fixture: payload = utf-8
    bytes of the text (a stand-in for image bytes), metadata typed."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )


def documents_as_image_media(docs: DataFrame) -> DataFrame:
    """Media table with GENUINE image payloads: each document's text is
    rendered into a real 24-bit BMP (:func:`render_text_bmp`) inside
    :func:`doc_rows`, so every downstream decode exercises the actual
    file format, not a fake."""
    return _rendered_media(docs, render_text_bmp, "image/bmp")


def _rendered_media(
    docs: DataFrame, render: Callable[[str], bytes], mime: str
) -> DataFrame:
    def media(text: str) -> list[tuple]:
        payload = render(text)
        return [(payload, mime, len(payload))]

    return doc_rows(docs, "doc_id", media, MEDIA_SCHEMA)


def decode_image_stub(payload: bytes, *, fake: bool = True) -> tuple[int, int]:
    """STUB for codec-REQUIRING formats (JPEG/WebP/…): BMP, PPM and PNG
    decode for real via :func:`decode_image`; anything else either uses
    this deterministic fake (default) or raises when a real decode is
    demanded."""
    if not fake:
        raise NotImplementedError(
            "decode of codec-bearing formats (JPEG/WebP/…) requires an image "
            "library (e.g. Pillow) not present in this environment; BMP/PPM/"
            "PNG payloads decode for real via decode_image()"
        )
    n = len(payload)
    return (n % 640 + 1, n % 480 + 1)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Dispatches on magic bytes: BMP/PPM payloads get a REAL decode
    (dimensions and mean pixel value from actual pixel data,
    ``decoded=true``); undecodable payloads fall back to the
    deterministic fake dims with ``decoded=false`` and a null mean.
    mapInPandas keeps the batch shape (no shuffle, partition-preserving);
    the per-image work is numpy, not per-pixel Python.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            widths, heights, means, decoded = [], [], [], []
            for p in pdf["payload"]:
                p = bytes(p)
                try:
                    img = decode_image(p)
                    heights.append(img.shape[0])
                    widths.append(img.shape[1])
                    means.append(float(img.mean()))
                    decoded.append(True)
                except ValueError:
                    w, h = decode_image_stub(p, fake=True)
                    widths.append(w)
                    heights.append(h)
                    means.append(None)
                    decoded.append(False)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["n_bytes"],
                    "width": widths,
                    "height": heights,
                    # cheap rolling checksum — deterministic, codec-free
                    "checksum": [
                        int(
                            np.dot(
                                np.frombuffer(bytes(p), np.uint8).astype(np.int64),
                                np.arange(1, len(p) + 1, dtype=np.int64),
                            )
                            % (1 << 31)
                        )
                        if len(p)
                        else 0
                        for p in pdf["payload"]
                    ],
                    "mean_px": means,
                    "decoded": decoded,
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
        StructField("frame_bytes", LongType()),
    ]
)


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """REAL resize: decode (BMP/PPM), nearest-neighbor resample with numpy
    index arithmetic, re-encode as BMP.  No codec library involved."""
    img = decode_image(payload)
    h, w = img.shape[:2]
    ys = (np.arange(height) * h // height).clip(0, h - 1)
    xs = (np.arange(width) * w // width).clip(0, w - 1)
    return encode_bmp(img[ys][:, xs])


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Arrow-batched REAL image resize: binary in → binary out, every
    payload decoded, nearest-neighbor resampled to (width, height), and
    re-encoded as BMP inside partition-preserving mapInPandas — the
    Pillow-shaped slot, filled with the pure-numpy codec."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = [resize_image(bytes(p), width, height) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": out,
                    "mime": ["image/bmp"] * len(out),
                    "n_bytes": [len(p) for p in out],
                }
            )

    return media.mapInPandas(batches, MEDIA_SCHEMA)


def resize_stub(payload: bytes, target_bytes: int, *, fake: bool = True) -> bytes:
    """STUB byte-resize for codec-REQUIRING formats — BMP/PPM resize for
    real via :func:`resize_image`.  The fake is a deterministic
    truncate-or-cycle to ``target_bytes`` so the pipeline shape (binary
    in → binary out, size contract) is testable for opaque payloads."""
    if not fake:
        raise NotImplementedError(
            "resize of codec-bearing formats (JPEG/WebP/…) requires an image "
            "library (e.g. Pillow) not present in this environment; BMP/PPM/"
            "PNG payloads resize for real via resize_image()"
        )
    if not payload:
        return b"\x00" * target_bytes
    reps = target_bytes // len(payload) + 1
    return (payload * reps)[:target_bytes]


def resize_media(media: DataFrame, target_bytes: int = 64) -> DataFrame:
    """Arrow-batched binary→binary transform (the resize plumbing):
    partition-preserving mapInPandas, payload column replaced, metadata
    recomputed — the exact shape a Pillow-backed resize drops into."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = [resize_stub(p, target_bytes, fake=True) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": out,
                    "mime": pdf["mime"],
                    "n_bytes": [len(p) for p in out],
                }
            )

    return media.mapInPandas(batches, MEDIA_SCHEMA)


def sample_frames(media: DataFrame, frame_bytes: int = 32, every_n: int = 2) -> DataFrame:
    """Frame sampling: 1 video payload → N frame rows (every ``every_n``-th
    fixed-size chunk — the stand-in for keyframe extraction).  The fan-out
    happens inside mapInPandas, so a 100 GB partition of videos streams
    out as frame batches without ever materializing all frames of one
    partition in memory."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                chunks = [
                    p[o : o + frame_bytes]
                    for o in range(0, len(p), frame_bytes)
                ]
                for i, c in enumerate(chunks[::every_n]):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(c)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": idxs,
                    "frame": frames,
                    "frame_bytes": [len(c) for c in frames],
                }
            )

    return media.mapInPandas(batches, FRAME_SCHEMA)


# --- audio (WAV/PCM — real codec via operators.codecs) ----------------------

AUDIO_SAMPLE_RATE = 8_000  # 125 µs per sample: duration_us stays integer-exact

AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("duration_us", LongType()),
        StructField("rms", DoubleType()),
        StructField("peak", IntegerType()),
        StructField("decoded", BooleanType()),
    ]
)


def render_text_wav(text: str) -> bytes:
    """Deterministically render a document's text into a REAL PCM WAV:
    ``n_samples = n_bytes % 441 + 100`` (arithmetic from byte length, so a
    SQL oracle can verify the decoded duration from ``octet_length``
    alone) at 8 kHz mono; the int16 samples cycle the utf-8 bytes, centred
    and scaled, so amplitude statistics depend on actual content."""
    raw = text.encode("utf-8")
    nb = len(raw)
    n = nb % 441 + 100
    if nb == 0:
        samples = np.zeros(n, dtype=np.int16)
    else:
        reps = n // nb + 1
        cycled = np.frombuffer((raw * reps)[:n], dtype=np.uint8)
        samples = ((cycled.astype(np.int16) - 128) << 8).astype(np.int16)
    return encode_wav(samples, AUDIO_SAMPLE_RATE)


def documents_as_audio_media(docs: DataFrame) -> DataFrame:
    """Media table with GENUINE audio payloads: each document's text is
    rendered into a real RIFF/WAVE PCM file inside :func:`doc_rows`, so
    downstream decode exercises the actual container format (chunk walk,
    fmt parse, interleaved samples)."""
    return _rendered_media(docs, render_text_wav, "audio/wav")


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Arrow-batched audio feature extraction: REAL WAV decode (via
    operators.codecs.decode_wav) → sample-accurate duration, RMS and peak
    amplitude.  Undecodable payloads get null features with
    ``decoded=false`` instead of failing the batch — the corrupt-input
    discipline every 100 TB media scan needs."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                k: []
                for k in (
                    "sample_rate", "n_channels", "n_samples",
                    "duration_us", "rms", "peak", "decoded",
                )
            }
            for p in pdf["payload"]:
                try:
                    samples, rate = decode_wav(bytes(p))
                    n, ch = samples.shape
                    rows["sample_rate"].append(rate)
                    rows["n_channels"].append(ch)
                    rows["n_samples"].append(n)
                    rows["duration_us"].append(n * 1_000_000 // rate)
                    flat = samples.astype(np.float64)
                    rows["rms"].append(float(np.sqrt(np.mean(flat * flat))))
                    rows["peak"].append(int(np.abs(samples).max()) if n else 0)
                    rows["decoded"].append(True)
                except ValueError:
                    for k in ("sample_rate", "n_channels", "n_samples",
                              "duration_us", "rms", "peak"):
                        rows[k].append(None)
                    rows["decoded"].append(False)
            yield pd.DataFrame({"media_id": pdf["media_id"], **rows})

    return media.mapInPandas(batches, AUDIO_FEATURE_SCHEMA)


PNG_ROUNDTRIP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_pixels", LongType()),
        StructField("png_ok", BooleanType()),
    ]
)


def png_roundtrip_row(img: np.ndarray) -> tuple[int, int, int, bool]:
    """Encode a decoded image as PNG, decode it back and compare:
    (width, height, n_pixels, pixel-exact).  Level 1: the roundtrip
    proves codec correctness, not compression ratio — fastest deflate is
    still a real PNG."""
    back = decode_png(encode_png(img, level=1))
    h, w = img.shape[0], img.shape[1]
    return w, h, w * h, back.shape == img.shape and bool(np.array_equal(back, img))


def png_roundtrip_features(media: DataFrame) -> DataFrame:
    """End-to-end PNG codec proof over real image payloads: decode the
    incoming image (BMP/PPM/PNG), re-encode it as PNG (zlib deflate,
    CRC-framed chunks), decode the PNG back, and assert pixel-exact
    equality (``png_ok``).  A header, filter, CRC or deflate bug anywhere
    in the PNG path flips ``png_ok`` false — which the oracle checks
    externally, row for row."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [png_roundtrip_row(decode_image(bytes(p))) for p in pdf["payload"]]
            out = pd.DataFrame(rows, columns=PNG_ROUNDTRIP_SCHEMA.fieldNames()[1:])
            out.insert(0, "media_id", pdf["media_id"].to_numpy())
            yield out

    return media.mapInPandas(batches, PNG_ROUNDTRIP_SCHEMA)


def png_roundtrip_from_docs(docs: DataFrame) -> DataFrame:
    """Fused render→PNG-roundtrip over documents: one :func:`doc_rows`
    pass doing BMP render, BMP decode, PNG encode/decode and
    pixel-equality — the same semantics as ``png_roundtrip_features(
    documents_as_image_media(docs))`` (equality pytest-asserted) but with
    ONE Python stage instead of two, so each task crosses JVM↔Python once
    and the image payload never rides Arrow between two Python nodes."""
    return doc_rows(
        docs,
        "doc_id",
        lambda text: [png_roundtrip_row(rendered_image(text))],
        PNG_ROUNDTRIP_SCHEMA,
    )


AHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("ahash_hi", LongType()),
        StructField("ahash_lo", LongType()),
        StructField("n_ones", LongType()),
    ]
)


def ahash_64(img: np.ndarray) -> tuple[int, int, int]:
    """Perceptual average-hash over a decoded (H, W, 3) image, ALL in
    integer arithmetic so an external SQL oracle can replay it exactly:
    gray = (R+G+B) div 3; pixel (r, c) maps to 8×8 cell
    (r·8 div H, c·8 div W); cell value = div-mean of its grays; bit =
    cell > div-mean of the 64 cells.  Returns (hi32, lo32, popcount)."""
    h, w = img.shape[0], img.shape[1]
    g = gray(img)
    br = (np.arange(h) * 8) // h
    bc = (np.arange(w) * 8) // w
    sums = np.zeros((8, 8), dtype=np.int64)
    cnts = np.zeros((8, 8), dtype=np.int64)
    np.add.at(sums, (br[:, None].repeat(w, 1), bc[None, :].repeat(h, 0)), g)
    np.add.at(cnts, (br[:, None].repeat(w, 1), bc[None, :].repeat(h, 0)), 1)
    cells = sums // cnts
    gmean = int(cells.sum()) // 64
    bits = (cells > gmean).astype(np.int64).reshape(-1)  # index = br*8+bc
    hi = sum(1 << (i - 32) for i in range(32, 64) if bits[i])
    lo = sum(1 << i for i in range(32) if bits[i])
    return hi, lo, int(bits.sum())


def image_ahash(docs: DataFrame) -> DataFrame:
    """Render → REAL BMP decode → integer aHash in one :func:`doc_rows`
    pass.  The whole encode/decode path is under test: a mangled header,
    padding byte, or row order changes the pixels and breaks the oracle
    hash."""

    def ahash(text: str) -> list[tuple]:
        img = rendered_image(text)
        return [(img.shape[1], img.shape[0], *ahash_64(img))]

    return doc_rows(docs, "doc_id", ahash, AHASH_SCHEMA)
