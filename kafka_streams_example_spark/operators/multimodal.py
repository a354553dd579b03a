"""Multimodal (image/audio/video) column handling.

Design: media are opaque ``binary`` columns with typed metadata alongside —
the pattern that scales to 100TB because Spark never interprets the bytes
except inside explicitly vectorized stages:

- metadata (sizes, fingerprints, format sniffing) = JVM-side expressions;
- decode / feature-extract / resize / fingerprint = Arrow-batched
  ``mapInPandas`` stages, one Python process per partition, zero-copy
  batch transfer.

Every such stage runs in ONE shell, ``map_rows``: a per-row function
over the listed input columns, with the batch loop, the column assembly
and the failure contract in one place. A codec error degrades one row
(``ok=False``, NULL fields) and never fails the job, because one corrupt
or exotic blob must not kill a 100TB decode job. The shell is also the
one place a per-task byte budget for media kernels belongs.

This container has no image/audio libraries, but the decode path is REAL
for the three formats simple enough to implement from spec with the
stdlib (functions/codecs.py, with numpy fast paths in codecs_np.py):
PNG (full chunk/CRC parse, inflate, all five scanline filters), baseline
JPEG (``decode_jpegs``: marker walk, Huffman, dequant, IDCT) and WAV.
Blobs in any other format (MP4, progressive JPEG, …) yield ``ok=False``
rows. The fixture flows (``with_png_payload``, ``with_jpeg_payload``)
build real blobs from functions/fixtures.py. A deterministic fake path
(``fake=True``) remains for plumbing tests that don't care about pixel
content. The byte-level feature extractor (entropy, byte stats) is also
real: numpy over Arrow batches.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_example_spark.functions import codecs as _codecs
from kafka_streams_example_spark.functions import codecs_np as cx
from kafka_streams_example_spark.functions import fixtures as fx


def _ship_codecs():
    """Register the codec and fixture modules BY VALUE so mapInPandas
    kernels can call them on workers that do not have this repo on
    sys.path (the driver contract runs from an arbitrary cwd), and
    return the numpy-vectorized codecs (functions/codecs_np.py —
    byte-identical to the stdlib reference functions/codecs.py, the
    per-doc decode constant cut ~6-10x). Both codec modules ship:
    codecs_np's globals reference the codecs module.

    cloudpickle ships every other module-level function of this package
    BY REFERENCE, so a kernel may call only these three modules, the
    standard library, numpy and pandas (tests/test_kernel_shipping.py)."""
    from pyspark import cloudpickle

    for module in (_codecs, cx, fx):
        cloudpickle.register_pickle_by_value(module)
    return cx


# The codec failures that degrade a row instead of failing the task:
# ValueError/TypeError/KeyError/IndexError from the format checks,
# struct.error from a truncated blob (unpack past the end of the buffer
# in a chunk or marker walk), zlib.error from a corrupt deflate stream
# under a valid chunk CRC.
_CODEC_ERRORS = (ValueError, TypeError, KeyError, IndexError, struct.error, zlib.error)

# nullable pandas dtypes for the integer columns a failed row leaves NULL
_NULLABLE = {"INT": "Int32", "LONG": "Int64"}


def map_rows(df: DataFrame, in_cols: list[str], out_ddl: str, fn) -> DataFrame:
    """The batch shell every media kernel runs in: ``fn(*row)`` over the
    ``in_cols`` values of each input row yields zero or more output
    tuples in ``out_ddl`` order (a flat ``"name TYPE, ..."`` list).

    The shell owns the Arrow batch loop (one map-only ``mapInPandas``
    stage, no shuffle) and the column assembly. When the output carries
    an ``ok`` column it also owns the failure contract: a
    ``_CODEC_ERRORS`` raise anywhere in ``fn`` for a row replaces that
    row's output with one row of its id (the first input column), NULL
    fields and ``ok=False``. Without an ``ok`` column an error fails the
    task like any other.

    ``fn`` is pickled by value and runs on workers that cannot import
    this package: it may call only what ``_ship_codecs`` registers (this
    module's ``cx`` and ``fx``), the standard library, numpy and pandas,
    and read plain constants."""
    _ship_codecs()
    fields = [f.split() for f in out_ddl.split(",")]
    names = [name for name, _ in fields]
    dtypes = [_NULLABLE.get(kind) for _, kind in fields]
    ok = names.index("ok") if "ok" in names else None
    errors = _CODEC_ERRORS if ok is not None else ()

    def batches(it):
        for pdf in it:
            rows = []
            for args in zip(*(pdf[c].tolist() for c in in_cols)):
                try:
                    rows += list(fn(*args))
                except errors:
                    bad = [None] * len(names)
                    bad[0], bad[ok] = args[0], False
                    rows.append(bad)
            cols = list(zip(*rows)) if rows else [()] * len(names)
            yield pd.DataFrame(
                {n: pd.Series(c, dtype=d) for n, c, d in zip(names, cols, dtypes)}
            )

    return df.select(*in_cols).mapInPandas(batches, out_ddl)


def with_png_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Fixture flow with REAL image blobs: a spec-conformant 8-bit
    grayscale PNG per row (functions/fixtures.py:png_gray8 — dims from
    the id, pixels from the md5 digest of the text) — so decode stages
    downstream exercise an actual codec. In production the binary
    arrives from the source; this generator stands in for the
    object-store read while keeping every byte deterministic and
    oracle-reproducible."""
    return map_rows(
        df, [id_col, text_col], "doc_id LONG, payload BINARY",
        lambda i, t: [(i, cx.encode_png_gray8(*fx.png_gray8(i, t)))],
    )


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach an opaque binary column + metadata struct. In production the
    binary arrives from the source (parquet BINARY / object store); here it
    derives from text so the testdata exercises the same plumbing."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.octet_length(payload).alias("n_bytes"),
            F.md5(payload).alias("content_md5"),
            F.lit("application/octet-stream").alias("mime"),
        ),
    )


DECODED_SCHEMA = "doc_id LONG, width INT, height INT, channels INT, ok BOOLEAN"


def decode_images(
    df: DataFrame, fake: bool = False, id_col: str = "doc_id", bin_col: str = "payload"
) -> DataFrame:
    """Decode stage: binary → (width, height, channels). The real path
    (``fake=False``) runs the PNG codec — full chunk walk, CRC
    verification, inflate, unfilter (functions/codecs.py) — and emits
    ``ok=False`` with NULL dims for blobs that are not decodable PNGs
    (corrupt bytes or formats needing an external codec), so a bad blob
    degrades one row, never the job. The fake path derives dims
    deterministically from the content hash for plumbing-only tests."""
    if fake:

        def row(i, b):
            d = hashlib.md5(bytes(b)).digest() if b is not None else b"\0" * 16
            yield i, 64 + d[0] % 192, 64 + d[1] % 192, 1 + d[2] % 4, b is not None

    else:

        def row(i, b):
            d = cx.decode_png(bytes(b))
            yield i, d["width"], d["height"], d["channels"], True

    return map_rows(df, [id_col, bin_col], DECODED_SCHEMA, row)


def byte_features(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload"
) -> DataFrame:
    """REAL vectorized per-blob feature extraction (no codec needed):
    byte-histogram entropy and mean byte value via numpy. The template for
    any embed/score/transform pass over media bytes."""
    import numpy as np

    def row(i, b):
        if b is None:
            # NULL payload: NULL size, zeroed features — matches the SQL
            # oracle (octet_length(NULL)=NULL; the entropy coalesce
            # yields 0.0 with no byte rows)
            yield i, None, 0.0, 0.0
            return
        arr = np.frombuffer(bytes(b), dtype=np.uint8)
        if len(arr) == 0:
            yield i, 0, 0.0, 0.0
            return
        counts = np.bincount(arr, minlength=256)
        p = counts[counts > 0] / len(arr)
        yield i, len(arr), float(-(p * np.log2(p)).sum()), float(arr.mean())

    return map_rows(
        df, [id_col, bin_col],
        "doc_id LONG, n_bytes LONG, byte_entropy DOUBLE, mean_byte DOUBLE", row,
    )


def sample_frames(
    df: DataFrame,
    every_n_bytes: int = 1024,
    max_frames: int = 8,
    id_col: str = "doc_id",
    bin_col: str = "payload",
) -> DataFrame:
    """Frame-sampling stage shape (video → frames): emits one row per
    sampled offset. Real decoders replace the offset arithmetic; the
    explode-to-frames dataflow (1 blob row → N frame rows) is the part that
    matters for partitioning and it is fully real."""
    n = F.octet_length(F.col(bin_col))
    offsets = F.sequence(F.lit(0), F.least(F.lit(max_frames - 1), n / every_n_bytes).cast("int"))
    return (
        df.select(id_col, bin_col, F.explode(offsets).alias("frame_no"))
        .withColumn("byte_offset", F.col("frame_no") * every_n_bytes)
        .withColumn(
            "frame_md5",
            F.md5(
                F.substring(
                    F.col(bin_col).cast("string"), 1, 32
                )
            ),
        )
        .drop(bin_col)
    )


def resize_images(
    df: DataFrame,
    out_width: int = 224,
    out_height: int = 224,
    fake: bool = False,
    id_col: str = "doc_id",
    bin_col: str = "payload",
) -> DataFrame:
    """Resize stage: binary image → fixed-dims binary (the normalize-to-
    model-input pass). The real path decodes PNG, resamples
    nearest-neighbor, and re-encodes a real PNG at the target dims;
    non-PNG/corrupt blobs yield ``ok=False`` rows. The fake path emits a
    deterministic hash-derived pseudo-image of exactly
    ``out_width*out_height`` bytes for plumbing-only tests.

    Scale: a map-only stage (no shuffle); output blobs are bounded
    (out_width*out_height*channels) so downstream partition sizing is
    predictable regardless of input image sizes.
    """
    n_out = out_width * out_height
    if fake:

        def row(i, b):
            d = hashlib.md5(bytes(b)).digest() if b is not None else b"\0" * 16
            # deterministic pseudo-pixels: repeat the digest to size
            yield (i, 64 + d[0] % 192, 64 + d[1] % 192,
                   (d * (n_out // len(d) + 1))[:n_out], b is not None)

    else:

        def row(i, b):
            d = cx.decode_png(bytes(b))
            if d["channels"] != 1:
                raise ValueError("resize path supports gray8")
            small = cx.resize_gray8_nearest(
                d["pixels"], d["width"], d["height"], out_width, out_height
            )
            yield (i, d["width"], d["height"],
                   cx.encode_png_gray8(out_width, out_height, small), True)

    out = map_rows(
        df, [id_col, bin_col],
        "doc_id LONG, width INT, height INT, resized BINARY, ok BOOLEAN", row,
    )
    return out.select(
        "doc_id", "width", "height",
        F.lit(out_width).alias("out_width"), F.lit(out_height).alias("out_height"),
        "resized", "ok",
    )


def multimodal_meta(docs: DataFrame) -> DataFrame:
    """Oracle-checkable metadata pass: sizes + content fingerprints of the
    binary payload — pure JVM expressions."""
    with_bin = with_binary_payload(docs)
    return with_bin.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.content_md5").alias("content_md5"),
        F.col("media_meta.mime").alias("mime"),
    )


def with_jpeg_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fixture flow with REAL baseline-JPEG blobs
    (functions/fixtures.py:jpeg_gray8 — per-8×8-block-constant content,
    so the lossy format stays numerically exact and a full-value oracle
    over the decoded pixels exists) — while the encoder/decoder still
    run the complete baseline pipeline (DCT, quantization, zigzag,
    DC-diff + AC run-length Huffman, byte stuffing, IDCT)."""
    return map_rows(
        df, [id_col, text_col], "doc_id LONG, payload BINARY",
        lambda i, t: [(i, cx.encode_jpeg_gray8(*fx.jpeg_gray8(i, t)))],
    )


def decode_jpegs(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload"
) -> DataFrame:
    """Decode stage for baseline JPEG: binary → decoded stream properties
    + pixel aggregate (functions/codecs.py:decode_jpeg — full marker walk,
    DHT canonical codes, entropy decode, dequant, IDCT). Undecodable
    blobs (corrupt bytes, progressive/multi-component streams, formats
    needing an external codec) emit ``ok=False`` with NULL fields — a bad
    blob degrades one row, never the job."""

    def row(i, b):
        d = cx.decode_jpeg(bytes(b))
        w, h = d["width"], d["height"]
        yield (i, w, h, ((w + 7) // 8) * ((h + 7) // 8),
               len(d["pixels"]), sum(d["pixels"]), True)

    return map_rows(
        df, [id_col, bin_col],
        "doc_id LONG, width INT, height INT, n_blocks INT, n_pixels LONG, "
        "pixel_sum LONG, ok BOOLEAN",
        row,
    )


# 60-bit dHash: an 11×6 thumbnail gives the SimHash width, so the same
# 4×15-bit banding applies
_DH_GRID_W, _DH_GRID_H = 11, 6
_DH_BANDS, _DH_BITS = 4, 15


def phash_fingerprints(docs: DataFrame) -> DataFrame:
    """The perceptual fingerprint scan over a ``(doc_id, text)`` frame:
    per doc, build the PNG fixture image (functions/fixtures.py:png_gray8),
    encode it, fully DECODE it (CRC chunk walk + inflate + unfilter) and
    take the 60-bit dHash of the decoded pixels (codecs.dhash60 —
    Krawetz's difference hash). Emits (doc_id, width, height, dhash);
    the blob exists only inside the batch. A production pipeline swaps
    the synthesis for the source's blob column."""

    def row(i, t):
        d = cx.decode_png(cx.encode_png_gray8(*fx.png_gray8(i, t)))
        w, h = d["width"], d["height"]
        yield i, w, h, cx.dhash60(d["pixels"], w, h, _DH_GRID_W, _DH_GRID_H)

    return map_rows(
        docs, ["doc_id", "text"], "doc_id LONG, width INT, height INT, dhash LONG", row
    )
