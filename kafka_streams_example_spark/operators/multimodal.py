"""Multimodal (image/audio/video) column handling.

Design: media are opaque ``binary`` columns with typed metadata alongside —
the pattern that scales to 100TB because Spark never interprets the bytes
except inside explicitly vectorized stages:

- metadata (sizes, fingerprints, format sniffing) = JVM-side expressions;
- decode / feature-extract / resize / frame-sample = Arrow-batched
  ``mapInPandas`` stages, one Python process per partition, zero-copy
  batch transfer.

This container has no image/audio libraries, but the decode path is REAL
for the two open formats simple enough to implement from spec with the
stdlib: PNG and WAV (functions/codecs.py — full chunk/CRC parse, inflate,
all five scanline filters). ``fake=False`` decodes/resizes actual PNG
blobs; blobs in formats that would need an external codec (JPEG, MP4, …)
yield ``ok=False`` rows — per-row failure tolerance, because one corrupt
or exotic blob must not kill a 100TB decode job. A deterministic fake
path (``fake=True``) remains for plumbing tests that don't care about
pixel content. The byte-level feature extractor (entropy, byte stats) is
also real: numpy over Arrow batches.
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_example_spark.functions import codecs as _codecs
from kafka_streams_example_spark.functions import codecs_np as _codecs_np


def _ship_codecs():
    """Register the codec modules BY VALUE so mapInPandas kernels can call
    them on workers that do not have this repo on sys.path (the driver
    contract runs from an arbitrary cwd), and return the numpy-vectorized
    one (functions/codecs_np.py — byte-identical to the stdlib reference
    functions/codecs.py, the per-doc decode constant cut ~6-10x). Both
    ship: codecs_np's globals reference the codecs module."""
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(_codecs)
    cloudpickle.register_pickle_by_value(_codecs_np)
    return _codecs_np


DECODED_SCHEMA = (
    "doc_id LONG, width INT, height INT, channels INT, ok BOOLEAN"
)
FEATURES_SCHEMA = (
    "doc_id LONG, n_bytes LONG, byte_entropy DOUBLE, mean_byte DOUBLE"
)


def with_png_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Fixture flow with REAL image blobs: builds a spec-conformant 8-bit
    grayscale PNG per row (dims derived from the id, pixels from the md5
    digest of the text, repeated to fill) — so decode stages downstream
    exercise an actual codec. In production the binary arrives from the
    source; this generator stands in for the object-store read while
    keeping every byte deterministic and oracle-reproducible."""
    cx = _ship_codecs()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                w, h = 16 + int(i) % 17, 16 + int(i) % 13
                digest = hashlib.md5(str(t).encode("utf-8")).digest()
                px = (digest * (w * h // 16 + 1))[: w * h]
                blobs.append(cx.encode_png_gray8(w, h, px))
            yield pd.DataFrame({"doc_id": pdf[id_col], "payload": blobs})

    return df.select(id_col, text_col).mapInPandas(batches, "doc_id LONG, payload BINARY")


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


def decode_images(
    df: DataFrame, fake: bool = False, id_col: str = "doc_id", bin_col: str = "payload"
) -> DataFrame:
    """Decode stage: binary → (width, height, channels). The real path
    (``fake=False``) runs the stdlib PNG codec — full chunk walk, CRC
    verification, inflate, unfilter (functions/codecs.py) — and emits
    ``ok=False`` with NULL dims for blobs that are not decodable PNGs
    (corrupt bytes or formats needing an external codec), so a bad blob
    degrades one row, never the job. The fake path derives dims
    deterministically from the content hash for plumbing-only tests."""
    if fake:

        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                h = pdf[bin_col].map(
                    lambda b: hashlib.md5(bytes(b)).digest() if b is not None else b"\0" * 16
                )
                yield pd.DataFrame(
                    {
                        "doc_id": pdf[id_col],
                        "width": h.map(lambda d: 64 + d[0] % 192).astype("int32"),
                        "height": h.map(lambda d: 64 + d[1] % 192).astype("int32"),
                        "channels": h.map(lambda d: 1 + d[2] % 4).astype("int32"),
                        "ok": pdf[bin_col].notna(),
                    }
                )

        return df.select(id_col, bin_col).mapInPandas(batches, DECODED_SCHEMA)

    cx = _ship_codecs()

    def real_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ws, hs, cs, oks = [], [], [], []
            for b in pdf[bin_col]:
                try:
                    d = cx.decode_png(bytes(b))
                    ws.append(d["width"])
                    hs.append(d["height"])
                    cs.append(d["channels"])
                    oks.append(True)
                except (ValueError, TypeError, KeyError, struct.error, zlib.error):
                    # struct.error: truncated blob (unpack_from past end of
                    # buffer in the chunk walk); zlib.error: corrupt deflate
                    # stream with a valid chunk CRC. Both must degrade the
                    # row, not kill the Spark task.
                    ws.append(None)
                    hs.append(None)
                    cs.append(None)
                    oks.append(False)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": pd.Series(ws, dtype="Int32"),
                    "height": pd.Series(hs, dtype="Int32"),
                    "channels": pd.Series(cs, dtype="Int32"),
                    "ok": oks,
                }
            )

    return df.select(id_col, bin_col).mapInPandas(real_batches, DECODED_SCHEMA)


def byte_features(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload"
) -> DataFrame:
    """REAL vectorized per-blob feature extraction (no codec needed):
    byte-histogram entropy and mean byte value via numpy. The template for
    any embed/score/transform pass over media bytes."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ents, means, sizes = [], [], []
            for b in pdf[bin_col]:
                if b is None:
                    # NULL payload: NULL size, zeroed features — matches
                    # the SQL oracle (octet_length(NULL)=NULL; the entropy
                    # coalesce yields 0.0 with no byte rows)
                    sizes.append(None)
                    ents.append(0.0)
                    means.append(0.0)
                    continue
                arr = np.frombuffer(bytes(b), dtype=np.uint8)
                sizes.append(len(arr))
                if len(arr) == 0:
                    ents.append(0.0)
                    means.append(0.0)
                    continue
                counts = np.bincount(arr, minlength=256)
                p = counts[counts > 0] / len(arr)
                ents.append(float(-(p * np.log2(p)).sum()))
                means.append(float(arr.mean()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": pd.Series(sizes, dtype="Int64"),
                    "byte_entropy": ents,
                    "mean_byte": means,
                }
            )

    return df.select(id_col, bin_col).mapInPandas(batches, FEATURES_SCHEMA)


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


RESIZED_SCHEMA = (
    "doc_id LONG, width INT, height INT, out_width INT, out_height INT, "
    "resized BINARY, ok BOOLEAN"
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
    model-input pass). The real path decodes PNG via the stdlib codec,
    resamples nearest-neighbor, and re-encodes a real PNG at the target
    dims; non-PNG/corrupt blobs yield ``ok=False`` rows. The fake path
    emits a deterministic hash-derived pseudo-image of exactly
    ``out_width*out_height`` bytes for plumbing-only tests.

    Scale: mapInPandas keeps this a map-only stage (no shuffle); output
    blobs are bounded (out_width*out_height*channels) so downstream
    partition sizing is predictable regardless of input image sizes.
    """
    if not fake:
        cx = _ship_codecs()

        def real_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                ws, hs, blobs, oks = [], [], [], []
                for b in pdf[bin_col]:
                    try:
                        d = cx.decode_png(bytes(b))
                        if d["channels"] != 1:
                            raise ValueError("resize path supports gray8")
                        small = cx.resize_gray8_nearest(
                            d["pixels"], d["width"], d["height"], out_width, out_height
                        )
                        ws.append(d["width"])
                        hs.append(d["height"])
                        blobs.append(cx.encode_png_gray8(out_width, out_height, small))
                        oks.append(True)
                    except (ValueError, TypeError, KeyError, struct.error, zlib.error):
                        ws.append(None)
                        hs.append(None)
                        blobs.append(None)
                        oks.append(False)
                yield pd.DataFrame(
                    {
                        "doc_id": pdf[id_col],
                        "width": pd.Series(ws, dtype="Int32"),
                        "height": pd.Series(hs, dtype="Int32"),
                        "out_width": pd.Series([out_width] * len(pdf), dtype="int32"),
                        "out_height": pd.Series([out_height] * len(pdf), dtype="int32"),
                        "resized": blobs,
                        "ok": oks,
                    }
                )

        return df.select(id_col, bin_col).mapInPandas(real_batches, RESIZED_SCHEMA)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            h = pdf[bin_col].map(
                lambda b: hashlib.md5(bytes(b)).digest() if b is not None else b"\0" * 16
            )
            n_out = out_width * out_height
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": h.map(lambda d: 64 + d[0] % 192).astype("int32"),
                    "height": h.map(lambda d: 64 + d[1] % 192).astype("int32"),
                    "out_width": pd.Series([out_width] * len(pdf), dtype="int32"),
                    "out_height": pd.Series([out_height] * len(pdf), dtype="int32"),
                    # deterministic pseudo-pixels: repeat the digest to size
                    "resized": h.map(
                        lambda d: (d * (n_out // len(d) + 1))[:n_out]
                    ),
                    "ok": pdf[bin_col].notna(),
                }
            )

    return df.select(id_col, bin_col).mapInPandas(batches, RESIZED_SCHEMA)


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


def byte_features_arrow(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload"
) -> DataFrame:
    """``mapInArrow`` flavor of byte_features: RecordBatch in, RecordBatch
    out, no pandas materialization — the lowest-overhead Python interop
    Spark offers and the right default for byte-level media passes at
    scale. Values are identical to byte_features (same numpy math)."""
    import numpy as np
    import pyarrow as pa

    def batches(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in it:
            ids = batch.column(0)
            payloads = batch.column(1)
            ents, means, sizes = [], [], []
            for buf in payloads:
                raw = buf.as_py()
                if raw is None:  # NULL payload — same contract as pandas path
                    sizes.append(None)
                    ents.append(0.0)
                    means.append(0.0)
                    continue
                arr = np.frombuffer(raw, dtype=np.uint8)
                sizes.append(len(arr))
                if len(arr) == 0:
                    ents.append(0.0)
                    means.append(0.0)
                    continue
                counts = np.bincount(arr, minlength=256)
                p = counts[counts > 0] / len(arr)
                ents.append(float(-(p * np.log2(p)).sum()))
                means.append(float(arr.mean()))
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(sizes, type=pa.int64()),
                    pa.array(ents, type=pa.float64()),
                    pa.array(means, type=pa.float64()),
                ],
                names=["doc_id", "n_bytes", "byte_entropy", "mean_byte"],
            )

    return df.select(id_col, bin_col).mapInArrow(batches, FEATURES_SCHEMA)


JPEG_DECODED_SCHEMA = (
    "doc_id LONG, width INT, height INT, n_blocks INT, n_pixels LONG, "
    "pixel_sum LONG, ok BOOLEAN"
)


def with_jpeg_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fixture flow with REAL baseline-JPEG blobs: dims ``8*(1+id%3) ×
    8*(1+id%2)``, each 8×8 block a constant value = md5(text) digest byte
    (block index mod 16). Per-block-constant content makes the lossy
    format numerically exact (only the DC coefficient is nonzero and it
    quantizes to an integer under the all-1 table), so a full-value
    oracle over the decoded pixels exists — while the encoder/decoder
    still run the complete baseline pipeline (DCT, quantization, zigzag,
    DC-diff + AC run-length Huffman, byte stuffing, IDCT)."""
    cx = _ship_codecs()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                i = int(i)
                w, h = 8 * (1 + i % 3), 8 * (1 + i % 2)
                digest = hashlib.md5(str(t).encode("utf-8")).digest()
                wb = w // 8
                px = bytearray(w * h)
                for by in range(h // 8):
                    for bx in range(wb):
                        v = digest[(by * wb + bx) % 16]
                        for y in range(8):
                            row = (by * 8 + y) * w + bx * 8
                            px[row : row + 8] = bytes([v]) * 8
                blobs.append(cx.encode_jpeg_gray8(w, h, bytes(px)))
            yield pd.DataFrame({"doc_id": pdf[id_col], "payload": blobs})

    return df.select(id_col, text_col).mapInPandas(batches, "doc_id LONG, payload BINARY")


def decode_jpegs(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload"
) -> DataFrame:
    """Decode stage for baseline JPEG: binary → decoded stream properties
    + pixel aggregate (functions/codecs.py:decode_jpeg — full marker walk,
    DHT canonical codes, entropy decode, dequant, IDCT). Undecodable
    blobs (corrupt bytes, progressive/multi-component streams, formats
    needing an external codec) emit ``ok=False`` with NULL fields — a bad
    blob degrades one row, never the job."""
    cx = _ship_codecs()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in (
                "width", "height", "n_blocks", "n_pixels", "pixel_sum", "ok",
            )}
            for b in pdf[bin_col]:
                try:
                    d = cx.decode_jpeg(bytes(b))
                    out["width"].append(d["width"])
                    out["height"].append(d["height"])
                    out["n_blocks"].append(
                        ((d["width"] + 7) // 8) * ((d["height"] + 7) // 8)
                    )
                    out["n_pixels"].append(len(d["pixels"]))
                    out["pixel_sum"].append(sum(d["pixels"]))
                    out["ok"].append(True)
                except (ValueError, TypeError, KeyError, IndexError, struct.error):
                    for k in ("width", "height", "n_blocks", "n_pixels", "pixel_sum"):
                        out[k].append(None)
                    out["ok"].append(False)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": pd.Series(out["width"], dtype="Int32"),
                    "height": pd.Series(out["height"], dtype="Int32"),
                    "n_blocks": pd.Series(out["n_blocks"], dtype="Int32"),
                    "n_pixels": pd.Series(out["n_pixels"], dtype="Int64"),
                    "pixel_sum": pd.Series(out["pixel_sum"], dtype="Int64"),
                    "ok": out["ok"],
                }
            )

    return df.select(id_col, bin_col).mapInPandas(batches, JPEG_DECODED_SCHEMA)
