"""Multimodal queries over binary media columns: fake and real
(pure-stdlib codec) PNG/JPEG decode, WAV round-trips, frame sampling,
resize and perceptual fingerprints — the Spark-side plumbing (schema,
partitioning, Arrow batch shape) for image/audio/video feature
extraction.

Every kernel is a per-row function run by the one batch shell
(operators/multimodal.py:map_rows) over fixture media synthesized by
functions/fixtures.py; blobs stay inside the batch or in binary columns
and never transit a shuffle. A kernel may call only the shipped modules
``cx`` and ``fx``, the standard library and plain constants (see
``map_rows``). Registration order is pinned by query_order.py.
"""

import math as _math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_example_spark.operators import dedup as dd
from kafka_streams_example_spark.operators import multimodal as mm
from kafka_streams_example_spark.operators import share
from kafka_streams_example_spark.operators.multimodal import (
    _DH_BANDS,
    _DH_BITS,
    _DH_GRID_H,
    _DH_GRID_W,
    cx,
    fx,
)
from kafka_streams_example_spark.registry import _load_parallel, register
from kafka_streams_example_spark.sources.files import table_uncompressed_bytes


@register(
    "multimodal_binary_meta",
    """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5,  -- DuckDB md5(VARCHAR) hashes the UTF-8 bytes == Spark md5(encode(text,'utf-8'))
       'application/octet-stream' AS mime
FROM documents
""",
)
def multimodal_binary_meta(spark, sf_dir):
    """Opaque-binary metadata pass: payload sizes + content fingerprints,
    pure JVM expressions (operators/multimodal.py)."""
    return mm.multimodal_meta(_load_parallel(spark, sf_dir, "documents"))


def _md5_byte_sql(hex_col: str, i: int) -> str:
    """DuckDB expression for byte ``i`` (0-based) of an md5 hex string —
    reproduces hashlib.md5(...).digest()[i] so the fake-codec outputs get
    an exact oracle."""
    nib = "(strpos('0123456789abcdef', substr({h}, {p}, 1)) - 1)"
    hi = nib.format(h=hex_col, p=2 * i + 1)
    lo = nib.format(h=hex_col, p=2 * i + 2)
    return f"(16 * {hi} + {lo})"


@register(
    "multimodal_byte_features",
    f"""
WITH h AS (
    SELECT doc_id, hex(encode(text)) AS hx,
           CAST(octet_length(encode(text)) AS BIGINT) AS n
    FROM documents
),
b AS (
    SELECT doc_id,
           16 * (strpos('0123456789ABCDEF', substr(hx, CAST(2*i-1 AS INT), 1)) - 1)
              + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i   AS INT), 1)) - 1) AS byte
    FROM h, unnest(generate_series(1, n)) AS u(i)
),
cnt AS (SELECT doc_id, byte, count(*) AS c FROM b GROUP BY 1, 2),
tot AS (SELECT doc_id, n FROM h),
ag AS (
    SELECT cnt.doc_id,
           -sum((cnt.c / CAST(t.n AS DOUBLE)) * log2(cnt.c / CAST(t.n AS DOUBLE))) AS e,
           sum(cnt.byte * cnt.c) / CAST(t.n AS DOUBLE) AS m
    FROM cnt JOIN tot t USING (doc_id)
    GROUP BY cnt.doc_id, t.n
)
SELECT t.doc_id, t.n AS n_bytes,
       round(coalesce(ag.e, 0.0) + 0.0, 6) AS byte_entropy,
       round(coalesce(ag.m, 0.0) + 0.0, 6) AS mean_byte
FROM tot t LEFT JOIN ag USING (doc_id)
""",
)
def multimodal_byte_features(spark, sf_dir):
    """Arrow-batched mapInPandas feature extraction over binary payloads
    (byte entropy, mean byte) — REAL numpy computation standing in for any
    media embed/score pass. The payload is the UTF-8 text bytes; the oracle
    histograms the SAME bytes (hex(encode(text)) parsed pairwise), so it is
    exact for non-ASCII text too, not just code points ≤ 127. Rounded to 6dp
    on both sides to collapse float-summation-order noise (+0.0 kills
    -0.0)."""
    docs = mm.with_binary_payload(_load_parallel(spark, sf_dir, "documents"))
    feats = mm.byte_features(docs)
    return feats.select(
        "doc_id",
        "n_bytes",
        F.round(F.col("byte_entropy") + F.lit(0.0), 6).alias("byte_entropy"),
        F.round(F.col("mean_byte") + F.lit(0.0), 6).alias("mean_byte"),
    )


@register(
    "multimodal_decode_fake",
    f"""
WITH h AS (SELECT doc_id, md5(text) AS hx, text FROM documents)
SELECT doc_id,
       CAST(64 + {_md5_byte_sql('hx', 0)} % 192 AS INT) AS width,
       CAST(64 + {_md5_byte_sql('hx', 1)} % 192 AS INT) AS height,
       CAST(1 + {_md5_byte_sql('hx', 2)} % 4 AS INT) AS channels,
       text IS NOT NULL AS ok
FROM h
""",
)
def multimodal_decode_fake(spark, sf_dir):
    """Decode-stage plumbing (binary → width/height/channels) with the
    deterministic fake codec (the real PNG path is
    multimodal_decode_real's codec; see operators/multimodal.py). The fake
    dims derive from md5 digest bytes, which DuckDB reproduces from the
    hex string — so even the Python mapInPandas path is oracle-exact."""
    docs = mm.with_binary_payload(_load_parallel(spark, sf_dir, "documents"))
    return mm.decode_images(docs, fake=True)


@register(
    "multimodal_frame_sample",
    """
SELECT doc_id,
       unnest(generate_series(0, least(7, strlen(text) // 1024))) AS frame_no,
       unnest(generate_series(0, least(7, strlen(text) // 1024))) * 1024 AS byte_offset,
       md5(substr(text, 1, 32)) AS frame_md5
FROM documents
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling stage (video -> frames dataflow shape): one blob row
    explodes to one row per sampled byte offset. The offset arithmetic
    stands in for a real decoder; the 1->N explode, bounded fan-out
    (max 8 frames) and per-frame fingerprint are the parts that matter
    for partitioning — and they are pure JVM expressions, so this stage
    is oracle-exact (the payload is utf-8 text bytes, so byte lengths and
    the 32-char prefix hash reproduce in DuckDB via strlen/substr).
    """
    docs = _load_parallel(spark, sf_dir, "documents")
    frames = mm.sample_frames(mm.with_binary_payload(docs))
    return frames.select("doc_id", "frame_no", "byte_offset", "frame_md5")


def _resize_fake_sql() -> str:

    # fake path: output blob = md5 digest (16B) repeated to 32*32 = 1024B,
    # i.e. exactly 64 repeats; its lowercase hex = repeat(md5-hex, 64), so
    # md5 of that hex string is an exact cross-engine content fingerprint.
    return f"""
WITH h AS (SELECT doc_id, md5(text) AS hx, text FROM documents)
SELECT doc_id,
       CAST(64 + {_md5_byte_sql('hx', 0)} % 192 AS INT) AS width,
       CAST(64 + {_md5_byte_sql('hx', 1)} % 192 AS INT) AS height,
       CAST(32 AS INT) AS out_width,
       CAST(32 AS INT) AS out_height,
       CAST(1024 AS INT) AS n_resized_bytes,
       md5(repeat(hx, 64)) AS resized_md5,
       text IS NOT NULL AS ok
FROM h
"""


@register("multimodal_resize_fake", _resize_fake_sql())
def multimodal_resize_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage over opaque binary payloads (the fake deterministic
    path: the payload is text bytes, not an image; the real PNG resize is
    operators/multimodal.py:resize_images with fake=False). The
    Spark-side contract is fully real: mapInPandas schema, fixed-size
    output blobs, 1:1 row mapping. The output blob is fingerprinted via
    md5(lower(hex(blob))), which DuckDB reproduces as md5(repeat(md5hex,
    64)) — a full value oracle over the Python resize path."""
    docs = _load_parallel(spark, sf_dir, "documents")
    out = mm.resize_images(
        mm.with_binary_payload(docs), out_width=32, out_height=32, fake=True
    )
    return out.select(
        "doc_id",
        "width",
        "height",
        "out_width",
        "out_height",
        F.octet_length("resized").alias("n_resized_bytes"),
        F.md5(F.lower(F.hex("resized"))).alias("resized_md5"),
        "ok",
    )


# hex-pair -> byte value, replicated in DuckDB over md5()'s hex output
_HEXVAL = "strpos('0123456789abcdef', substr(hx, {i}, 1)) - 1"


def _hex_byte(k: int) -> str:
    """DuckDB expression for byte ``k`` (0-based) of the md5 digest."""
    hi = _HEXVAL.format(i=2 * k + 1)
    lo = _HEXVAL.format(i=2 * k + 2)
    return f"(16 * ({hi}) + ({lo}))"


@register(
    "multimodal_decode_real",
    f"""
WITH d AS (
    SELECT doc_id,
           16 + doc_id % 17 AS w,
           16 + doc_id % 13 AS h,
           md5(text) AS hx
    FROM documents
),
b AS (
    SELECT doc_id, w, h,
           list_transform(generate_series(0, 15), k ->
               16 * (strpos('0123456789abcdef', substr(hx, 2*k + 1, 1)) - 1)
                  + (strpos('0123456789abcdef', substr(hx, 2*k + 2, 1)) - 1)
           ) AS db
    FROM d
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(8 AS INT) AS bit_depth,
       CAST(0 AS INT) AS color_type,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST((w * h // 16) * list_aggregate(db, 'sum')
            + coalesce(list_aggregate(db[1:(w * h % 16)], 'sum'), 0)
            AS BIGINT) AS pixel_sum,
       TRUE AS roundtrip_ok
FROM b
""",
)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG codec roundtrip over the documents corpus: build an 8-bit
    grayscale PNG per doc (dims ``16+id%17 × 16+id%13``, pixels = md5(text)
    digest repeated), then fully decode it — signature, CRC-verified chunk
    walk, IDAT inflate, scanline unfilter — and emit the DECODED dims and
    pixel sum. The oracle recomputes dims and pixel sum arithmetically
    from doc_id and md5(text) in SQL, so the hash check passes only if the
    codec reproduced every pixel bit-exactly (functions/codecs.py)."""

    def row(i, t):
        w, h, px = fx.png_gray8(i, t)
        d = cx.decode_png(cx.encode_png_gray8(w, h, px))
        yield (i, d["width"], d["height"], d["bit_depth"], d["color_type"],
               len(d["pixels"]), sum(d["pixels"]), d["pixels"] == px)

    return mm.map_rows(
        _load_parallel(spark, sf_dir, "documents"), ["doc_id", "text"],
        "doc_id LONG, width INT, height INT, bit_depth INT, color_type INT, "
        "n_pixels LONG, pixel_sum LONG, roundtrip_ok BOOLEAN",
        row,
    )


@register(
    "multimodal_wav_roundtrip",
    """
SELECT doc_id,
       CAST(1 AS INT) AS n_channels,
       CAST(16000 AS INT) AS sample_rate,
       CAST(16 AS INT) AS bits_per_sample,
       CAST(64 + doc_id % 64 AS BIGINT) AS n_samples,
       CAST(list_aggregate(
                list_transform(generate_series(0, 63 + doc_id % 64),
                               i -> (doc_id * 31 + i * 17) % 65536 - 32768),
                'sum') AS BIGINT) AS sample_sum,
       CAST((64 + doc_id % 64) * 1000000 // 16000 AS BIGINT) AS duration_us,
       TRUE AS roundtrip_ok
FROM documents
""",
)
def multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV codec roundtrip: per doc, synthesize ``64+id%64`` PCM16
    samples from a fixed recurrence (functions/fixtures.py:pcm16_ramp),
    write a canonical RIFF/WAVE blob (struct-packed fmt/data chunks),
    parse it back (chunk walk, length checks), and emit the DECODED
    stream properties and sample sum. The oracle replays the recurrence
    in SQL — a byte-order, alignment, or length-accounting bug in either
    direction breaks the hash match."""

    def row(i):
        samples = fx.pcm16_ramp(i)
        d = cx.decode_wav(cx.encode_wav_pcm16(16000, samples))
        yield (i, d["n_channels"], d["sample_rate"], d["bits_per_sample"],
               d["n_samples"], sum(d["samples"]),
               d["n_samples"] * 1_000_000 // d["sample_rate"], d["samples"] == samples)

    return mm.map_rows(
        _load_parallel(spark, sf_dir, "documents"), ["doc_id"],
        "doc_id LONG, n_channels INT, sample_rate INT, bits_per_sample INT, "
        "n_samples LONG, sample_sum LONG, duration_us LONG, roundtrip_ok BOOLEAN",
        row,
    )


# --------------------------------------------------------------------------
# image_phash_neardup — perceptual (dHash) image near-dup over decoded pixels
# --------------------------------------------------------------------------

_DH_HAM = 6  # near-dup verify threshold (same as neardup_simhash_pairs)


def _phash_fp_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared decode-scan: (doc_id, width, height, dhash) via ONE
    map-only Arrow kernel (operators/multimodal.py:phash_fingerprints —
    blob bytes exist only inside the batch), shared so the plan's
    multiple references execute the Python stage once — exactly the
    "write the fingerprint table, then self-join it" shape a production
    pipeline ships at 100 TB."""
    return share(
        mm.phash_fingerprints(_load_parallel(spark, sf_dir, "documents")),
        table_uncompressed_bytes(sf_dir, "documents"),
    )


def _phash_band_stats(
    fp: DataFrame, bands: int, bits: int, ham: int, max_bucket: int | None = None
) -> DataFrame:
    """Banding + candidate stats over a fingerprint frame: explode to
    ``bands`` × ``bits``-bit band values, self-join on (band, value),
    verify by xor+popcount, aggregate per doc. Only (doc_id, band,
    band-value) rides the join; AQE can skew-split it.

    ``max_bucket`` is the production skew guard: buckets holding more
    than that many hashes are DROPPED before the self-join. LSH bucket
    sizes are data-dependent and pair work is Σc² — one degenerate band
    value (flat images, boilerplate graphics, near-constant textures
    hashing to alternating-bit patterns) turns the candidate join
    quadratic. Measured on the ×100 corpus: the uncapped 4×15 banding
    carries ~303 M ordered candidate pairs, 10× the uniform-hash
    estimate, almost all from a handful of degenerate alternating-bit
    bucket values; capping at 64 removes them while every GENUINE
    near-dup group small enough to review survives (true re-encode
    groups are small; mass-duplicate groups are Hamming-0 and belong to
    the exact-hash dedup-cut tier, which has no pair explosion)."""
    banded = dd.fingerprint_bands(fp.select("doc_id", "dhash"), "dhash", bands, bits)
    if max_bucket is not None:
        ok_buckets = (
            banded.groupBy("band", "bv")
            .count()
            .filter(F.col("count") <= max_bucket)
            .select("band", "bv")
        )
        banded = banded.join(ok_buckets, ["band", "bv"])
    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.doc_id") != F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_id"),
            F.col("r.doc_id").alias("id_b"),
            F.col("l.dhash").alias("fa"),
            F.col("r.dhash").alias("fb"),
        )
        .dropDuplicates(["doc_id", "id_b"])
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    stats = (
        cand.withColumn("hamming", hamming)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_band_partners"),
            F.min("hamming").cast("int").alias("min_h"),
            F.count(F.when(F.col("hamming") <= ham, 1))
            .cast("int")
            .alias("n_neardups"),
        )
    )
    return fp.join(stats, "doc_id", "left").select(
        "doc_id",
        "width",
        "height",
        "dhash",
        F.coalesce("n_band_partners", F.lit(0)).cast("int").alias("n_band_partners"),
        F.coalesce("min_h", F.lit(-1)).cast("int").alias("min_hamming"),
        F.coalesce("n_neardups", F.lit(0)).cast("int").alias("n_neardups"),
    )


def _phash_neardup_sql(
    bands: int, bits: int, ham: int = _DH_HAM, max_bucket: int | None = None
) -> str:
    """The full oracle for a banded phash near-dup readout: pixel
    synthesis, thumbnail indexing, dHash bits, the bands x bits banding,
    the optional bucket-size cap, distinct-pair candidates, xor/popcount
    verify — all replayed from md5(text) arithmetic."""
    cap = (
        f"""
bsz AS (
    SELECT band, bv FROM banded GROUP BY band, bv HAVING count(*) <= {max_bucket}
),
live AS (SELECT b.* FROM banded b JOIN bsz USING (band, bv)),"""
        if max_bucket is not None
        else """
live AS (SELECT * FROM banded),"""
    )
    return f"""
WITH d AS (
    SELECT doc_id,
           16 + doc_id % 17 AS w,
           16 + doc_id % 13 AS h,
           md5(text) AS hx
    FROM documents
),
b AS (
    SELECT doc_id, w, h,
           list_transform(generate_series(0, 15), k ->
               16 * (strpos('0123456789abcdef', substr(hx, 2*k + 1, 1)) - 1)
                  + (strpos('0123456789abcdef', substr(hx, 2*k + 2, 1)) - 1)
           ) AS db
    FROM d
),
-- nearest-neighbor {_DH_GRID_W}x{_DH_GRID_H} thumbnail of the w×h image whose
-- pixel (y,x) is digest byte (y*w+x) mod 16 (the with_png_payload fixture):
-- thumb[i] for i in 0..{_DH_GRID_W * _DH_GRID_H - 1}, row-major
g AS (
    SELECT doc_id, w, h,
           list_transform(generate_series(0, {_DH_GRID_W * _DH_GRID_H - 1}), i ->
               db[(least((i // {_DH_GRID_W}) * h // {_DH_GRID_H}, h - 1) * w
                   + least((i % {_DH_GRID_W}) * w // {_DH_GRID_W}, w - 1)) % 16 + 1]
           ) AS p
    FROM b
),
fp AS (
    -- CAST back to BIGINT: list_aggregate 'sum' widens to HUGEINT, which
    -- pandas fetches as lossy float64 — bits above 2^53 would tie-collide
    SELECT doc_id, w, h,
           CAST(list_aggregate(list_transform(generate_series(0, 59), bb ->
               CASE WHEN p[(bb // {_DH_GRID_W - 1}) * {_DH_GRID_W} + (bb % {_DH_GRID_W - 1}) + 1]
                       > p[(bb // {_DH_GRID_W - 1}) * {_DH_GRID_W} + (bb % {_DH_GRID_W - 1}) + 2]
                    THEN (CAST(1 AS BIGINT) << bb) ELSE CAST(0 AS BIGINT) END), 'sum')
               AS BIGINT) AS f
    FROM g
),
banded AS (
    SELECT doc_id, f, bd.b AS band,
           (f >> ({bits} * bd.b)) & {(1 << bits) - 1} AS bv
    FROM fp, unnest(generate_series(0, {bands - 1})) AS bd(b)
),{cap}
cand AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b, l.f AS fa, r.f AS fb
    FROM live l JOIN live r
      ON l.band = r.band AND l.bv = r.bv AND l.doc_id <> r.doc_id
),
stats AS (
    SELECT id_a AS doc_id,
           count(*) AS n_band_partners,
           min(bit_count(xor(fa, fb))) AS min_h,
           count(*) FILTER (WHERE bit_count(xor(fa, fb)) <= {ham}) AS n_neardups
    FROM cand GROUP BY 1
)
SELECT fp.doc_id,
       CAST(fp.w AS INT) AS width,
       CAST(fp.h AS INT) AS height,
       fp.f AS dhash,
       CAST(coalesce(s.n_band_partners, 0) AS INT) AS n_band_partners,
       CAST(coalesce(s.min_h, -1) AS INT) AS min_hamming,
       CAST(coalesce(s.n_neardups, 0) AS INT) AS n_neardups
FROM fp LEFT JOIN stats s USING (doc_id)
"""


@register("image_phash_neardup", _phash_neardup_sql(_DH_BANDS, _DH_BITS))
def image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup — the dedup tier for the image modality
    (the text tiers are exact/MinHash/SimHash; this is their pixel-space
    sibling). Per doc (operators/multimodal.py:phash_fingerprints): build
    the deterministic PNG fixture (functions/fixtures.py:png_gray8 — REAL
    spec-conformant blob, dims ``16+id%17 × 16+id%13``, pixels = md5(text)
    digest repeated), fully DECODE it (CRC chunk walk + inflate + unfilter,
    functions/codecs.py:decode_png), downsample the decoded pixels to an
    11×6 thumbnail and take the 60-bit dHash (functions/codecs.py:dhash60
    — Krawetz's difference hash, public scheme). The near-dup readout then
    reuses the SimHash banding machinery verbatim: 4×15-bit bands,
    candidates = docs sharing any band value, verify = xor+popcount. Emits
    per doc the hash plus its candidate stats (partner count, min Hamming
    distance over candidates, count within the ≤6 near-dup cut).

    Per-doc emission (not pairs) keeps the sf-corpus result non-degenerate:
    the shipped corpus has no duplicate texts, so true pairs exist only in
    planted corpora (tests/test_llm_extra24.py plants re-encoded
    filter-variant PNGs and asserts byte-dedup misses them while this hash
    finds them at Hamming 0); here the varying ``min_hamming`` over random
    band collisions still oracle-checks the full band/xor path.

    Scale shape: the hash is computed in the decode scan (map-only
    Arrow-batched mapInPandas — the blob never shuffles); only
    (doc_id, band, 15-bit band value) rides the self-join, which AQE can
    skew-split; candidate verify is one xor per pair. The oracle replays
    pixel synthesis, nearest-neighbor indexing, diff bits, and banding
    arithmetically from md5(text) — the hash match fails unless the codec
    reproduced every decoded pixel bit-exactly.
    """
    return _phash_band_stats(
        _phash_fp_frame(spark, sf_dir), _DH_BANDS, _DH_BITS, _DH_HAM
    )


_DH_WIDE_CAP = 64  # bucket-size skew guard (see _phash_band_stats)


@register(
    "image_phash_neardup_wide",
    _phash_neardup_sql(3, 20, max_bucket=_DH_WIDE_CAP),
)
def image_phash_neardup_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-tier banding of image_phash_neardup: the SAME 60-bit
    dHash read through 3×20-bit bands instead of 4×15, with the
    production bucket-size cap (drop band values held by > 64 hashes)
    that bounds LSH pair work against degenerate buckets. Both knobs a
    crawl-scale perceptual index actually turns, demonstrated as a
    registered oracle-exact query rather than asserted in a comment:
    wider bands cut RANDOM collisions ~2^5 per band; the cap removes the
    DATA-DEPENDENT quadratic tail (measured on the ×100 corpus: a
    handful of alternating-bit bucket values carried most of the
    uncapped banding's 303 M ordered candidate pairs).

    The recall trade is the standard LSH pigeonhole: with 3 bands over
    60 bits, any pair within Hamming ≤ 2 ALWAYS shares an intact band
    (2 errors can dirty at most 2 of 3 bands) — so re-encodes and
    near-exact variants are guaranteed found UNLESS their shared buckets
    are degenerate-hot, in which case they belong to the exact-hash
    dedup-cut tier (no pair explosion) rather than pairwise review. The
    4×15 uncapped form stays registered as the audit/review tier. Same
    verify (xor+popcount ≤ 6), same per-doc stats; tests pin the
    pigeonhole guarantee and the planted re-encode pair.
    """
    return _phash_band_stats(
        _phash_fp_frame(spark, sf_dir), 3, 20, _DH_HAM, max_bucket=_DH_WIDE_CAP
    )


# --------------------------------------------------------------------------
# multimodal_decode_real_jpeg — REAL baseline-JPEG roundtrip
# --------------------------------------------------------------------------


@register(
    "multimodal_decode_real_jpeg",
    """
WITH d AS (
    SELECT doc_id,
           8 * (1 + doc_id % 3) AS w,
           8 * (1 + doc_id % 2) AS h,
           md5(text) AS hx
    FROM documents
),
b AS (
    SELECT doc_id, w, h, (w // 8) * (h // 8) AS nb,
           list_transform(generate_series(0, 15), k ->
               16 * (strpos('0123456789abcdef', substr(hx, 2*k + 1, 1)) - 1)
                  + (strpos('0123456789abcdef', substr(hx, 2*k + 2, 1)) - 1)
           ) AS db
    FROM d
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(nb AS INT) AS n_blocks,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(64 * list_aggregate(db[1:nb], 'sum') AS BIGINT) AS pixel_sum,
       TRUE AS ok
FROM b
""",
)
def multimodal_decode_real_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG roundtrip over the documents corpus — the
    dominant web-image wire format a multimodal crawl actually carries
    (with PNG and WAV it completes the set of real codecs).
    Per doc: synthesize the per-block-constant grayscale image
    (operators/multimodal.py:with_jpeg_payload), ENCODE it as a
    spec-conformant baseline JFIF stream (forward DCT, all-1 quant
    table, zigzag, DC-difference + AC run-length Huffman with the Annex K
    tables, 0xFF stuffing), then fully DECODE it (marker walk, canonical
    Huffman construction, entropy decode, dequantize, inverse zigzag,
    2D IDCT, level shift) and emit the DECODED dims and pixel sum
    (functions/codecs.py:encode_jpeg_gray8/decode_jpeg).

    JPEG is lossy in general, so the full-value oracle exists by
    construction: per-block-constant content leaves only the DC
    coefficient nonzero (8·(v−128), an exact integer under Q=1), which
    the IDCT returns bit-exactly — the oracle recomputes every block's
    contribution arithmetically from md5(text), and the hash match fails
    on any Huffman/bit-order/zigzag/DCT defect in EITHER direction. The
    general lossy path (AC coefficients, quantization error ≤1) is
    pinned by definition-level tests against an independent matrix-form
    DCT (tests/test_llm_extra24.py).

    Scale shape: two map-only Arrow mapInPandas stages composed into one
    scan-side pipeline — blobs never shuffle, no aggregation, no join.
    """
    docs = _load_parallel(spark, sf_dir, "documents")
    return mm.decode_jpegs(mm.with_jpeg_payload(docs))


# --------------------------------------------------------------------------
# audio_features_real — DSP features over REAL decoded PCM16 samples
# --------------------------------------------------------------------------


@register(
    "audio_features_real",
    """
WITH s AS (
    SELECT doc_id,
           list_transform(generate_series(0, 63 + doc_id % 64),
                          i -> (doc_id * 31 + i * 17) % 65536 - 32768) AS smp
    FROM documents
)
SELECT doc_id,
       CAST(len(smp) AS BIGINT) AS n_samples,
       CAST(list_aggregate(list_transform(smp, x -> x * x), 'sum') AS BIGINT)
           AS energy,
       CAST(greatest(list_aggregate(list_transform(smp, x -> abs(x)), 'max'), 0)
           AS INT) AS peak_abs,
       CAST(len(list_filter(generate_series(2, len(smp)), i ->
               (smp[i - 1] >= 0) <> (smp[i] >= 0))) AS INT) AS zero_crossings,
       TRUE AS ok
FROM s
""",
)
def audio_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction — the DSP stage after decode: per
    doc, synthesize the deterministic PCM16 stream (the
    multimodal_wav_roundtrip recurrence), encode it as a canonical
    RIFF/WAVE blob, DECODE it back through the real codec
    (functions/codecs.py:decode_wav — chunk walk, fmt/data parse), and
    compute signal features over the DECODED samples: total energy
    (Σx², the loudness integral), peak absolute amplitude, and the
    zero-crossing count (the classic cheap pitch/voicedness signal).
    All-integer arithmetic — samples are int16 and the 128-sample energy
    bound is < 2³⁷ — so the oracle (which replays the recurrence and the
    same feature definitions in SQL) is exact with no rounding device.

    Scale shape: one map-only Arrow mapInPandas stage; blobs and samples
    never leave the scan. Undecodable blobs degrade per-row (ok=False),
    same contract as the image decode stages."""

    def row(i):
        sm = cx.decode_wav(cx.encode_wav_pcm16(16000, fx.pcm16_ramp(i)))["samples"]
        zc = sum(1 for a, b in zip(sm, sm[1:]) if (a >= 0) != (b >= 0))
        yield i, len(sm), sum(x * x for x in sm), max(abs(x) for x in sm), zc, True

    return mm.map_rows(
        _load_parallel(spark, sf_dir, "documents"), ["doc_id"],
        "doc_id LONG, n_samples LONG, energy LONG, peak_abs INT, "
        "zero_crossings INT, ok BOOLEAN",
        row,
    )


# --------------------------------------------------------------------------
# image_phash_dedup_cut — the actionable keeper decision per phash group
# --------------------------------------------------------------------------


@register(
    "image_phash_dedup_cut",
    f"""
WITH d AS (
    SELECT doc_id,
           16 + doc_id % 17 AS w,
           16 + doc_id % 13 AS h,
           md5(text) AS hx
    FROM documents
),
b AS (
    SELECT doc_id, w, h,
           list_transform(generate_series(0, 15), k ->
               16 * (strpos('0123456789abcdef', substr(hx, 2*k + 1, 1)) - 1)
                  + (strpos('0123456789abcdef', substr(hx, 2*k + 2, 1)) - 1)
           ) AS db
    FROM d
),
g AS (
    SELECT doc_id, w, h,
           list_transform(generate_series(0, {_DH_GRID_W * _DH_GRID_H - 1}), i ->
               db[(least((i // {_DH_GRID_W}) * h // {_DH_GRID_H}, h - 1) * w
                   + least((i % {_DH_GRID_W}) * w // {_DH_GRID_W}, w - 1)) % 16 + 1]
           ) AS p
    FROM b
),
fp AS (
    SELECT doc_id,
           CAST(list_aggregate(list_transform(generate_series(0, 59), bb ->
               CASE WHEN p[(bb // {_DH_GRID_W - 1}) * {_DH_GRID_W} + (bb % {_DH_GRID_W - 1}) + 1]
                       > p[(bb // {_DH_GRID_W - 1}) * {_DH_GRID_W} + (bb % {_DH_GRID_W - 1}) + 2]
                    THEN (CAST(1 AS BIGINT) << bb) ELSE CAST(0 AS BIGINT) END), 'sum')
               AS BIGINT) AS f
    FROM g
),
grp AS (
    SELECT f, min(doc_id) AS keeper, count(*) AS n_members
    FROM fp GROUP BY f
)
SELECT fp.doc_id, fp.f AS dhash,
       CAST(g.n_members AS INT) AS n_members,
       g.keeper AS keeper_id,
       (fp.doc_id = g.keeper) AS keep
FROM fp JOIN grp g USING (f)
""",
)
def image_phash_dedup_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTIONABLE image-dedup decision: group images by their exact
    60-bit dHash (re-encodes, filter/zlib variants and pixel-identical
    copies collapse — every Hamming-0 tier of image_phash_neardup) and
    keep one canonical member per group (lowest doc_id — the keep-first
    policy every dedup cut in this engine uses). Emits per image its
    hash group size, the group's keeper, and the keep flag downstream
    packing consumes; the banded ≤6-bit tier stays a REVIEW signal in
    image_phash_neardup because auto-dropping at Hamming > 0 without the
    exact-verify pass would delete near-misses.

    Scale shape: the decode + hash is the same map-only scan as
    image_phash_neardup; the cut itself is one map-side-combinable
    groupBy(dhash) (min + count) joined back on the 8-byte hash — the
    exact-dedup survivorship shape (dedup_survivorship), no windows, no
    pair explosion."""
    # one decode pass, not one per plan reference (see image_phash_neardup)
    fp = _phash_fp_frame(spark, sf_dir).select("doc_id", "dhash")
    grp = fp.groupBy("dhash").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count("*").cast("int").alias("n_members"),
    )
    return fp.join(grp, "dhash").select(
        "doc_id",
        "dhash",
        "n_members",
        "keeper_id",
        (F.col("doc_id") == F.col("keeper_id")).alias("keep"),
    )


# --------------------------------------------------------------------------
# image_crossformat_phash_match — same image, PNG vs JPEG, one fingerprint
# --------------------------------------------------------------------------


@register(
    "image_crossformat_phash_match",
    f"""
WITH d AS (
    SELECT doc_id,
           8 * (1 + doc_id % 3) AS w,
           8 * (1 + doc_id % 2) AS h,
           md5(text) AS hx
    FROM documents
),
b AS (
    SELECT doc_id, w, h,
           list_transform(generate_series(0, 15), k ->
               16 * (strpos('0123456789abcdef', substr(hx, 2*k + 1, 1)) - 1)
                  + (strpos('0123456789abcdef', substr(hx, 2*k + 2, 1)) - 1)
           ) AS db
    FROM d
),
-- thumbnail of the per-8x8-block-constant image: sampled pixel (oy, ox)
-- = digest byte of its block index (y//8)*(w//8) + (x//8)
g AS (
    SELECT doc_id, w, h,
           list_transform(generate_series(0, {_DH_GRID_W * _DH_GRID_H - 1}), i ->
               db[((least((i // {_DH_GRID_W}) * h // {_DH_GRID_H}, h - 1) // 8) * (w // 8)
                   + (least((i % {_DH_GRID_W}) * w // {_DH_GRID_W}, w - 1) // 8)) % 16 + 1]
           ) AS p
    FROM b
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(list_aggregate(list_transform(generate_series(0, 59), bb ->
           CASE WHEN p[(bb // {_DH_GRID_W - 1}) * {_DH_GRID_W} + (bb % {_DH_GRID_W - 1}) + 1]
                   > p[(bb // {_DH_GRID_W - 1}) * {_DH_GRID_W} + (bb % {_DH_GRID_W - 1}) + 2]
                THEN (CAST(1 AS BIGINT) << bb) ELSE CAST(0 AS BIGINT) END), 'sum')
           AS BIGINT) AS dhash,
       TRUE AS formats_match
FROM g
""",
)
def image_crossformat_phash_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-FORMAT perceptual identity — the case no byte- or even
    format-aware exact dedup can see: the SAME image saved as PNG and as
    JPEG is two wire-incompatible blobs through two different codecs,
    yet one picture. Per doc: build the per-8×8-block-constant grayscale
    image (the JPEG-exact fixture), encode it BOTH ways, decode each
    through its REAL codec (decode_png's chunk-walk/inflate/unfilter;
    decode_jpeg's Huffman/dequant/IDCT), dHash both decoded pixel
    buffers, and emit the shared fingerprint plus the equality flag.
    ``formats_match`` is computed honestly Spark-side (pixel-for-pixel
    AND hash equality across the two decode paths); the oracle asserts
    TRUE, so any divergence between the two codecs — or any loss in the
    DC-only JPEG roundtrip — breaks the driver hash match. The dHash is
    replayed arithmetically from the block structure in SQL.

    This is the operator that makes the perceptual index format-proof:
    image_phash_neardup / streaming_ingest_phash key on exactly this
    hash, so a crawl carrying the same picture as PNG here and JPEG
    there still collapses it to one keeper. One map-only Arrow kernel;
    nothing but the 8-byte hash leaves the scan."""

    def row(i, t):
        w, h, px = fx.jpeg_gray8(i, t)
        dp = cx.decode_png(cx.encode_png_gray8(w, h, px))
        dj = cx.decode_jpeg(cx.encode_jpeg_gray8(w, h, px))
        hp = cx.dhash60(dp["pixels"], w, h, _DH_GRID_W, _DH_GRID_H)
        hj = cx.dhash60(dj["pixels"], w, h, _DH_GRID_W, _DH_GRID_H)
        yield i, w, h, hp, hp == hj and dp["pixels"] == dj["pixels"]

    return mm.map_rows(
        _load_parallel(spark, sf_dir, "documents"), ["doc_id", "text"],
        "doc_id LONG, width INT, height INT, dhash LONG, formats_match BOOLEAN",
        row,
    )


# --------------------------------------------------------------------------
# video_scene_neardup — cross-frame perceptual dedup (the video modality)
# --------------------------------------------------------------------------

@register(
    "video_scene_neardup",
    f"""
WITH d AS (
    SELECT doc_id,
           16 + doc_id % 17 AS w,
           16 + doc_id % 13 AS h,
           4 + doc_id % 5 AS nf,
           1 + doc_id % 3 AS slen,
           md5(text) AS hx
    FROM documents
),
b AS (
    SELECT doc_id, w, h, nf, slen,
           list_transform(generate_series(0, 15), k ->
               16 * (strpos('0123456789abcdef', substr(hx, 2*k + 1, 1)) - 1)
                  + (strpos('0123456789abcdef', substr(hx, 2*k + 2, 1)) - 1)
           ) AS db
    FROM d
),
frames AS (
    SELECT doc_id, w, h, nf, slen, db, fr.f AS frame_no,
           (fr.f // slen) AS scene
    FROM b, unnest(generate_series(0, nf - 1)) AS fr(f)
),
-- 11x6 nearest-neighbor thumbnail of the frame whose pixel j is
-- db[(j + {fx.SCENE_SHIFT}*scene) % 16] (the functions/fixtures.py:video synthesis)
g AS (
    SELECT doc_id, nf, frame_no,
           list_transform(generate_series(0, {_DH_GRID_W * _DH_GRID_H - 1}), i ->
               db[(least((i // {_DH_GRID_W}) * h // {_DH_GRID_H}, h - 1) * w
                   + least((i % {_DH_GRID_W}) * w // {_DH_GRID_W}, w - 1)
                   + {fx.SCENE_SHIFT} * scene) % 16 + 1]
           ) AS p
    FROM frames
),
fp AS (
    SELECT doc_id, nf, frame_no,
           CAST(list_aggregate(list_transform(generate_series(0, 59), bb ->
               CASE WHEN p[(bb // {_DH_GRID_W - 1}) * {_DH_GRID_W} + (bb % {_DH_GRID_W - 1}) + 1]
                       > p[(bb // {_DH_GRID_W - 1}) * {_DH_GRID_W} + (bb % {_DH_GRID_W - 1}) + 2]
                    THEN (CAST(1 AS BIGINT) << bb) ELSE CAST(0 AS BIGINT) END), 'sum')
               AS BIGINT) AS f
    FROM g
),
tr AS (
    SELECT doc_id, nf, frame_no, f,
           lag(f) OVER (PARTITION BY doc_id ORDER BY frame_no) AS pf
    FROM fp
)
SELECT doc_id,
       CAST(max(nf) AS INT) AS n_frames,
       CAST(count(*) FILTER (WHERE pf IS NOT NULL) AS INT) AS n_transitions,
       CAST(count(*) FILTER (WHERE pf IS NOT NULL
            AND bit_count(xor(f, pf)) <= {_DH_HAM}) AS INT) AS n_static,
       CAST(count(*) FILTER (WHERE pf IS NOT NULL
            AND bit_count(xor(f, pf)) > {_DH_HAM}) AS INT) AS n_cuts,
       CAST(count(*) FILTER (WHERE pf IS NOT NULL
            AND bit_count(xor(f, pf)) > {_DH_HAM}) + 1 AS INT) AS n_scenes,
       floor(count(*) FILTER (WHERE pf IS NOT NULL
            AND bit_count(xor(f, pf)) <= {_DH_HAM})
            / CAST(count(*) FILTER (WHERE pf IS NOT NULL) AS DOUBLE)
            * 1000000.0 + 0.5) / 1000000.0 AS static_fraction
FROM tr
GROUP BY doc_id
""",
)
def video_scene_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-FRAME perceptual dedup — the video-modality composition of
    the engine's frame-sampling dataflow (multimodal_frame_sample's
    1 blob → N frames shape) and the dHash stack: per video, how much of
    it is near-static (consecutive frames within the ≤6-bit Hamming cut —
    the frames a dedup/pretraining pipeline drops or collapses) and how
    many scene cuts it has. The per-doc "video" synthesizes ``4 + id%5``
    frames in scenes of length ``1 + id%3``; each frame is a REAL PNG
    (encode → full decode through functions/codecs.py) whose pixels cycle
    the doc's md5 digest with a per-scene offset, so same-scene frames
    are pixel-identical (dHash Hamming 0) and scene changes rotate the
    texture (Hamming far). Emits per video: frame/transition counts, the
    static-transition count, cut count, scene estimate (cuts+1), and the
    static fraction — the signals a frame-sampling curator keys on.

    Scale shape: ONE map-only Arrow kernel per partition — frames are
    synthesized, encoded, decoded and hashed inside the batch; only the
    per-video aggregate row (7 scalars) ever leaves the scan. No shuffle,
    no join; a 100 TB crawl of real videos swaps the synthesis for an
    ffmpeg frame sampler behind the same kernel signature (the stub-free
    parts — schema, batching, hash arithmetic — are exactly what runs).

    The oracle replays frame synthesis (digest rotation), thumbnail
    indexing, dHash bits, the lag window and the Hamming cut in DuckDB —
    the hash match fails unless the codec roundtrip preserved every
    frame's pixels bit-exactly."""

    def row(i, t):
        w, h, frames = fx.video(i, t)
        hashes = []
        for px in frames:
            d = cx.decode_png(cx.encode_png_gray8(w, h, px))
            hashes.append(
                cx.dhash60(d["pixels"], d["width"], d["height"], _DH_GRID_W, _DH_GRID_H)
            )
        n_static = sum(
            1 for a, b in zip(hashes, hashes[1:]) if bin(a ^ b).count("1") <= _DH_HAM
        )
        n_tr = len(frames) - 1
        yield (i, len(frames), n_tr, n_static, n_tr - n_static, n_tr - n_static + 1,
               _math.floor(n_static / n_tr * 1000000.0 + 0.5) / 1000000.0)

    return mm.map_rows(
        _load_parallel(spark, sf_dir, "documents"), ["doc_id", "text"],
        "doc_id LONG, n_frames INT, n_transitions INT, n_static INT, "
        "n_cuts INT, n_scenes INT, static_fraction DOUBLE",
        row,
    )


# --------------------------------------------------------------------------
# image_metadata_extract — typed metadata OUT of opaque media blobs
# --------------------------------------------------------------------------


@register(
    "image_metadata_extract",
    """
SELECT doc_id,
       CAST(3 AS INT) AS n_chunks,
       'doc ' || CAST(doc_id AS VARCHAR) AS title,
       lang AS author,
       md5(text) AS source_md5,
       CAST(1 AS INT) AS n_compressed,
       TRUE AS pixels_ok
FROM documents
""",
)
def image_metadata_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata extraction from OPAQUE media blobs — the second half of
    the brief's "binary columns with typed metadata" contract (the first
    half, metadata alongside the blob, is multimodal_binary_meta; this
    one pulls typed fields OUT of the bytes, the EXIF/XMP-extraction
    shape a curation pipeline runs to find copyright strings, capture
    sources and provenance). Per doc: build a spec-conformant PNG whose
    ancillary chunks carry real metadata — two tEXt chunks (Title,
    Author) and one zTXt (Source, deflate-compressed, spec §11.3.4) —
    then PARSE them back through the CRC-verified chunk walk
    (functions/codecs.py:png_text_chunks) and fully decode the pixels to
    prove ancillary chunks never disturb the pixel path. Emitted fields
    come from the PARSE, not the inputs, so the oracle (which replays
    the metadata derivation from doc columns) fails on any
    serialization, CRC, latin-1 or zlib defect in either direction.

    Scale shape: one map-only Arrow kernel, no shuffle; in production
    the blob arrives from the source and the same kernel runs exiftool-
    class extraction per row with per-row failure degradation."""

    def row(i, lang, t):
        w, h, px = fx.png_gray8(i, t)
        blob = cx.encode_png_gray8(
            w, h, px,
            text_chunks=[
                ("Title", f"doc {i}"),
                ("Author", str(lang)),
                ("Source", "z:" + fx.digest(t).hex()),
            ],
        )
        chunks = cx.png_text_chunks(blob)
        meta = {kw: (val, comp) for kw, val, comp in chunks}
        yield (i, len(chunks), meta["Title"][0], meta["Author"][0], meta["Source"][0],
               sum(1 for _, c in meta.values() if c), cx.decode_png(blob)["pixels"] == px)

    return mm.map_rows(
        _load_parallel(spark, sf_dir, "documents"), ["doc_id", "lang", "text"],
        "doc_id LONG, n_chunks INT, title STRING, author STRING, "
        "source_md5 STRING, n_compressed INT, pixels_ok BOOLEAN",
        row,
    )


# --------------------------------------------------------------------------
# video_fingerprint_neardup — cross-VIDEO perceptual dedup
# --------------------------------------------------------------------------


@register(
    "video_fingerprint_neardup",
    f"""
WITH d AS (
    SELECT doc_id,
           16 + doc_id % 17 AS w,
           16 + doc_id % 13 AS h,
           4 + doc_id % 5 AS nf,
           1 + doc_id % 3 AS slen,
           md5(text) AS hx
    FROM documents
),
vids AS (
    SELECT doc_id, doc_id AS video_id, nf AS n_use, w, h, slen, hx FROM d
    UNION ALL
    -- the planted trimmed re-encode: same video minus its last frame
    SELECT doc_id, -doc_id - 1 AS video_id, nf - 1 AS n_use, w, h, slen, hx
    FROM d WHERE doc_id % 4 = 1
),
b AS (
    SELECT video_id, n_use, w, h, slen,
           list_transform(generate_series(0, 15), k ->
               16 * (strpos('0123456789abcdef', substr(hx, 2*k + 1, 1)) - 1)
                  + (strpos('0123456789abcdef', substr(hx, 2*k + 2, 1)) - 1)
           ) AS db
    FROM vids
),
frames AS (
    SELECT video_id, w, h, db, (fr.f // slen) AS scene
    FROM b, unnest(generate_series(0, n_use - 1)) AS fr(f)
),
-- frame pixel p = digest byte scrambled by a position-dependent
-- multiplier (NOT video_scene_neardup's bare digest cycle: that
-- 16-value texture alphabet made unrelated videos' 60-bit dHashes
-- collide — 79k cross-doc extra pairs at x30, quadratic — while this
-- tier's self-join actually meets other docs; the scene-level readout
-- never does, so its fixture stays put)
g AS (
    SELECT video_id,
           list_transform(generate_series(0, {_DH_GRID_W * _DH_GRID_H - 1}), i ->
               (db[(least((i // {_DH_GRID_W}) * h // {_DH_GRID_H}, h - 1) * w
                    + least((i % {_DH_GRID_W}) * w // {_DH_GRID_W}, w - 1)
                    + {fx.SCENE_SHIFT} * scene) % 16 + 1]
                * (1 + ((least((i // {_DH_GRID_W}) * h // {_DH_GRID_H}, h - 1) * w
                         + least((i % {_DH_GRID_W}) * w // {_DH_GRID_W}, w - 1)
                         + {fx.SCENE_SHIFT} * scene) * 2654435761) % 255)
               ) % 256
           ) AS p
    FROM frames
),
fps AS (
    SELECT DISTINCT video_id,
           CAST(list_aggregate(list_transform(generate_series(0, 59), bb ->
               CASE WHEN p[(bb // {_DH_GRID_W - 1}) * {_DH_GRID_W} + (bb % {_DH_GRID_W - 1}) + 1]
                       > p[(bb // {_DH_GRID_W - 1}) * {_DH_GRID_W} + (bb % {_DH_GRID_W - 1}) + 2]
                    THEN (CAST(1 AS BIGINT) << bb) ELSE CAST(0 AS BIGINT) END), 'sum')
               AS BIGINT) AS fhash
    FROM g
),
sizes AS (SELECT video_id, count(*) AS n FROM fps GROUP BY 1),
pairs AS (
    SELECT l.video_id AS video_a, r.video_id AS video_b,
           count(*) AS n_shared
    FROM fps l JOIN fps r ON l.fhash = r.fhash AND l.video_id < r.video_id
    GROUP BY 1, 2
)
SELECT p.video_a, p.video_b,
       CAST(p.n_shared AS INT) AS n_shared,
       CAST(sa.n AS INT) AS n_a,
       CAST(sb.n AS INT) AS n_b,
       round(p.n_shared / CAST(sa.n + sb.n - p.n_shared AS DOUBLE), 6)
           AS jaccard
FROM pairs p
JOIN sizes sa ON sa.video_id = p.video_a
JOIN sizes sb ON sb.video_id = p.video_b
WHERE p.n_shared / CAST(sa.n + sb.n - p.n_shared AS DOUBLE) >= 0.5
""",
)
def video_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-VIDEO perceptual dedup — the video-level sibling of
    video_scene_neardup's frame-level readout: each video's fingerprint
    is its SET of distinct frame dHashes (the bag-of-perceptual-hashes
    video signature real pipelines index), candidates are videos sharing
    any frame hash, and a pair is a near-dup when the Jaccard of the two
    hash sets clears 0.5 — which catches trims, re-muxes and re-encodes
    that byte-level video dedup provably misses. The corpus plants the
    positive class: docs with ``doc_id % 4 == 1`` also emit a trimmed
    re-encode (the same frames minus the last, video_id = -doc_id-1);
    set arithmetic guarantees those pairs land at Jaccard ≥ 0.5 (the
    trim removes at most one scene: |B| ≥ |A|-1 with B ⊆ A), while
    unrelated videos share no hashes at all and never even form a
    candidate row.

    Scale shape: ONE map-only Arrow kernel synthesizes, encodes (real
    PNG round-trip), decodes and hashes the frames — only the distinct
    (video_id, 8-byte hash) fingerprint rows leave the scan. The
    candidate join is an equi-join on the exact hash value (each value
    held by the videos that contain that frame — bounded by true
    duplication, not by corpus size); per-pair counting and the two
    size join-backs are map-side-combinable hash aggregations. Boilerplate
    frames (intros, slates, black frames) are the real-world hot-bucket
    risk — the same population _phash_band_stats' max_bucket cap handles
    on the image tier, and the same fix applies here.

    Oracle: the full replay — synthesis, variant planting, thumbnail
    indexing, dHash bits, set dedup, pair counting, Jaccard — fails
    unless every frame's codec round-trip preserved pixels bit-exactly."""

    def row(i, t):
        w, h, frames = fx.video(i, t, scrambled=True)
        hashes = []
        for px in frames:
            d = cx.decode_png(cx.encode_png_gray8(w, h, px))
            hashes.append(
                cx.dhash60(d["pixels"], d["width"], d["height"], _DH_GRID_W, _DH_GRID_H)
            )
        for fh in set(hashes):
            yield i, fh
        if i % 4 == 1:
            for fh in set(hashes[:-1]):
                yield -i - 1, fh

    fps = share(
        mm.map_rows(
            _load_parallel(spark, sf_dir, "documents"), ["doc_id", "text"],
            "video_id LONG, fhash LONG", row,
        ),
        table_uncompressed_bytes(sf_dir, "documents"),
    )
    sizes = fps.groupBy("video_id").agg(F.count("*").alias("n"))
    pairs = (
        fps.alias("l")
        .join(
            fps.alias("r"),
            (F.col("l.fhash") == F.col("r.fhash"))
            & (F.col("l.video_id") < F.col("r.video_id")),
        )
        .groupBy(
            F.col("l.video_id").alias("video_a"),
            F.col("r.video_id").alias("video_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast(
        "double"
    )
    return (
        pairs.join(
            sizes.select(F.col("video_id").alias("video_a"), F.col("n").alias("n_a")),
            "video_a",
        )
        .join(
            sizes.select(F.col("video_id").alias("video_b"), F.col("n").alias("n_b")),
            "video_b",
        )
        .filter(jac >= 0.5)
        .select(
            "video_a",
            "video_b",
            F.col("n_shared").cast("int").alias("n_shared"),
            F.col("n_a").cast("int").alias("n_a"),
            F.col("n_b").cast("int").alias("n_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# audio_fingerprint_match — cross-AUDIO perceptual dedup
# --------------------------------------------------------------------------


@register(
    "audio_fingerprint_match",
    """
WITH d AS (
    SELECT doc_id, 64 + doc_id % 64 AS n,
           list_transform(generate_series(0, 15), k ->
               16 * (strpos('0123456789abcdef', substr(md5(text), 2*k + 1, 1)) - 1)
                  + (strpos('0123456789abcdef', substr(md5(text), 2*k + 2, 1)) - 1)
           ) AS db
    FROM documents
),
rend AS (
    SELECT doc_id, doc_id AS audio_id, n AS n_use, db FROM d
    UNION ALL
    -- attenuated re-master (samples floor-halved): the sign-pattern
    -- fingerprint is EXACTLY invariant (x>=0 <=> x//2>=0 under floor
    -- division), so its words replay as the original's — the theorem the
    -- kernel must reproduce through the real WAV encode/decode path
    SELECT doc_id, -doc_id - 1, n, db FROM d WHERE doc_id % 4 = 2
    UNION ALL
    -- trimmed re-master: last 16 samples dropped -> exactly one fewer word
    SELECT doc_id, -doc_id - 1, n - 16, db FROM d WHERE doc_id % 4 = 3
),
-- sample 16f+b compares two md5(text) digest bytes under frame-varying
-- index permutations: sign = db[a] >= db[b] — each doc's sign stream is
-- a pseudo-random tournament over its 16 digest bytes (~n independent
-- bits of doc identity), NOT a function of a 16-bit multiplier (the
-- first synthesis saturated 2^16 signal classes and made output pair
-- count quadratic at x30 — caught by the scale sweep, exp 1.447)
fps AS (
    SELECT DISTINCT audio_id,
           CAST(fr.f AS BIGINT) * 65536
           + list_aggregate(list_transform(generate_series(0, 15), b ->
               CASE WHEN db[((16 * fr.f + b) * 7 + 3 * fr.f) % 16 + 1]
                         >= db[((16 * fr.f + b) * 13 + 5 + 11 * fr.f) % 16 + 1]
                    THEN (1 << b) ELSE 0 END), 'sum') AS wkey
    FROM rend, unnest(generate_series(0, n_use // 16 - 1)) AS fr(f)
),
sizes AS (SELECT audio_id, count(*) AS n FROM fps GROUP BY 1),
pairs AS (
    SELECT l.audio_id AS audio_a, r.audio_id AS audio_b,
           count(*) AS n_shared
    FROM fps l JOIN fps r ON l.wkey = r.wkey AND l.audio_id < r.audio_id
    GROUP BY 1, 2
)
SELECT p.audio_a, p.audio_b,
       CAST(p.n_shared AS INT) AS n_shared,
       CAST(sa.n AS INT) AS n_a,
       CAST(sb.n AS INT) AS n_b,
       round(p.n_shared / CAST(sa.n + sb.n - p.n_shared AS DOUBLE), 6)
           AS jaccard
FROM pairs p
JOIN sizes sa ON sa.audio_id = p.audio_a
JOIN sizes sb ON sb.audio_id = p.audio_b
WHERE p.n_shared / CAST(sa.n + sb.n - p.n_shared AS DOUBLE) >= 0.6
""",
)
def audio_fingerprint_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-AUDIO perceptual dedup — the audio-modality sibling of
    video_fingerprint_neardup, built on the property real audio
    fingerprints (Haitsma–Kalker, Chromaprint) exploit: a GAIN change
    rewrites every sample byte but leaves the sign/zero-crossing
    structure intact. Per audio, the fingerprint is the set of
    positional 16-bit sign words (frame f → bit b = sample[16f+b] ≥ 0,
    keyed as f·65536 + word); candidates share a word, and a pair
    matches when the set Jaccard clears 0.6. Two planted rendition
    classes: docs with ``doc_id % 4 == 2`` add an ATTENUATED re-master
    (samples floor-halved — sign words provably identical, Jaccard 1.0:
    x ≥ 0 ⟺ x//2 ≥ 0 under floor division, the invariance theorem the
    test pins), docs with ``doc_id % 4 == 3`` add a TRIMMED re-master
    (16 samples shorter — exactly one word lost, Jaccard (k−1)/k ≥ 0.75).
    Byte-level dedup misses both classes. Unrelated streams share
    positional words only by chance (each collision contributes
    1/(k_a+k_b−1) Jaccard, far under the cut): the synth stream signs
    are a pseudo-random tournament over the doc's md5 digest bytes, so
    every doc carries ~n independent identity bits. (A first version
    derived the stream from a 16-bit multiplier — only 2¹⁶ possible
    signals, so output PAIR count went quadratic once the corpus passed
    that size: ×30 exponent 1.447, caught by the scale sweep and fixed
    at the synthesis root. The fingerprint itself was never the problem;
    the corpus genuinely contained quadratic duplicate classes — the
    population a pair-emitting tier must never meet, by the same rule
    that keeps the exact-hash tiers on keep-first cuts.)

    Scale shape: ONE map-only Arrow kernel synthesizes each rendition,
    round-trips it through the REAL RIFF/WAVE codec
    (functions/codecs.py:encode_wav_pcm16/decode_wav) and computes sign
    words over the DECODED samples — only (audio_id, 8-byte word key)
    rows leave the scan; the candidate equi-join and Jaccard
    aggregations are the video-tier machinery. The oracle replays the
    PCM recurrence and word packing in SQL; the attenuated rendition's
    rows replay via the invariance theorem, so any codec or halving
    defect in the kernel breaks the hash match."""

    def row(i, t):
        base = fx.pcm16_tournament(i, t)
        rends = [(i, base)]
        if i % 4 == 2:
            rends.append((-i - 1, [x // 2 for x in base]))
        elif i % 4 == 3:
            rends.append((-i - 1, base[:-16]))
        for aid, samples in rends:
            sm = cx.decode_wav(cx.encode_wav_pcm16(16000, samples))["samples"]
            # positional sign words: frame f -> bit b = sample[16f+b] >= 0
            for f in range(len(sm) // 16):
                word = sum(1 << b for b in range(16) if sm[16 * f + b] >= 0)
                yield aid, f * 65536 + word

    fps = share(
        mm.map_rows(
            _load_parallel(spark, sf_dir, "documents"), ["doc_id", "text"],
            "audio_id LONG, wkey LONG", row,
        ),
        table_uncompressed_bytes(sf_dir, "documents"),
    )
    sizes = fps.groupBy("audio_id").agg(F.count("*").alias("n"))
    pairs = (
        fps.alias("l")
        .join(
            fps.alias("r"),
            (F.col("l.wkey") == F.col("r.wkey"))
            & (F.col("l.audio_id") < F.col("r.audio_id")),
        )
        .groupBy(
            F.col("l.audio_id").alias("audio_a"),
            F.col("r.audio_id").alias("audio_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast(
        "double"
    )
    return (
        pairs.join(
            sizes.select(F.col("audio_id").alias("audio_a"), F.col("n").alias("n_a")),
            "audio_a",
        )
        .join(
            sizes.select(F.col("audio_id").alias("audio_b"), F.col("n").alias("n_b")),
            "audio_b",
        )
        .filter(jac >= 0.6)
        .select(
            "audio_a",
            "audio_b",
            F.col("n_shared").cast("int").alias("n_shared"),
            F.col("n_a").cast("int").alias("n_a"),
            F.col("n_b").cast("int").alias("n_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# jpeg_metadata_extract — typed metadata OUT of the lossy image format
# --------------------------------------------------------------------------


@register(
    "jpeg_metadata_extract",
    """
SELECT doc_id,
       CAST(2 AS INT) AS n_comments,
       'doc ' || CAST(doc_id AS VARCHAR) AS title,
       lang AS author,
       '1.02' AS jfif_version,
       CAST(1 AS INT) AS units,
       CAST(72 + doc_id % 5 AS INT) AS x_density,
       CAST(96 AS INT) AS y_density,
       TRUE AS pixels_ok
FROM documents
""",
)
def jpeg_metadata_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image_metadata_extract contract on the LOSSY format: per doc,
    build a baseline JPEG carrying real metadata — a JFIF APP0 (version
    1.02, dpi units, per-doc densities) and two COM comment segments
    (title, author) — then PARSE the typed fields back through the
    spec-conformant marker walk (functions/codecs.py:jpeg_metadata,
    same B.1.1.2 fill-byte / B.1.1.3 standalone-marker rules as the
    decoder) and fully decode the per-block-constant pixels to prove
    metadata segments never disturb the entropy-coded scan. Emitted
    fields come from the PARSE, so the oracle (replaying the derivation
    from doc columns) fails on any segment-serialization, length, APP0
    layout or latin-1 defect in either direction.

    Scale shape: one map-only Arrow kernel, no shuffle — the EXIF/COM
    sweep a curation pipeline runs over a crawl's image column."""

    def row(i, lang, t):
        w, h, px = fx.jpeg_gray8(i, t)
        blob = cx.encode_jpeg_gray8(
            w, h, px, jfif=(1, 2, 1, 72 + i % 5, 96), comments=[f"doc {i}", str(lang)]
        )
        meta = cx.jpeg_metadata(blob)
        jfif = meta["jfif"]
        yield (i, len(meta["comments"]), meta["comments"][0], meta["comments"][1],
               jfif["version"], jfif["units"], jfif["x_density"], jfif["y_density"],
               cx.decode_jpeg(blob)["pixels"] == px)

    return mm.map_rows(
        _load_parallel(spark, sf_dir, "documents"), ["doc_id", "lang", "text"],
        "doc_id LONG, n_comments INT, title STRING, author STRING, "
        "jfif_version STRING, units INT, x_density INT, y_density INT, "
        "pixels_ok BOOLEAN",
        row,
    )
