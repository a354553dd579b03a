"""numpy-vectorized fast paths for the stdlib media codecs
(functions/codecs.py) — same function names, same signatures,
BYTE-IDENTICAL outputs (pinned by tests/test_codecs_np.py's
stdlib-equivalence replays on fixture and seeded-random images).

Why this module exists: the per-doc decode constant is the pipeline
cost at crawl scale — the stdlib JPEG DCT/IDCT is 64x64 Python
mult-adds per 8x8 block (~84% of the per-doc JPEG time measured with
cProfile), and the PNG unfilter/resize/dHash loops are per-pixel
Python. Every block-parallel or pixel-parallel stage here becomes one
numpy array program (matrix-form DCT over ALL blocks of an image at
once, reshape-based unfilter, fancy-index resize, comparison-mask
dHash); the inherently SEQUENTIAL stages — Huffman bit IO, zlib,
chunk/marker walks — stay in codecs.py and are shared, not duplicated.

Every mapInPandas kernel holds this module (operators/multimodal.py:
_ship_codecs); numpy is always present where pandas is. codecs.py
stays the byte-identity reference. WAV functions are re-exported
unchanged: PCM16 pack/unpack is already C-speed via struct.

Numerical identity notes (why byte-identical is achievable, not just
close): the DCT matrix here holds the exact same float64 cosine values
as codecs._JPG_COS scaled by the same C(u) factors, and quantization
reproduces int(c+0.5) rounding half-away-from-zero via floor(c+0.5) on
the same-signed branch; the IDCT output uses np.rint (round-half-even)
matching Python round(); PNG filters are exact uint8 modular
arithmetic. Summation ORDER inside a dot product differs from the
stdlib loops, so a coefficient landing within 1 ULP of an exact .5
boundary could in principle round differently — the equivalence tests
replay both paths on the fixture families (where DC-only blocks make
the math exact) and on seeded gradient/noise images to pin identity on
real content.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from kafka_streams_example_spark.functions import codecs as _cx

# Re-exports: same public surface as codecs.py so kernels can hold ONE
# module handle. WAV + chunk helpers are not pixel-parallel work.
PNG_SIG = _cx.PNG_SIG
encode_wav_pcm16 = _cx.encode_wav_pcm16
decode_wav = _cx.decode_wav

_ZZ = np.array(_cx._JPG_ZIGZAG, dtype=np.int64)  # zigzag index map

# Orthonormal DCT-II matrix in the exact scaling the stdlib loops use:
# M[u, x] = 0.5 * C(u) * cos((2x+1) u pi / 16), so that
# fdct(B) = M @ B @ M.T and idct(C) = M.T @ C @ M reproduce
# codecs._jpg_fdct/_jpg_idct (0.25 * C(u)C(v) * double sum) exactly in
# formula — built FROM codecs' own cosine table so the float64 inputs
# are bit-identical.
_DCT_M = 0.5 * np.array(
    [[_cx._JPG_C[u] * _cx._JPG_COS[x][u] for x in range(8)] for u in range(8)],
    dtype=np.float64,
)

# The four forward-DCT coefficients with RATIONAL true values: rows/cols
# u, v in {0, 4} have cos basis values in {±1, ±sqrt(2)/2}, so (with the
# C factors) the exact coefficient is (signed integer sum)/8 — which
# lands exactly ON a k+0.5 quantizer rounding boundary with probability
# 1/8 per block for integer content. There, matmul's pairwise summation
# and the stdlib's sequential loop can land on opposite sides of the
# boundary and the quantized wire bytes diverge (observed at ~40% of
# random-noise images before this fix). For these four coefficients the
# encoder below replays the stdlib's EXACT scalar arithmetic — same
# per-term fl(fl(b*cosx)*cosy) products, same flat y-major sequential
# accumulation order, same ((0.25*Cu)*Cv)*s scaling — vectorized across
# blocks (elementwise IEEE ops round identically to their scalar
# counterparts). All other coefficients have irrational true values, so
# a boundary landing needs a ~1e-13 coincidence; the equivalence tests
# sweep seeded noise/gradient images to pin it.
_RAT_UV = ((0, 0), (0, 4), (4, 0), (4, 4))
_RAT_COSX = np.array(
    [[_cx._JPG_COS[x][u] for x in range(8)] for (v, u) in _RAT_UV]
)  # (4, 8), indexed by x
_RAT_COSY = np.array(
    [[_cx._JPG_COS[y][v] for y in range(8)] for (v, u) in _RAT_UV]
)  # (4, 8), indexed by y
_RAT_SCALE = np.array(
    [(0.25 * _cx._JPG_C[u]) * _cx._JPG_C[v] for (v, u) in _RAT_UV]
)


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------


png_text_chunks = _cx.png_text_chunks  # chunk walk is not pixel-parallel work
jpeg_metadata = _cx.jpeg_metadata  # marker walk is not pixel-parallel work


def encode_png_gray8(
    width: int, height: int, pixels: bytes, filter_type: int = 0, zlevel: int = 6,
    text_chunks=None,
) -> bytes:
    """Vectorized twin of codecs.encode_png_gray8: filters 0/1/2 as
    whole-image uint8 array ops (modular arithmetic is exact), one zlib
    IDAT. Byte-identical output for the same inputs (incl. tEXt/zTXt
    metadata chunks, which delegate to the stdlib serializer)."""
    if len(pixels) != width * height:
        raise ValueError(f"need {width * height} pixels, got {len(pixels)}")
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    if filter_type == 0:
        filt = arr
    elif filter_type == 1:  # Sub: delta vs left neighbor (bpp=1)
        left = np.zeros_like(arr)
        left[:, 1:] = arr[:, :-1]
        filt = arr - left  # uint8 wraps mod 256
    elif filter_type == 2:  # Up: delta vs previous scanline
        up = np.zeros_like(arr)
        up[1:, :] = arr[:-1, :]
        filt = arr - up
    else:
        raise ValueError(f"encoder supports filter types 0/1/2, got {filter_type}")
    lines = np.empty((height, width + 1), dtype=np.uint8)
    lines[:, 0] = filter_type
    lines[:, 1:] = filt
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        PNG_SIG
        + _cx._png_chunk(b"IHDR", ihdr)
        + (_cx._png_text_chunk_bytes(text_chunks) if text_chunks else b"")
        + _cx._png_chunk(b"IDAT", zlib.compress(lines.tobytes(), zlevel))
        + _cx._png_chunk(b"IEND", b"")
    )


def _unfilter_np(raw: bytes, width: int, height: int, bpp: int) -> bytes:
    """Vectorized PNG unfilter. All-None streams (what our encoders emit
    by default) are one reshape+slice; None/Sub/Up rows are one array op
    per scanline (Sub via per-channel cumsum mod 256); Average/Paeth
    rows fall back to the per-byte recurrence (their left-neighbor
    dependency chains through the divide/predictor, so a cumsum form
    does not exist) — still bounded per row, and rare in practice."""
    stride = width * bpp
    if len(raw) != height * (stride + 1):
        raise ValueError(
            f"IDAT size mismatch: {len(raw)} != {height}*({stride}+1)"
        )
    a = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    ftypes = a[:, 0]
    data = a[:, 1:]
    if not ftypes.any():  # all filter 0: the filtered stream IS the image
        return data.tobytes()
    if (ftypes > 4).any():
        bad = int(ftypes[(ftypes > 4).argmax()])
        raise ValueError(f"unknown PNG filter type {bad}")
    out = np.empty((height, stride), dtype=np.uint8)
    zero = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        f = int(ftypes[y])
        line = data[y]
        prev = out[y - 1] if y > 0 else zero
        if f == 0:  # None
            out[y] = line
        elif f == 1:  # Sub: cumulative sum per channel, mod 256
            ch = line.reshape(-1, bpp).astype(np.uint64)
            out[y] = (np.cumsum(ch, axis=0) & 0xFF).astype(np.uint8).reshape(-1)
        elif f == 2:  # Up
            out[y] = line + prev  # uint8 wraps mod 256
        elif f == 3:  # Average — sequential left dependency
            row = out[y]
            for i in range(stride):
                left = int(row[i - bpp]) if i >= bpp else 0
                row[i] = (int(line[i]) + (left + int(prev[i])) // 2) & 0xFF
        else:  # Paeth — sequential left/upper-left dependency
            row = out[y]
            for i in range(stride):
                left = int(row[i - bpp]) if i >= bpp else 0
                up = int(prev[i])
                ul = int(prev[i - bpp]) if (y > 0 and i >= bpp) else 0
                row[i] = (int(line[i]) + _cx._paeth(left, up, ul)) & 0xFF
    return out.tobytes()


def decode_png(blob: bytes) -> dict:
    """Vectorized twin of codecs.decode_png: shared chunk-walk/CRC/
    inflate front end (codecs._png_parse), numpy unfilter back end."""
    width, height, bit_depth, color_type, bpp, raw = _cx._png_parse(blob)
    return {
        "width": width,
        "height": height,
        "bit_depth": bit_depth,
        "color_type": color_type,
        "channels": bpp,
        "pixels": _unfilter_np(raw, width, height, bpp),
    }


_RESIZE_IDX_CACHE: dict[tuple, np.ndarray] = {}


def resize_gray8_nearest(
    pixels: bytes, width: int, height: int, out_width: int, out_height: int
) -> bytes:
    """Fancy-index twin of codecs.resize_gray8_nearest: the same
    ``min(o*in//out, in-1)`` source indices, materialized once per
    (in-dims, out-dims) shape as a flat gather index and cached — a
    corpus has few distinct image geometries, so the per-image work is
    ONE flat take."""
    key = (width, height, out_width, out_height)
    idx = _RESIZE_IDX_CACHE.get(key)
    if idx is None:
        ys = np.minimum(
            np.arange(out_height, dtype=np.int64) * height // out_height,
            height - 1,
        )
        xs = np.minimum(
            np.arange(out_width, dtype=np.int64) * width // out_width,
            width - 1,
        )
        idx = (ys[:, None] * width + xs[None, :]).ravel()
        if len(_RESIZE_IDX_CACHE) >= 4096:  # adversarial-geometry bound
            _RESIZE_IDX_CACHE.clear()
        _RESIZE_IDX_CACHE[key] = idx
    return np.frombuffer(pixels, dtype=np.uint8)[idx].tobytes()


_DH_WEIGHTS_CACHE: dict[int, np.ndarray] = {}


def dhash60(
    pixels: bytes, width: int, height: int, grid_w: int = 11, grid_h: int = 6
) -> int:
    """Vectorized twin of codecs.dhash60: nearest-neighbor thumbnail via
    the fancy-index resize, one comparison mask for all horizontal
    neighbor pairs, one dot with the bit weights."""
    thumb = np.frombuffer(
        resize_gray8_nearest(pixels, width, height, grid_w, grid_h),
        dtype=np.uint8,
    ).reshape(grid_h, grid_w)
    bits = (thumb[:, :-1] > thumb[:, 1:]).reshape(-1)
    n = bits.size
    w = _DH_WEIGHTS_CACHE.get(n)
    if w is None:
        w = np.left_shift(np.uint64(1), np.arange(n, dtype=np.uint64))
        _DH_WEIGHTS_CACHE[n] = w
    return int(bits.astype(np.uint64) @ w)


# ---------------------------------------------------------------------------
# Baseline JPEG
# ---------------------------------------------------------------------------


_JPG_Q_CACHE: dict[tuple, np.ndarray] = {}


def _jpg_q_array(q: list[int]) -> np.ndarray:
    qk = tuple(q)
    arr = _JPG_Q_CACHE.get(qk)
    if arr is None:
        arr = np.array(q, dtype=np.float64)
        if len(_JPG_Q_CACHE) >= 64:
            _JPG_Q_CACHE.clear()
        _JPG_Q_CACHE[qk] = arr
    return arr


def _blocks_from_pixels(pixels: bytes, width: int, height: int) -> np.ndarray:
    """(n_blocks, 8, 8) float64 level-shifted blocks in row-major block
    order, edge blocks replicating the last row/column (same pad as the
    stdlib encoder's min() clamps). Block-aligned images (the common
    case) skip the pad entirely."""
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    bh, bw = (height + 7) // 8, (width + 7) // 8
    if bh * 8 != height or bw * 8 != width:
        arr = np.pad(arr, ((0, bh * 8 - height), (0, bw * 8 - width)), mode="edge")
    blocks = arr.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    return blocks.astype(np.float64) - 128.0


def encode_jpeg_gray8(
    width: int,
    height: int,
    pixels: bytes,
    quant: list[int] | None = None,
    jfif: tuple[int, int, int, int, int] | None = None,
    comments: list[str] | None = None,
) -> bytes:
    """Vectorized twin of codecs.encode_jpeg_gray8: one matrix-form
    forward DCT over ALL blocks (M @ B @ M.T batched), one vectorized
    quantize (round half away from zero), one zigzag gather — then the
    SHARED sequential Huffman writer (codecs._jpg_entropy_encode) and
    stream wrap, so the wire bytes are identical by construction."""
    if len(pixels) != width * height:
        raise ValueError(f"need {width * height} pixels, got {len(pixels)}")
    q = _cx._jpg_check_quant(quant)
    blocks = _blocks_from_pixels(pixels, width, height)
    coef = _DCT_M @ blocks @ _DCT_M.T  # (n, 8, 8)
    # rational-valued coefficients (u, v in {0, 4}): replay the stdlib's
    # exact sequential arithmetic so k+0.5 boundary cases round the same
    # way (see _RAT_UV above). np.add.accumulate has documented
    # sequential (left-to-right) semantics — r[i] = r[i-1] + a[i] — so
    # its last element rounds identically to the stdlib's scalar loop
    # (pinned bit-exact in tests/test_codecs_np.py's sweeps).
    n = blocks.shape[0]
    terms = blocks[:, None, :, :] * _RAT_COSX[None, :, None, :]  # fl(b*cosx)
    terms = terms * _RAT_COSY[None, :, :, None]  # fl(prev*cosy)
    flat = terms.reshape(n, len(_RAT_UV), 64)
    s = np.add.accumulate(flat, axis=2)[:, :, -1]
    rat = _RAT_SCALE[None, :] * s
    for j, (v, u) in enumerate(_RAT_UV):
        coef[:, v, u] = rat[:, j]
    c = coef.reshape(-1, 64) / _jpg_q_array(q)
    zz = np.where(c >= 0, np.floor(c + 0.5), -np.floor(-c + 0.5)).astype(np.int64)
    zz_blocks = zz[:, _ZZ]  # zigzag order per block
    return _cx._jpg_wrap_stream(
        width, height, q, _cx._jpg_entropy_encode(zz_blocks.tolist()),
        misc=_cx._jpg_misc_segments(jfif, comments),
    )


def decode_jpeg(blob: bytes) -> dict:
    """Vectorized twin of codecs.decode_jpeg: shared marker-walk/DHT/
    entropy-decode front end (codecs._jpg_parse/_jpg_entropy_decode),
    then one batched dequant + inverse zigzag + matrix IDCT + level
    shift/clamp + MCU-grid assembly in numpy."""
    width, height, q, dc_tbl, ac_tbl, entropy = _cx._jpg_parse(blob)
    bw = (width + 7) // 8
    bh = (height + 7) // 8
    n = bw * bh
    zz = np.array(
        _cx._jpg_entropy_decode(entropy, dc_tbl, ac_tbl, n), dtype=np.float64
    ).reshape(n, 64)
    coef = np.zeros((n, 64), dtype=np.float64)
    coef[:, _ZZ] = zz  # inverse zigzag: coef[zigzag[k]] = zz[k]
    coef *= _jpg_q_array(q)
    spatial = _DCT_M.T @ coef.reshape(n, 8, 8) @ _DCT_M
    v = np.rint(spatial) + 128.0  # rint = round-half-even = Python round()
    grid = (
        np.clip(v, 0, 255)
        .astype(np.uint8)
        .reshape(bh, bw, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh * 8, bw * 8)
    )
    pixels = grid[:height, :width].tobytes()
    return {
        "width": width,
        "height": height,
        "bit_depth": 8,
        "n_components": 1,
        "pixels": pixels,
    }
