"""Stdlib-vs-numpy codec equivalence: functions/codecs_np.py must be
BYTE-IDENTICAL to functions/codecs.py on every surface the engine uses —
the vectorized module is a constant-factor optimization, never a
semantics change. Sweeps cover the deterministic fixture families the
queries/oracles run on AND seeded gradient/noise images (where the
rational-coefficient rounding-boundary family lives — see
codecs_np._RAT_UV), plus the fallback wiring itself."""

import hashlib
import random
import struct
import zlib

import pytest

from kafka_streams_example_spark.functions import codecs as cx
from kafka_streams_example_spark.functions import codecs_np as cnp


def _png_fixture(i: int) -> tuple[int, int, bytes]:
    """with_png_payload's synthesis: dims 16+i%17 x 16+i%13, md5 pixels."""
    w, h = 16 + i % 17, 16 + i % 13
    digest = hashlib.md5(str(i).encode("utf-8")).digest()
    return w, h, (digest * (w * h // 16 + 1))[: w * h]


def _jpeg_fixture(i: int) -> tuple[int, int, bytes]:
    """with_jpeg_payload's synthesis: per-8x8-block-constant content."""
    w, h = 8 * (1 + i % 3), 8 * (1 + i % 2)
    digest = hashlib.md5(str(i).encode("utf-8")).digest()
    wb = w // 8
    px = bytearray(w * h)
    for by in range(h // 8):
        for bx in range(wb):
            v = digest[(by * wb + bx) % 16]
            for y in range(8):
                row = (by * 8 + y) * w + bx * 8
                px[row : row + 8] = bytes([v]) * 8
    return w, h, bytes(px)


def test_png_encode_decode_equivalence_all_filters_and_levels():
    rng = random.Random(11)
    for trial in range(120):
        w, h = rng.randrange(3, 40), rng.randrange(3, 40)
        px = bytes(rng.randrange(256) for _ in range(w * h))
        for ft in (0, 1, 2):
            for zl in (1, 6, 9):
                assert cx.encode_png_gray8(w, h, px, ft, zl) == cnp.encode_png_gray8(
                    w, h, px, ft, zl
                )
        blob = cx.encode_png_gray8(w, h, px, rng.choice([0, 1, 2]))
        assert cx.decode_png(blob) == cnp.decode_png(blob)


def test_png_unfilter_equivalence_all_five_filter_types():
    """Average/Paeth never come out of our encoder but MUST decode the
    same — craft raw filtered streams directly, 1 and 3 channels."""
    rng = random.Random(12)
    for trial in range(60):
        w, h = rng.randrange(2, 24), rng.randrange(2, 24)
        for bpp in (1, 3):
            raw = b"".join(
                bytes([rng.choice([0, 1, 2, 3, 4])])
                + bytes(rng.randrange(256) for _ in range(w * bpp))
                for _ in range(h)
            )
            assert cx._unfilter(raw, w, h, bpp) == cnp._unfilter_np(raw, w, h, bpp)


def test_resize_and_dhash_equivalence():
    rng = random.Random(13)
    for trial in range(150):
        w, h = rng.randrange(2, 48), rng.randrange(2, 48)
        px = bytes(rng.randrange(256) for _ in range(w * h))
        ow, oh = rng.randrange(1, 24), rng.randrange(1, 24)
        assert cx.resize_gray8_nearest(px, w, h, ow, oh) == cnp.resize_gray8_nearest(
            px, w, h, ow, oh
        )
        assert cx.dhash60(px, w, h) == cnp.dhash60(px, w, h)
        assert cx.dhash60(px, w, h, 9, 8) == cnp.dhash60(px, w, h, 9, 8)


def test_jpeg_equivalence_fixture_family():
    """The exact corpora the queries/oracles run on: per-block-constant
    JPEG fixtures and md5-pixel PNG fixtures through BOTH codecs."""
    for i in range(200):
        w, h, px = _jpeg_fixture(i)
        a = cx.encode_jpeg_gray8(w, h, px)
        assert a == cnp.encode_jpeg_gray8(w, h, px)
        assert cx.decode_jpeg(a) == cnp.decode_jpeg(a)
        wp, hp, pxp = _png_fixture(i)
        blob = cx.encode_png_gray8(wp, hp, pxp)
        assert blob == cnp.encode_png_gray8(wp, hp, pxp)
        da, db = cx.decode_png(blob), cnp.decode_png(blob)
        assert da == db
        assert cx.dhash60(da["pixels"], wp, hp) == cnp.dhash60(db["pixels"], wp, hp)


def test_jpeg_equivalence_random_and_gradient_sweep():
    """Seeded noise is the adversarial family: the u,v in {0,4} DCT
    coefficients have rational true values that land exactly ON the
    k+0.5 quantizer boundary for ~1/8 of integer blocks — before
    codecs_np replayed the stdlib's sequential arithmetic there, ~40% of
    noise images encoded to different bytes. This sweep pins the fix."""
    rng = random.Random(14)
    for trial in range(300):
        w, h = rng.randrange(4, 41), rng.randrange(4, 41)
        kind = trial % 3
        if kind == 0:
            px = bytes(min(255, (x * 7 + y * 11) % 256) for y in range(h) for x in range(w))
        elif kind == 1:
            px = bytes(rng.randrange(256) for _ in range(w * h))
        else:
            px = bytes((x * 30) % 256 for y in range(h) for x in range(w))
        q = [1] * 64
        q[1] = rng.randrange(1, 5)
        q[10] = rng.randrange(1, 9)
        a = cx.encode_jpeg_gray8(w, h, px, q)
        assert a == cnp.encode_jpeg_gray8(w, h, px, q), (trial, w, h)
        assert cx.decode_jpeg(a) == cnp.decode_jpeg(a), (trial, w, h)


def test_jpeg_error_paths_match():
    """The per-row degradation contract catches the same exception types
    from either module."""
    for mod in (cx, cnp):
        with pytest.raises(ValueError):
            mod.decode_jpeg(b"not a jpeg at all")
        with pytest.raises(ValueError):
            mod.decode_png(b"not a png either")
        good = mod.encode_jpeg_gray8(8, 8, bytes(range(64)))
        with pytest.raises((ValueError, IndexError, struct.error)):
            mod.decode_jpeg(good[: len(good) // 2])
        png = mod.encode_png_gray8(4, 4, bytes(range(16)))
        with pytest.raises((ValueError, struct.error, zlib.error)):
            mod.decode_png(png[:20])


def test_wav_reexport_is_the_stdlib_implementation():
    assert cnp.encode_wav_pcm16 is cx.encode_wav_pcm16
    assert cnp.decode_wav is cx.decode_wav


def test_ship_codecs_returns_np_module():
    """The one codec shipper hands every kernel the numpy module; the
    stdlib module it re-exports from ships beside it."""
    from pyspark import cloudpickle

    from kafka_streams_example_spark.operators.multimodal import _ship_codecs

    assert _ship_codecs() is cnp
    assert cx.__name__ in cloudpickle.list_registry_pickle_by_value()
    assert cnp.__name__ in cloudpickle.list_registry_pickle_by_value()
