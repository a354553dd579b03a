"""Deterministic synthetic media: the images, video frames and sounds the
multimodal queries build per ``(doc_id, text)`` row where a production
pipeline reads blobs from its source.

Every synthesis here is replayed arithmetically by a registered DuckDB
oracle (queries/multimodal.py), so changing one means changing its
oracle too. The module is stdlib-only and ships BY VALUE next to the
codecs (operators/multimodal.py:_ship_codecs): an Arrow kernel may call
it on a worker that cannot import this package, which is exactly what a
kernel may not do with any other module-level function of the package.
"""

from __future__ import annotations

import hashlib

# digest-offset step between video scenes (any nonzero value works)
SCENE_SHIFT = 7


def digest(text) -> bytes:
    """md5 of the text's UTF-8 bytes: the 16 bytes every fixture draws
    its pixels or samples from (DuckDB's ``md5(text)`` hex string)."""
    return hashlib.md5(str(text).encode("utf-8")).digest()


def png_gray8(doc_id: int, text) -> tuple[int, int, bytes]:
    """The PNG fixture image: ``16+id%17 × 16+id%13`` grayscale pixels,
    the digest repeated row-major (pixel j = digest[j % 16])."""
    w, h = 16 + doc_id % 17, 16 + doc_id % 13
    return w, h, (digest(text) * (w * h // 16 + 1))[: w * h]


def jpeg_gray8(doc_id: int, text) -> tuple[int, int, bytes]:
    """The JPEG fixture image: ``8*(1+id%3) × 8*(1+id%2)``, each 8×8
    block one constant value = digest byte (block index mod 16).
    Per-block-constant content keeps the lossy format numerically exact:
    only the DC coefficient is nonzero and it quantizes to an integer
    under the all-1 table, so a full-value oracle over decoded pixels
    exists."""
    w, h = 8 * (1 + doc_id % 3), 8 * (1 + doc_id % 2)
    dg = digest(text)
    wb = w // 8
    px = bytearray(w * h)
    for by in range(h // 8):
        for bx in range(wb):
            v = dg[(by * wb + bx) % 16]
            for y in range(8):
                row = (by * 8 + y) * w + bx * 8
                px[row : row + 8] = bytes([v]) * 8
    return w, h, bytes(px)


def video(doc_id: int, text, scrambled: bool = False) -> tuple[int, int, list[bytes]]:
    """The video fixture: ``4 + id%5`` frames of ``16+id%17 × 16+id%13``
    in scenes of ``1 + id%3`` frames; same-scene frames are
    pixel-identical and a scene change rotates the texture by
    ``SCENE_SHIFT`` digest positions.

    The plain texture cycles the digest (pixel j = digest[(j + off) %
    16]). ``scrambled`` multiplies each digest byte by a
    position-dependent factor: the bare 16-value cycle makes unrelated
    videos' 60-bit dHashes collide, which a cross-video self-join meets
    and a per-video readout never does."""
    w, h = 16 + doc_id % 17, 16 + doc_id % 13
    nf, slen = 4 + doc_id % 5, 1 + doc_id % 3
    dg = digest(text)
    frames = []
    for f in range(nf):
        off = SCENE_SHIFT * (f // slen)
        if scrambled:
            px = bytes(
                (dg[(p + off) % 16] * (1 + ((p + off) * 2654435761) % 255)) % 256
                for p in range(w * h)
            )
        else:
            start = off % 16
            px = (dg * (w * h // 16 + 2))[start : start + w * h]
        frames.append(px)
    return w, h, frames


def pcm16_ramp(doc_id: int) -> list[int]:
    """``64 + id%64`` PCM16 samples of the recurrence
    ``(id*31 + j*17) % 65536 - 32768``."""
    return [(doc_id * 31 + j * 17) % 65536 - 32768 for j in range(64 + doc_id % 64)]


def pcm16_tournament(doc_id: int, text) -> list[int]:
    """``64 + id%64`` PCM16 samples whose signs are a pseudo-random
    tournament over the digest: sample 16f+b = (db[a]-db[b])*128 +
    db[a]%128 with a, b frame-varying permutations of the digest
    indices, so sign ⟺ db[a] >= db[b] and each doc carries ~n
    independent identity bits (a 16-bit multiplier synthesis saturated
    its signal space and went quadratic in output pairs at x30)."""
    dg = digest(text)
    out = []
    for j in range(64 + doc_id % 64):
        f = j // 16
        a = dg[(j * 7 + 3 * f) % 16]
        b = dg[(j * 13 + 5 + 11 * f) % 16]
        out.append((a - b) * 128 + a % 128)
    return out
