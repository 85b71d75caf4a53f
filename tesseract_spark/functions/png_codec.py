"""Minimal deterministic grayscale PNG codec (numpy + stdlib zlib).

The reference decodes PNG/TIFF/JPEG via Leptonica
(``src/api/baseapi.cpp:1033-1194`` format autodetect).  This sandbox has no
image libraries, so media bytes in the synthetic corpus are 8-bit grayscale
PNGs produced/consumed by this codec.  Encode always uses filter type 0
(None); decode supports the five standard filters so any conforming
grayscale-8 non-interlaced PNG round-trips.
"""

from __future__ import annotations

import functools
import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

# the largest page side the reference thresholds (thresholder.cpp:285-288)
MAX_DIM = 32767


def check_dims(fmt: str, w: int, h: int) -> None:
    """Reject a declared page size of 0 or past MAX_DIM before any
    buffer of that size is built."""
    if not (0 < w <= MAX_DIM and 0 < h <= MAX_DIM):
        raise ValueError(f"{fmt} size {w}x{h} is outside 1..{MAX_DIM}")


def classified(decode):
    """One error class for a decoder: bytes it cannot decode raise
    ValueError, so the struct, zlib and index errors of a truncated or
    corrupt stream are re-raised as ValueError."""

    @functools.wraps(decode)
    def checked(data):
        try:
            return decode(data)
        except (struct.error, zlib.error, IndexError) as e:
            raise ValueError(f"corrupt image data: {e}") from e

    return checked


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def encode_gray_png(img: np.ndarray) -> bytes:
    """Encode a uint8 [H, W] array as a grayscale PNG."""
    if img.ndim != 2:
        raise ValueError(f"expected 2-D grayscale image, got shape {img.shape}")
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit, color type 0
    raw = np.empty((h, w + 1), dtype=np.uint8)
    raw[:, 0] = 0  # filter type 0 per scanline
    raw[:, 1:] = img
    idat = zlib.compress(raw.tobytes(), 6)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


@classified
def decode_gray_png(data: bytes) -> np.ndarray:
    """Decode a grayscale-8 non-interlaced PNG to a uint8 [H, W] array.
    The inflate stops at the h * (w + 1) bytes the header declares."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    w = h = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if typ == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(">IIBBBBB", body)
            check_dims("PNG", w, h)
            if depth != 8 or ctype != 0 or interlace != 0:
                raise ValueError(f"unsupported PNG: depth={depth} ctype={ctype} interlace={interlace}")
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("missing IHDR")
    need = h * (w + 1)
    raw = zlib.decompressobj().decompress(bytes(idat), need)
    if len(raw) < need:
        raise ValueError("truncated PNG image data")
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, w + 1)
    filters = raw[:, 0]
    out = np.empty((h, w), dtype=np.uint8)
    if not filters.any():  # fast path: all filter 0 (our own encoder)
        out[:] = raw[:, 1:]
        return out
    for y in range(h):
        f = filters[y]
        line = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(w, np.int32)
        if f == 0:
            rec = line
        elif f == 2:  # Up
            rec = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth need sequential left-neighbor recursion
            rec = np.zeros(w, np.int32)
            a = 0
            for x in range(w):
                b = prev[x]
                c = prev[x - 1] if x > 0 else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) >> 1
                else:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                a = (line[x] + pred) & 0xFF
                rec[x] = a
        out[y] = rec.astype(np.uint8)
    return out
