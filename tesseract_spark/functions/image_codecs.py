"""Multi-format grayscale image codecs + magic-byte autodetect.

The reference reads every Leptonica-supported format and autodetects by
content (``src/api/baseapi.cpp:1033-1194`` ProcessPagesInternal; multipage
TIFF iteration ``:958-998``).  This sandbox has no image libraries, so the
formats a corpus realistically carries are implemented from scratch on
numpy + stdlib:

- PNG (delegates to :mod:`png_codec` — the hot-path format);
- baseline JFIF JPEG, grayscale, SOF0 + Annex-K standard Huffman tables
  (decode any single-component baseline stream; encode for fixtures);
- uncompressed grayscale TIFF, little-endian, one strip per page,
  MULTIPAGE via the IFD chain (decode + encode for fixtures).

``decode_gray_pages`` is the pipeline entry: sniff + decode to a list of
uint8 [H, W] pages (PNG/JPEG yield one page, TIFF one per IFD).

Performance note: JPEG entropy decoding is sequential per symbol (the
format's own data dependency); the per-block pipeline after it (dequant,
zigzag, IDCT) is vectorized across all blocks.  The flagship corpus
renders PNG, so this path only pays when a corpus actually ships JPEG.
"""

from __future__ import annotations

import struct

import numpy as np

from .png_codec import check_dims, classified, decode_gray_png, encode_gray_png

# ---------------------------------------------------------------------------
# format sniffing (baseapi.cpp:1033-1194 reads by content, not extension)

def sniff_format(data: bytes) -> str | None:
    """'png' | 'jpeg' | 'tiff' | None by magic bytes."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    return None


def decode_gray_pages(data: bytes) -> list[np.ndarray]:
    """Autodetect + decode to grayscale pages (multipage TIFF -> many).
    Bytes that do not decode raise ValueError, whatever the format."""
    fmt = sniff_format(bytes(data))
    if fmt == "png":
        return [decode_gray_png(bytes(data))]
    if fmt == "jpeg":
        return [decode_gray_jpeg(bytes(data))]
    if fmt == "tiff":
        return decode_gray_tiff(bytes(data))
    raise ValueError("unrecognized image format (not PNG/JPEG/TIFF)")


def decode_gray_image(data: bytes) -> np.ndarray:
    """Autodetect + decode the FIRST page (single-image call sites)."""
    return decode_gray_pages(data)[0]


# ---------------------------------------------------------------------------
# baseline JPEG, grayscale (ITU T.81 Annex F baseline sequential, K.3 tables)

_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.1 luminance quantization table (quality 50 base)
_QTABLE_BASE = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68,109,103, 77,
    24, 35, 55, 64, 81,104,113, 92,
    49, 64, 78, 87,103,121,120,101,
    72, 92, 95, 98,112,100,103, 99,
], dtype=np.int64)

# Annex K.3 standard Huffman tables (luminance DC / AC): (bits, values)
_DC_BITS = [0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

_DCT_N = 8
_C = np.cos((2 * np.arange(_DCT_N)[:, None] + 1) * np.arange(_DCT_N)[None, :]
            * np.pi / (2 * _DCT_N))
_A = _C * np.sqrt(2.0 / _DCT_N)
_A[:, 0] = np.sqrt(1.0 / _DCT_N)  # orthonormal DCT-II basis, columns = freq


def _dct2(blocks: np.ndarray) -> np.ndarray:
    """Forward 2-D DCT over [N, 8, 8] spatial blocks."""
    return np.einsum("ij,njk,kl->nil", _A.T, blocks, _A, optimize=True)


def _idct2(coefs: np.ndarray) -> np.ndarray:
    """Inverse 2-D DCT over [N, 8, 8] coefficient blocks."""
    return np.einsum("ij,njk,kl->nil", _A, coefs, _A.T, optimize=True)


def _quality_table(quality: int) -> np.ndarray:
    """libjpeg's quality scaling of the Annex-K table."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - quality * 2
    q = (_QTABLE_BASE * scale + 50) // 100
    return np.clip(q, 1, 255)


class _HuffTable:
    """Canonical Huffman per the T.81 DECODE procedure (F.2.2.3)."""

    def __init__(self, bits: list[int], vals: list[int]):
        self.vals = vals
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = 0
        k = 0
        for ln in range(1, 17):
            n = bits[ln]
            self.valptr[ln] = k
            self.mincode[ln] = code
            code += n
            k += n
            self.maxcode[ln] = code - 1 if n else -1
            code <<= 1
        # encode map: symbol -> (code, length)
        self.enc: dict[int, tuple[int, int]] = {}
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(bits[ln]):
                self.enc[vals[k]] = (code, ln)
                code += 1
                k += 1
            code <<= 1


_DC_HUFF = _HuffTable(_DC_BITS, _DC_VALS)
_AC_HUFF = _HuffTable(_AC_BITS, _AC_VALS)


class _BitReader:
    """MSB-first bit reader over de-stuffed entropy bytes."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24 and self.pos < len(self.data):
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
            if self.nbits < n:  # pad with 1s per spec (past-the-end reads)
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def decode_huff(self, table: _HuffTable) -> int:
        code = self.read(1)
        for ln in range(1, 17):
            if table.maxcode[ln] >= code >= table.mincode[ln]:
                return table.vals[table.valptr[ln] + code - table.mincode[ln]]
            code = (code << 1) | self.read(1)
        raise ValueError("bad Huffman code")


def _extend(v: int, t: int) -> int:
    """EXTEND (F.2.2.1): map magnitude bits to signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


@classified
def decode_gray_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline sequential single-component JPEG to uint8 [H, W]."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffTable] = {}
    h = w = None
    qsel = 0
    dc_sel = ac_sel = 0
    scan_start = None
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        body = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0xF
                b += 1
                if pq:
                    tbl = np.frombuffer(body[b : b + 128], dtype=">u2").astype(np.int64)
                    b += 128
                else:
                    tbl = np.frombuffer(body[b : b + 64], dtype=np.uint8).astype(np.int64)
                    b += 64
                qtables[tq] = tbl
        elif marker == 0xC0:  # SOF0 baseline
            _prec, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            check_dims("JPEG", w, h)
            if ncomp != 1:
                raise ValueError("only single-component (grayscale) JPEG supported")
            samp, qsel = body[7], body[8]
            if samp != 0x11:
                raise ValueError("only 1x1 sampling supported")
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("only baseline (SOF0) JPEG supported")
        elif marker == 0xC4:  # DHT
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0xF
                bits = [0] + list(body[b + 1 : b + 17])
                nv = sum(bits)
                vals = list(body[b + 17 : b + 17 + nv])
                htables[(tc, th)] = _HuffTable(bits, vals)
                b += 17 + nv
        elif marker == 0xDA:  # SOS
            ns = body[0]
            if ns != 1:
                raise ValueError("only single-scan grayscale supported")
            dc_sel, ac_sel = body[2] >> 4, body[2] & 0xF
            scan_start = pos + seglen
            break
        pos += seglen
    if h is None or scan_start is None:
        raise ValueError("missing SOF/SOS")
    # de-stuff entropy bytes up to EOI
    raw = bytearray()
    p = scan_start
    while p < len(data):
        bch = data[p]
        if bch == 0xFF:
            nxt = data[p + 1] if p + 1 < len(data) else 0xD9
            if nxt == 0x00:
                raw.append(0xFF)
                p += 2
                continue
            if nxt == 0xD9:
                break
            if 0xD0 <= nxt <= 0xD7:  # restart marker: skip (DC resets below
                p += 2  # are not emitted by our encoder; tolerate streams)
                continue
            break
        raw.append(bch)
        p += 1
    dc_t = htables.get((0, dc_sel), _DC_HUFF)
    ac_t = htables.get((1, ac_sel), _AC_HUFF)
    q = qtables.get(qsel, _QTABLE_BASE[_ZIGZAG])  # DQT layout is zigzag
    bx = (w + 7) // 8
    by = (h + 7) // 8
    nblocks = bx * by
    coef_z = np.zeros((nblocks, 64), dtype=np.int64)
    rd = _BitReader(bytes(raw))
    pred = 0
    for bi in range(nblocks):
        t = rd.decode_huff(dc_t)
        diff = _extend(rd.read(t), t)
        pred += diff
        coef_z[bi, 0] = pred
        k = 1
        while k < 64:
            rs = rd.decode_huff(ac_t)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                break
            coef_z[bi, k] = _extend(rd.read(s), s)
            k += 1
    # dequantize + un-zigzag + IDCT, vectorized across blocks
    coef = np.zeros((nblocks, 64), dtype=np.float64)
    coef[:, _ZIGZAG] = coef_z * q[None, :]
    spatial = _idct2(coef.reshape(nblocks, 8, 8)) + 128.0
    out = np.empty((by * 8, bx * 8), dtype=np.float64)
    blk = spatial.reshape(by, bx, 8, 8)
    out = blk.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)[:h, :w]


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, n: int) -> None:
        if n == 0:
            return
        self.acc = (self.acc << n) | (code & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s
        return bytes(self.out)


def encode_gray_jpeg(img: np.ndarray, quality: int = 90) -> bytes:
    """Encode uint8 [H, W] grayscale as baseline JFIF JPEG (fixture use)."""
    if img.ndim != 2:
        raise ValueError(f"expected 2-D grayscale image, got {img.shape}")
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = img.shape
    q = _quality_table(quality)
    by, bx = (h + 7) // 8, (w + 7) // 8
    padded = np.empty((by * 8, bx * 8), dtype=np.float64)
    padded[:h, :w] = img
    padded[h:, :w] = img[h - 1 : h, :]  # edge replicate
    padded[:, w:] = padded[:, w - 1 : w]
    blocks = (
        padded.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        - 128.0
    )
    coef = _dct2(blocks).reshape(-1, 64)  # raster layout, like q
    qz = np.round(coef / q[None, :]).astype(np.int64)
    zz = qz[:, _ZIGZAG]  # zigzag order
    wtr = _BitWriter()
    pred = 0
    for bi in range(len(zz)):
        blkz = zz[bi]
        diff = int(blkz[0]) - pred
        pred = int(blkz[0])
        t = int(diff != 0 and int(abs(diff)).bit_length() or 0)
        code, ln = _DC_HUFF.enc[t]
        wtr.write(code, ln)
        if t:
            v = diff if diff > 0 else diff + (1 << t) - 1
            wtr.write(v, t)
        run = 0
        nz = np.flatnonzero(blkz[1:]) + 1
        last = int(nz[-1]) if len(nz) else 0
        k = 1
        while k <= last:
            v = int(blkz[k])
            if v == 0:
                run += 1
                k += 1
                continue
            while run > 15:
                code, ln = _AC_HUFF.enc[0xF0]  # ZRL
                wtr.write(code, ln)
                run -= 16
            s = int(abs(v)).bit_length()
            code, ln = _AC_HUFF.enc[(run << 4) | s]
            wtr.write(code, ln)
            vv = v if v > 0 else v + (1 << s) - 1
            wtr.write(vv, s)
            run = 0
            k += 1
        if last < 63:
            code, ln = _AC_HUFF.enc[0x00]  # EOB
            wtr.write(code, ln)
    scan = wtr.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    # DQT carries the table in zigzag order; q is the raster Annex-K layout
    out += seg(0xDB, bytes([0x00]) + bytes(int(x) for x in q[_ZIGZAG]))
    out += seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    out += seg(
        0xC4,
        bytes([0x00]) + bytes(_DC_BITS[1:]) + bytes(_DC_VALS),
    )
    out += seg(
        0xC4,
        bytes([0x10]) + bytes(_AC_BITS[1:]) + bytes(_AC_VALS),
    )
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += scan
    out += b"\xff\xd9"
    return bytes(out)


# inverse zigzag permutation: raster index of each zigzag position's source
_ZIGZAG_INV = np.empty(64, dtype=np.int64)
_ZIGZAG_INV[_ZIGZAG] = np.arange(64)


# ---------------------------------------------------------------------------
# uncompressed grayscale TIFF, little-endian, multipage via IFD chain
# (the reference iterates pages with pixReadFromMultipageTiff,
#  baseapi.cpp:958-998)

_TIFF_TAGS = {
    256: "width", 257: "height", 258: "bits", 259: "compression",
    262: "photometric", 273: "strip_offsets", 277: "spp",
    278: "rows_per_strip", 279: "strip_counts",
}


@classified
def decode_gray_tiff(data: bytes) -> list[np.ndarray]:
    """Decode little/big-endian uncompressed gray-8 TIFF; one page per IFD."""
    if data[:2] == b"II":
        en = "<"
    elif data[:2] == b"MM":
        en = ">"
    else:
        raise ValueError("not a TIFF")
    (magic,) = struct.unpack(en + "H", data[2:4])
    if magic != 42:
        raise ValueError("bad TIFF magic")
    (ifd_off,) = struct.unpack(en + "I", data[4:8])
    pages: list[np.ndarray] = []
    seen: set[int] = set()
    while ifd_off:
        if ifd_off in seen:
            raise ValueError("TIFF IFD chain loops")
        seen.add(ifd_off)
        (n_ent,) = struct.unpack(en + "H", data[ifd_off : ifd_off + 2])
        tags: dict[str, list[int]] = {}
        for i in range(n_ent):
            e = ifd_off + 2 + 12 * i
            tag, typ, cnt = struct.unpack(en + "HHI", data[e : e + 8])
            name = _TIFF_TAGS.get(tag)
            if name is None:
                continue
            size = {1: 1, 3: 2, 4: 4}.get(typ)
            if size is None:
                continue
            total = size * cnt
            if total <= 4:
                payload = data[e + 8 : e + 8 + total]
            else:
                (off,) = struct.unpack(en + "I", data[e + 8 : e + 12])
                payload = data[off : off + total]
            fmt = {1: "B", 3: "H", 4: "I"}[typ]
            tags[name] = list(struct.unpack(en + fmt * cnt, payload))
        (ifd_off,) = struct.unpack(
            en + "I", data[ifd_off + 2 + 12 * n_ent : ifd_off + 6 + 12 * n_ent]
        )
        for need in ("width", "height", "strip_offsets"):
            if need not in tags:
                raise ValueError(f"TIFF page has no {need} tag")
        w = tags["width"][0]
        h = tags["height"][0]
        check_dims("TIFF", w, h)
        if tags.get("compression", [1])[0] != 1:
            raise ValueError("only uncompressed TIFF supported")
        if tags.get("bits", [8])[0] != 8 or tags.get("spp", [1])[0] != 1:
            raise ValueError("only 8-bit single-sample TIFF supported")
        offs = tags["strip_offsets"]
        cnts = tags.get("strip_counts", [w * h])
        buf = b"".join(data[o : o + c] for o, c in zip(offs, cnts))
        img = np.frombuffer(buf[: w * h], dtype=np.uint8).reshape(h, w)
        if tags.get("photometric", [1])[0] == 0:  # WhiteIsZero: invert
            img = 255 - img
        pages.append(img.copy())
    return pages


def encode_gray_tiff(pages: list[np.ndarray]) -> bytes:
    """Encode grayscale pages as a little-endian uncompressed multipage
    TIFF (one strip per page) — fixture/golden use."""
    if not pages:
        raise ValueError("no pages")
    out = bytearray(b"II*\x00")
    out += struct.pack("<I", 0)  # first IFD offset, patched below
    ifd_ptr_pos = 4
    for img in pages:
        img = np.ascontiguousarray(img, dtype=np.uint8)
        h, w = img.shape
        data_off = len(out)
        out += img.tobytes()
        if len(out) % 2:
            out += b"\x00"
        ifd_off = len(out)
        struct.pack_into("<I", out, ifd_ptr_pos, ifd_off)
        entries = [
            (256, 4, 1, w),            # width
            (257, 4, 1, h),            # height
            (258, 3, 1, 8),            # bits per sample
            (259, 3, 1, 1),            # no compression
            (262, 3, 1, 1),            # BlackIsZero
            (273, 4, 1, data_off),     # strip offset
            (277, 3, 1, 1),            # samples per pixel
            (278, 4, 1, h),            # rows per strip
            (279, 4, 1, w * h),        # strip byte count
        ]
        out += struct.pack("<H", len(entries))
        for tag, typ, cnt, val in entries:
            out += struct.pack("<HHII", tag, typ, cnt, val)
        ifd_ptr_pos = len(out)
        out += struct.pack("<I", 0)  # next-IFD pointer (patched or final 0)
    return bytes(out)
