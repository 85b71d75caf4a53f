"""Multi-format decode: JPEG/TIFF codecs, sniffing, and the pipeline's
content-autodetect + multipage iteration (baseapi.cpp:1033-1194, :958-998)."""

import numpy as np
import pytest

from tesseract_spark.functions.compose import PageSpec, compose_page
from tesseract_spark.functions.image_codecs import (
    decode_gray_image,
    decode_gray_jpeg,
    decode_gray_pages,
    decode_gray_tiff,
    encode_gray_jpeg,
    encode_gray_tiff,
    sniff_format,
)
from tesseract_spark.functions.png_codec import encode_gray_png


def _page(lines, scale=1, skew=0.0):
    return compose_page(PageSpec(paragraphs=[lines], scale=scale, skew=skew))


class TestSniff:
    def test_magic_bytes(self):
        img = np.full((9, 11), 180, np.uint8)
        assert sniff_format(encode_gray_png(img)) == "png"
        assert sniff_format(encode_gray_jpeg(img)) == "jpeg"
        assert sniff_format(encode_gray_tiff([img])) == "tiff"
        assert sniff_format(b"garbage here") is None

    def test_unknown_raises(self):
        with pytest.raises(ValueError):
            decode_gray_pages(b"\x00\x01\x02\x03 not an image")


class TestTiff:
    def test_roundtrip_exact_multipage(self):
        rng = np.random.default_rng(5)
        pages = [
            rng.integers(0, 256, (23, 41), dtype=np.uint8),
            rng.integers(0, 256, (64, 8), dtype=np.uint8),
            rng.integers(0, 256, (1, 1), dtype=np.uint8),
        ]
        back = decode_gray_tiff(encode_gray_tiff(pages))
        assert len(back) == 3
        for a, b in zip(pages, back):
            assert np.array_equal(a, b)

    def test_big_endian_and_inverted(self):
        # hand-build a minimal big-endian WhiteIsZero single-page TIFF
        import struct

        img = np.arange(12, dtype=np.uint8).reshape(3, 4)
        data = bytearray(b"MM\x00*")
        data += struct.pack(">I", 8 + 12)  # IFD after header+pixels
        data += img.tobytes()
        entries = [
            (256, 4, 1, 4), (257, 4, 1, 3), (258, 3, 1, 8 << 16),
            (259, 3, 1, 1 << 16), (262, 3, 1, 0),  # WhiteIsZero
            (273, 4, 1, 8), (277, 3, 1, 1 << 16),
            (278, 4, 1, 3), (279, 4, 1, 12),
        ]
        data += struct.pack(">H", len(entries))
        for tag, typ, cnt, val in entries:
            data += struct.pack(">HHII", tag, typ, cnt, val)
        data += struct.pack(">I", 0)
        (page,) = decode_gray_tiff(bytes(data))
        assert np.array_equal(page, 255 - img)


class TestJpeg:
    def test_flat_block_lossless(self):
        img = np.full((16, 24), 77, np.uint8)
        out = decode_gray_jpeg(encode_gray_jpeg(img, 90))
        assert out.shape == img.shape
        assert int(np.abs(out.astype(int) - 77).max()) == 0

    def test_text_page_small_error(self):
        page = _page(["alpha beta gamma", "delta epsilon"], scale=2)
        j = encode_gray_jpeg(page.image, 95)
        out = decode_gray_jpeg(j)
        assert out.shape == page.image.shape
        err = np.abs(out.astype(int) - page.image.astype(int))
        assert float(err.mean()) < 2.0

    def test_odd_dims(self):
        rng = np.random.default_rng(2)
        img = (rng.random((13, 17)) * 255).astype(np.uint8)
        out = decode_gray_jpeg(encode_gray_jpeg(img, 85))
        assert out.shape == (13, 17)

    def test_rejects_progressive_marker(self):
        img = np.full((8, 8), 10, np.uint8)
        j = bytearray(encode_gray_jpeg(img))
        i = j.find(b"\xff\xc0")
        j[i + 1] = 0xC2  # flip SOF0 -> SOF2 (progressive)
        with pytest.raises(ValueError):
            decode_gray_jpeg(bytes(j))

    def test_ocr_after_jpeg_matches_png(self):
        """Lossy q95 noise must not change recognized text (binarization
        absorbs it) — the decode path is format-transparent to OCR."""
        from tesseract_spark.lstm.templates import get_net
        from tesseract_spark.operators.recognize import recognize_page

        page = _page(["the quick brown fox", "jumps over it"], scale=2)
        net = get_net()
        ref, _ = recognize_page(page.image, 300, None, net)
        jpg_img = decode_gray_jpeg(encode_gray_jpeg(page.image, 95))
        got, _ = recognize_page(jpg_img, 300, None, net)
        assert [s.text for s in got] == [s.text for s in ref]


class TestPipelineAutodetect:
    """ocr_documents over a media table mixing PNG, JPEG and a 2-page
    TIFF: every format decodes, and the TIFF contributes both pages'
    spans in container order under one media_ref."""

    def test_mixed_format_documents(self, spark):
        from tesseract_spark.pipeline import ocr_documents

        p1 = _page(["one two three four"], scale=2)
        p2 = _page(["five six seven eight"], scale=2)
        p3 = _page(["nine ten eleven twelve"], scale=2)
        docs = spark.createDataFrame(
            [(
                "d1",
                [
                    {"kind": "text", "text": "hello", "media_ref": None,
                     "offset": 0},
                    {"kind": "media", "text": None, "media_ref": "m-png",
                     "offset": 1},
                    {"kind": "media", "text": None, "media_ref": "m-jpg",
                     "offset": 2},
                    {"kind": "media", "text": None, "media_ref": "m-tif",
                     "offset": 3},
                ],
            )],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        )
        media = spark.createDataFrame(
            [
                ("m-png", bytearray(encode_gray_png(p1.image)), 300),
                ("m-jpg", bytearray(encode_gray_jpeg(p1.image, 95)), 300),
                ("m-tif", bytearray(encode_gray_tiff([p2.image, p3.image])), 300),
            ],
            "media_ref string, png binary, dpi int",
        )
        rows = (
            ocr_documents(spark, docs, media)
            .orderBy("offset")
            .select("kind", "text", "media_ref")
            .collect()
        )
        texts = [r.text for r in rows]
        assert texts[0] == "hello"
        assert texts[1] == "one two three four"      # png
        assert texts[2] == "one two three four"      # jpeg, same text
        assert texts[3] == "five six seven eight"    # tiff page 1
        assert texts[4] == "nine ten eleven twelve"  # tiff page 2
        # recognized spans surface as kind='text' (media_ref stays None
        # in the flat-span convention); both TIFF pages decoded above
        assert all(r.kind == "text" for r in rows)

    def test_decode_gray_image_first_page(self):
        a = np.full((8, 8), 1, np.uint8)
        b = np.full((8, 8), 2, np.uint8)
        assert decode_gray_image(encode_gray_tiff([a, b]))[0, 0] == 1


class TestOneErrorClass:
    """Bytes a decoder cannot decode raise ValueError, never a struct,
    zlib, index or key error, and declared sizes are bounded."""

    @staticmethod
    def _fixtures():
        img = np.random.default_rng(3).integers(0, 256, (24, 32), dtype=np.uint8)
        return {
            "png": encode_gray_png(img),
            "jpeg": encode_gray_jpeg(img),
            "tiff": encode_gray_tiff([img, img[::-1]]),
        }

    def test_every_prefix_decodes_or_raises_value_error(self):
        for name, data in self._fixtures().items():
            for n in range(len(data) + 1):
                try:
                    pages = decode_gray_pages(data[:n])
                except ValueError:
                    continue
                assert pages and all(p.ndim == 2 and p.size for p in pages), (name, n)

    def test_png_dimension_limit(self):
        import struct
        import zlib

        from tesseract_spark.functions.png_codec import _chunk, decode_gray_png

        sig = b"\x89PNG\r\n\x1a\n"
        for w, h in ((0, 5), (5, 0), (32768, 1), (1, 40000)):
            ihdr = _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
            data = sig + ihdr + _chunk(b"IDAT", zlib.compress(b"\x00" * 8))
            with pytest.raises(ValueError, match="outside"):
                decode_gray_png(data + _chunk(b"IEND", b""))

    def test_png_inflate_stops_at_declared_size(self):
        import struct
        import zlib

        from tesseract_spark.functions.png_codec import _chunk, decode_gray_png

        sig = b"\x89PNG\r\n\x1a\n"
        ihdr = _chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0))
        # a stream that inflates to 1 MB: only the declared 2 x (3 + 1)
        # bytes are produced
        bomb = zlib.compress(b"\x00\x07\x07\x07" * (1 << 18))
        out = decode_gray_png(sig + ihdr + _chunk(b"IDAT", bomb))
        assert out.shape == (2, 3) and (out == 7).all()

    @staticmethod
    def _tiff_entry(data, tag):
        import struct

        (ifd,) = struct.unpack("<I", data[4:8])
        (n,) = struct.unpack("<H", data[ifd : ifd + 2])
        for e in range(ifd + 2, ifd + 2 + 12 * n, 12):
            if struct.unpack("<H", data[e : e + 2])[0] == tag:
                return e
        raise AssertionError(tag)

    def test_tiff_bad_width_tag(self):
        import struct

        good = encode_gray_tiff([np.zeros((4, 4), np.uint8)])
        e = self._tiff_entry(good, 256)
        cases = [
            (slice(e, e + 2), struct.pack("<H", 999), "no width"),  # tag gone
            (slice(e + 8, e + 12), struct.pack("<I", 0), "outside"),
            (slice(e + 8, e + 12), struct.pack("<I", 40000), "outside"),
        ]
        for where, value, match in cases:
            data = bytearray(good)
            data[where] = value
            with pytest.raises(ValueError, match=match):
                decode_gray_pages(bytes(data))

    def test_tiff_ifd_loop(self):
        import struct

        data = bytearray(encode_gray_tiff([np.zeros((4, 4), np.uint8)]))
        (ifd,) = struct.unpack("<I", data[4:8])
        (n,) = struct.unpack("<H", data[ifd : ifd + 2])
        nxt = ifd + 2 + 12 * n
        data[nxt : nxt + 4] = struct.pack("<I", ifd)  # next IFD = itself
        with pytest.raises(ValueError, match="loops"):
            decode_gray_pages(bytes(data))
