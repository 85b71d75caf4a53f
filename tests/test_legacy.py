"""Legacy static shape classifier (OEM_TESSERACT_ONLY parity).

Micro-features (mfx.cpp:54-143), outline tracing (edgblob ConvertBlob
role), class pruner + integer matcher (intmatcher.cpp:127-520), and the
legacy page path with chop fallback (chopper.cpp:385) — the
BasicTesseractTest contract (unittest/baseapi_test.cc:72-89): the legacy
engine must read the same gold text as the LSTM path.
"""

import numpy as np

from tesseract_spark.functions.compose import PageSpec, compose_page
from tesseract_spark.functions.fonts import CHARSET, KERN, get_font
from tesseract_spark.lstm.intproto import (
    blob_outlines,
    get_static_classifier,
    micro_features,
)
from tesseract_spark.operators.legacy import (
    decode_strip_legacy,
    recognize_page_legacy,
)


def test_outlines_include_holes():
    # a ring has an outer boundary AND a hole boundary (ConvertBlob
    # yields both outlines for 'o'-like shapes)
    ring = np.zeros((10, 10), dtype=bool)
    ring[2:8, 2:8] = True
    ring[4:6, 4:6] = False
    loops = blob_outlines(ring)
    assert len(loops) == 2


def test_micro_features_shape_and_normalization():
    font = get_font()
    f = micro_features(font["a"].astype(bool))
    assert f.ndim == 2 and f.shape[1] == 4 and len(f) >= 3
    # directions in [0, 1), lengths positive
    assert ((f[:, 3] >= 0) & (f[:, 3] < 1)).all()
    assert (f[:, 2] > 0).all()


def test_clean_glyphs_all_classify():
    clf = get_static_classifier()
    font = get_font()
    for ch in CHARSET:
        res = clf.classify(font[ch].astype(bool))
        assert res and res[0][0] == ch, f"misclassified {ch!r}: {res[:2]}"


def test_pruner_keeps_true_class():
    clf = get_static_classifier()
    font = get_font()
    for ch in CHARSET:
        feats = micro_features(font[ch].astype(bool))
        assert CHARSET.index(ch) in clf.prune(feats)


def test_damaged_glyph_still_classifies():
    clf = get_static_classifier()
    font = get_font()
    m = font["m"].astype(bool).copy()
    rs, cs = np.nonzero(m)
    m[rs.min() : rs.min() + 2, cs.max() - 1 : cs.max() + 1] = False
    res = clf.classify(m)
    assert res[0][0] == "m"


def test_decode_strip_words():
    from tesseract_spark.functions.fonts import render_line

    strip = render_line("legacy path works")
    assert decode_strip_legacy(strip) == "legacy path works"


def test_joined_glyphs_decode_via_chop():
    # render 'r' and 'n' with the kern column removed: ONE ink run that no
    # single template explains; the chop path must split and read 'rn'
    font = get_font()
    r, n = font["r"].astype(bool), font["n"].astype(bool)
    joined = np.concatenate([r, n], axis=1)  # no KERN gap -> may touch
    # force actual contact: bridge at the x-height band midline
    joined[8, r.shape[1] - 1 : r.shape[1] + 1] = True
    out = decode_strip_legacy(joined)
    assert out == "rn"
    assert KERN >= 1  # the fixture invariant the chop relies on


def test_page_parity_with_template_engine():
    """The legacy engine reads the SAME text as the template/LSTM path on
    fixture pages (BasicTesseractTest's same-gold-text contract)."""
    from tesseract_spark.operators.recognize import recognize_page

    spec = PageSpec(
        paragraphs=[
            ["the quick brown fox", "jumps over the dog"],
            ["second paragraph here"],
        ]
    )
    page = compose_page(spec)
    legacy_spans, _ = recognize_page_legacy(page.image, spec.dpi)
    lstm_spans, _ = recognize_page(page.image, spec.dpi)
    assert [(s.kind, s.text) for s in legacy_spans] == [
        (s.kind, s.text) for s in lstm_spans
    ]


def test_page_parity_with_skew_and_scale():
    from tesseract_spark.derived import chunk_page_spec
    from tesseract_spark.functions.compose import compose_page as cp

    spec = chunk_page_spec(
        3, 2, "alpha beta gamma delta epsilon zeta eta theta iota kap lam mu"
    )
    page = cp(spec)
    spans, _ = recognize_page_legacy(page.image, 300)
    assert [(s.kind, s.text) for s in spans] == [
        (
            "text",
            "alpha beta gamma delta\nepsilon zeta eta theta\niota kap lam mu",
        )
    ]


def test_int_feature_encoding_carries_the_decode():
    """intfx analogue: micro-features round-tripped through the uint8
    INT_FEATURE_STRUCT domain (X, Y, Theta in 0..255, intproto.h:
    121-131) decode the full charset identically — the integer
    resolution suffices, as in the reference's integer matcher."""
    import numpy as np

    from tesseract_spark.functions.fonts import get_font
    from tesseract_spark.lstm.intproto import (
        dequantize_int_features,
        get_static_classifier,
        int_features,
        micro_features,
    )

    clf = get_static_classifier()
    font = get_font()
    for ch in clf.glyphs:
        plain = clf.classify(font[ch].astype(bool))
        viaint = clf.classify(font[ch].astype(bool), int_encode=True)
        assert plain[0][0] == viaint[0][0] == ch
        assert abs(plain[0][1] - viaint[0][1]) < 1e-3
    # quantization error bounds: one half-step of the 1/128 grid
    f = micro_features(font["W"].astype(bool))
    back = dequantize_int_features(int_features(f))
    assert np.abs(back[:, 0] - f[:, 0]).max() <= 1 / 256 + 1e-6
    assert np.abs(back[:, 1] - f[:, 1]).max() <= 1 / 256 + 1e-6
    dd = np.abs(back[:, 3] - f[:, 3])
    assert np.minimum(dd, 1 - dd).max() <= 1 / 512 + 1e-6
