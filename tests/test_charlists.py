"""Character white/black/unblacklist tests — the tessedit_char_whitelist
family (UNICHARSET::set_black_and_whitelist, src/ccutil/unicharset.cpp:
1004-1041; Tesseract::SetBlackAndWhitelist, src/ccmain/tesseractclass.cpp:
531-553).  The beam can never emit a disabled class
(recodebeam.cpp:959); the legacy pruner drops disabled classes before
matching (intmatcher.cpp:244, adaptmatch.cpp:1133)."""

import numpy as np

from tesseract_spark.config import (
    charlist_disabled,
    charlists_of,
    default_params,
    set_param,
)
from tesseract_spark.functions.fonts import CELL_H, get_font, mask_to_gray
from tesseract_spark.lstm.templates import get_net
from tesseract_spark.operators.legacy import recognize_page_legacy
from tesseract_spark.operators.recognize import recognize_page


def _line(text: str, gap: int = 1) -> np.ndarray:
    font = get_font()
    cols = []
    for i, ch in enumerate(text):
        cols.append(font[ch])
        if i + 1 < len(text):
            cols.append(np.zeros((CELL_H, gap), dtype=bool))
    return np.hstack(cols)


def _page(lines: list[np.ndarray], vgap: int = 8) -> np.ndarray:
    w = max(ln.shape[1] for ln in lines) + 24
    h = sum(ln.shape[0] for ln in lines) + vgap * (len(lines) - 1) + 24
    page = np.zeros((h, w), dtype=bool)
    y = 12
    for ln in lines:
        page[y : y + ln.shape[0], 12 : 12 + ln.shape[1]] = ln
        y += ln.shape[0] + vgap
    return mask_to_gray(page)


def _texts(spans):
    return [s.text for s in spans if s.kind == "text"]


# ---------------------------------------------------------------- mask --


def test_no_lists_disables_nothing():
    assert charlist_disabled("abc") == ()
    assert charlist_disabled("abc", "", "", "") == ()


def test_blacklist_disables_listed_only():
    # "An empty or nullptr whitelist enables everything (minus any
    # blacklist)" — unicharset.cpp:1001
    assert charlist_disabled("abcd", blacklist="bd") == (1, 3)


def test_whitelist_disables_everything_else():
    dis = charlist_disabled("abcd", whitelist="c")
    assert dis == (0, 1, 3)


def test_blacklist_overrides_whitelist():
    # the blacklist pass runs after the whitelist pass
    # (unicharset.cpp:1013-1031)
    assert charlist_disabled("abcd", blacklist="c", whitelist="cd") == (0, 1, 2)


def test_unblacklist_reenables():
    # unblacklist is applied last (unicharset.cpp:1032-1041)
    assert charlist_disabled("abcd", blacklist="bc", unblacklist="c") == (1,)


def test_unknown_chars_ignored():
    # encode_string drops INVALID_UNICHAR_ID (unicharset.cpp:1015)
    assert charlist_disabled("abc", blacklist="xyz") == ()


def test_whitelist_never_disables_space():
    # divergence note: space is layout-owned in this engine, so a
    # whitelist keeps it enabled (legacy-engine semantics); an explicit
    # blacklist still disables it
    cs = "ab c"
    assert 2 not in charlist_disabled(cs, whitelist="a")
    assert 2 in charlist_disabled(cs, blacklist=" ")


def test_engine_config_charlists_triple():
    params = default_params()
    assert charlists_of(params) is None
    assert set_param(params, "tessedit_char_whitelist", "0123456789")
    assert charlists_of(params) == ("", "0123456789", "")


# ------------------------------------------------------------- engine --


def test_blacklisted_char_never_emitted():
    gray = _page([_line("hello")])
    spans, _ = recognize_page(gray)
    assert _texts(spans) == ["hello"]
    spans, _ = recognize_page(gray, charlists=("l", "", ""))
    out = _texts(spans)
    assert out and all("l" not in t for t in out)
    # the surviving glyphs still decode
    assert out == ["heo"]


def test_digit_whitelist_keeps_digits_exact():
    gray = _page([_line("0123")])
    spans, _ = recognize_page(gray, charlists=("", "0123456789", ""))
    assert _texts(spans) == ["0123"]


def test_digit_whitelist_drops_nondigit_glyphs():
    gray = _page([_line("O1")])
    spans, _ = recognize_page(gray)
    assert _texts(spans) == ["O1"]
    spans, _ = recognize_page(gray, charlists=("", "0123456789", ""))
    assert _texts(spans) == ["1"]


def test_unblacklist_restores_char():
    gray = _page([_line("hello")])
    spans, _ = recognize_page(gray, charlists=("l", "", "l"))
    assert _texts(spans) == ["hello"]


def test_whitelist_keeps_word_spacing():
    # spacing is layout-owned: a letters-only whitelist must not merge
    # words (the space class stays enabled)
    wide = np.zeros((CELL_H, 12), dtype=bool)
    gray = _page([np.hstack([_line("ab"), wide, _line("cd")])])
    spans, _ = recognize_page(gray)
    base = _texts(spans)
    spans, _ = recognize_page(gray, charlists=("", "abcd", ""))
    assert _texts(spans) == base


# ------------------------------------------------------------- legacy --


def test_legacy_blacklist_never_emitted():
    gray = _page([_line("hello")])
    spans, _ = recognize_page_legacy(gray)
    assert [s.text for s in spans if s.kind == "text"] == ["hello"]
    spans, _ = recognize_page_legacy(gray, charlists=("l", "", ""))
    out = [s.text for s in spans if s.kind == "text"]
    assert out and all("l" not in t for t in out)


def test_legacy_disabled_class_picks_runner_up():
    # with the true class disabled the pruner's surviving candidates
    # decide (intmatcher.cpp:244): the result is NOT the disabled char
    from tesseract_spark.lstm.intproto import get_static_classifier

    clf = get_static_classifier()
    g = get_font()["o"]
    res = clf.classify(g)
    assert res and res[0][0] == "o"
    dis = frozenset(charlist_disabled(clf.glyphs, blacklist="o"))
    res = clf.classify(g, disabled=dis)
    assert all(ch != "o" for ch, _r in res)


# -------------------------------------------------------------- spark --


def test_pipeline_charlists_threaded(spark):
    """ocr_documents(charlists=...) reaches the executor-side decode: the
    blacklisted char disappears from the OCR'd spans while the rest of
    the page decodes unchanged (SetBlackAndWhitelist applied at init,
    baseapi.cpp:775)."""
    from tesseract_spark.functions.fonts import render_line
    from tesseract_spark.functions.png_codec import encode_gray_png
    from tesseract_spark.pipeline import ocr_documents

    line = render_line("hello world")
    page = np.zeros(
        (line.shape[0] + 24, line.shape[1] + 24), dtype=bool
    )
    page[12 : 12 + line.shape[0], 12 : 12 + line.shape[1]] = line
    png = encode_gray_png(mask_to_gray(page))
    docs = spark.createDataFrame(
        [("d1", [("media", None, "m1", 0)])],
        "doc_id string, spans array<struct<kind string, text string,"
        " media_ref string, offset int>>",
    )
    media = spark.createDataFrame(
        [("m1", bytearray(png), 300)],
        "media_ref string, png binary, dpi int",
    )
    base = ocr_documents(spark, docs, media).collect()
    assert [r.text for r in base] == ["hello world"]
    out = ocr_documents(
        spark, docs, media, charlists=("l", "", "")
    ).collect()
    assert [r.text for r in out] == ["heo word"]


# --------------------------------------------------------------- vgsl --


def test_vgsl_engine_honors_charlists():
    # the lists apply to the LSTM engine's unicharset too
    # (tesseractclass.cpp:538-541); greedy drops disabled emissions
    # (recodebeam.cpp:959 get_enabled skip)
    from tesseract_spark.functions.fonts import render_line
    from tesseract_spark.operators.recognize import recognize_pages_vgsl

    line = render_line("hello world")
    pg = np.zeros((line.shape[0] + 24, line.shape[1] + 24), dtype=bool)
    pg[12 : 12 + line.shape[0], 12 : 12 + line.shape[1]] = line
    g = mask_to_gray(pg)
    assert [s.text for s in recognize_pages_vgsl([g])[0][0]] == [
        "hello world"
    ]
    out = [
        s.text
        for s in recognize_pages_vgsl([g], charlists=("l", "", ""))[0][0]
    ]
    assert out == ["heo word"]
