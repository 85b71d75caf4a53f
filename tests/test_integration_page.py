"""Integration goldens: many features interacting on ONE page.

Each engine feature has its own golden; real documents stack them.
These pages combine skew + rules + photos + indentation + noise +
scale + a second column and must decode EXACTLY — any interaction bug
between the passes (deskew before rule removal, photo mask vs column
DP, noise filtering vs small glyphs) breaks span equality."""

import numpy as np
import pytest

from tesseract_spark.functions.compose import PageSpec, compose_page
from tesseract_spark.operators.legacy import recognize_page_legacy
from tesseract_spark.operators.recognize import recognize_page


def _texts(spans):
    return [(s.kind, s.text) for s in spans]


def test_everything_page_decodes_exactly():
    spec = PageSpec(
        paragraphs=[
            ["the quick brown fox", "jumps over the dog"],
            ["second paragraph here", "with more words"],
            ["a third paragraph too"],
        ],
        indent_paras=(1,),
        rules=(0,),
        photos=((1, 60, 44),),
        noise_dots=6,
        skew=0.02,
        scale=2,
    )
    page = compose_page(spec)
    spans, layout = recognize_page(page.image, spec.dpi)
    assert _texts(spans) == page.golden
    assert layout.h_rules >= 1


def test_everything_page_with_dictionary():
    from tesseract_spark.lstm.dawg import Dawg
    from tesseract_spark.lstm.templates import get_net

    spec = PageSpec(
        paragraphs=[
            ["the quick brown fox", "jumps over the dog"],
            ["second paragraph here"],
        ],
        rules=(0,),
        noise_dots=4,
        skew=-0.02,
    )
    page = compose_page(spec)
    words = sorted(
        {w for _k, t in page.golden if t for w in t.split() if w.isalpha()}
    )
    dawg = Dawg(get_net().charset, words)
    spans, _ = recognize_page(page.image, spec.dpi, dawg=dawg)
    assert _texts(spans) == page.golden


def test_everything_page_two_columns():
    spec = PageSpec(
        paragraphs=[
            ["left column text", "more left words"],
            ["left second para"],
        ],
        column2=[["right column text", "other right words"]],
        noise_dots=3,
        scale=2,
    )
    page = compose_page(spec)
    spans, _ = recognize_page(page.image, spec.dpi)
    assert _texts(spans) == page.golden


def test_everything_page_engines_agree():
    # the BasicTesseractTest contract under stacked stress: legacy and
    # template engines read the same text from the same busy page
    spec = PageSpec(
        paragraphs=[
            ["the quick brown fox", "jumps over the dog"],
            ["second paragraph here"],
        ],
        rules=(0,),
        noise_dots=4,
    )
    page = compose_page(spec)
    lstm_spans, _ = recognize_page(page.image, spec.dpi)
    legacy_spans, _ = recognize_page_legacy(page.image, spec.dpi)
    assert _texts(legacy_spans) == _texts(lstm_spans)
    assert _texts(lstm_spans) == page.golden


def test_everything_page_pullout_rules_per_column():
    # per-column rules under a pullout heading: the collinear rules of
    # the two columns must stay TWO separators (the merge criterion is
    # an ink-crossed gap, and the gutter gap is empty)
    spec = PageSpec(
        paragraphs=[
            ["left body text", "more left here", "third left line"],
        ],
        column2=[
            ["right body text", "right second line", "third right line"],
        ],
        pullout_lines=["wide heading line"],
        rules=(0,),
    )
    page = compose_page(spec)
    spans, layout = recognize_page(page.image, spec.dpi)
    assert _texts(spans) == page.golden
    assert layout.h_rules == 2


def test_everything_page_inverted_photo():
    spec = PageSpec(
        paragraphs=[["first paragraph text", "second line here"]],
        photos=((0, 60, 44),),
        inverted=True,
    )
    page = compose_page(spec)
    spans, _ = recognize_page(page.image, spec.dpi)
    assert _texts(spans) == page.golden


def test_superscript_and_underline_together():
    # a footnote marker on an underlined phrase: the split/re-recognize
    # marker pass and the underline separation must not disturb each
    # other — text exact, marker flagged, underline attributed to the
    # words over the bar only
    from tesseract_spark.functions.fonts import BASELINE, mask_to_gray, render_line
    from tesseract_spark.operators.recognize import recognize_page_detail

    def paste(c, m, y, x):
        c[y : y + m.shape[0], x : x + m.shape[1]] |= m

    canvas = np.zeros((110, 680), dtype=bool)
    part1 = render_line("the speaker", scale=2)
    marker = render_line("21", scale=1)
    part2 = render_line("said", scale=2)
    x0, y0 = 40, 30
    paste(canvas, part1, y0, x0)
    xm = x0 + part1.shape[1] + 2
    paste(canvas, marker, y0 + 4, xm)
    paste(canvas, part2, y0, xm + marker.shape[1] + 12)
    uy = y0 + BASELINE * 2 + 1
    canvas[uy : uy + 3, x0 - 2 : x0 + part1.shape[1] + 2] = True
    spans, words, layout = recognize_page_detail(mask_to_gray(canvas))
    assert [(s.kind, s.text) for s in spans] == [
        ("text", "the speaker21 said")
    ]
    flags = {w.text: (w.script_pos, w.underlined) for w in words}
    assert flags["speaker21"] == ("trail:super:2", 1)
    assert flags["the"] == ("", 1)
    assert flags["said"] == ("", 0)
    assert layout.n_underlines == 1


def test_gutter_rule_between_columns():
    """A vertical separator rule in the gutter of a two-column page —
    the classic newspaper layout — must not fuse the columns or leak
    into either column's text, flat AND under page shear."""
    spec = PageSpec(
        paragraphs=[
            ["left column text", "more left words"],
            ["left second para"],
        ],
        column2=[["right column text", "other right words"]],
    )
    page = compose_page(spec)
    m = page.image < 128
    xs = np.flatnonzero(m.any(axis=0))
    gaps, run = [], None
    for x in range(xs.min(), xs.max()):
        if not m[:, x].any():
            run = run or [x, x]
            run[1] = x
        else:
            if run and run[1] - run[0] > 10:
                gaps.append(tuple(run))
            run = None
    gl, gr = max(gaps, key=lambda g: g[1] - g[0])
    m[6 : m.shape[0] - 6, (gl + gr) // 2 : (gl + gr) // 2 + 2] = True
    want = page.golden + [("media", "")]
    for skew in (0.0, 0.02):
        mm = m
        if skew:
            sh = np.round(skew * np.arange(m.shape[1])).astype(np.int64)
            pad = int(abs(sh).max()) + 1
            mm = np.zeros((m.shape[0] + 2 * pad, m.shape[1]), bool)
            for x in range(m.shape[1]):
                mm[pad + sh[x] : pad + sh[x] + m.shape[0], x] = m[:, x]
        from tesseract_spark.functions.fonts import mask_to_gray

        spans, layout = recognize_page(mask_to_gray(mm), 300)
        assert [(s.kind, s.text) for s in spans] == want, skew
        assert layout.v_rules == 1
