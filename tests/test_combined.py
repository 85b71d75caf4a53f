"""OEM_TESSERACT_LSTM_COMBINED: LSTM first, legacy fallback per word.

Covers tessedit.cpp:103-110 (the mode resolution) and
classify_word_pass1 (control.cpp:1395-1417): the LSTM engine decodes
every word; a word whose recognition FAILED — dropped glyph starts, the
reference's empty ``out_words`` case — re-runs through the legacy
static classifier on the same window, and words the LSTM read cleanly
are never touched.

The fixture exploits the two engines' different tolerance profiles: a
2-canonical-pixel notch in 'w' drops the best static template fraction
to 0.896 (under the 0.9 exact gate; the ±1-row jitter retry cannot
help, the damage is in-frame).  The LSTM path's degraded fallback
(K_DEGRADED_ACCEPT, round 4) still answers with the best NEAR-match —
which for this notch is the WRONG class 'z' — and records the column
as failed, so the combined wrapper re-runs the word through the
micro-feature classifier, which reads 'w' at ~0.97 and corrects it.
"""

import numpy as np

from tesseract_spark.functions.fonts import get_font, mask_to_gray, render_line
from tesseract_spark.operators.legacy import recognize_page_combined
from tesseract_spark.operators.recognize import recognize_page


def _notched_page(text: str, damage_at: str):
    """Render ``text``; notch the 'w' of the word starting at the char
    offset where ``damage_at`` begins."""
    lm = render_line(text, 1).copy()
    pre = render_line(text[: text.index(damage_at)], 1).shape[1]
    g = get_font()["w"]
    ys, xs = np.nonzero(g)
    mid = len(ys) // 2
    lm[ys[mid], pre + xs[mid]] = False
    lm[ys[mid - 1], pre + xs[mid - 1]] = False
    page = np.zeros((lm.shape[0] + 60, lm.shape[1] + 60), dtype=bool)
    page[30 : 30 + lm.shape[0], 30 : 30 + lm.shape[1]] = lm
    return mask_to_gray(page)


def test_combined_rescues_lstm_dropped_word():
    gray = _notched_page("the word wax here", "wax here")
    lstm_spans, _ = recognize_page(gray, 300)
    assert [(s.kind, s.text) for s in lstm_spans] == [
        # the LSTM path's degraded fallback answers with the wrong
        # near-match class ('z') at minimal confidence — provably a
        # FAILED word the combined wrapper must re-run
        ("text", "the word zax here")
    ]
    spans, _layout = recognize_page_combined(gray, 300)
    assert [(s.kind, s.text) for s in spans] == [
        ("text", "the word wax here")
    ]


def test_combined_clean_page_matches_lstm():
    """No drops -> the wrapper emits the LSTM reading untouched (the
    reference only re-runs failed words through match_word_pass_n)."""
    from tesseract_spark.functions.compose import PageSpec, compose_page

    spec = PageSpec(
        paragraphs=[
            ["the quick brown fox", "jumps over the dog"],
            ["second paragraph here"],
        ],
        rules=(0,),
    )
    page = compose_page(spec)
    spans, layout = recognize_page_combined(page.image, 300)
    assert [(s.kind, s.text) for s in spans] == page.golden
    assert layout.h_rules == 1


def test_combined_multiple_failures_one_row():
    gray = _notched_page("wax and waxy words", "wax and")
    spans, _ = recognize_page_combined(gray, 300)
    assert [(s.kind, s.text) for s in spans] == [
        ("text", "wax and waxy words")
    ]
