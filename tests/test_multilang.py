"""Multi-language retry: SelectBestWords arbitration + end-to-end packs.

Ports the semantics of classify_word_and_language / RetryWithLanguage /
SelectBestWords (src/ccmain/control.cpp:792-917, :1306-1372) with the
classify_max_rating_ratio / classify_max_certainty_margin gates
(src/classify/classify.cpp:34-39): per-word language arbitration over
aligned word runs, MRU language stickiness, and restricted-charset
language packs (eng / heb / equ fixture traineddata analogues).
"""

import numpy as np
import pytest

from tesseract_spark.functions.compose import PageSpec, compose_page
from tesseract_spark.functions.fonts import MATH_CHARSET, RTL_CHARSET
from tesseract_spark.operators.multilang import (
    K_ACCEPT_CONF,
    MultiLangState,
    get_lang_packs,
    page_packs,
    select_best_words,
    word_acceptable,
    words_acceptable,
)
from tesseract_spark.operators.recognize import recognize_page_detail

H = RTL_CHARSET
W1, W2, W3 = H[0:3], H[3:6], H[6:9]


def rev(w: str) -> str:
    return w[::-1]


def visual_rtl(logical_words: list[str]) -> str:
    return " ".join(rev(w) for w in reversed(logical_words))


class FakeWord:
    def __init__(self, text, conf=95.0, cert=-0.05, dict_word=False):
        self.text = text
        self.confidence = conf
        self.certainty = cert
        self.dict_word = dict_word


def item(text, left, right, conf=95.0, cert=-0.05, dict_word=False, drops=0):
    return (FakeWord(text, conf, cert, dict_word), left, right, drops)


# ---------------------------------------------------------------------------
# unit: SelectBestWords


def test_select_best_certainty_and_rating_win():
    # aligned single words: new has better certainty AND rating -> wins
    best = [item("ab", 0, 20, conf=70.0, cert=-1.0)]
    new = [item("xy", 0, 20, conf=99.0, cert=-0.01)]
    out, score = select_best_words(best, new)
    assert [it[0].text for it in out] == ["xy"] and score > 0


def test_select_best_incumbent_keeps_on_partial_win():
    # new is better on certainty but worse on rating -> incumbent stays
    best = [item("ab", 0, 20, conf=90.0, cert=-1.0)]
    new = [item("xyzq", 0, 20, conf=60.0, cert=-0.5)]
    out, score = select_best_words(best, new)
    assert [it[0].text for it in out] == ["ab"] and score <= 0


def test_select_best_permuter_upgrade_within_margins():
    # dictionary-valid new word beats a slightly better-rated non-dict
    # incumbent when within rating_ratio and certainty_margin
    best = [item("teh", 0, 20, conf=96.0, cert=-0.05)]
    new = [item("the", 0, 20, conf=95.0, cert=-0.10, dict_word=True)]
    out, score = select_best_words(best, new)
    assert [it[0].text for it in out] == ["the"] and score > 0


def test_select_best_permuter_upgrade_blocked_outside_ratio():
    # same upgrade but rating over ratio*incumbent -> blocked
    best = [item("teh", 0, 20, conf=99.0, cert=-0.05)]
    new = [item("the", 0, 20, conf=50.0, cert=-0.10, dict_word=True)]
    out, _ = select_best_words(best, new)
    assert [it[0].text for it in out] == ["teh"]


def test_select_best_dropped_ink_charge():
    # a high-confidence one-glyph match that DROPPED most of the ink
    # loses to a full word that explained everything (the LSTM-path
    # rating covers every blob in the word region)
    best = [item("v", 5, 9, conf=92.0, cert=-0.02, drops=4)]
    new = [item("word", 0, 24, conf=97.0, cert=-0.08, drops=0)]
    out, score = select_best_words(best, new)
    assert [it[0].text for it in out] == ["word"] and score > 0


def test_select_best_aligned_runs_mixed():
    # two aligned spans decided independently: first span stays with the
    # incumbent, second goes to the new language
    best = [
        item("good", 0, 30, conf=99.0, cert=-0.01),
        item("v", 45, 50, conf=70.0, cert=-1.5, drops=3),
    ]
    new = [
        item("gaad", 0, 30, conf=80.0, cert=-0.9),
        item(W1, 40, 62, conf=99.0, cert=-0.02),
    ]
    out, _ = select_best_words(best, new)
    assert [it[0].text for it in out] == ["good", W1]


def test_select_best_empty_incumbent():
    new = [item("abc", 0, 20)]
    out, score = select_best_words([], new)
    assert [it[0].text for it in out] == ["abc"] and score > 0


def test_word_acceptable_gates():
    assert word_acceptable(FakeWord("ok", conf=K_ACCEPT_CONF + 1))
    assert not word_acceptable(FakeWord("lo", conf=K_ACCEPT_CONF - 1))
    assert word_acceptable(
        FakeWord("the", conf=K_ACCEPT_CONF - 40, dict_word=True)
    )
    assert not words_acceptable([])


# ---------------------------------------------------------------------------
# packs


def test_lang_pack_charsets_are_restricted():
    eng, heb, equ = get_lang_packs("eng+heb+equ")
    assert "a" in eng.net.charset and H[0] not in eng.net.charset
    assert H[0] in heb.net.charset and "a" not in heb.net.charset
    assert MATH_CHARSET[0] in equ.net.charset
    assert "a" not in equ.net.charset


def test_lang_pack_dict_words_filtered_per_charset():
    eng, heb = get_lang_packs("eng+heb", dict_words=["the", W1])
    assert eng.dawg is not None and heb.dawg is not None
    # each pack's DAWG only holds words its charset can express
    assert eng.dawg.accepts("the") and not eng.dawg.accepts(W1)
    assert heb.dawg.accepts(W1) and not heb.dawg.accepts("the")


def test_unknown_pack_raises():
    with pytest.raises(ValueError):
        get_lang_packs("eng+fra")


# ---------------------------------------------------------------------------
# end-to-end: mixed-script pages through the retry protocol


def test_mixed_page_latin_and_hebrew_paragraphs():
    visual = visual_rtl([W1, W2, W3])
    spec = PageSpec(paragraphs=[["hello world program"], [visual]])
    page = compose_page(spec)
    packs = get_lang_packs("eng+heb")
    spans, _w, _l = recognize_page_detail(page.image, spec.dpi, packs=packs)
    assert [(s.kind, s.text) for s in spans] == [
        ("text", "hello world program"),
        ("text", f"{W1} {W2} {W3}"),
    ]


def test_eng_only_garbles_hebrew_line():
    # negative control: without the heb pack the RTL line cannot decode
    visual = visual_rtl([W1, W2, W3])
    page = compose_page(PageSpec(paragraphs=[[visual]]))
    packs = get_lang_packs("eng")
    spans, _w, _l = recognize_page_detail(page.image, 300, packs=packs)
    text = "\n".join(s.text for s in spans)
    assert W1 not in text


def test_page_packs_skip_english_alone_and_osd():
    # English alone takes the default single-language path; 'osd' names
    # the orientation model and loads no recognition pack
    assert page_packs(None) is None
    assert page_packs("eng") is None
    assert page_packs("osd") is None
    assert page_packs("eng+osd") is None
    assert [p.name for p in page_packs("heb+osd")] == ["heb"]
    assert page_packs("eng+heb") is get_lang_packs("eng+heb")


def test_mru_language_stickiness():
    # an all-Hebrew page flips the MRU to heb and it stays there
    visual = visual_rtl([W1, W2, W3])
    page = compose_page(PageSpec(paragraphs=[[visual]]))
    packs = get_lang_packs("eng+heb")
    state = MultiLangState(packs)
    assert packs[state.mru].name == "eng"
    recognize_page_detail(page.image, 300, packs=packs, lang_state=state)
    assert packs[state.mru].name == "heb"
    # next page reuses heb first (no flip back on a Hebrew page)
    recognize_page_detail(page.image, 300, packs=packs, lang_state=state)
    assert packs[state.mru].name == "heb"


def test_equation_pack_via_retry():
    # a math line in an otherwise Latin page decodes through the equ pack
    page = compose_page(
        PageSpec(paragraphs=[["plain words here"], ["12+34=46"]])
    )
    packs = get_lang_packs("eng+equ")
    spans, _w, _l = recognize_page_detail(page.image, 300, packs=packs)
    texts = [s.text for s in spans]
    assert "plain words here" in texts
    assert "12+34=46" in "\n".join(texts)


def test_three_packs_route_by_script():
    W4 = H[9:12]
    visual = visual_rtl([W2, W4])
    page = compose_page(
        PageSpec(paragraphs=[["some latin text"], [visual], ["7+8=15"]])
    )
    packs = get_lang_packs("eng+heb+equ")
    spans, _w, _l = recognize_page_detail(page.image, 300, packs=packs)
    texts = [s.text for s in spans]
    assert texts[0] == "some latin text"
    assert texts[1] == f"{W2} {W4}"
    assert texts[2] == "7+8=15"


def test_dict_words_still_arbitrate_under_packs():
    # the eng pack's DAWG keeps dictionary arbitration alive in retry mode
    page = compose_page(PageSpec(paragraphs=[["the quick fox"]]))
    packs = get_lang_packs("eng+heb", dict_words=["the", "quick", "fox"])
    spans, words, _l = recognize_page_detail(page.image, 300, packs=packs)
    assert spans[0].text == "the quick fox"


def test_osd_script_detection_multilang():
    # ScriptDetector over the combined unicharset (osdetect.cpp:455-510
    # votes scripts from ALL loaded langs): a Hebrew page reports
    # Hebrew, a Latin page Latin, through the same combined net
    from tesseract_spark.lstm.templates import get_net_rtl
    from tesseract_spark.operators.osd import detect_script, get_osd_text

    heb = compose_page(PageSpec(paragraphs=[[f"{H[0:3]} {H[3:6]}",
                                             f"{H[6:9]} {H[1:4]}"]]))
    script, conf = detect_script(heb.image, net=get_net_rtl())
    assert script == "Hebrew" and conf > 0
    lat = compose_page(PageSpec(paragraphs=[["the quick fox"]]))
    script, conf = detect_script(lat.image, net=get_net_rtl())
    assert script == "Latin" and conf > 0
    report = get_osd_text(heb.image, net=get_net_rtl())
    assert "Script: Hebrew" in report


def test_multilang_carries_symbol_choices():
    """want_choices flows through the multilang retry protocol: the
    packs branch must not silently drop the symbol-choice lattice
    (ChoiceIterator over a multi-language session)."""
    packs = get_lang_packs("eng+heb")
    spec = PageSpec(paragraphs=[["plain english text"]])
    page = compose_page(spec)
    _s, words, _l = recognize_page_detail(
        page.image, 300, packs=packs, want_choices=True
    )
    assert words and all(len(w.choices) > 0 for w in words)
