"""Multi-language retry: per-word language arbitration across packs.

The reference runs every word through the most-recently-used language
first and, when the result is not acceptable, retries with every other
loaded language, keeping the better aligned word-run
(``classify_word_and_language``, src/ccmain/control.cpp:1306-1372;
``RetryWithLanguage`` control.cpp:877-902).  Runs are aligned by
overlapping word boundaries (``WordGap`` control.cpp:752-761) and scored
by ``SelectBestWords`` (control.cpp:792-874): a new run wins with
(better certainty AND better rating), or with a dictionary-permuter
upgrade whose rating is within ``classify_max_rating_ratio`` and
certainty within ``classify_max_certainty_margin`` of the incumbent
(classify.cpp:34-39 defaults 1.5 / 5.5).

In LSTM mode the recognizer returns whole-line word vectors per language
(``RecognizeLine``), so the retry unit here is the row strip — each
language pack decodes the full strip and SelectBestWords merges the two
word sequences span-by-span, which is exactly the reference's LSTM-path
shape (``ReplaceCurrentWord`` consumes multi-word results).

A language pack is a restricted-charset template net (each traineddata
carries its own unicharset): ``eng`` = the Latin fixture alphabet,
``heb`` = the RTL fixture alphabet + digits/punctuation, ``equ`` = the
math alphabet + digits/punctuation.  Packs are worker-level singletons,
like the reference's ``sub_langs_`` vector of Tesseract instances.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..lstm.dawg import Dawg
from ..lstm.templates import TemplateNet, get_net

# SelectBestWords gates (classify.cpp:34-39)
K_RATING_RATIO = 1.5
K_CERTAINTY_MARGIN = 5.5
# tess_accepted analogue: a word is quality-accepted when the dictionary
# endorses it or its confidence clears the docqual-style accept band
# (acceptable_word_string / quality gates, docqual.cpp:51-120).
K_ACCEPT_CONF = 80.0
# In the reference a word's choice rates EVERY blob in the word's region;
# the CTC decode instead DROPS glyph starts that clear no template
# (templates.forward dropped_xs).  A language that fails to explain ink
# must pay for it, or a coincidental one-glyph match in the wrong
# language outrates a full word in the right one: each dropped glyph
# start costs a fully-failed char's rating and caps span certainty at
# the below-threshold match level (log BLANK_SCORE ~ -0.105, scaled to
# the worst-case band).
K_DROP_RATING = 1.0
K_DROP_CERT = -2.0


@dataclass
class LangPack:
    """One loaded language: name + restricted-charset net + its DAWG
    (a ``sub_langs_`` entry, tesseractclass.h)."""

    name: str
    net: TemplateNet
    dawg: Dawg | None = None


_PACK_CACHE: dict[tuple, list[LangPack]] = {}


def get_lang_packs(
    spec: str,
    dict_words: list[str] | None = None,
) -> list[LangPack]:
    """'eng+heb+equ' -> pack list (worker singleton per spec, the
    DawgCache/Tesseract-instance sharing of the reference).  The first
    pack is the master language; ``dict_words`` build a DAWG for each
    pack over the words expressible in that pack's charset."""
    key = (spec, tuple(dict_words) if dict_words else None)
    if key in _PACK_CACHE:
        return _PACK_CACHE[key]
    from ..functions.fonts import (
        DEVA_CHARSET,
        DIGITS,
        MATH_CHARSET,
        PUNCT,
        RTL_CHARSET,
    )

    packs: list[LangPack] = []
    for name in spec.split("+"):
        if name == "eng":
            net = get_net()
        elif name == "heb":
            net = TemplateNet(RTL_CHARSET + DIGITS + PUNCT)
        elif name == "equ":
            net = TemplateNet(DIGITS + PUNCT + MATH_CHARSET)
        elif name == "deva":
            net = TemplateNet(DEVA_CHARSET + DIGITS + PUNCT)
        else:
            raise ValueError(f"unknown language pack: {name!r}")
        dawg = None
        if dict_words:
            ok = [w for w in dict_words if all(c in net.charset for c in w)]
            dawg = Dawg(net.charset, ok) if ok else None
        packs.append(LangPack(name, net, dawg))
    _PACK_CACHE[key] = packs
    return packs


def page_packs(
    lang: str | None, dict_words: list[str] | None = None
) -> list[LangPack] | None:
    """The language packs a page surface hands the page router
    (operators.recognize.recognize): None for English alone — the
    default engine's single-language path — else get_lang_packs.  An
    'osd' part names the orientation model, not a recognition
    language, and loads no pack."""
    names = [n for n in (lang or "eng").split("+") if n != "osd"]
    if names in ([], ["eng"]):
        return None
    return get_lang_packs("+".join(names), dict_words=dict_words)


def word_rating(w) -> float:
    """Rating analogue (lower is better): the reference sums per-char
    ratings over the word (WERD_CHOICE::rating); here each char costs its
    mean mismatch fraction, so spans add like the reference's sums."""
    return len(w.text) * (1.0 - w.confidence / 100.0)


def word_acceptable(w) -> bool:
    return bool(w.text) and (w.dict_word or w.confidence >= K_ACCEPT_CONF)


def words_acceptable(words) -> bool:
    """WordsAcceptable (control.cpp:904-911): an empty decode is a failed
    word; otherwise every word must be accepted."""
    return bool(words) and all(word_acceptable(w) for w in words)


def _extents(words, col_of_t) -> list[tuple[int, int]]:
    """Word bounding intervals in strip-x space from the decoder's
    emission timesteps (the word bounding boxes WordGap compares)."""
    out = []
    n = len(col_of_t)
    for w in words:
        t0 = min(w.start_t, n - 1)
        t1 = min(w.end_t, n - 1)
        out.append((int(col_of_t[t0]), int(col_of_t[t1])))
    return out


def _word_gap(items, i) -> tuple[int, int]:
    """(right edge of word i, left edge of word i+1) — WordGap,
    control.cpp:752-761."""
    right, next_left = -(1 << 31), 1 << 31
    if i < len(items):
        right = items[i][2]
        if i + 1 < len(items):
            next_left = items[i + 1][1]
    return right, next_left


def _evaluate_span(items, first, end) -> tuple[float, float, bool, bool]:
    """(rating, certainty, bad, valid_permuter) over [first, end) —
    EvaluateWordSpan, control.cpp:765-783 — with the dropped-ink charge
    (item[3] = glyph starts this decode failed to explain near the word;
    the reference's rating would have covered those blobs)."""
    rating, certainty = 0.0, 0.0
    bad = end <= first
    valid = end > first
    for i in range(first, min(end, len(items))):
        w, _l, _r, n_drop = items[i]
        if not w.text:
            bad = True
        else:
            rating += word_rating(w) + K_DROP_RATING * n_drop
            certainty = min(certainty, w.certainty)
            if n_drop:
                certainty = min(certainty, K_DROP_CERT)
            if not w.dict_word:
                valid = False
    return rating, certainty, bad, valid


def _make_items(words, col_of_t, dropped_xs) -> list[tuple]:
    """(word, left, right, n_dropped_nearby) items: each dropped glyph
    start is charged to the nearest word by extent distance."""
    exts = _extents(words, col_of_t)
    drops = [0] * len(words)
    for x in dropped_xs:
        best_i, best_d = -1, None
        for i, (le, ri) in enumerate(exts):
            d = 0 if le <= x <= ri else min(abs(x - le), abs(x - ri))
            if best_d is None or d < best_d:
                best_i, best_d = i, d
        if best_i >= 0:
            drops[best_i] += 1
    return [
        (w, le, ri, nd) for w, (le, ri), nd in zip(words, exts, drops)
    ]


def select_best_words(
    best: list[tuple],
    new: list[tuple],
    rating_ratio: float = K_RATING_RATIO,
    certainty_margin: float = K_CERTAINTY_MARGIN,
) -> tuple[list[tuple], int]:
    """SelectBestWords (control.cpp:792-874) over
    (word, left, right, n_dropped) items.  Returns
    (merged items, num_new_used - num_best_kept): a positive score means
    the new language contributed more words than the incumbent kept, the
    reference's RetryWithLanguage win signal."""
    out: list[tuple] = []
    b = n = 0
    num_best = num_new = 0
    while b < len(best) or n < len(new):
        start_b, start_n = b, n
        while b < len(best) or n < len(new):
            b_right, next_b_left = _word_gap(best, b)
            n_right, next_n_left = _word_gap(new, n)
            if max(b_right, n_right) < min(next_b_left, next_n_left):
                break  # word breaks overlap: runs [start..] align
            if (b_right < n_right and b < len(best)) or n == len(new):
                b += 1
            else:
                n += 1
        end_b = b + 1 if b < len(best) else b
        end_n = n + 1 if n < len(new) else n
        b_rating, b_cert, b_bad, b_valid = _evaluate_span(best, start_b, end_b)
        n_rating, n_cert, n_bad, n_valid = _evaluate_span(new, start_n, end_n)
        if not n_bad and (
            b_bad
            or (n_cert > b_cert and n_rating < b_rating)
            or (
                not b_valid
                and n_valid
                and n_rating < b_rating * rating_ratio
                and n_cert > b_cert - certainty_margin
            )
        ):
            out.extend(new[start_n:end_n])
            num_new += end_n - start_n
        elif not b_bad:
            out.extend(best[start_b:end_b])
            num_best += end_b - start_b
        b, n = end_b, end_n
    return out, num_new - num_best


class MultiLangState:
    """Per-page (or per-document) ``most_recently_used_`` language
    stickiness (control.cpp:345,1360)."""

    def __init__(self, packs: list[LangPack]):
        self.packs = packs
        self.mru = 0


def decode_row_multilang(state: MultiLangState, row, decode_one):
    """One row strip through the language-retry protocol.

    ``decode_one(pack, row)`` -> the engine's row-decode tuple
    (text, words, merged, dropped, col_of_t, strip).  Tries the MRU pack;
    when its words are not acceptable, retries every other pack and
    merges via SelectBestWords, updating the MRU to the winning pack."""
    packs = state.packs
    res = decode_one(packs[state.mru], row)
    # acceptable = every word quality-accepted AND no unexplained ink
    # (dropped glyph starts are the tess_failed analogue: blobs the
    # language's unicharset could not account for)
    if len(packs) == 1 or (words_acceptable(res[1]) and len(res[3]) == 0):
        return res
    best_items = _make_items(res[1], res[4], res[3])
    best_lang = state.mru
    # master language first, then the sub-languages (control.cpp:1345-1359)
    for pi in range(len(packs)):
        if pi == state.mru:
            continue
        new = decode_one(packs[pi], row)
        new_items = _make_items(new[1], new[4], new[3])
        best_items, score = select_best_words(best_items, new_items)
        if score > 0:
            best_lang = pi
            res = new  # carries the winner's dropped/col_of_t/strip
        if words_acceptable([it[0] for it in best_items]) and all(
            it[3] == 0 for it in best_items
        ):
            break
    state.mru = best_lang
    # re-assemble the row from the arbitrated word sequence
    # (ReplaceCurrentWord semantics); per-decode fuzzy-merge bookkeeping
    # does not apply to a mixed sequence
    words = [it[0] for it in best_items]
    text = " ".join(w.text for w in words)
    return (text, words, [], res[3], res[4], res[5])
