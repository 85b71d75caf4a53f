"""OEM_TESSERACT_ONLY page path: static shape classifier word recognition.

The legacy engine's recognition flow (``Tesseract::classify_word_pass1``
with tessedit_ocr_engine_mode == OEM_TESSERACT_ONLY,
src/ccmain/control.cpp:1374-1420 -> ``Classify::CharNormClassifier``,
src/classify/adaptmatch.cpp:1290-1360) re-expressed over the layout
stage's canonical row strips:

- words split at space-wide column gaps (tospace semantics, the same
  canonical thresholds the template path uses);
- glyph candidates are contiguous ink column runs (KERN-separated in the
  fixture font; a full-height slice keeps detached dots with their stem,
  the blob association the reference gets from chopper/associate);
- every glyph slice classifies through the pruner + integer-matcher bank
  (lstm/intproto.py); a run whose best rating is poor retries the CHOP
  path (``Wordrec::chop_word_main`` src/wordrec/chopper.cpp:385: split at
  interior ink minima, keep the piecewise reading when its joint rating
  beats the unchopped one — the seam-search compressed to bitmap column
  cuts).

Classification results are memoized by slice bytes (DawgCache-style
worker sharing): fixture renders repeat glyphs exactly, and a real
engine's adapted templates play the same amortizing role.

This is the parity surface of BasicTesseractTest
(unittest/baseapi_test.cc:72-89: the legacy engine must read the same
gold text), closed here as the `ocr_legacy_extract` oracle: the legacy
path must reproduce the SAME span text as the LSTM/template flagship.
"""

from __future__ import annotations

import numpy as np

from ..functions.fonts import WORD_GAP
from ..lstm.intproto import StaticShapeClassifier, get_static_classifier
from ..lstm.langmodel import choose_segmentation
from .reject import flip_0O

# a glyph run below this rating retries the chop path (the reference
# chops while the word is not acceptable, chopper.cpp:403-420)
K_CHOP_RATING = 0.85
# minimum piece width a chop may produce (chopper min blob size)
K_MIN_PIECE_W = 2


def _classify_cached(
    clf: StaticShapeClassifier, cache: dict, sl: np.ndarray,
    disabled: frozenset[int] | None = None,
):
    return _classify_top(clf, cache, sl, disabled)[0]


# a runner-up blob choice joins the language-model lattice when its
# rating is within this margin of the best (the ranked BLOB_CHOICE
# list every segmentation state carries, ratngs.h / language_model.cpp
# GetNextParentVSE consults choices beyond the top one)
K_CHOICE_MARGIN = 0.15


def _classify_top(
    clf: StaticShapeClassifier, cache: dict, sl: np.ndarray,
    disabled: frozenset[int] | None = None,
) -> list[tuple[str, float]]:
    """Ranked [(char, rating)] for one slice, memoized; at least one
    entry (the empty reading when nothing classifies)."""
    key = (sl.shape[1], sl.tobytes())
    hit = cache.get(key)
    if hit is None:
        res = clf.classify(sl, disabled=disabled)
        hit = res[:2] if res else [("", 0.0)]
        cache[key] = hit
    return hit


def _chop_classify(
    clf: StaticShapeClassifier, cache: dict, sl: np.ndarray,
    disabled: frozenset[int] | None = None,
) -> tuple[str, float, float] | None:
    """Chop one slice at its best interior ink-minimum pair of pieces
    (chop_word_main compressed to a single column cut; the 2-piece case
    of templates.chop_run's DP).  Returns (text, joint rating,
    summed piece cost) or None — the cost is the WERD_CHOICE rating
    accumulation ((1-ra) + (1-rb)) the language model adjusts."""
    col_ink = sl.sum(axis=0)
    W = sl.shape[1]
    best = None
    for cut in range(K_MIN_PIECE_W, W - K_MIN_PIECE_W + 1):
        # prefer thin seams: only cut where ink is locally minimal
        if col_ink[cut] > col_ink.min() + 1:
            continue
        a, b = sl[:, :cut], sl[:, cut:]
        ca, ra = _classify_cached(clf, cache, a, disabled)
        cb, rb = _classify_cached(clf, cache, b, disabled)
        if not ca or not cb:
            continue
        joint = float(np.sqrt(ra * rb))
        if best is None or joint > best[1]:
            best = (ca + cb, joint, float((1.0 - ra) + (1.0 - rb)))
    return best


def decode_strip_legacy(
    strip: np.ndarray,
    space_px: int | None = None,
    clf: StaticShapeClassifier | None = None,
    cache: dict | None = None,
    disabled: frozenset[int] | None = None,
    pitch: float | None = None,
    dawg=None,
    user_dawg=None,
    freq_words=None,
    details: list | None = None,
) -> str:
    """One canonical row strip -> text via the static classifier.

    ``disabled``: char white/blacklist class suppression
    (intmatcher.cpp:244); the per-strip cache is only shared within one
    call chain, so a constant mask per page keeps it coherent.

    ``pitch``: when the row's fixed-pitch verdict supplies a pitch, a
    multi-cell merged run is pre-chopped at the snapped lattice cuts
    (fpchop.cpp:72-220 via pitch.fixed_pitch_cuts) BEFORE template
    matching — the reference routes fixed-pitch rows through fpchop at
    textord time, so touching monospace glyphs never reach the seam
    chopper, which needs a thin seam the lattice doesn't.

    ``dawg``/``user_dawg``/``freq_words``: with a dictionary, word
    choice runs the wordrec language model (lstm/langmodel.py —
    Dict::adjust_word dict.cpp:711-792 over SegSearch's candidate
    election): each word keeps BOTH the unchopped and the chopped
    reading of every ambiguous run as segmentation candidates, and the
    minimum dictionary-ADJUSTED rating wins — 'modern' with a fused rn
    beats 'modem' because the chop's extra raw cost is repaid by the
    dict factor.  Without a dictionary the per-piece greedy choice of
    the plain chop path is preserved exactly.  ``details``, when a
    list, receives one AdjustedChoice per word (text, raw/adjusted
    rating, permuter — the WERD_CHOICE::permuter attribution)."""
    clf = clf or get_static_classifier()
    cache = cache if cache is not None else {}
    space_px = space_px or WORD_GAP
    col_ink = strip.any(axis=0)
    if not col_ink.any():
        return ""
    # glyph runs = contiguous ink column spans
    d = np.diff(col_ink.astype(np.int8))
    starts = (np.flatnonzero(d == 1) + 1).tolist()
    ends = (np.flatnonzero(d == -1) + 1).tolist()
    if col_ink[0]:
        starts = [0] + starts
    if col_ink[-1]:
        ends = ends + [len(col_ink)]
    use_lm = dawg is not None or user_dawg is not None
    words: list[str] = []
    # per piece: [(text, cost)] candidates, the plain-path default first
    word_alts: list[list[tuple[str, float]]] = []

    def flush() -> None:
        if not word_alts:
            return
        if not use_lm:
            text = "".join(a[0][0] for a in word_alts)
            if text:
                words.append(text)
            word_alts.clear()
            return
        # SegSearch candidate election: fold the per-piece alternatives
        # into word candidates, prune to the 16 cheapest raw ratings
        # (the lattice beam), adjust each with the dictionary
        cands: list[tuple[str, float]] = [("", 0.0)]
        for alts in word_alts:
            cands = [(t + at, c + ac) for t, c in cands for at, ac in alts]
            cands.sort(key=lambda tc: (tc[1], tc[0]))
            del cands[16:]
        cands = [(t, c) for t, c in cands if t]
        word_alts.clear()
        if not cands:
            return
        choice = choose_segmentation(
            cands, dawg=dawg, user_dawg=user_dawg, freq_words=freq_words
        )
        words.append(choice.text)
        if details is not None:
            details.append(choice)

    prev_end = None
    for s, e in zip(starts, ends):
        if prev_end is not None and s - prev_end >= space_px:
            flush()
        prev_end = e
        sl = strip[:, s:e]
        pieces = [sl]
        if pitch is not None and sl.shape[1] >= 1.5 * pitch:
            from .pitch import fixed_pitch_cuts

            cuts = fixed_pitch_cuts(sl, pitch)
            if cuts:
                bounds = [0] + cuts + [sl.shape[1]]
                pieces = [
                    sl[:, a:b] for a, b in zip(bounds, bounds[1:])
                ]
        for piece in pieces:
            if not piece.any():
                continue
            ranked = _classify_top(clf, cache, piece, disabled)
            ch, rating = ranked[0]
            # a lattice cell is ONE character by the fixed-pitch
            # contract (fpchop emits one blob per cell): only consult
            # the seam chopper when the piece is wide enough to hold
            # two cells — e.g. copier smear attached to a cell must not
            # re-split into phantom punctuation
            chop_allowed = pitch is None or piece.shape[1] >= 1.5 * pitch
            chopped = None
            # chop only while the read is not acceptable
            # (chopper.cpp:403-420) — with OR without a dictionary; an
            # acceptable misread flips through the runner-up blob
            # choice, which costs nothing extra
            if chop_allowed and rating < K_CHOP_RATING:
                chopped = _chop_classify(clf, cache, piece, disabled)
            default = (ch, 1.0 - rating)
            alts = [default]
            if use_lm and len(ranked) > 1 and ranked[1][1] >= rating - K_CHOICE_MARGIN:
                # the runner-up blob choice enters the lattice; the
                # dictionary adjustment arbitrates (a damaged o that
                # reads c first flips back inside a dict word)
                alts.append((ranked[1][0], 1.0 - ranked[1][1]))
            if chopped is not None:
                alt = (chopped[0], chopped[2])
                if chopped[1] > rating and rating < K_CHOP_RATING:
                    # the plain path's greedy winner (chop beats the
                    # template read) stays the default
                    alts.insert(0, alt)
                else:
                    alts.append(alt)
            word_alts.append(alts)
    flush()
    return " ".join(words)


def _row_pitch(strip: np.ndarray) -> float | None:
    """Row-level fixed-pitch verdict from glyph-run centers (the
    compute_rows_pitch entry, topitch.cpp:75-130): returns the pitch
    when the row's run centers sit on a lattice, else None.  A fused
    pair contributes one off-lattice center; detect_pitch's modal-
    advance fraction and median phase residual tolerate a minority of
    them (the reference likewise decides pitch from row statistics
    BEFORE fpchop separates the joined blobs)."""
    col = strip.any(axis=0).astype(np.int8)
    if not col.any():
        return None
    d = np.diff(col)
    starts = np.flatnonzero(d == 1) + 1
    ends = np.flatnonzero(d == -1) + 1
    if col[0]:
        starts = np.r_[0, starts]
    if col[-1]:
        ends = np.r_[ends, len(col)]
    centers = (starts + ends) / 2.0
    from .pitch import detect_pitch, tune_pitch

    ok, pitch = detect_pitch(centers)
    if not ok:
        return None
    # refine the statistical estimate by sync cost (tune_row_pitch,
    # topitch.cpp:1066-1160) before the chopper consumes it
    boxes = [(int(s), int(e)) for s, e in zip(starts, ends)]
    proj = strip.sum(axis=0).astype(np.int64)
    tuned, _cost = tune_pitch(proj, boxes, int(round(pitch)))
    return float(tuned)


def recognize_page_legacy(
    gray: np.ndarray, dpi: int = 300,
    charlists: tuple[str, str, str] | None = None,
    dawg=None,
    user_dawg=None,
    freq_words=None,
):
    """recognize_page on the legacy engine: same layout stage, every row
    decoded by the static shape classifier (the OEM_TESSERACT_ONLY
    switch).  Returns (reading-ordered SubSpans, layout) like the other
    engines.

    ``charlists``: (blacklist, whitelist, unblacklist) — the black and
    white lists apply to all loaded classifiers
    (SetBlackAndWhitelist, tesseractclass.cpp:531-553)."""
    from ..config import charlist_disabled
    from .page import analyze_page
    from .recognize import assemble_row_spans

    clf = get_static_classifier()
    disabled = (
        frozenset(charlist_disabled(clf.glyphs, *charlists))
        if charlists is not None
        else None
    )
    # flip_0O requires BOTH '0' and 'O' present and enabled in the
    # charset (reject.cpp:679-684)
    flip_set = frozenset(
        ch
        for i, ch in enumerate(clf.glyphs)
        if disabled is None or i not in disabled
    )
    cache: dict = {}
    layout = analyze_page(gray, dpi)
    decoded: dict[tuple[int, int], str] = {}
    for ri, region in enumerate(layout.regions):
        if region.kind != "text":
            continue
        for i, row in enumerate(region.rows):
            t = decode_strip_legacy(
                row.strip,
                max(2, row.space_px // max(1, row.scale) - 1),
                clf,
                cache,
                disabled,
                pitch=_row_pitch(row.strip),
                dawg=dawg,
                user_dawg=user_dawg,
                freq_words=freq_words,
            )
            # contextual 0<->O repair — the legacy engine's
            # make_reject_map entry step (flip_0O, reject.cpp:96-97,658):
            # strips are x-height-normalized upstream so the BLN
            # sub/superscript guard is owned by the superscript pass
            decoded[(ri, i)] = (
                " ".join(flip_0O(w, enabled=flip_set) for w in t.split(" "))
                if t
                else t
            )
    return assemble_row_spans(layout, decoded), layout


def recognize_page_combined(
    gray: np.ndarray,
    dpi: int = 300,
    dawg=None,
    charlists: tuple[str, str, str] | None = None,
):
    """OEM_TESSERACT_LSTM_COMBINED page path (tessedit.cpp:103-110;
    classify_word_pass1, control.cpp:1395-1417): the LSTM engine decodes
    every word first, and a word whose recognition FAILED — dropped
    glyph starts, the reference's empty ``out_words`` case — falls back
    to the legacy static classifier on the same window.  Words the LSTM
    read cleanly are never touched (the reference only re-runs failed
    or odd-size words through ``match_word_pass_n``).

    Returns (reading-ordered SubSpans, layout), like
    recognize_page_legacy."""
    from ..config import charlist_disabled
    from ..lstm.templates import get_net
    from .page import analyze_page
    from .recognize import _decode_row, assemble_row_spans

    net = get_net()
    clf = get_static_classifier()
    net_disabled = (
        tuple(charlist_disabled(net.charset, *charlists))
        if charlists is not None
        else None
    )
    leg_disabled = (
        frozenset(charlist_disabled(clf.glyphs, *charlists))
        if charlists is not None
        else None
    )
    cache: dict = {}
    layout = analyze_page(gray, dpi)
    decoded: dict[tuple[int, int], str] = {}
    for ri, region in enumerate(layout.regions):
        if region.kind != "text":
            continue
        for i, row in enumerate(region.rows):
            res = _decode_row(net, row, dawg, disabled=net_disabled)
            text, words, _m, dropped, cols, strip = res
            if len(dropped) == 0:
                decoded[(ri, i)] = text
                continue
            # word windows over the strip: ink runs separated by a
            # definite space gap (the same segmentation forward() uses
            # for space events)
            space_canon = max(2, row.space_px // max(1, row.scale) - 1)
            col_ink = strip.any(axis=0)
            ink_idx = np.flatnonzero(col_ink)
            if ink_idx.size == 0:
                decoded[(ri, i)] = text
                continue
            gaps = np.flatnonzero(np.diff(ink_idx) - 1 >= space_canon)
            win_edges = (
                [int(ink_idx[0])]
                + [int(ink_idx[g + 1]) for g in gaps]
                + [int(ink_idx[-1]) + 1]
            )
            windows = list(zip(win_edges[:-1], win_edges[1:]))
            dropped_set = set(int(x) for x in dropped)
            # assign each LSTM word to the window holding its first char
            win_words: list[list[str]] = [[] for _ in windows]
            for w in words:
                wcols = [int(cols[t]) for t in w.char_ts if 0 <= t < len(cols)]
                if not wcols:
                    continue
                for wi, (wl, wr) in enumerate(windows):
                    if wl <= wcols[0] < wr:
                        win_words[wi].append(w.text)
                        break
            out_words: list[str] = []
            for wi, (wl, wr) in enumerate(windows):
                failed = any(wl <= x < wr for x in dropped_set)
                if failed:
                    leg = decode_strip_legacy(
                        strip[:, wl:wr],
                        space_canon,
                        clf,
                        cache,
                        leg_disabled,
                        pitch=None,
                        dawg=dawg,
                    )
                    if leg:
                        out_words.append(leg)
                        continue
                out_words.extend(win_words[wi])
            decoded[(ri, i)] = " ".join(t for t in out_words if t)
    return assemble_row_spans(layout, decoded), layout
