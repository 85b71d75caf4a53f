"""Recognition stage: page layout -> decoded spans (pure numpy body).

The per-page body of the RECOGNITION pandas UDF: for each text region the
layout stage produced, decode every row strip with the template network +
CTC beam search (+ optional DAWG rescoring), assemble paragraph texts in
reading order, and interleave media sub-spans.  Mirrors
``recog_all_words`` (src/ccmain/control.cpp:291-456) on the LSTM path
(``LSTMRecognizeWord`` src/ccmain/linerec.cpp:229-258) plus the output walk
(``GetUTF8Text`` src/api/baseapi.cpp:1307-1337): lines within a paragraph
join with \\n, spans emit one per paragraph / media region.

``recognize`` is the one page router over engine mode x PSM x language;
every engine it reaches returns ``list[SubSpan]`` in the reading order
of ``span_order_key``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..lstm.ctc import (
    ctc_beam_decode,
    fix_rep_chars,
    resolve_fuzzy_spaces,
    symbol_choices,
)
from ..lstm.dawg import Dawg
from ..lstm.langmodel import adjust_word, _core as _word_core
from ..lstm.templates import TemplateNet, get_net
from .bidi import char_is_rtl, render_line_text, word_direction
from .equation import is_equation_text
from .page import PageResult, analyze_page, fuzzy_space_px


@dataclass
class SubSpan:
    kind: str  # 'text' | 'media'
    text: str
    confidence: float  # mean word conf 0..100 (MeanTextConf, baseapi.cpp:1719)
    n_lines: int
    n_words: int


@dataclass
class WordRec:
    """One recognized word with its page-coordinate box — the unit of the
    TSV/hOCR/ALTO sinks (GetTSVText level 5, baseapi.cpp:1353-1496)."""

    block_num: int
    par_num: int
    line_num: int
    word_num: int
    left: int
    top: int
    width: int
    height: int
    conf: float
    text: str
    baseline: int = 0  # page-y of the row baseline (deskewed frame)
    # 'side:pos:n' per attached sub/superscript run, comma-joined (the
    # SP_SUPERSCRIPT/SP_SUBSCRIPT blob flags of SetAllScriptPositions,
    # superscript.cpp:469-474): e.g. 'trail:super:2' = last 2 chars raised
    script_pos: str = ""
    # per-symbol alternative choices: one (ch, conf_pct) tuple list per
    # character, confidence-descending — the ChoiceIterator /
    # lstm_choice_mode surface (ltrresultiterator.cpp:368-470); becomes
    # array<array<struct<ch,conf>>> in the word sinks
    choices: tuple = ()
    # blank count in front of the word (WERD::blanks, werd.h:42;
    # floor(gap / row space_size) min 1, tospace.cpp:898-913; 0 at line
    # start) — the preserve_interword_spaces text-walk source
    # (resultiterator.cpp:745)
    blanks: int = 1
    # WordFontAttributes surface (ltrresultiterator.cpp:152-200):
    # font face name + attribute bits, filled only when the page ran
    # with font_attrs=True (a font-variant template bank)
    font: str = ""
    bold: int = 0
    italic: int = 0
    mono: int = 0
    pointsize: int = 0
    # is_smallcaps (WERD_RES::small_caps read by WordFontAttributes,
    # ltrresultiterator.cpp:182): capital shapes at lowercase size
    smallcaps: int = 0
    # is_underlined: a removed underline bar lies under this word —
    # improving on the reference, which hard-codes false
    # (ltrresultiterator.cpp:175 "TODO(rays) fix this!")
    underlined: int = 0
    # WERD_CHOICE::permuter (ratngs.h:235): which validation channel
    # owns the word choice — system_dawg/user_dawg/number when a
    # dictionary confirmed it, top_choice for a case-consistent
    # non-word, no_perm for garbage (lstm/langmodel.py attribution)
    permuter: str = "top_choice"
    # WERD_CHOICE::rating / certainty (ratngs.h:84-88): rating is a
    # length-accumulating cost (sum over symbols of -log2 of the
    # best-choice probability), certainty the worst-case per-symbol
    # bound on the reference's [-20, 0] scale (the same mapping the
    # OSD script detector uses, osdetect.cpp choices)
    rating: float = 0.0
    certainty: float = 0.0


def _attribute_word(w, dawg, doc_words) -> str:
    """Permuter attribution + document-vocabulary learning: the word is
    attributed against the dawgs INCLUDING the document words learned
    so far, then — in reading order, as recog_all_words does — a
    confident non-dictionary word feeds the document dawg
    (add_document_word, dict.cpp:648-708) so later sightings in the
    same document validate as DOC_DAWG_PERM."""
    choice = adjust_word(w.text, 0.0, dawg=dawg, doc_words=doc_words)
    if doc_words is not None:
        doc_words.add(
            _word_core(w.text) or w.text,
            _word_certainty(w),
            is_valid=choice.permuter
            in ("system_dawg", "user_dawg", "freq_dawg", "doc_dawg"),
        )
    return choice.permuter


def _word_acceptable(w, dawg) -> bool:
    """AcceptableChoice over one decoded word (stopper.cpp:42-108):
    permuter attribution + certainty thresholds + per-char
    uniformity."""
    from ..functions.ambigs import has_dangerous_ambig
    from ..lstm.langmodel import acceptable_choice

    choice = adjust_word(w.text, 0.0, dawg=dawg)
    chars = [
        (c[0][1] if c else w.confidence)
        for c in (getattr(w, "char_choices", ()) or ())
    ]
    char_certs = [20.0 * (cf / 100.0 - 1.0) for cf in chars] or None
    return acceptable_choice(
        w.text,
        _word_certainty(w),
        choice.permuter,
        char_certs,
        dangerous_ambig=(
            dawg is not None and has_dangerous_ambig(w.text, dawg)
        ),
    )


def _word_rating(w) -> float:
    """Symbol-summed -log2 cost (the recodebeam path's rating
    accumulation): per-symbol best-choice confidences when the choice
    lattice is present, else the word mean confidence per symbol."""
    import math

    confs = [
        (c[0][1] if c else w.confidence)
        for c in (getattr(w, "char_choices", ()) or ())
    ] or [w.confidence] * max(1, len(w.text))
    return round(
        sum(-math.log2(max(cf / 100.0, 1e-6)) for cf in confs), 4
    )


def _word_certainty(w) -> float:
    """Worst-case symbol certainty on the [-20, 0] scale."""
    confs = [
        (c[0][1] if c else w.confidence)
        for c in (getattr(w, "char_choices", ()) or ())
    ] or [w.confidence]
    return round(20.0 * (min(confs) / 100.0 - 1.0), 4)


def _merge_boxes(
    boxes: list[tuple[int, int, int, int]], merged: list[int]
) -> list[tuple[int, int, int, int]]:
    """Union each merged-right box into its left neighbour so the layout's
    word boxes track the fuzzy-space joins made by resolve_fuzzy_spaces."""
    drop = set(merged)
    out: list[tuple[int, int, int, int]] = []
    for i, b in enumerate(boxes):
        if i in drop and out:
            p = out[-1]
            out[-1] = (min(p[0], b[0]), min(p[1], b[1]),
                       max(p[2], b[2]), max(p[3], b[3]))
        else:
            out.append(b)
    return out


def recognize_page(
    gray: np.ndarray,
    dpi: int = 300,
    dawg: Dawg | None = None,
    net: TemplateNet | None = None,
    deva_split: bool = False,
    charlists: tuple[str, str, str] | None = None,
) -> tuple[list[SubSpan], PageResult]:
    """Full single-page OCR: returns reading-ordered sub-spans + layout.

    ``charlists``: optional (blacklist, whitelist, unblacklist) triple —
    the tessedit_char_blacklist/whitelist/unblacklist params
    (SetBlackAndWhitelist, tesseractclass.cpp:531-553)."""
    spans, _words, layout = recognize_page_detail(
        gray, dpi, dawg, net, deva_split=deva_split, charlists=charlists
    )
    return spans, layout



def _decode_row(
    net: TemplateNet, row, dawg: Dawg | None, adapted=None,
    want_choices: bool = False, disabled: tuple[int, ...] | None = None,
    pre=None,
):
    """Decode one layout row:
    (text, words, merged, dropped_xs, col_of_t, used_strip).

    A baseline-ambiguous row (page.Row.alt_strip) decodes BOTH baseline
    hypotheses — the all-ascender and all-descender readings the bbox
    model cannot distinguish — and keeps whichever explains more
    characters (ties by confidence).  A wrong hypothesis either decodes
    empty or coincidentally matches a few full-height glyphs; the right
    one explains every glyph."""
    space_canon = max(2, row.space_px // max(1, row.scale) - 1)

    def _decode(strip, pre_scores=None):
        log_probs, col_of_t, fuzzy_ts, dropped = net.forward(
            strip,
            space_px=space_canon,
            fuzzy_px=fuzzy_space_px(space_canon),
            adapted=adapted,
            soft=dawg is not None,
            pre=pre_scores,
        )
        if disabled:
            # whitelist/blacklist gate (the recodebeam.cpp:959
            # get_enabled skip): a disabled class can never be emitted —
            # the beam routes its probability mass to the runner-up
            log_probs[:, list(disabled)] = -1e9
        text, words, _cert = ctc_beam_decode(
            log_probs, net.charset, net.blank, net.space_code, dawg
        )
        merged: list[int] = []
        if fuzzy_ts:
            words, merged = resolve_fuzzy_spaces(words, fuzzy_ts, dawg)
            if merged:
                text = " ".join(w.text for w in words)
        # pass-1 post-processing: repeated-char word fixup
        # (control.cpp:352-355 applies fix_rep_char after pass 1)
        words, rep_changed = fix_rep_chars(words)
        if rep_changed:
            text = " ".join(w.text for w in words)
        # ChoiceIterator surface: per-symbol alternative choices from the
        # emission columns (SaveMostCertainChoices, recodebeam.cpp:137-160).
        # Lazy: the reference builds the choice lattice only when a
        # ChoiceIterator / lstm_choice_mode consumer asks for it
        # (hocrrenderer.cpp:354-374) — the plain-text path skips it.
        if want_choices:
            symbol_choices(log_probs, words, net.charset, net.blank,
                           net.space_code)
        return text, words, merged, dropped, col_of_t

    res = _decode(row.strip, pre) + (row.strip,)
    if getattr(row, "alt_strip", None) is not None:
        alt = _decode(row.alt_strip) + (row.alt_strip,)
        if _decode_score(alt) > _decode_score(res):
            res = alt
    # drop-cap decode (BLOCK::compute_row_margins, ocrblock.cpp:331-369):
    # the cap decodes at its OWN scale and joins the first word — the
    # cap blob rides in the first line's word list (:353)
    if getattr(row, "cap_strip", None) is not None and res[1]:
        from ..lstm.ctc import greedy_decode

        cap_lp, _cc, _cf, _cd = net.forward(row.cap_strip)
        if disabled:
            cap_lp[:, list(disabled)] = -1e9
        cap_text = greedy_decode(cap_lp, net.charset, net.blank).strip()
        if cap_text:
            w0 = res[1][0]
            w0.text = cap_text + w0.text
            # keep per-char parallels aligned: the cap has no timestep in
            # the MAIN strip (sentinel -1; consumers skip negatives), and
            # the choice lattice gets a rank-1-only entry per cap char
            w0.char_ts = (-1,) * len(cap_text) + tuple(w0.char_ts)
            if getattr(w0, "char_choices", ()):
                w0.char_choices = (
                    tuple([(c, 100.0)] for c in cap_text)
                    + tuple(w0.char_choices)
                )
            res = (" ".join(w.text for w in res[1]),) + res[1:]
    # pass-2 sub/superscript fix (SubAndSuperscriptFix,
    # src/ccmain/superscript.cpp:106-227): decode the split-off y-outlier
    # runs in their own baseline frame and paste believable results back
    # into the adjacent words with script-position flags
    if getattr(row, "script_segs", None):
        from .superscript import decode_script_segments

        decode_script_segments(net, row, res[1], res[2])
        if any(getattr(w, "script_pos", None) for w in res[1]):
            res = (" ".join(w.text for w in res[1]),) + res[1:]
    return res


def _decode_score(r):
    """(chars explained, mean confidence) — the hypothesis arbiter."""
    words = r[1]
    n_chars = sum(len(w.text) for w in words)
    conf = sum(w.confidence for w in words) / len(words) if words else 0.0
    return (n_chars, conf)


def _harvest_adaptable(adapted, net: TemplateNet, strip, words, col_of_t) -> None:
    """LearnWord over this row's adaptable words (AdaptableWord gate,
    adaptmatch.cpp:811-829): dictionary-accepted, high-confidence,
    bounded length."""
    from ..lstm.adaptive import (
        K_ADAPTABLE_MIN_CONF,
        MAX_ADAPTABLE_WERD_SIZE,
        harvest_word,
    )

    code_of = {ch: i for i, ch in enumerate(net.charset)}
    for w in words:
        if (
            not w.dict_word
            or w.confidence < K_ADAPTABLE_MIN_CONF
            or not (0 < len(w.text) <= MAX_ADAPTABLE_WERD_SIZE)
            or len(w.char_ts) != len(w.text)
        ):
            continue
        chars = [
            (code_of[ch], int(col_of_t[t]))
            for ch, t in zip(w.text, w.char_ts)
            # t = -1 is the drop-cap sentinel (no timestep in the MAIN
            # strip); negative indexing would harvest the strip's last
            # column as the cap's template
            if ch in code_of and 0 <= t < len(col_of_t)
        ]
        harvest_word(adapted, strip, chars, net.width_by_code)


def process_page(
    gray: np.ndarray,
    dpi: int = 300,
    psm: int | None = None,
    dawg: Dawg | None = None,
    charlists: tuple[str, str, str] | None = None,
) -> tuple[list[SubSpan], "PageResult | None"]:
    """ProcessPage with PSM routing (TessBaseAPI::ProcessPage +
    the PSM stage gating of publictypes.h:186-207 / textord.cpp:223-246):
    one entry point that dispatches every page-segmentation mode to the
    stage subset it enables.

    - PSM_OSD_ONLY: no recognition; one text span holding the OSD report
      (GetOsdText).
    - PSM_AUTO_OSD: orientation-correct first, then the vertical check,
      then full layout+recognition.
    - PSM_AUTO / PSM_SINGLE_BLOCK / PSM_SPARSE_TEXT: full pipeline (the
      layout stage handles single blocks and scattered words natively).
    - PSM_SINGLE_COLUMN: full pipeline with column-set selection off.
    - PSM_SINGLE_LINE / PSM_RAW_LINE: full pipeline; the line modes keep
      only the best row when layout finds several
      (CleanupSingleRowResult, textord.cpp:263-293).
    - PSM_SINGLE_WORD: like the line modes, collapsed to the single
      best word.
    - PSM_CIRCLE_WORD: enclosing-circle removal then word recognition.
    """
    from ..config import (
        PSM_AUTO_OSD,
        PSM_CIRCLE_WORD,
        PSM_OSD_ONLY,
        PSM_RAW_LINE,
        PSM_SINGLE_COLUMN,
        PSM_SINGLE_LINE,
        PSM_SINGLE_WORD,
    )

    if psm is None:
        from ..config import PSM_AUTO as psm  # noqa: F811

    if psm == PSM_OSD_ONLY:
        from .osd import get_osd_text

        return [SubSpan("text", get_osd_text(gray, 0), 100.0, 0, 0)], None
    if psm == PSM_AUTO_OSD:
        from .osd import detect_orientation
        from .vertical import recognize_page_auto

        rot, _scores = detect_orientation(gray)
        upright = np.rot90(gray, k=-(rot // 90))  # invert the rotation
        return recognize_page_auto(upright, dpi, dawg)
    if psm == PSM_CIRCLE_WORD:
        from .circle import recognize_circle_word

        return recognize_circle_word(gray, dpi, dawg)
    # column finding is only enabled for the auto modes
    # (PSM_COL_FIND_ENABLED, publictypes.h:186-191): every psm >= 4
    # treats the page as one block
    single_column = psm in (
        PSM_SINGLE_COLUMN, 6, PSM_SINGLE_LINE, PSM_SINGLE_WORD, 11,
        PSM_RAW_LINE,
    )
    spans, words, layout = recognize_page_detail(
        gray, dpi, dawg, single_column=single_column, charlists=charlists
    )
    if psm in (PSM_SINGLE_LINE, PSM_RAW_LINE, PSM_SINGLE_WORD):
        # best ROW selection (CleanupSingleRowResult, textord.cpp:263-293):
        # rank textlines by mean word confidence from the word records,
        # not paragraph-mean spans
        if not words:
            return [], layout
        by_line: dict[tuple, list] = {}
        for w in words:
            by_line.setdefault(
                (w.block_num, w.par_num, w.line_num), []
            ).append(w)
        def line_key(ws):
            return (sum(x.conf for x in ws) / len(ws), len(ws))
        best_ws = max(by_line.values(), key=line_key)
        best_ws.sort(key=lambda w: w.word_num)
        if psm == PSM_SINGLE_WORD:
            best_ws = [max(best_ws, key=lambda w: w.conf)]
        line = " ".join(w.text for w in best_ws)
        conf = sum(w.conf for w in best_ws) / len(best_ws)
        return [SubSpan("text", line, conf, 1, len(best_ws))], layout
    return spans, layout


def recognize(
    gray: np.ndarray,
    dpi: int = 300,
    *,
    oem: int,
    psm: int,
    dawg: Dawg | None = None,
    packs=None,
    charlists: tuple[str, str, str] | None = None,
    **detail,
) -> tuple[list[SubSpan], "list[WordRec] | None", "PageResult | None"]:
    """The page router: engine mode x page-segmentation mode x language
    -> one recognition path (TessBaseAPI::Recognize -> ProcessPage,
    src/api/baseapi.cpp).  The first rule that matches wins:

    1. OEM 0, 1, 2: the legacy, VGSL and combined engines.  The VGSL
       engine never takes ``dawg`` — a dictionary would switch it from
       greedy CTC to the lattice beam.
    2. PSM_OSD_ONLY: process_page (the OSD report span).
    3. language ``packs``: recognize_page_detail's multi-language retry.
    4. PSM_AUTO: recognize_page_detail.
    5. any other PSM: process_page.

    ``detail`` holds extra recognize_page_detail keywords (want_choices,
    font_attrs, monitor, carry_adapted, doc_words) for routes 3 and 4,
    the only routes that return word records; the others return None
    for them.

    Callers: TessBaseAPI.Recognize and the pipeline's Spark page task
    (pipeline._make_ocr_udf), which serves the CLI too."""
    from ..config import (
        OEM_LSTM_ONLY,
        OEM_TESSERACT_LSTM_COMBINED,
        OEM_TESSERACT_ONLY,
        PSM_AUTO,
        PSM_OSD_ONLY,
    )

    if oem == OEM_TESSERACT_ONLY:
        from .legacy import recognize_page_legacy

        spans, layout = recognize_page_legacy(
            gray, dpi, charlists=charlists, dawg=dawg)
    elif oem == OEM_LSTM_ONLY:
        spans, layout = recognize_pages_vgsl(
            [gray], dpi, charlists=charlists)[0]
    elif oem == OEM_TESSERACT_LSTM_COMBINED:
        from .legacy import recognize_page_combined

        spans, layout = recognize_page_combined(
            gray, dpi, dawg=dawg, charlists=charlists)
    elif psm == PSM_OSD_ONLY or (packs is None and psm != PSM_AUTO):
        spans, layout = process_page(
            gray, dpi, psm=psm, dawg=dawg, charlists=charlists)
    else:
        return recognize_page_detail(
            gray, dpi, dawg, packs=packs, charlists=charlists, **detail)
    return spans, None, layout


def recognize_pages_vgsl(
    grays: list[np.ndarray], dpi: int = 300, model=None,
    charlists: tuple[str, str, str] | None = None,
    dawg=None, use_beam: bool = False,
) -> list[tuple[list[SubSpan], PageResult]]:
    """recognize_page on the VGSL engine, over MANY pages: same layout
    stage, but every row strip is decoded by the tessdata-loaded VGSL
    conv stack (batched width-bucketed forward + greedy CTC + recoder)
    instead of the template bank — the OEM_LSTM_ONLY switch of the
    reference (LSTMRecognizer::RecognizeLine,
    src/lstm/lstmrecognizer.cpp:247-291).  One page is
    ``recognize_pages_vgsl([gray])[0]``.

    Every page's row strips (and alt hypotheses) pool into a single
    width-bucketed LSTM forward, so the conv/LSTM BLAS batches span page
    boundaries — the StrideMap fills with the whole task's lines, not one
    page's (stridemap.cpp batches whatever the caller queues).  Values
    are identical to per-page calls: bucketing is per-strip and the
    decode of one strip never sees another.  Baseline-ambiguous rows
    decode both hypotheses (alt_strip) and keep whichever explains more
    characters, as the template path does.

    ``use_beam`` routes every strip through the full lattice beam
    (RecodeBeamSearch, lstm/recode_beam.py) instead of greedy CTC;
    ``dawg`` adds the dictionary dual-beam rescoring of the reference's
    LSTM path (recodebeam.cpp:1009-1134) and implies the beam."""
    from ..lstm.fixture_model import (
        beam_decode_strips,
        decode_strips,
        get_vgsl_model,
    )

    model = model or get_vgsl_model()
    disabled_uids: frozenset[int] | None = None
    if charlists is not None:
        from ..config import charlist_disabled

        disabled_uids = frozenset(
            charlist_disabled(model.charset, *charlists)
        )
    layouts = [analyze_page(g, dpi) for g in grays]
    # gather all strips (and alt hypotheses) into ONE batched decode
    jobs: list[tuple[int, int, int, int]] = []  # (page, region, row, alt)
    strips: list[np.ndarray] = []
    for pi, layout in enumerate(layouts):
        for ri, region in enumerate(layout.regions):
            if region.kind != "text":
                continue
            for i, row in enumerate(region.rows):
                jobs.append((pi, ri, i, 0))
                strips.append(row.strip)
                if getattr(row, "alt_strip", None) is not None:
                    jobs.append((pi, ri, i, 1))
                    strips.append(row.alt_strip)
    if use_beam or dawg is not None:
        texts = beam_decode_strips(
            model, strips, dawg=dawg, disabled_uids=disabled_uids,
            force_beam=use_beam,
        )
    else:
        texts = decode_strips(model, strips, disabled_uids=disabled_uids)
    decoded: dict[tuple[int, int, int], str] = {}
    for (pi, ri, i, alt), text in zip(jobs, texts):
        cur = decoded.get((pi, ri, i))
        # hypothesis arbiter: more characters explained wins (ties: main)
        if cur is None or len(text) > len(cur):
            decoded[(pi, ri, i)] = text
    return [
        (
            assemble_row_spans(
                layout,
                {
                    (ri, i): t
                    for (pj, ri, i), t in decoded.items()
                    if pj == pi
                },
            ),
            layout,
        )
        for pi, layout in enumerate(layouts)
    ]


def span_order_key(layout: PageResult):
    """The span reading order of a page, as a sort-key function
    ``key(region_index, top_y, media=False)``: single-column pages
    interleave paragraphs and media strictly by top y; multi-column
    pages emit column text blocks left-to-right, media after
    (layout_test.cc block-order semantics)."""
    multi_col = sum(1 for g in layout.regions if g.kind == "text") > 1

    def key(ri: int, y: int, media: bool = False) -> tuple:
        if multi_col:
            return (1, 0, y) if media else (0, ri, y)
        return (y, 1, 0) if media else (y, 0, 0)

    return key


def assemble_row_spans(
    layout: PageResult, decoded: dict[tuple[int, int], str]
) -> list[SubSpan]:
    """Reading-order spans from per-row texts ``{(region, row): text}``:
    one span per paragraph (its rows joined with \\n) and one per media
    region — the assembly of the VGSL, legacy and combined engines.
    recognize_page_detail keeps its richer walk (equations, bidi, the
    empty-paragraph skip) over the same reading order."""
    key = span_order_key(layout)
    keyed: list[tuple[tuple, SubSpan]] = []
    for ri, region in enumerate(layout.regions):
        if region.kind != "text":
            keyed.append(
                (key(ri, region.bbox[1], media=True),
                 SubSpan("media", "", 0.0, 0, 0))
            )
            continue
        for group in region.paragraphs:
            texts_g = [decoded.get((ri, i), "") for i in group]
            n_words = sum(len(t.split()) for t in texts_g if t)
            keyed.append(
                (
                    key(ri, region.rows[group[0]].bbox[1]),
                    SubSpan(
                        "text",
                        "\n".join(texts_g),
                        100.0 if n_words else 0.0,
                        len(group),
                        n_words,
                    ),
                )
            )
    keyed.sort(key=lambda kv: kv[0])
    return [s for _k, s in keyed]


def recognize_page_detail(
    gray: np.ndarray,
    dpi: int = 300,
    dawg: Dawg | None = None,
    net: TemplateNet | None = None,
    adapt: bool = True,
    carry_adapted=None,
    single_column: bool = False,
    packs=None,
    lang_state=None,
    deva_split: bool = False,
    want_choices: bool = False,
    charlists: tuple[str, str, str] | None = None,
    font_attrs: bool = False,
    doc_words=None,
    monitor=None,
) -> tuple[list[SubSpan], list[WordRec], PageResult]:
    """Like recognize_page but also returns per-word records with page
    boxes for the TSV/hOCR/ALTO sinks.

    Two recognition passes when a dictionary is present (recog_all_words
    pass 1/pass 2, src/ccmain/control.cpp:291-456): pass 1 decodes every
    row and learns adapted glyph templates from unambiguous dictionary
    words; pass 2 re-decodes only the rows whose static match dropped ink,
    rescuing damaged glyphs via the adapted templates.

    ``carry_adapted``: an AdaptiveTemplates carried in from earlier pages
    of the same document (cross-page carryover, the reference's
    SwitchAdaptiveClassifier continuity, control.cpp:306-322) — templates
    learned here accumulate into it for subsequent pages.

    ``packs``: loaded language packs for multi-language retry
    (classify_word_and_language, control.cpp:1306-1372) — each row is
    decoded with the most-recently-used language and retried through the
    others when not acceptable; ``lang_state`` carries the MRU language
    across pages of a document."""
    disabled: tuple[int, ...] | None = None
    if packs is not None:
        from .multilang import MultiLangState, decode_row_multilang

        state = lang_state or MultiLangState(packs)
        net = packs[0].net
        dawg = packs[0].dawg
        adapt = False  # the retry protocol owns arbitration (LSTM path)
        # char white/blacklists apply to EVERY loaded language's
        # classifier (SetBlackAndWhitelist walks sub_langs,
        # tesseractclass.cpp:544-551)
        dis_of: dict[int, tuple[int, ...]] = {}

        def _pack_disabled(p) -> tuple[int, ...] | None:
            if charlists is None:
                return None
            key = id(p.net)
            if key not in dis_of:
                from ..config import charlist_disabled

                dis_of[key] = charlist_disabled(p.net.charset, *charlists)
            return dis_of[key]

        def _row_decode(row, pre=None):
            return decode_row_multilang(
                state, row,
                lambda p, r: _decode_row(
                    p.net, r, p.dawg, want_choices=want_choices,
                    disabled=_pack_disabled(p),
                ),
            )
    else:
        net = net or get_net()
        if charlists is not None:
            from ..config import charlist_disabled

            disabled = charlist_disabled(net.charset, *charlists)

        def _row_decode(row, pre=None):
            return _decode_row(
                net, row, dawg, want_choices=want_choices,
                disabled=disabled, pre=pre,
            )
    layout = analyze_page(
        gray, dpi, single_column=single_column, deva_split=deva_split
    )
    # ---- pass 1: decode all rows, harvest adaptable words ----------------
    adapted = None
    if adapt and dawg is not None:
        if carry_adapted is not None:
            adapted = carry_adapted
        else:
            from ..lstm.adaptive import AdaptiveTemplates

            adapted = AdaptiveTemplates()
    decoded: dict[tuple[int, int], tuple] = {}  # (region, row) -> result
    retry: list[tuple[int, int]] = []
    # row worklist up front so the monitor knows the total (the
    # SetupAllWordsPassN shape, control.cpp:327-330)
    worklist = [
        (ri, i, row)
        for ri, region in enumerate(layout.regions)
        if region.kind == "text"
        for i, row in enumerate(region.rows)
    ]
    FAKE = ("", [], [], [], [], None)  # SetupFake analogue: empty row
    # batch the static-template scoring of every primary strip up front:
    # one concatenated match_scores serves the page (precompute_scores —
    # identical values, a fraction of the per-row numpy call overhead).
    # alt-baseline/drop-cap/script-segment strips stay unbatched (rare).
    pre_of: dict[tuple[int, int], object] = {}
    if packs is None and worklist:
        from ..lstm.templates import CELL_H

        batchable = [
            (ri, i, row) for ri, i, row in worklist
            if getattr(row, "strip", None) is not None
            and row.strip.shape[0] == CELL_H
        ]
        if batchable:
            pres = net.precompute_scores([row.strip for _, _, row in batchable])
            pre_of = {(ri, i): p for (ri, i, _row), p in zip(batchable, pres)}
    aborted = False
    for wi, (ri, i, row) in enumerate(worklist):
        if monitor is not None and (
            aborted
            or monitor.step(1, wi, len(worklist), tuple(row.bbox))
        ):
            # deadline/cancel: fake out the rest (control.cpp:224-231)
            aborted = True
            decoded[(ri, i)] = FAKE
            continue
        res = _row_decode(row, pre_of.get((ri, i)))
        decoded[(ri, i)] = res
        if adapted is not None:
            # crop learned bitmaps from the strip that actually decoded
            # (the alt-baseline strip when that hypothesis won)
            _harvest_adaptable(adapted, net, res[5], res[1], res[4])
            # pass-2 trigger = dropped ink OR an unacceptable word:
            # the reference re-runs any word AcceptableChoice did
            # not mark done (word->done, control.cpp:372-386 via
            # classify_word_pass2) — the stopper's certainty and
            # uniformity gates decide, not just missing ink
            if len(res[3]) or any(
                not _word_acceptable(w, dawg) for w in res[1]
            ):
                retry.append((ri, i))
    # ---- pass 2: adaptive re-decode of rows with dropped ink -------------
    if adapted is not None and adapted.n_learned and not aborted:
        for k, (ri, i) in enumerate(retry):
            if monitor is not None and monitor.step(
                2, k, len(retry),
                tuple(layout.regions[ri].rows[i].bbox),
            ):
                break
            row = layout.regions[ri].rows[i]
            redo = _decode_row(
                net, row, dawg, adapted=adapted, want_choices=want_choices,
                disabled=disabled, pre=pre_of.get((ri, i)),
            )
            # keep the re-decode only if it explains the row better: a
            # false-positive adapted match must not override a correct
            # pass-1 (e.g. dictionary-arbitrated) reading
            if _decode_score(redo) > _decode_score(decoded[(ri, i)]):
                decoded[(ri, i)] = redo
    # ---- font attribution (WordFontAttributes analogue) ------------------
    # (ltrresultiterator.cpp:152-200 reads the matched prototype's
    # FontInfo; per-word face elected by majority vote over the word's
    # glyphs, font_recognition_pass, control.cpp:1900-1960; monospace =
    # the row's fixed-pitch verdict, the is_fixed_pitch fontinfo bit)
    if font_attrs and packs is None:
        from collections import Counter

        from .pitch import detect_pitch

        for (ri_i, res) in decoded.items():
            _t, ws, _m, _d, cols, strip = res
            starts = [
                int(cols[t])
                for w in ws
                for t in w.char_ts
                if 0 <= t < len(cols)  # skip the drop-cap sentinel -1
            ]
            mono = (
                bool(detect_pitch(np.asarray(starts, dtype=np.float64))[0])
                if len(starts) >= 4
                else False
            )
            for w in ws:
                votes: Counter = Counter()
                for ch, t in zip(w.text, w.char_ts):
                    code = net.charset.find(ch)
                    if code < 0 or t < 0 or t >= len(cols):
                        continue
                    votes[net.font_of_char(strip, int(cols[t]), code)] += 1
                fid = votes.most_common(1)[0][0] if votes else 0
                w.font_face = (
                    net.font_names[fid]
                    if fid < len(net.font_names)
                    else "normal"
                )
                w.mono_face = mono
    # ---- assembly (resultiterator walk) ----------------------------------
    key_of = span_order_key(layout)
    keyed: list[tuple[tuple, SubSpan]] = []
    word_recs: list[WordRec] = []
    for ri, region in enumerate(layout.regions):
        if region.kind != "text":
            keyed.append(
                (key_of(ri, region.bbox[1], media=True),
                 SubSpan("media", "", 0.0, 0, 0))
            )
            continue
        row_texts: list[str] = []
        row_confs: list[float] = []
        row_words: list[int] = []
        row_decoded: list[list] = []
        row_merges: list[list[int]] = []
        for i, row in enumerate(region.rows):
            text, words, merged, _dropped, _cols, _strip = decoded[(ri, i)]
            row_merges.append(merged)
            row_texts.append(text)
            row_words.append(len(words))
            row_decoded.append(words)
            row_confs.append(
                float(np.mean([w.confidence for w in words])) if words else 0.0
            )
        # ---- equation seed expansion (ExpandSeed equationdetect.cpp:
        # 1038-1077 + ProcessMathBlockSatelliteParts :1248-1293): when a
        # paragraph elects as an equation seed, it absorbs eligible
        # neighbor paragraphs (the second line of a displayed equation,
        # small limit/exponent fragments, sandwiched short text) so a
        # multi-line equation emits ONE kind='equation' span.  Gated on a
        # seed existing — equation-free pages pay one density scan.
        para_groups: list[list[int]] = region.paragraphs
        forced_eq: list[bool] | None = None
        if len(para_groups) > 1:
            p_texts = ["\n".join(row_texts[i] for i in g) for g in para_groups]
            if any(is_equation_text(t) for t in p_texts):
                from .equation import expand_equation_paragraphs

                p_boxes = [
                    (
                        min(region.rows[i].bbox[0] for i in g),
                        min(region.rows[i].bbox[1] for i in g),
                        max(region.rows[i].bbox[2] for i in g),
                        max(region.rows[i].bbox[3] for i in g),
                    )
                    for g in para_groups
                ]
                merged, forced_eq = expand_equation_paragraphs(
                    p_boxes, p_texts, dpi
                )
                para_groups = [
                    sorted(i for gi in mg for i in region.paragraphs[gi])
                    for mg in merged
                ]
        for pi, group in enumerate(para_groups):
            # bidi reading order (CalculateTextlineOrder,
            # resultiterator.cpp:284-364): paragraphs containing strong-RTL
            # words are re-assembled in the bidi walk with suffix marks;
            # pure-LTR paragraphs take the fast path unchanged.  Paragraph
            # base direction = majority of strong word directions (the
            # analogue of current_paragraph_is_ltr_ from the para model).
            para_word_texts = [w.text for i in group for w in row_decoded[i]]
            bidi_rows: dict[int, tuple[list[int], list[str]]] = {}
            if any(char_is_rtl(c) for t in para_word_texts for c in t):
                from .bidi import textline_order

                n_r = sum(1 for t in para_word_texts if word_direction(t) == "R")
                n_l = sum(1 for t in para_word_texts if word_direction(t) == "L")
                para_ltr = n_l >= n_r
                for i in group:
                    ws = [w.text for w in row_decoded[i]]
                    dirs = [word_direction(t) for t in ws]
                    row_texts[i] = render_line_text(ws, dirs, para_ltr)
                    # word records follow the same walk: reading order +
                    # logical per-word text (LTRResultIterator emits each
                    # word's symbols in logical order with its VISUAL box;
                    # the iterator's word sequence is the textline order,
                    # resultiterator.cpp:284-395)
                    bidi_rows[i] = (
                        textline_order(dirs, not para_ltr),
                        [
                            w[::-1] if d == "R" else w
                            for w, d in zip(ws, dirs)
                        ],
                    )
            texts = [row_texts[i] for i in group]
            confs = [row_confs[i] for i in group if row_words[i] > 0]
            key = key_of(ri, region.rows[group[0]].bbox[1])
            para_text = "\n".join(texts)
            # PT_EQUATION taxonomy (publictypes.h:51-67): a math-dense
            # isolated paragraph emits an equation span
            # (EquationDetect seed gates, equationdetect.cpp:942-974);
            # after seed expansion the merged group keeps the seed's
            # type (ColPartition::Absorb) even where absorbed prose
            # dilutes the density below the seed gate
            kind = (
                "equation"
                if (
                    forced_eq[pi]
                    if forced_eq is not None
                    else is_equation_text(para_text)
                )
                else "text"
            )
            # a paragraph whose every row decoded to NOTHING is
            # unexplained ink (detector residue re-entering the text
            # pipeline), not text — the reference's quality machinery
            # rejects such garbage rows (docqual), and a zero-content
            # span only pollutes the sequence (round-4 fuzzer: a
            # half-masked photo chunk emitted ('text', ''))
            if not para_text.strip() and not any(
                row_words[i] for i in group
            ):
                continue
            keyed.append(
                (
                    key,
                    SubSpan(
                        kind,
                        para_text,
                        float(np.mean(confs)) if confs else 0.0,
                        len(group),
                        sum(row_words[i] for i in group),
                    ),
                )
            )
            # word records (TSV level-5 rows): pair decode output with the
            # layout's gap-stats word boxes (counts agree when the decoder's
            # space segmentation matches to_spacing; fall back to row bbox).
            for li, i in enumerate(group):
                row = region.rows[i]
                boxes = row.word_boxes
                if row_merges[i] and len(boxes) == len(row_decoded[i]) + len(
                    row_merges[i]
                ):
                    boxes = _merge_boxes(boxes, row_merges[i])
                # effective baseline: when the alt (all-descender)
                # hypothesis won the arbiter, the true baseline sits one
                # descender band above the primary estimate
                used_strip = decoded[(ri, i)][5]
                baseline_y = int(row.baseline_y)
                if (
                    getattr(row, "alt_strip", None) is not None
                    and used_strip is row.alt_strip
                ):
                    baseline_y -= 4 * row.scale
                u_bars = getattr(layout, "underline_bars", None) or []
                # emission sequence: visual order, or the bidi walk's
                # reading order with logical per-word text on RTL rows
                seq = list(enumerate(row_decoded[i]))
                logical_texts = None
                if i in bidi_rows:
                    order, logical_texts = bidi_rows[i]
                    seq = [(j, row_decoded[i][j]) for j in order]
                prev_box: tuple[int, int] | None = None
                for out_wi, (wi, w) in enumerate(seq):
                    if wi < len(boxes) and len(boxes) == len(row_decoded[i]):
                        l, t, r, b = boxes[wi]
                    else:
                        l, t, r, b = row.bbox
                    # blanks in front of the word (tospace.cpp:898-913):
                    # floor(box gap / row space size), min 1; 0 at BOL.
                    # Gap = interval distance to the previous READING-
                    # order word (its visual neighbour on either side)
                    if out_wi == 0 or prev_box is None:
                        blanks = 0
                    else:
                        gap = max(
                            int(l) - prev_box[1], prev_box[0] - int(r)
                        )
                        blanks = max(
                            1, gap // max(1, int(row.space_px))
                        )
                    prev_box = (int(l), int(r))
                    word_recs.append(
                        WordRec(
                            block_num=ri + 1,
                            par_num=pi + 1,
                            line_num=li + 1,
                            word_num=out_wi + 1,
                            left=int(l),
                            top=int(t),
                            width=int(r - l),
                            height=int(b - t),
                            conf=round(float(w.confidence), 2),
                            text=(
                                logical_texts[wi]
                                if logical_texts is not None
                                else w.text
                            ),
                            baseline=baseline_y,
                            permuter=_attribute_word(
                                w, dawg, doc_words
                            ),
                            rating=_word_rating(w),
                            certainty=_word_certainty(w),
                            script_pos=",".join(
                                f"{sd}:{sp}:{n}"
                                for sd, sp, n in getattr(w, "script_pos", ())
                            ),
                            choices=(
                                tuple(
                                    reversed(
                                        getattr(w, "char_choices", ())
                                    )
                                )
                                if logical_texts is not None
                                and logical_texts[wi] != w.text
                                else getattr(w, "char_choices", ())
                            ),
                            blanks=blanks,
                            font=getattr(w, "font_face", ""),
                            bold=int(getattr(w, "font_face", "") == "bold"),
                            italic=int(
                                getattr(w, "font_face", "") == "italic"
                            ),
                            smallcaps=int(
                                getattr(w, "font_face", "") == "smallcaps"
                            ),
                            underlined=int(
                                any(
                                    min(int(r), ur) - max(int(l), ul)
                                    > 0.5 * max(1, int(r) - int(l))
                                    and (ut + ub) / 2.0
                                    >= baseline_y - 2 * row.scale
                                    and (ut + ub) / 2.0
                                    <= int(b) + 6 * row.scale
                                    for (ul, ut, ur, ub) in u_bars
                                )
                            ),
                            mono=int(getattr(w, "mono_face", False)),
                            # printer points from the row height
                            # (kPointsPerInch conversion,
                            # ltrresultiterator.cpp:162-166)
                            pointsize=(
                                round(
                                    (row.bbox[3] - row.bbox[1]) * 72.0 / dpi
                                )
                                if font_attrs
                                else 0
                            ),
                        )
                    )
    keyed.sort(key=lambda kv: kv[0])
    if monitor is not None and not aborted:
        monitor.progress = 100  # recog_all_words end (control.cpp:453)
    return [s for _k, s in keyed], word_recs, layout
