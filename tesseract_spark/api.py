"""TessBaseAPI — the reference's programmatic surface, locally.

Port of the include/tesseract/baseapi.h contract (TessBaseAPI,
src/api/baseapi.cpp) at single-page granularity: Init / SetVariable /
SetImage / SetRectangle / Recognize / the Get*Text family / iterators.
The Spark pipeline is the scale path (pipeline.ocr_documents over a
corpus DataFrame); this facade is the drop-in for code written against
the reference API (unittest/baseapi_test.cc, apiexample_test.cc) and
is exactly what one executor task does per page — so the two surfaces
share every operator underneath.

Text renderers here mirror the DataFrame sinks' output BYTE-EXACTLY on
the default path (to_hocr / to_tsv / to_box_chars / to_unlv in
operators/sinks.py) — pinned by the api-vs-sink parity tests — so a
page rendered through the API equals the same page rendered by the
distributed job.

Parameters live in one typed dict over the registry in config.py
(``config.PARAMS``, the table the CLI reads too): SetVariable,
ReadConfigFile and Init's configs and vars all go through
``config.set_param``.  ``Init``'s ``oem`` writes
``tessedit_ocr_engine_mode`` before its configs and vars apply, so a
var of that name wins; ``oem()`` and ``Recognize`` read it back.

v1 routing notes (documented, warned where surprising):
- GetUTF8Text's spans come from the page router
  (operators.recognize.recognize, the one OEM x PSM x language
  decision the CLI shares): OEM 0/1/2 select the legacy / VGSL /
  combined engines, then the PSM selects the ProcessPage path;
- word-level surfaces (iterators, confidences, hOCR/TSV/box getters,
  component images) read the word records of the default engine's
  AUTO layout.  When the routed engine returns none, that word pass
  runs once, on the first word-level call, not in Recognize.
"""

from __future__ import annotations

import math

import numpy as np

from . import __version__
from .config import (  # noqa: F401  (OcrEngineMode, re-exported)
    CONFIGS,
    LANGS,
    OEM_DEFAULT,
    OEM_LSTM_ONLY,
    OEM_TESSERACT_LSTM_COMBINED,
    OEM_TESSERACT_ONLY,
    PARAMS,
    PSM_AUTO,
    PSM_OSD_ONLY,
    charlists_of,
    default_params,
    params_text,
    resolve_dpi,
    set_param,
)

# PageIteratorLevel (include/tesseract/publictypes.h:216-222)
RIL_BLOCK = 0
RIL_PARA = 1
RIL_TEXTLINE = 2
RIL_WORD = 3
RIL_SYMBOL = 4

# the (block, par, line, word) prefix that identifies a word's element
# at each level
_LEVEL_KEY = {
    RIL_BLOCK: lambda x: (x.block_num,),
    RIL_PARA: lambda x: (x.block_num, x.par_num),
    RIL_TEXTLINE: lambda x: (x.block_num, x.par_num, x.line_num),
    RIL_WORD: lambda x: (x.block_num, x.par_num, x.line_num, x.word_num),
}
_LEVEL_KEY[RIL_SYMBOL] = _LEVEL_KEY[RIL_WORD]


def _xml_escape(s: str) -> str:
    # HOcrEscape (baseapi.cpp:2240-2270) == sinks._xml_escape_sql order
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;").replace("'", "&apos;")
    )


def _fmt_conf(v: float) -> str:
    """Spark's ``cast(round(conf, 0) as int)``: HALF_UP then truncate."""
    return str(int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5)))


def _char_boxes(word) -> list[tuple[str, int, int, int, int]]:
    """Per-symbol boxes via the engine's own font advance model — the
    to_box_chars split (sinks.py; GetBoxText baseapi.cpp:1497-1545),
    replicated locally: (ch, l, t, r, b) top-down coordinates."""
    from .functions.fonts import KERN, get_font

    font = get_font()
    chs = list(word.text)
    if not chs:
        return []
    adv = [font[c].shape[1] if c in font else 7 for c in chs]
    total = sum(adv) + KERN * (len(chs) - 1)
    scale = word.width / max(total, 1)
    out = []
    prefix = 0
    for c, a in zip(chs, adv):
        left = int(word.left + prefix * scale)
        right = int(word.left + (prefix + a) * scale)
        out.append((c, left, word.top, right, word.top + word.height))
        prefix += a + KERN
    return out


class ResultIterator:
    """ResultIterator / PageIterator / LTRResultIterator
    (include/tesseract/resultiterator.h, pageiterator.h): a cursor over
    the recognized symbol stream with level-granular moves."""

    def __init__(self, words: list):
        # words arrive in reading order (block, par, line, word)
        self._words = sorted(words, key=_LEVEL_KEY[RIL_WORD])
        self._wi = 0
        self._si = 0

    def Begin(self) -> None:
        self._wi = 0
        self._si = 0

    def Empty(self) -> bool:
        return not self._words

    def _word(self):
        return self._words[self._wi] if self._wi < len(self._words) else None

    def Next(self, level: int) -> bool:
        """Move to the start of the next element at ``level``
        (pageiterator.cpp Next); False when exhausted."""
        w = self._word()
        if w is None:
            return False
        if level == RIL_SYMBOL:
            self._si += 1
            if self._si < len(w.text):
                return True
            self._si = 0
            self._wi += 1
            return self._wi < len(self._words)
        self._si = 0
        if level == RIL_WORD:
            self._wi += 1
            return self._wi < len(self._words)
        key = _LEVEL_KEY[level]
        cur = key(w)
        while self._wi < len(self._words) and key(self._word()) == cur:
            self._wi += 1
        return self._wi < len(self._words)

    def _span(self, level: int) -> list:
        w = self._word()
        if w is None:
            return []
        key = _LEVEL_KEY[level]
        cur = key(w)
        return [x for x in self._words if key(x) == cur]

    def GetUTF8Text(self, level: int) -> str:
        """The text of the current element (ltrresultiterator.cpp:
        GetUTF8Text): words joined by spaces, lines by newlines;
        line/para/block text carries the trailing newline(s) the
        reference appends."""
        w = self._word()
        if w is None:
            return ""
        if level == RIL_SYMBOL:
            return w.text[self._si]
        if level == RIL_WORD:
            return w.text
        span = self._span(level)
        lines: dict[tuple, list] = {}
        for x in span:
            lines.setdefault(
                (x.block_num, x.par_num, x.line_num), []).append(x)
        text = "\n".join(
            " ".join(x.text for x in ws) for _k, ws in sorted(lines.items())
        ) + "\n"
        if level in (RIL_PARA, RIL_BLOCK):
            text += "\n"
        return text

    def BoundingBox(self, level: int):
        w = self._word()
        if w is None:
            return None
        if level == RIL_SYMBOL:
            boxes = _char_boxes(w)
            _c, l, t, r, b = boxes[min(self._si, len(boxes) - 1)]
            return (l, t, r, b)
        span = self._span(level)
        return (
            min(x.left for x in span),
            min(x.top for x in span),
            max(x.left + x.width for x in span),
            max(x.top + x.height for x in span),
        )

    def Confidence(self, level: int) -> float:
        span = self._span(level)
        if not span:
            return 0.0
        return float(sum(x.conf for x in span) / len(span))

    def IsAtBeginningOf(self, level: int) -> bool:
        if self._word() is None:
            return False
        if self._si != 0:
            return False
        if self._wi == 0:
            return True
        if level == RIL_SYMBOL:
            return True
        key = _LEVEL_KEY[level]
        return key(self._words[self._wi - 1]) != key(self._word())

    def IsAtFinalElement(self, level: int, element: int) -> bool:
        """True when the current ``element`` is the last one inside the
        enclosing ``level`` span (resultiterator.cpp:IsAtFinalElement)."""
        w = self._word()
        if w is None:
            return False
        if element == RIL_SYMBOL and self._si < len(w.text) - 1:
            return False
        if self._wi + 1 >= len(self._words):
            return True
        if level not in (RIL_BLOCK, RIL_PARA, RIL_TEXTLINE):
            return True
        key = _LEVEL_KEY[level]
        return key(self._words[self._wi + 1]) != key(w)

    # ---- LTRResultIterator word accessors ----

    def WordFontAttributes(self):
        w = self._word()
        if w is None:
            return None
        return {
            "font_name": w.font or "normal",
            "bold": bool(w.bold),
            "italic": bool(w.italic),
            "underlined": bool(w.underlined),
            "monospace": bool(w.mono),
            "smallcaps": bool(w.smallcaps),
            "pointsize": int(w.pointsize),
        }

    def WordIsFromDictionary(self) -> bool:
        w = self._word()
        return w is not None and w.permuter in (
            "system_dawg", "user_dawg", "doc_dawg", "freq_dawg")

    def WordRecognitionLanguage(self) -> str:
        return "eng"

    def SymbolChoices(self):
        """The ChoiceIterator surface (ltrresultiterator.cpp:368-490):
        (ch, conf) alternatives for the current symbol."""
        w = self._word()
        if w is None or not w.choices:
            return []
        if self._si >= len(w.choices):
            return []
        return list(w.choices[self._si])


class TessBaseAPI:
    """The reference's central API object (baseapi.h:96)."""

    def __init__(self):
        self._params = default_params()
        self._lang = None
        self._image = None
        self._dpi = 300
        self._rect = None
        self._input_name = ""
        self._spans = None
        self._words = None
        self._word_pass = None  # the deferred word pass of Recognize
        self._layout = None
        self._user_words = None
        self._user_dawg = None  # built lazily, invalidated by SetUserWords
        self._datapath = None
        self._adapted = None  # AdaptToWordStr-taught templates
        self._analysed_layout = None

    # ---- lifecycle ----

    @staticmethod
    def Version() -> str:
        return __version__

    def Init(self, datapath=None, lang="eng", oem=OEM_DEFAULT,
             configs=None, vars_vec=None, vars_values=None) -> int:
        """0 on success, -1 on failure (unknown language/engine).  The
        engine loads lazily at Recognize — config-only init
        (tessedit_init_config_only, baseapi_test InitConfigOnlyTest) is
        the natural fast path here.  ``oem`` is written to
        tessedit_ocr_engine_mode first, so configs and vars may
        override it."""
        lang = lang or "eng"
        for part in lang.split("+"):
            if part not in LANGS and part != "osd":
                return -1
        if not set_param(self._params, "tessedit_ocr_engine_mode", oem):
            return -1
        self._lang = lang
        self._datapath = datapath
        for name in configs or []:
            for k, v in CONFIGS.get(name, {}).items():
                self.SetVariable(k, v)
        for k, v in zip(vars_vec or [], vars_values or []):
            self.SetVariable(k, v)
        return 0

    def End(self) -> None:
        self.Clear()
        self._lang = None

    def Clear(self) -> None:
        self._image = None
        self._rect = None
        self._spans = self._words = self._layout = None

    def ClearAdaptiveClassifier(self) -> None:
        self._words = self._spans = None
        self._adapted = None

    def GetInitLanguagesAsString(self) -> str:
        return self._lang or ""

    def oem(self) -> int:
        return int(self._params["tessedit_ocr_engine_mode"])

    # ---- variables (SetVariable baseapi.cpp:211-266) ----

    def SetVariable(self, name: str, value: str) -> bool:
        return set_param(self._params, name, value)

    def _get(self, name: str, kind: str):
        """The typed value, or None for an unknown name or another kind."""
        spec = PARAMS.get(name)
        return self._params[name] if spec and spec[0] == kind else None

    def GetIntVariable(self, name: str):
        return self._get(name, "i")

    def GetBoolVariable(self, name: str):
        return self._get(name, "b")

    def GetDoubleVariable(self, name: str):
        return self._get(name, "d")

    def GetStringVariable(self, name: str):
        return self._get(name, "s")

    def PrintVariables(self) -> str:
        return params_text(self._params)

    # ---- page setup ----

    def SetPageSegMode(self, psm: int) -> None:
        self._params["tessedit_pageseg_mode"] = int(psm)

    def GetPageSegMode(self) -> int:
        return int(self._params["tessedit_pageseg_mode"])

    def SetInputName(self, name: str) -> None:
        self._input_name = name

    def GetInputName(self) -> str:
        return self._input_name

    def SetImage(self, image) -> None:
        """A gray ndarray (0-255, ink dark) or PNG/JPEG/TIFF bytes
        (content-sniffed, baseapi.cpp:1033-1194; first page of a
        multipage container)."""
        if isinstance(image, (bytes, bytearray)):
            from .functions.image_codecs import decode_gray_image

            image = decode_gray_image(bytes(image))
        self._image = np.asarray(image)
        self._spans = self._words = self._layout = None

    def SetSourceResolution(self, ppi: int) -> None:
        self._dpi = int(ppi)

    def SetRectangle(self, left: int, top: int, width: int, height: int):
        self._rect = (left, top, width, height)
        self._spans = self._words = self._layout = None

    def _page_image(self):
        img = self._image
        if img is None:
            raise RuntimeError("SetImage was not called")
        if self._rect is not None:
            l, t, w, h = self._rect
            img = img[t : t + h, l : l + w]
        return img

    def _dpi_now(self) -> int:
        return resolve_dpi(self._params, self._dpi)

    # ---- recognition ----

    def Recognize(self, monitor=None) -> int:
        """0 on success (baseapi.cpp:Recognize).  Spans come from the
        page router (operators.recognize.recognize: OEM engine, then the
        PSM dispatch).  When the routed engine returns no word records,
        the default engine's AUTO word pass is deferred to the first
        word-level getter (v1 note in the module doc)."""
        from .operators.multilang import page_packs
        from .operators.recognize import recognize

        gray = self._page_image()
        dpi = self._dpi_now()
        psm = self.GetPageSegMode()
        route = dict(
            dawg=self._get_user_dawg(),
            packs=page_packs(self._lang, dict_words=self._user_words),
            charlists=charlists_of(self._params), want_choices=True,
            font_attrs=bool(self._params["hocr_font_info"]),
            carry_adapted=self._adapted,  # AdaptToWordStr-taught
        )
        spans, words, layout = recognize(
            gray, dpi, oem=self.oem(), psm=psm, monitor=monitor, **route)
        if words is None and psm == PSM_OSD_ONLY:
            words = []
        self._word_pass = None if words is not None else (
            lambda: recognize(
                gray, dpi, oem=OEM_DEFAULT, psm=PSM_AUTO, **route)[1])
        self._spans, self._words, self._layout = spans, words, layout
        return 0

    def _ensure(self):
        if self._spans is None:
            self.Recognize()

    def _page_words(self) -> list:
        """The page's word records, running the deferred word pass of
        Recognize on the first call."""
        self._ensure()
        if self._words is None:
            self._words = self._word_pass()
        return self._words

    def _span_texts(self) -> list[str]:
        return [s.text for s in self._spans if s.kind in ("text", "osd")]

    # ---- text getters ----

    def GetUTF8Text(self) -> str:
        self._ensure()
        return "\n\n".join(self._span_texts()) + "\n"

    def GetOsdText(self, page_number: int = 0) -> str:
        from .operators.osd import get_osd_text

        return get_osd_text(self._page_image(), page_number=page_number)

    def DetectOS(self) -> dict:
        """DetectOS (baseapi.cpp:2000-2030): orientation + script vote."""
        from .operators.osd import detect_orientation, detect_script

        gray = self._page_image()
        rot, scores = detect_orientation(gray)
        script, sconf = detect_script(gray, rot=rot)
        ranked = sorted(scores.values(), reverse=True)
        oconf = (ranked[0] - ranked[1]) if len(ranked) > 1 else ranked[0]
        return {
            "orientation": rot,
            "oconfidence": float(oconf),
            "script": script,
            "sconfidence": float(sconf),
        }

    def MeanTextConf(self) -> int:
        confs = self.AllWordConfidences()
        return int(sum(confs) / len(confs)) if confs else 0

    def AllWordConfidences(self) -> list[int]:
        return [int(math.floor(w.conf + 0.5)) for w in self._page_words()]

    def GetIterator(self) -> ResultIterator:
        return ResultIterator(self._page_words())

    def GetThresholdedImage(self) -> np.ndarray:
        from .functions.image_ops import binarize_otsu

        return binarize_otsu(self._page_image())

    def GetComponentImages(self, level: int, text_only: bool = True):
        """(bbox, crop) per component at the RIL level — the
        GetComponentImages/GetRegions/GetTextlines/GetWords family
        (baseapi.h:350-426).  Runs from the word records (works even if
        only layout ran — IteratesParagraphsEvenIfNotDetected)."""
        words = self._page_words()
        gray = self._page_image()
        if level == RIL_SYMBOL:
            # per-symbol components via the engine's advance-model char
            # split (the GetBoxText geometry) — every PageIteratorLevel
            # the reference API accepts is valid here
            out = []
            for w in words:
                for _c, l, t, r, b in _char_boxes(w):
                    out.append(((l, t, r, b), gray[t:b, l:r]))
            return out
        groups: dict[tuple, list] = {}
        key = _LEVEL_KEY[level]
        for w in words:
            groups.setdefault(key(w), []).append(w)
        out = []
        for _k, ws in sorted(groups.items()):
            l = min(w.left for w in ws)
            t = min(w.top for w in ws)
            r = max(w.left + w.width for w in ws)
            b = max(w.top + w.height for w in ws)
            out.append(((l, t, r, b), gray[t:b, l:r]))
        return out

    def GetRegions(self):
        return self.GetComponentImages(RIL_BLOCK)

    def GetTextlines(self):
        return self.GetComponentImages(RIL_TEXTLINE)

    def GetWords(self):
        return self.GetComponentImages(RIL_WORD)

    def _get_user_dawg(self):
        """The user-words Dawg, built once per SetUserWords (the typical
        IsValidWord probe loop and multi-page Recognize sessions must
        not pay Dawg construction per call)."""
        if not self._user_words:
            return None
        if self._user_dawg is None:
            from .lstm.dawg import Dawg
            from .lstm.templates import get_net

            self._user_dawg = Dawg(
                get_net().charset, list(self._user_words)
            )
        return self._user_dawg

    def IsValidWord(self, word: str) -> int:
        """Dictionary probe (baseapi.cpp:2139; Dict::valid_word).  Uses
        the user-words DAWG when configured; 0 = not a word."""
        dawg = self._get_user_dawg()
        if dawg is None:
            return 0
        return 1 if dawg.accepts(word) else 0

    def SetUserWords(self, words: list[str]) -> None:
        """--user-words analogue for programmatic callers."""
        self._user_words = list(words)
        self._user_dawg = None
        self._spans = self._words = None

    # ---- renderer-parity getters ----

    def _sorted_words(self):
        return sorted(self._page_words(), key=_LEVEL_KEY[RIL_WORD])

    def GetHOCRText(self, page_number: int = 0) -> str:
        """Byte-parity with sinks.to_hocr on the default path (no font
        info, lstm_choice_mode 0) — pinned by test_api parity."""
        lines = self._lines()

        from .operators.bidi import _RTL_RANGES

        def is_rtl(text: str) -> bool:
            return any(
                any(lo <= ord(c) <= hi for lo, hi in _RTL_RANGES)
                for c in text
            )

        line_html: dict[tuple, str] = {}
        line_rtl: dict[tuple, tuple] = {}
        for k, ws in lines.items():
            l = min(w.left for w in ws)
            t = min(w.top for w in ws)
            r = max(w.left + w.width for w in ws)
            b = max(w.top + w.height for w in ws)
            baseline = max(w.baseline if w.baseline else (w.top + w.height)
                           for w in ws)
            word_html = " ".join(
                '<span class="ocrx_word" title="bbox %d %d %d %d;'
                " x_wconf %s\">%s</span>"
                % (w.left, w.top, w.left + w.width, w.top + w.height,
                   _fmt_conf(w.conf), _xml_escape(w.text))
                for w in sorted(ws, key=lambda x: x.word_num)
            )
            line_html[k] = (
                '   <span class="ocr_line" title="bbox %d %d %d %d;'
                " baseline 0 %d\">%s</span>"
                % (l, t, r, b, baseline - b, word_html)
            )
            line_rtl[k] = (sum(1 for w in ws if is_rtl(w.text)), len(ws))
        paras: dict[tuple, list] = {}
        for k in sorted(line_html):
            paras.setdefault((k[0], k[1]), []).append(k)
        para_html: dict[tuple, str] = {}
        for pk, ks in paras.items():
            n_rtl = sum(line_rtl[k][0] for k in ks)
            n_w = sum(line_rtl[k][1] for k in ks)
            dir_attr = " dir='rtl'" if n_rtl * 2 > n_w else ""
            para_html[pk] = (
                '  <p class="ocr_par"%s>\n%s\n  </p>'
                % (dir_attr, "\n".join(line_html[k] for k in ks))
            )
        blocks: dict[int, list] = {}
        for pk in sorted(para_html):
            blocks.setdefault(pk[0], []).append(pk)
        block_html = [
            ' <div class="ocr_carea">\n%s\n </div>'
            % "\n".join(para_html[pk] for pk in pks)
            for _bk, pks in sorted(blocks.items())
        ]
        return '<div class="ocr_page">\n%s\n</div>' % "\n".join(block_html)

    def GetTSVText(self, page_number: int = 0) -> str:
        """The to_tsv 12-column roll-up (GetTSVText baseapi.cpp:
        1353-1496), field-parity with the sink."""
        ws = self._sorted_words()
        rows = []

        def bbox(group):
            l = min(w.left for w in group)
            t = min(w.top for w in group)
            return (l, t, max(w.left + w.width for w in group) - l,
                    max(w.top + w.height for w in group) - t)

        def emit(level, bn, pn, ln, wn, box, conf, text):
            rows.append(
                ((bn, pn, ln, wn, level),
                 "\t".join(map(str, (level, 1, bn, pn, ln, wn, *box, conf,
                                     text)))))

        if ws:
            emit(1, 0, 0, 0, 0, bbox(ws), -1.0, "")
        seen: dict[tuple, list] = {}
        for w in ws:
            seen.setdefault((w.block_num,), []).append(w)
        for (bn,), g in sorted(seen.items()):
            emit(2, bn, 0, 0, 0, bbox(g), -1.0, "")
        seen = {}
        for w in ws:
            seen.setdefault((w.block_num, w.par_num), []).append(w)
        for (bn, pn), g in sorted(seen.items()):
            emit(3, bn, pn, 0, 0, bbox(g), -1.0, "")
        seen = {}
        for w in ws:
            seen.setdefault((w.block_num, w.par_num, w.line_num), []).append(w)
        for (bn, pn, ln), g in sorted(seen.items()):
            emit(4, bn, pn, ln, 0, bbox(g), -1.0, "")
        for w in ws:
            emit(5, w.block_num, w.par_num, w.line_num, w.word_num,
                 (w.left, w.top, w.width, w.height), w.conf, w.text)
        rows.sort(key=lambda kv: kv[0])
        return "\n".join(line for _k, line in rows)

    def GetBoxText(self, page_number: int = 0) -> str:
        """GetBoxText (baseapi.cpp:1497-1545): char boxes bottom-up."""
        h = self._page_image().shape[0]
        out = []
        for w in self._sorted_words():
            for c, l, t, r, b in _char_boxes(w):
                out.append(f"{c} {l} {h - b} {r} {h - t} {page_number}")
        return "\n".join(out)

    def GetAltoText(self, page_number: int = 0) -> str:
        """ALTO XML (altorenderer.cpp) — byte-parity with
        sinks.to_alto, pinned by test_api."""
        lines = self._lines()
        line_xml: dict[tuple, str] = {}
        for k, ws in lines.items():
            words = "".join(
                '<String HPOS="%d" VPOS="%d" WIDTH="%d" HEIGHT="%d"'
                ' CONTENT="%s"/>'
                % (w.left, w.top, w.width, w.height, _xml_escape(w.text))
                for w in sorted(ws, key=lambda x: x.word_num)
            )
            line_xml[k] = "  <TextLine>%s</TextLine>" % words
        blocks: dict[int, list] = {}
        for k in sorted(line_xml):
            blocks.setdefault(k[0], []).append(k)
        block_xml = [
            " <TextBlock>\n%s\n </TextBlock>"
            % "\n".join(line_xml[k] for k in ks)
            for _b, ks in sorted(blocks.items())
        ]
        return "<alto><Layout><Page>\n%s\n</Page></Layout></alto>" % "\n".join(
            block_xml)

    def GetPAGEText(self, page_number: int = 0) -> str:
        """PRImA PAGE XML (pagerenderer.cpp:628-710) — byte-parity with
        sinks.to_page_xml; every call emits one balanced <Page> element
        (PAGEXMLMultiPageClosingTags, baseapi_test.cc:399)."""
        lines = self._lines()
        line_xml: dict[tuple, str] = {}
        for k, ws in lines.items():
            l = min(w.left for w in ws)
            t = min(w.top for w in ws)
            r = max(w.left + w.width for w in ws)
            b = max(w.top + w.height for w in ws)
            words = "".join(
                '<Word><Coords points="%d,%d %d,%d"/><TextEquiv><Unicode>'
                "%s</Unicode></TextEquiv></Word>"
                % (w.left, w.top, w.left + w.width, w.top + w.height,
                   _xml_escape(w.text))
                for w in sorted(ws, key=lambda x: x.word_num)
            )
            line_xml[k] = (
                '   <TextLine><Coords points="%d,%d %d,%d %d,%d %d,%d"/>'
                "%s</TextLine>" % (l, t, r, t, r, b, l, b, words)
            )
        regions: dict[int, list] = {}
        for k in sorted(line_xml):
            regions.setdefault(k[0], []).append(k)
        region_xml = [
            '  <TextRegion id="r%d">\n%s\n  </TextRegion>'
            % (bn, "\n".join(line_xml[k] for k in ks))
            for bn, ks in sorted(regions.items())
        ]
        order = "".join(
            '<RegionRefIndexed index="%d" regionRef="r%d"/>' % (bn - 1, bn)
            for bn in sorted(regions)
        )
        return (
            "<PcGts><Page>\n <ReadingOrder>%s</ReadingOrder>\n%s\n"
            "</Page></PcGts>" % (order, "\n".join(region_xml))
        )

    def GetWordStrBoxText(self, page_number: int = 0) -> str:
        """WordStr box format (wordstrboxrenderer.cpp:32-86): one
        line-level record per textline ('WordStr' marker + '#' + the
        word list with a trailing space per word, :65-71), each line
        closed by the tab EOL record
        '\\t right+1 bottom right+5 top page' (:50-56, :76-83),
        bottom-up y — byte-parity with the reference renderer,
        including its quirk of skipping the final tab record when any
        raw coordinate of the last line is 0 (:76)."""
        h = self._page_image().shape[0]
        out = []
        l = t = r = b = 0
        for _k, ws in sorted(self._lines().items()):
            if out:  # EOL record for the previous line (:50-56)
                out.append(
                    f"\n\t {r + 1} {h - b} {r + 5} {h - t} {page_number}\n")
            l = min(w.left for w in ws)
            t = min(w.top for w in ws)
            r = max(w.left + w.width for w in ws)
            b = max(w.top + w.height for w in ws)
            text = "".join(
                w.text + " " for w in sorted(ws, key=lambda x: x.word_num))
            out.append(
                f"WordStr {l} {h - b} {r} {h - t} {page_number} #{text}")
        if l != 0 and t != 0 and r != 0 and b != 0:  # final guard (:76)
            out.append(
                f"\n\t {r + 1} {h - b} {r + 5} {h - t} {page_number}\n")
        return "".join(out)

    def GetLSTMBoxText(self, page_number: int = 0) -> str:
        """LSTM-training box format (lstmboxrenderer.cpp:39-90): one
        record per SYMBOL carrying its whole textline's box (bottom-up,
        right+5 pad), space records between words, tab record per line
        — byte-parity with sinks.to_lstm_box."""
        h = self._page_image().shape[0]
        out = []
        for _k, ws in sorted(self._lines().items()):
            # empty-text words are excluded exactly like the sink's
            # length filter (they would emit bare space records and
            # stretch the shared line box)
            ws = [w for w in ws if w.text]
            if not ws:
                continue
            l = min(w.left for w in ws)
            t = min(w.top for w in ws)
            r = max(w.left + w.width for w in ws)
            b = max(w.top + w.height for w in ws)
            box = f" {l} {h - b} {r + 5} {h - t} {page_number}"
            text = " ".join(w.text for w in sorted(ws, key=lambda x: x.word_num))
            for ch in text:
                out.append(ch + box)
            out.append("\t" + box)
        return "\n".join(out)

    def _lines(self) -> dict:
        lines: dict[tuple, list] = {}
        for w in self._sorted_words():
            lines.setdefault(
                (w.block_num, w.par_num, w.line_num), []).append(w)
        return lines

    def AnalyseLayout(self, merge_similar_words: bool = False):
        """AnalyseLayout (baseapi.cpp:805-830): page segmentation only —
        a PageIterator over the found textline/word boxes with NO
        recognized text (GetUTF8Text on it returns empty words)."""
        from .operators.page import analyze_page
        from .operators.recognize import WordRec

        gray = self._page_image()
        layout = analyze_page(gray, self._dpi_now())
        words = []
        for bi, region in enumerate(layout.regions):
            if region.kind != "text":
                continue
            for li, row in enumerate(region.rows):
                boxes = row.word_boxes or [row.bbox]
                for wi, (l, t, r, b) in enumerate(boxes):
                    words.append(WordRec(
                        block_num=bi + 1, par_num=1, line_num=li + 1,
                        word_num=wi + 1, left=int(l), top=int(t),
                        width=int(r - l), height=int(b - t), conf=0.0,
                        text="", baseline=int(row.baseline_y)))
        if not words:
            return None
        self._analysed_layout = layout
        return ResultIterator(words)

    def GetTextDirection(self):
        """GetTextDirection (baseapi.cpp:1894-1925): (offset, slope) of
        the first textline's baseline in IMAGE coords, the line shifted
        down to pass through the textline box's bottom corner.  The
        slope is the page's estimated skew (layout rows are stored
        deskewed, so the per-row baseline is flat by construction; the
        skew estimate carries the image-frame angle the reference reads
        off its Baseline endpoints).  None when no textline is found."""
        it = self.AnalyseLayout()
        if it is None:
            return None
        layout = self._analysed_layout
        first = None
        for region in layout.regions:
            if region.kind == "text" and region.rows:
                first = region.rows[0]
                break
        if first is None:
            return None
        slope = float(layout.skew)
        offset = float(first.baseline_y)
        # shift down through the nearest bottom corner of the line box
        left, _t, right, bottom = first.bbox
        left_y = slope * left + offset
        right_y = slope * right + offset
        offset += bottom - max(left_y, right_y)
        return int(offset), slope

    def GetBlockTextOrientations(self):
        """GetBlockTextOrientations (baseapi.cpp:2148-2188): per text
        block, (rotations-needed-to-upright in 90deg steps, is vertical
        writing).  The facade's word surface always runs the horizontal
        recognition path, whose blocks are upright by construction —
        (0, False) each, matching the reference's re_rotation/
        classify_rotation arithmetic for that case.  (Vertical pages
        are the pipeline's recognize_page_auto path, which reports
        flow per span, not through this facade call.)"""
        blocks = sorted({w.block_num for w in self._page_words()})
        return [(0, False) for _ in blocks]

    def DetectOrientationScript(self):
        """DetectOrientationScript (baseapi.cpp:2037-2070): returns
        (orient_deg, orient_conf, script_name, script_conf) or None."""
        osd = self.DetectOS()
        return (
            int(osd["orientation"]),
            float(osd["oconfidence"]),
            str(osd["script"]),
            float(osd["sconfidence"]),
        )

    def ReadConfigFile(self, filename: str) -> None:
        """ReadConfigFile (baseapi.cpp:225-233): 'name value' lines into
        SetVariable; '#' comments and blank lines skipped (params.cpp
        ReadParamsFile)."""
        with open(filename, "r", encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith("#"):
                    continue
                parts = line.split(None, 1)
                if len(parts) == 2:
                    self.SetVariable(parts[0], parts[1])

    def GetDatapath(self) -> str:
        return self._datapath or ""

    def AdaptToWordStr(self, mode: int, wordstr: str) -> bool:
        """AdaptToWordStr (baseapi.cpp:1640-1700): recognize the set
        region under the given PSM with learning, using wordstr as the
        truth; on a non-space-insensitive-match, re-align the truth to
        the ink (the SetupApplyBoxes fallback) and adapt glyph templates
        to it.  Adapted templates persist on this API object and feed
        later Recognize calls (the classifier's adapted half)."""
        from .functions.image_ops import binarize_otsu, label_and_stats
        from .lstm.adaptive import AdaptiveTemplates
        from .lstm.templates import get_net

        current_psm = self.GetPageSegMode()
        self.SetPageSegMode(mode)
        try:
            self.Recognize()
            text = self.GetUTF8Text()
        finally:
            self.SetPageSegMode(current_psm)
        truth = "".join(c for c in wordstr if c != " ")
        if not text or not truth:
            return False
        net = get_net()
        if self._adapted is None:
            self._adapted = AdaptiveTemplates()
        # Align truth chars to ink components in READING order (the
        # applybox fallback at fixture granularity: one CC per glyph):
        # transitive y-band line clustering, lines top-down, glyphs
        # left-to-right within each line — x-only ordering would
        # interleave lines and poison the templates.
        from .operators.page import _cluster_rows

        gray = self._page_image()
        ink = binarize_otsu(gray)
        _labels, n, stats = label_and_stats(ink)
        if n < len(truth):
            return False
        groups = _cluster_rows(stats[:n])
        groups.sort(key=lambda g: float(stats[g, 1].min()))
        order = [int(i) for g in groups
                 for i in sorted(g, key=lambda j: int(stats[j, 0]))]
        order = order[: len(truth)]
        learned = 0
        for ch, i in zip(truth, order):
            if ch not in net.charset:
                continue
            code = net.charset.index(ch)
            l, t, r, b = (int(v) for v in stats[i, :4])
            self._adapted.learn(code, ink[t:b, l:r])
            learned += 1
        # Invalidate the recognition cache: the next Recognize/getter
        # must run WITH the newly adapted templates.
        self._spans = self._words = self._layout = None
        # The reference returns success of the recognition+alignment,
        # not of the text match (a mismatch is exactly when adaptation
        # helps); alignment succeeding for every known truth char =
        # success.
        known = sum(1 for c in truth if c in net.charset)
        return known > 0 and learned == known

    def ProcessPages(self, pages, renderer=None):
        """ProcessPages (baseapi.cpp:1080-1180) over in-memory pages:
        each page is a grayscale array or PNG/JPEG/TIFF bytes (SetImage
        sniffs the format); Recognize runs per page and the text
        renderer accumulates with form-feed page separators
        (TessTextRenderer semantics).  ``renderer``: optional
        callable(page_index, api) -> str overriding the text rendering.
        Returns the document string."""
        out = []
        for i, page in enumerate(pages):
            self.SetImage(page)
            self.Recognize()
            out.append(renderer(i, self) if renderer else self.GetUTF8Text())
        return "\f".join(out)

    def GetUNLVText(self) -> str:
        """GetUNLVText (baseapi.cpp:1546-1625): '~' crunched rejects,
        '^' suspects — the to_unlv word-level confidence marks."""
        from .operators.sinks import K_REJECT_CONF, K_SUSPECT_CONF

        lines = self._lines()
        out = []
        for _k, ws in sorted(lines.items()):
            marked = []
            for w in ws:
                if w.conf < K_REJECT_CONF:
                    marked.append("~")
                elif w.conf < K_SUSPECT_CONF:
                    marked.append("^" + w.text)
                else:
                    marked.append(w.text)
            out.append(" ".join(marked))
        return "\n".join(out)
