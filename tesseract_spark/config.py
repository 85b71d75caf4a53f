"""Engine configuration — the reference's runtime params surface.

``PARAMS`` is the one typed parameter registry (a subset of
src/ccutil/params.h).  TessBaseAPI and the CLI each hold a
``default_params`` dict written by ``set_param`` (SetVariable,
src/api/baseapi.cpp:211); ``charlists_of`` and ``resolve_dpi`` turn it
into the pipeline's keyword arguments.
"""

from __future__ import annotations

# DPI credibility window (kMinCredibleResolution / kMaxCredibleResolution,
# src/api/baseapi.cpp:2004-2020)
MIN_CREDIBLE_DPI = 70
MAX_CREDIBLE_DPI = 2400
DEFAULT_DPI = 300

# page segmentation modes (include/tesseract/publictypes.h:157-177)
PSM_OSD_ONLY = 0
PSM_AUTO_OSD = 1
PSM_AUTO = 3
PSM_SINGLE_COLUMN = 4
PSM_SINGLE_BLOCK = 6
PSM_SINGLE_LINE = 7
PSM_SINGLE_WORD = 8
PSM_CIRCLE_WORD = 9
PSM_SPARSE_TEXT = 11
PSM_RAW_LINE = 13
PSM_COUNT = 14

# OcrEngineMode (include/tesseract/publictypes.h:265-280)
OEM_TESSERACT_ONLY = 0
OEM_LSTM_ONLY = 1
OEM_TESSERACT_LSTM_COMBINED = 2
OEM_DEFAULT = 3
OEM_COUNT = 4

# the enum params take 0 <= value < count (checkArgValues,
# src/tesseract.cpp:297-313)
_ENUM_COUNT = {
    "tessedit_pageseg_mode": PSM_COUNT,
    "tessedit_ocr_engine_mode": OEM_COUNT,
}


def clamp_dpi(dpi: int | None) -> int:
    """Clamp a claimed resolution to the credible range
    (baseapi.cpp:2004-2020); missing/absurd values fall back to 300."""
    if dpi is None or dpi <= 0:
        return DEFAULT_DPI
    return max(MIN_CREDIBLE_DPI, min(MAX_CREDIBLE_DPI, int(dpi)))


# name -> (kind, default); kind is i(nt), b(ool), d(ouble) or s(tring).
# Every name changes behavior on the API or the CLI, but four whose only
# behavior is the baseapi_test.cc Set/Get round trip.
PARAMS: dict[str, tuple[str, object]] = {
    "tessedit_pageseg_mode": ("i", PSM_AUTO),
    "tessedit_ocr_engine_mode": ("i", OEM_DEFAULT),
    "tessedit_ambigs_training": ("b", False),
    "tessedit_init_config_only": ("b", False),
    # character recognition restriction lists (SetBlackAndWhitelist,
    # src/ccmain/tesseractclass.cpp:531-553)
    "tessedit_char_whitelist": ("s", ""),
    "tessedit_char_blacklist": ("s", ""),
    "tessedit_char_unblacklist": ("s", ""),
    "segment_penalty_dict_frequent_word": ("d", 1.0),
    "preserve_interword_spaces": ("b", False),
    "user_defined_dpi": ("i", 0),  # 0 = honor the image's dpi
    "hocr_font_info": ("b", False),
    "lstm_choice_mode": ("i", 0),
    "unlv_tilde_crunching": ("b", False),
    "textonly_pdf": ("b", False),
    "tessedit_create_txt": ("b", False),
    "tessedit_create_hocr": ("b", False),
    "tessedit_create_alto": ("b", False),
    "tessedit_create_page_xml": ("b", False),
    "tessedit_create_tsv": ("b", False),
    "tessedit_create_pdf": ("b", False),
    "tessedit_write_unlv": ("b", False),
    "tessedit_create_boxfile": ("b", False),
    "tessedit_create_lstmbox": ("b", False),
    "tessedit_create_wordstrbox": ("b", False),
}

# bool spellings ParamUtils::SetParam accepts
_TRUE_STRINGS = {"1", "t", "true", "yes"}
_FALSE_STRINGS = {"0", "f", "false", "no"}

# tessdata/configs/* analogues: each config file is a param assignment
# list; the renderer configs set one tessedit_create_* each
# (tessdata/configs/{txt,hocr,tsv,alto,page,pdf,unlv,makebox,lstmbox,
# wordstrbox,digits,quiet}).
CONFIGS: dict[str, dict[str, str]] = {
    "txt": {"tessedit_create_txt": "1"},
    "hocr": {"tessedit_create_hocr": "1", "hocr_font_info": "0"},
    "tsv": {"tessedit_create_tsv": "1"},
    "alto": {"tessedit_create_alto": "1"},
    "page": {"tessedit_create_page_xml": "1"},
    "pdf": {"tessedit_create_pdf": "1"},
    "unlv": {"tessedit_write_unlv": "1", "unlv_tilde_crunching": "T"},
    "makebox": {"tessedit_create_boxfile": "1"},
    "lstmbox": {"tessedit_create_lstmbox": "1"},
    "wordstrbox": {"tessedit_create_wordstrbox": "1"},
    "digits": {"tessedit_char_whitelist": "0123456789-."},
    "quiet": {},  # nothing to silence
}

LANGS = ("deva", "eng", "equ", "heb")  # the built-in packs (multilang)


def default_params() -> dict[str, object]:
    """A fresh typed params dict holding every registry default."""
    return {name: default for name, (_kind, default) in PARAMS.items()}


def set_param(params: dict, name: str, value) -> bool:
    """SetVariable (baseapi.cpp:211-266): parse ``value`` by the kind
    of ``name`` into ``params``; False for an unknown name or an
    unparsable value or an enum value out of range."""
    spec = PARAMS.get(name)
    if spec is None:
        return False
    kind, _default = spec
    s = str(value)
    try:
        if kind == "i":
            v = int(s, 10)
            if name in _ENUM_COUNT and not 0 <= v < _ENUM_COUNT[name]:
                return False
            params[name] = v
        elif kind == "d":
            params[name] = float(s)
        elif kind == "b":
            low = s.strip().lower()
            if low not in _TRUE_STRINGS | _FALSE_STRINGS:
                return False
            params[name] = low in _TRUE_STRINGS
        else:
            params[name] = s
    except ValueError:
        return False
    return True


def params_text(params) -> str:
    """PrintVariables: one ``name<TAB>value`` line per registry name."""
    return "\n".join(f"{name}\t{params[name]}" for name in PARAMS)


def resolve_dpi(params, image_dpi: int | None) -> int:
    """The page DPI: ``user_defined_dpi`` when set, else the image's
    claimed resolution, clamped to the credible range."""
    return clamp_dpi(params["user_defined_dpi"] or image_dpi)


def charlists_of(params) -> tuple[str, str, str] | None:
    """The (blacklist, whitelist, unblacklist) triple of a mapping of
    ``tessedit_char_*`` params, or None when no restriction is
    configured (the all-enabled fast path)."""
    triple = tuple(
        params.get(f"tessedit_char_{k}", "")
        for k in ("blacklist", "whitelist", "unblacklist")
    )
    return triple if any(triple) else None


def charlist_disabled(
    charset: str,
    blacklist: str = "",
    whitelist: str = "",
    unblacklist: str = "",
) -> tuple[int, ...]:
    """``UNICHARSET::set_black_and_whitelist`` (src/ccutil/unicharset.cpp:
    1004-1041) as a pure function over a charset string: returns the
    DISABLED class indices.  An empty whitelist enables everything (minus
    any blacklist); a blacklist disables; an unblacklist re-enables.
    Characters outside the charset are ignored (the reference's
    encode_string drops INVALID_UNICHAR_ID entries).

    Divergence note: this engine derives inter-word space from layout
    geometry (the gap model in templates.forward), not from a learned
    classifier emission, so a whitelist never disables the space class —
    spacing is owned by layout, the legacy-engine semantics
    (adaptmatch.cpp:1133 / intmatcher.cpp:244 filter shape classes only).
    An explicit blacklist containing ' ' still disables it.
    """
    def_enabled = not whitelist
    enabled = [def_enabled] * len(charset)

    def _set(chars: str, value: bool) -> None:
        for ch in chars:
            i = charset.find(ch)
            if i >= 0:
                enabled[i] = value

    if whitelist:
        _set(whitelist, True)
        sp = charset.find(" ")
        if sp >= 0:
            enabled[sp] = True  # structural space: layout-owned
    _set(blacklist, False)
    _set(unblacklist, True)
    return tuple(i for i, e in enumerate(enabled) if not e)
