"""Engine configuration — the reference's runtime params surface.

Mirrors the behavior-relevant subset of the ~600 named params
(src/ccutil/params.h; ``SetVariable`` src/api/baseapi.cpp:211) as a frozen
dataclass that is broadcast once per job.  Param names follow the
reference's where a direct counterpart exists.
"""

from __future__ import annotations

from dataclasses import dataclass, field

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

# OcrEngineMode (include/tesseract/publictypes.h:265-280)
OEM_TESSERACT_ONLY = 0
OEM_LSTM_ONLY = 1
OEM_TESSERACT_LSTM_COMBINED = 2
OEM_DEFAULT = 3


def clamp_dpi(dpi: int | None) -> int:
    """Clamp a claimed resolution to the credible range
    (baseapi.cpp:2004-2020); missing/absurd values fall back to 300."""
    if dpi is None or dpi <= 0:
        return DEFAULT_DPI
    return max(MIN_CREDIBLE_DPI, min(MAX_CREDIBLE_DPI, int(dpi)))


@dataclass(frozen=True)
class EngineConfig:
    """Broadcastable job config (the params.h subset we honor)."""

    tessedit_pageseg_mode: int = PSM_AUTO
    user_defined_dpi: int = 0  # 0 = honor per-row dpi, else override
    user_words: tuple[str, ...] = field(default=())  # extra DAWG words
    # character recognition restriction lists (SetBlackAndWhitelist,
    # src/ccmain/tesseractclass.cpp:531-553)
    tessedit_char_whitelist: str = ""
    tessedit_char_blacklist: str = ""
    tessedit_char_unblacklist: str = ""

    def resolve_dpi(self, row_dpi: int | None) -> int:
        if self.user_defined_dpi:
            return clamp_dpi(self.user_defined_dpi)
        return clamp_dpi(row_dpi)

    def charlists(self) -> tuple[str, str, str] | None:
        return charlists_of(vars(self))


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
