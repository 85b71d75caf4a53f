"""Fixed-pitch chopping (fpchop.cpp:72-220): lattice cuts through fused
monospace glyphs that the seam chopper cannot separate (no thin seam)."""

import numpy as np

from tesseract_spark.functions.fonts import CELL_H, get_font
from tesseract_spark.operators.legacy import decode_strip_legacy
from tesseract_spark.operators.pitch import detect_pitch, fixed_pitch_cuts


def _mono(chars: str, pitch: int) -> np.ndarray:
    """Monospace strip: each glyph left-aligned in a pitch-wide cell.
    The fixture glyphs are flush both sides, so pitch == glyph width
    fuses neighbours into one run — the fpchop input shape."""
    font = get_font()
    cells = []
    for ch in chars:
        g = font[ch]
        cell = np.zeros((CELL_H, pitch), dtype=bool)
        w = min(g.shape[1], pitch)
        cell[:, :w] = g[:, :w]
        cells.append(cell)
    return np.concatenate(cells, axis=1)


def test_cut_geometry():
    font = get_font()
    w = font["H"].shape[1]
    run = _mono("HHH", w)
    cuts = fixed_pitch_cuts(run, float(w))
    assert len(cuts) == 2
    for k, c in enumerate(cuts, start=1):
        assert abs(c - k * w) <= max(1, round(0.15 * w)) + 1
    # single-cell run: nothing to cut
    assert fixed_pitch_cuts(font["H"].astype(bool), float(w)) == []


def test_lattice_rescues_fused_monospace():
    """'NH' fused at pitch reads 'S' on the seam-chop path (the contact
    has no thin seam and the false global-min cut wins); the lattice
    decodes it — the fpchop contract."""
    font = get_font()
    for chars in ("NH", "NHN", "HEH", "NE"):
        w = font[chars[0]].shape[1]
        strip = _mono(chars, w)
        assert decode_strip_legacy(strip, pitch=float(w)) == chars, chars
    # and the plain path genuinely fails at least one of these
    w = font["N"].shape[1]
    assert decode_strip_legacy(_mono("NH", w)) != "NH"


def test_pitch_path_is_noop_for_separable_text():
    """Pairs the seam path already handles decode identically with the
    lattice (no regression when fpchop engages)."""
    font = get_font()
    for chars in ("HH", "EE", "NN", "WW", "mm", "ms", "EH", "HE"):
        w = font[chars[0]].shape[1]
        strip = _mono(chars, w)
        assert decode_strip_legacy(strip, pitch=float(w)) == chars, chars


def test_detect_pitch_feeds_the_chopper():
    """Row-level wiring: centers of a monospace row are detected as
    fixed-pitch and the estimated pitch drives correct cuts."""
    font = get_font()
    w = font["H"].shape[1]
    centers = np.arange(8, dtype=np.float64) * w + w / 2
    is_fp, pitch = detect_pitch(centers)
    assert is_fp and abs(pitch - w) < 0.5
    strip = _mono("NHN", w)
    assert decode_strip_legacy(strip, pitch=pitch) == "NHN"


def test_fused_monospace_page_end_to_end():
    """Production wiring (the review gap): recognize_page_legacy itself
    detects the row's pitch from run centers and routes the fused pair
    through the lattice chopper — no caller-supplied pitch."""
    from tesseract_spark.functions.fonts import mask_to_gray
    from tesseract_spark.operators.legacy import (
        _row_pitch,
        decode_strip_legacy,
        recognize_page_legacy,
    )

    font = get_font()
    PITCH = 9
    chars = "HNKNZEHNKZBE"
    row = np.zeros((CELL_H, len(chars) * PITCH), dtype=bool)
    for k, ch in enumerate(chars):
        g = font[ch]
        row[:, k * PITCH : k * PITCH + g.shape[1]] = g
    # copier smear fuses glyphs 3 and 4 across the cell gap
    row[4:8, 3 * PITCH + 6 : 4 * PITCH + 1] = True

    assert _row_pitch(row) == PITCH
    # without the pitch the seam chopper garbles the fused pair
    assert decode_strip_legacy(row, space_px=99) != chars

    page = np.zeros((40, row.shape[1] + 16), dtype=bool)
    page[12:28, 8 : 8 + row.shape[1]] = row
    spans, _layout = recognize_page_legacy(mask_to_gray(page))
    assert [(s.kind, s.text) for s in spans] == [("text", chars)]


def test_proportional_row_not_fixed_pitch():
    """Proportional fixture text must NOT get a pitch verdict (a false
    positive would lattice-chop real glyphs)."""
    from tesseract_spark.functions.fonts import render_line
    from tesseract_spark.operators.legacy import _row_pitch

    for text in ("the quick fox ran over it", "Spark joins rows fast"):
        assert _row_pitch(render_line(text, 1)) is None, text
    # single-char words ARE on a lattice (a true verdict) — but the
    # pitch then exceeds every run width, so the chopper never engages
    strip = render_line("a b c d e f g h", 1)
    p = _row_pitch(strip)
    assert p is not None and p > 9
    assert decode_strip_legacy(strip, pitch=p) == "a b c d e f g h"


def test_pitch_sync_dp_semantics():
    """check_pitch_sync (pithsync.cpp:291-470 re-expression): cuts in
    real gaps are free and non-faked; cutting through ink marks fakes;
    the sync cost is the reference's sq - mean^2/n statistic."""
    from tesseract_spark.operators.pitch import check_pitch_sync

    # three 6-wide glyph boxes on a 10px pitch: gaps at [6,10), [16,20)
    proj = np.zeros(26, dtype=np.int64)
    for left in (0, 10, 20):
        proj[left : left + 6] = 8
    boxes = [(0, 6), (10, 16), (20, 26)]
    cuts, cost, fakes, mids = check_pitch_sync(proj, boxes, 10, 1)
    assert fakes == 0 and mids == 0
    assert len(cuts) == 2
    for c, (glo, ghi) in zip(cuts, ((6, 10), (16, 20))):
        assert glo <= c <= ghi, (c, cuts)
    # with a loose tolerance (+-30%) the terminal parsimony gate
    # (pithsync.cpp:417-419: index+fakes may not grow) legitimately
    # prefers FEWER stretched segments — pinned so nobody "fixes" it
    cuts_loose, _, _, _ = check_pitch_sync(proj, boxes, 10, 3)
    assert len(cuts_loose) == 1
    # a solid ink bar: deep interior cuts are free MID cuts
    # (pitsync_joined_edge rule), counted separately from fakes
    solid = np.full(26, 8, dtype=np.int64)
    cuts2, _cost2, fakes2, mids2 = check_pitch_sync(solid, [(0, 26)], 10, 1)
    assert len(cuts2) == 2 and fakes2 == 0 and mids2 == 2
    # cuts forced NEAR (but not at) blob edges are FAKED and charged ink:
    # two 15-wide boxes overlapping the 10px lattice
    proj3 = np.full(30, 8, dtype=np.int64)
    proj3[15] = 0
    cuts3, cost3, fakes3, _ = check_pitch_sync(
        proj3, [(0, 15), (16, 30)], 10, 1
    )
    assert fakes3 >= 1 and cost3 > cost


def test_pitch_sync_snaps_into_gap():
    """An off-lattice gap within the pitch tolerance attracts the cut
    (the offset/balance charges): ink-aware placement, not blind
    lattice rounding."""
    from tesseract_spark.operators.pitch import check_pitch_sync

    # two 9-wide cells; the real seam sits at x=8 (1 px early)
    proj = np.full(18, 6, dtype=np.int64)
    proj[8] = 0
    cuts, _cost, fakes, _ = check_pitch_sync(proj, [(0, 18)], 9, 2)
    assert cuts == [8] and fakes == 0


def test_tune_pitch_recovers_true_pitch():
    """tune_row_pitch analogue: a deliberately-off initial estimate is
    pulled back to the true pitch by the sync cost (topitch.cpp:
    1066-1160), and the production row path still reports the exact
    pitch after tuning."""
    from tesseract_spark.operators.legacy import _row_pitch
    from tesseract_spark.operators.pitch import tune_pitch

    font = get_font()
    PITCH = 9
    chars = "HNKNZEHNKZBE"
    row = np.zeros((CELL_H, len(chars) * PITCH), dtype=bool)
    for k, ch in enumerate(chars):
        g = font[ch]
        row[:, k * PITCH : k * PITCH + g.shape[1]] = g
    col = row.any(axis=0).astype(np.int8)
    d = np.diff(col)
    starts = np.flatnonzero(d == 1) + 1
    ends = np.flatnonzero(d == -1) + 1
    if col[0]:
        starts = np.r_[0, starts]
    if col[-1]:
        ends = np.r_[ends, len(col)]
    boxes = [(int(s), int(e)) for s, e in zip(starts, ends)]
    proj = row.sum(axis=0).astype(np.int64)
    for guess in (PITCH - 2, PITCH - 1, PITCH, PITCH + 1, PITCH + 2):
        tuned, _cost = tune_pitch(proj, boxes, guess)
        assert tuned == PITCH, (guess, tuned)
    assert _row_pitch(row) == PITCH
