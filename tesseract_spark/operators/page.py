"""Page-stage analyzer: one page image -> layout hierarchy -> line strips.

Pure-numpy body of the PAGE/LAYOUT pandas UDF.  Re-expresses the reference's
SegmentPage pipeline (src/ccmain/pagesegmain.cpp:101-175) stage by stage:

1. binarize            — Threshold, baseapi.cpp:1995-2067 / otsuthr.cpp
2. connected comps     — find_components, src/textord/tordmain.cpp:209-228
3. blob grading        — filter_blobs / filter_noise_blobs, tordmain.cpp:236-349
4. rule & photo find   — LineFinder src/textord/linefind.cpp:674,
                         ImageFind src/textord/imagefind.cpp:247
5. skew estimate + deskew — compute_page_skew makerow.cpp:310-420 (here: a
                         quantized shear model fit by projection peakiness,
                         then exact unshear; Deskew tabfind.cpp:1287)
6. column find         — gutter detection by x-projection (stands in for the
                         column-set DP, colfind.cpp:548-927)
7. row clustering      — y-projection bands per column block
                         (assign_blobs_to_rows, makerow.cpp)
8. baseline + x-height — mode of blob bottoms / top offsets per row
                         (makerow.cpp compute_row_xheight family)
9. word segmentation   — gap statistics kern vs space (to_spacing,
                         src/textord/tospace.cpp:45-268)
10. paragraphs         — indent/spacing model (src/ccmain/paragraphs.cpp:2317,
                         simplified to the strong-evidence geometric pass)

Output: reading-ordered regions; text rows are descaled to canonical 16-row
strips (the analogue of scaling line images to the network input height,
src/lstm/input.cpp:82-99) ready for the recognition stage.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..functions.fonts import BASELINE, CELL_H, WORD_GAP, XHEIGHT_TOP
from ..functions.image_ops import binarize_otsu, label_and_stats

# quantized shear slopes the skew estimator searches (render-side uses the
# same grid so the fit is exact; reference analogue: gradient grid in
# makerow.cpp compute_page_skew)
SKEW_GRID = np.round(np.arange(-0.06, 0.0601, 0.005), 4)

X_HEIGHT_CANON = BASELINE - XHEIGHT_TOP  # 8 px in the canonical cell

FUZZY_SP_FRACTION = 0.6  # tosp_fuzzy_space_factor (textord.cpp:98)


def fuzzy_space_px(space_px: int) -> int:
    """Lower edge of the fuzzy-space gap band: gaps in
    [fuzzy_space_px, space_px) are neither definite kerns nor definite
    spaces (to_spacing fuzzy band, src/textord/tospace.cpp) and are
    resolved post-decode against the dictionary (fixspace.cpp:74-214)."""
    return max(2, int(round(FUZZY_SP_FRACTION * space_px)))


@dataclass
class Row:
    bbox: tuple[int, int, int, int]  # l, t, r, b (top-down, half-open)
    baseline_y: int
    x_height: int
    scale: int
    strip: np.ndarray  # bool [16, W] canonical
    strip_x0: int  # page x of strip column 0 (pre-descale coords / scale)
    word_boxes: list[tuple[int, int, int, int]] = field(default_factory=list)
    space_px: int = WORD_GAP
    # descender-ambiguous rows (all rises 12s, drops 0: indistinguishable
    # between all-ascender and all-descender from bboxes alone) carry the
    # strip of the alternative baseline hypothesis; the recognizer tries
    # it when the primary decodes empty
    alt_strip: np.ndarray | None = None
    # sub/superscript candidate runs split off word edges for
    # re-recognition in their own baseline frame (superscript.cpp:258-343)
    script_segs: list = field(default_factory=list)
    # drop-cap support (BLOCK::compute_row_margins, ocrblock.cpp:331-369):
    # the first row of a drop-cap paragraph carries the cap's canonical
    # strip + page bbox for its own-scale decode; rows beside the cap
    # carry the margin pad ("one space past the drop cap")
    has_drop_cap: bool = False
    cap_strip: np.ndarray | None = None
    cap_bbox: tuple[int, int, int, int] | None = None
    drop_cap_pad: int = 0


@dataclass
class Region:
    kind: str  # 'text' | 'photo' | 'rule'
    bbox: tuple[int, int, int, int]
    block_id: int
    rows: list[Row] = field(default_factory=list)
    paragraphs: list[list[int]] = field(default_factory=list)  # row idx groups


@dataclass
class PageResult:
    regions: list[Region] = field(default_factory=list)  # reading order
    skew: float = 0.0
    n_blobs: int = 0
    n_noise: int = 0
    # separator lines removed by the morphological line finder
    # (linefind.cpp:674) — merged logical rules, not raw segments
    v_rules: int = 0
    h_rules: int = 0
    has_music: bool = False
    # shiro-rekha cuts made by the Devanagari splitter (deva_split mode)
    deva_splits: int = 0
    # underline/overline bars separated from character ink and removed
    # (makerow.cpp separate_underlines + underlin.cpp restore)
    n_underlines: int = 0
    # removed bars' bboxes (deskewed frame) — per-word ``underlined``
    # attribution overlays these on the word boxes
    underline_bars: list = field(default_factory=list)


def _median_linear(a: np.ndarray) -> float:
    """np.percentile(a, 50, method='linear') via np.partition — the same
    value (numpy's _lerp arithmetic reproduced) without the generic
    percentile machinery, which dominates _grade_blobs at per-page call
    rates."""
    n = a.size
    pos = (n - 1) * 0.5
    lo = int(pos)
    if n % 2 == 1:
        return float(np.partition(a, lo)[lo])
    p = np.partition(a, (lo, lo + 1))
    va, vb = float(p[lo]), float(p[lo + 1])
    # numpy _lerp at t=0.5 computes b - (b - a) * (1 - t)
    return vb - (vb - va) * 0.5


def _grade_blobs(
    stats: np.ndarray,
    ink: np.ndarray | None = None,
    labels: np.ndarray | None = None,
) -> np.ndarray:
    """Grade components: 0=text, 1=noise, 2=photo, 3=rule.

    filter_blobs semantics (tordmain.cpp:236-349): size percentiles relative
    to the page's blob population, plus the rule/photo detectors
    (linefind/imagefind analogues).  When ``ink``/``labels`` are given, a
    texture pass also runs (see below) for photo blocks the size gates
    cannot see.
    """
    n = len(stats)
    grade = np.zeros(n, dtype=np.int64)
    if n == 0:
        return grade
    w = stats[:, 2] - stats[:, 0]
    h = stats[:, 3] - stats[:, 1]
    area = stats[:, 4]
    density = area / np.maximum(w * h, 1)
    # rules: very wide, thin, dense (linefind.cpp:674)
    grade[(w >= 100) & (h <= 6) & (density >= 0.85)] = 3
    # SHEARED rules: a staircased separator on a skewed page inflates its
    # bbox (h grows by |slope|*w, density collapses) and the straight
    # gate above never fires — but per COLUMN it is still a uniform
    # 2-6 px contiguous band, which no glyph row can fake (letter
    # columns vary 0..16s with gaps).  Round-5 fuzz: a -0.055 page's
    # rule graded TEXT, polluted the skew vote, and decoded as a stray
    # glyph.
    if ink is not None and labels is not None:
        cand_r = np.flatnonzero(
            (grade == 0)
            & (w >= 100)
            & (h <= 16)
            & (area >= 2 * w)
            & (area <= 6 * w)
        )
        for i in cand_r:
            l, t, r, b = (int(v) for v in stats[i, :4])
            comp = labels[t:b, l:r] == i + 1
            colcount = comp.sum(axis=0)
            if (colcount >= 2).mean() < 0.95 or colcount.max() > 6:
                continue
            ch = b - t
            ctop = np.argmax(comp, axis=0)
            cbot = ch - np.argmax(comp[::-1], axis=0)
            if ((cbot - ctop) == colcount).mean() >= 0.95:
                grade[i] = 3
    # photos: large dense regions (imagefind.cpp:247)
    # (largest text glyph at render scale 3 is ~48x27 ≈ 1300 px² — safe gap)
    grade[(w >= 40) & (h >= 40) & (w * h >= 2000) & (density >= 0.45)] = 2
    # relative photo gate (filter_blobs' size-vs-text semantics,
    # tordmain.cpp:290-310 textord_max_blob_size): a dense block several
    # times the page's own text height is an image even below the
    # absolute gate — a small halftone on small-print text otherwise
    # reaches the row builder and decodes as an empty garbage line.
    # Margins: tallest glyph ≤ 1.5× the median component height at one
    # render scale, so 2.5×median stays text-safe (drop caps are ~2 lines
    # tall but narrow — the 4×median WIDTH gate excludes them); pages too
    # small for FindImages (kMinImageFindSize guard, imagefind.cpp:254)
    # reach the row builder with their photos ungraded otherwise.
    nonrule = grade == 0
    if nonrule.any():
        med_all = _median_linear(h[nonrule])
        grade[
            nonrule
            & (h >= 2.5 * med_all)
            & (w >= 4 * med_all)
            & (w * h >= 1200)
            & (density >= 0.45)
        ] = 2
    # texture pass (needs pixels): a halftone/solid block whose HEIGHT is
    # glyph-sized defeats every size gate — at render scale 3 a 26px-tall
    # photo strip is SHORTER than the glyphs around it.  What no glyph
    # ever has is the halftone's lake structure: within the component's
    # own bbox the largest background component is a tiny interior lake
    # (the dot field's 2x2 gaps; a solid block has none), while any
    # glyph's bbox holds large concavities or open border background.
    # This is the per-blob analogue of the imagefind halftone verdict
    # (imagefind.cpp:1106-1180 partition scoring) for blobs the mask
    # cascade is too coarse to see.  Pre-gates keep it off glyphs: dense
    # (>=0.35), at least ~2 glyphs of area, and wider than tall.
    if ink is not None and labels is not None:
        cand = np.flatnonzero(
            (grade == 0)
            & (w >= 20)
            & (h >= 14)
            & (w >= h)
            & (w * h >= 600)
            & (density >= 0.35)
        )
        if len(cand):
            from .linefind import label_and_stats as _las

            def lake_ok(comp: np.ndarray) -> bool:
                # 4-connected background (the 8-fg/4-bg duality): the dot
                # field's interior gaps must NOT chain diagonally into
                # one big pseudo-lake
                _lb, ln, lstats = _las(~comp, connectivity=4)
                lake = float(lstats[:ln, 4].max()) if ln else 0.0
                hh, ww = comp.shape
                return lake <= max(8.0, 0.02 * ww * hh)

            # page shear steps THROUGH a dot field chain lakes along the
            # step column; retry failed candidates on a window-local
            # unshear at the page's provisional slope
            prov_skew = estimate_skew(stats)

            def unsheared_window(comp: np.ndarray, x0: int) -> np.ndarray:
                hh, ww = comp.shape
                sh = np.round(prov_skew * (x0 + np.arange(ww)))
                sh = sh.astype(np.int64)
                sh -= sh.min()
                pad = int(sh.max())
                out = np.zeros((hh + pad, ww), dtype=bool)
                for xi in range(ww):
                    out[pad - sh[xi] : pad - sh[xi] + hh, xi] = comp[:, xi]
                ys = np.flatnonzero(out.any(axis=1))
                return out[ys[0] : ys[-1] + 1] if len(ys) else comp

            from .linefind import close_brick as _close

            for i in cand:
                l, t, r, b = (int(v) for v in stats[i, :4])
                comp = labels[t:b, l:r] == i + 1
                if lake_ok(comp) or (
                    prov_skew != 0.0 and lake_ok(unsheared_window(comp, l))
                ):
                    grade[i] = 2
                    continue
                # carved-photo retry: a separator struck THROUGH a
                # halftone is removed by the line finder first
                # (reference order), carving a slot and often leaving a
                # thin residue tail fused to the photo — the slot reads
                # as one big pseudo-lake, the tail stretches the bbox
                # with empty space, and density drops below 0.42.  Trim
                # to the dense-COLUMN core (the dot field; a 1 px tail
                # has column count ~1), heal vertical gaps <= 5 rows,
                # and re-run the lake verdict there; the media region
                # keeps the FULL component (photo + tail = the merged
                # media rect the golden observes).  A word blob's
                # columns are uniformly dense, so trimming changes
                # nothing for glyphs and their concavity lakes stand.
                # Gated to the carved-density band [0.35, 0.42): those
                # candidates run both the direct lake test above and
                # this retry; denser candidates never pay for it.
                if density[i] < 0.42:
                    colc = comp.sum(axis=0)
                    bar_c = max(2, int(0.3 * colc.max()))
                    dense = np.flatnonzero(colc >= bar_c)
                    if len(dense) >= 20:
                        core = comp[:, dense[0] : dense[-1] + 1]
                        rowc = core.sum(axis=1)
                        rdense = np.flatnonzero(rowc >= 2)
                        if len(rdense) >= 14:
                            core = core[rdense[0] : rdense[-1] + 1]
                            healed = _close(core, 1, 5)
                            if lake_ok(healed) or (
                                prov_skew != 0.0
                                and lake_ok(
                                    unsheared_window(
                                        healed, l + int(dense[0])
                                    )
                                )
                            ):
                                grade[i] = 2

    # noise: tiny specks relative to the text population percentile
    text_mask = grade == 0
    if text_mask.any():
        med_h = _median_linear(h[text_mask])
        grade[text_mask & ((area <= 2) | (h <= max(1, 0.2 * med_h)))] = 1
    return grade


def estimate_skew(stats: np.ndarray, with_ambiguity: bool = False):
    """Quantized shear slope maximizing blob top/bottom alignment.

    ``with_ambiguity``: also return whether a grid NEIGHBOUR of the
    winner scored within 90% of it — the sparse-page regime (few tiny
    blobs over a short x-range) where bbox edge shifts cannot separate
    adjacent slopes and the caller should refine at pixel level.  On
    ordinary pages the winner is decisive (neighbour ratios ≤ ~0.6
    across the corpus; the ambiguous fixture reads 0.98).

    Histogram-concentration (Σh²) grid search over SKEW_GRID on shear-
    corrected blob bottoms AND tops (both are baseline-/x-height-aligned;
    using both disambiguates descender-heavy rows and tiny pages).
    compute_page_skew, makerow.cpp:310-420, as a quantized grid search.
    Takes the component stats array directly (no relabeling pass).
    """
    stats = stats[stats[:, 4] >= 3]  # specks stay in the mask but don't vote
    if len(stats) < 2:
        return (0.0, False) if with_ambiguity else 0.0
    lefts = stats[:, 0].astype(np.int64)
    rights = stats[:, 2].astype(np.int64) - 1
    bottoms = stats[:, 3].astype(np.int64)
    tops = stats[:, 1].astype(np.int64)
    # discrete shear model matching the page exactly: every column
    # moved by round(s*x), so a flat-bottomed glyph's bbox bottom
    # shifts by round(s*x) at its steeper edge (right edge for s>0,
    # left for s<0) and its top by the opposite edge.  Subtracting
    # the integer edge shift re-aligns bottoms/tops EXACTLY at the
    # true slope — integer histogram concentration is decisive where
    # the old continuous-center model could land one grid step off
    # on sparse scale-1 pages.  Verified exact on the full grid for
    # |s| <= 0.05 at scales 1-2; beyond ~0.055 (3+ degrees) glyphs
    # shear internally (column shifts differ across one glyph's
    # width) and recovery can land one step off — outside the
    # corpus envelope (+-0.02) and the reference's small-skew
    # assumption (makerow.cpp textord_skew_lag).
    # One vectorized pass over the whole grid: per-slope histograms are
    # offset into one flat bincount (k x height buckets).
    S = SKEW_GRID[:, None]  # (k, 1)
    k = len(SKEW_GRID)
    score = np.zeros(k, dtype=np.float64)
    for vals, pos_edge, neg_edge in (
        (bottoms, rights, lefts),
        (tops, lefts, rights),
    ):
        edge = np.where(S >= 0, pos_edge[None, :], neg_edge[None, :])
        c = vals[None, :] - np.round(S * edge).astype(np.int64)
        c -= c.min(axis=1, keepdims=True)
        width = int(c.max()) + 1
        flat = (c + np.arange(k)[:, None] * width).ravel()
        hist = np.bincount(flat, minlength=k * width).reshape(k, width)
        score += (hist.astype(np.float64) ** 2).sum(axis=1)
    # grid-order scan semantics: strictly-better score wins; a tie keeps
    # the smaller |slope|, then the earlier grid entry
    order = sorted(
        range(k), key=lambda j: (-score[j], abs(float(SKEW_GRID[j])), j)
    )
    j0 = order[0]
    if not with_ambiguity:
        return float(SKEW_GRID[j0])
    nb = max(
        score[j0 - 1] if j0 > 0 else 0.0,
        score[j0 + 1] if j0 < k - 1 else 0.0,
    )
    return float(SKEW_GRID[j0]), bool(nb >= 0.9 * score[j0])


def _refine_skew_pixels(mask: np.ndarray, skew: float) -> float:
    """Choose among {skew, skew−step, skew+step} by the HORIZONTAL
    ROUGHNESS of the unsheared ink — the column-to-column hamming
    distance in the unsheared frame — keeping the bbox estimate on ties.

    The bbox-based estimate_skew cannot separate grid-neighbouring
    slopes on a short page (their integer edge shifts coincide), but an
    off-by-one slope splits glyphs INTERNALLY at its rounding
    boundaries (round(s·x) steps mid-glyph), leaving them unmatchable
    downstream.  Roughness is decisive where row-histogram criteria are
    not: the exact inverse restores the flat rendering's smooth glyph
    outlines, and ANY residual differential shear adds a positive
    hamming step wherever ink crosses a rounding boundary (pinned
    empirically on the off-by-one corpus pages; Σh² concentration can
    coincidentally stack dense rows of different glyphs and prefer the
    wrong neighbour, and occupied-row counts can shrink under shear
    when sparse glyph rows vacate).  Only sheared pages pay (three
    XOR passes over the mask).

    A neighbour REPLACES the bbox estimate only when two independent
    pixel criteria agree: lower column-hamming roughness AND higher
    per-pixel row-histogram concentration (Σh² of the unsheared ink's
    row profile).  On a NARROW page the hamming signal saturates — the
    candidate shears differ at a handful of rounding-boundary columns
    and a diagonal stroke there can score a wrong neighbour a few
    pixels smoother than the true rendering (found by the round-4
    composition fuzzer: a one-line scale-1 page at the true slope
    −0.05 was refined off to −0.055, mangling the boundary glyph) —
    while row concentration is computed from EVERY ink pixel and stays
    decisive; conversely row concentration alone can stack dense rows
    coincidentally, which the hamming check vetoes.  Requiring both
    keeps the bbox winner unless the off-slope evidence is
    corroborated."""
    if not mask.any():
        return skew
    step = float(SKEW_GRID[1] - SKEW_GRID[0])
    W = mask.shape[1]
    a, b = mask[:, :-1], mask[:, 1:]
    xr = np.arange(W)

    def roughness(s: float) -> int:
        sh = np.round(s * xr).astype(np.int64)
        d = sh[1:] - sh[:-1]
        cost = 0
        for dv in np.unique(d):
            cols = np.flatnonzero(d == dv)
            bb = b[:, cols]
            if dv > 0:
                bb = np.vstack(
                    [bb[dv:], np.zeros((dv, len(cols)), dtype=bool)]
                )
            elif dv < 0:
                bb = np.vstack(
                    [np.zeros((-dv, len(cols)), dtype=bool), bb[:dv]]
                )
            cost += int((a[:, cols] ^ bb).sum())
        return cost

    def row_concentration(s: float) -> int:
        h = unshear(mask, s).sum(axis=1).astype(np.int64)
        return int((h * h).sum())

    best = skew
    best_cost = roughness(skew)
    best_conc = row_concentration(skew)
    for s in (round(skew - step, 4), round(skew + step, 4)):
        c = roughness(s)
        if c < best_cost and row_concentration(s) > best_conc:
            best, best_cost, best_conc = s, c, row_concentration(s)
    return best


def _global_skew_pixels(mask: np.ndarray, skew: float) -> float:
    """Whole-grid pixel-criteria election for SPARSE pages.

    With only a handful of voting components the bbox vote can be
    DECISIVELY wrong by several grid steps (round-5 fuzz: a two-word
    scale-3 page at -0.055 read -0.03, outside the local refine's
    one-step reach), while the pixel criteria stay globally decisive —
    on that page the true slope is both the row-concentration argmax
    and the roughness minimum over the full grid.  Same corroboration
    contract as the local refine: a candidate REPLACES the bbox winner
    only when it beats it on BOTH criteria."""
    if not mask.any():
        return skew
    W = mask.shape[1]
    a, b = mask[:, :-1], mask[:, 1:]
    xr = np.arange(W)

    def roughness(s: float) -> int:
        sh = np.round(s * xr).astype(np.int64)
        d = sh[1:] - sh[:-1]
        cost = 0
        for dv in np.unique(d):
            cols = np.flatnonzero(d == dv)
            bb = b[:, cols]
            if dv > 0:
                bb = np.vstack(
                    [bb[dv:], np.zeros((dv, len(cols)), dtype=bool)]
                )
            elif dv < 0:
                bb = np.vstack(
                    [np.zeros((-dv, len(cols)), dtype=bool), bb[:dv]]
                )
            cost += int((a[:, cols] ^ bb).sum())
        return cost

    def row_concentration(s: float) -> int:
        h = unshear(mask, s).sum(axis=1).astype(np.int64)
        return int((h * h).sum())

    best = skew
    best_cost = roughness(skew)
    best_conc = row_concentration(skew)
    for s in SKEW_GRID:
        s = float(s)
        if s == skew:
            continue
        conc = row_concentration(s)
        if conc <= best_conc:
            continue
        c = roughness(s)
        if c < best_cost:
            best, best_cost, best_conc = s, c, conc
    return best


def unshear(mask: np.ndarray, slope: float) -> np.ndarray:
    """Exactly invert a render-time column shear y' = y + round(slope*x).

    Columns sharing a shift value move together (one slice copy per distinct
    shift — at most |slope|*W+1 of them — instead of a per-column loop).
    """
    if slope == 0.0:
        return mask
    h, w = mask.shape
    shifts = np.round(slope * np.arange(w)).astype(np.int64)
    out = np.zeros_like(mask)
    # round(slope*x) is monotone in x, so equal-shift columns form
    # contiguous ranges: plain slice copies (no boolean fancy-index
    # temporaries), one per distinct shift value
    bounds = np.flatnonzero(shifts[1:] != shifts[:-1]) + 1
    edges = np.concatenate(([0], bounds, [w]))
    for a, bnd in zip(edges[:-1], edges[1:]):
        s = int(shifts[a])
        if s == 0:
            out[:, a:bnd] = mask[:, a:bnd]
        elif s > 0:
            out[: h - s, a:bnd] = mask[s:, a:bnd]
        else:
            out[-s:, a:bnd] = mask[: h + s, a:bnd]
    return out


# the reference allows at most this many incompatible strips to be
# bridged when extending a column range (colfind.cpp:48)
K_MAX_INCOMPATIBLE = 2


def _strip_partitions(
    sub: np.ndarray, min_gutter: int
) -> list[tuple[int, int]]:
    """One row strip's ColPartitionSet: its x-coverage intervals merged
    across gaps narrower than a gutter (MakeColPartSets granularity —
    word gaps do not split a partition, gutters do)."""
    iv = sorted((int(l), int(r)) for l, r in zip(sub[:, 0], sub[:, 2]))
    cols: list[list[int]] = [[iv[0][0], iv[0][1]]]
    for l, r in iv[1:]:
        if l - cols[-1][1] >= min_gutter:
            cols.append([l, r])
        else:
            cols[-1][1] = max(cols[-1][1], r)
    return [(a, b) for a, b in cols]


def _column_sets(
    stats: np.ndarray, page_w: int, min_gutter: int
) -> tuple[list[np.ndarray], list[int]]:
    """Column-set candidate assignment (ColumnFinder::MakeColumns /
    AssignColumns, colfind.cpp:548-927, with the ColPartitionSet
    compatibility semantics of colpartitionset.cpp:230-330,
    re-expressed on row strips).

    Every row strip's partition signature is a column-set CANDIDATE;
    the full-width single column is always added as the backup
    (MakeSingleColumnSet).  A strip is compatible with a candidate when
    each of its partitions has both edges inside candidate columns, no
    good-width partition spans two columns, and no two adjacent
    good-width partitions share one column (a column layout change,
    colpartitionset.cpp:285-303); the cost of a compatible pair is the
    UnmatchedWidth — blob width whose x-middle lies outside every
    column.  Assignment is the reference's greedy modal algorithm:
    repeatedly take the biggest unassigned strip range, its modal
    candidate, shrink to that candidate's longest run, extend past
    incompatibility gaps of at most kMaxIncompatibleColumnCount strips
    when the compatible region beyond is at least as big, and assign.

    Returns (blocks, run_of): blob-index arrays per text block in
    run-major reading order, plus each block's run index (a vertical
    band of uniform column layout) so callers order pullouts between
    the column bands above and below them.
    """
    if len(stats) == 0:
        return [], [0]
    strips = _cluster_rows(stats)
    strips.sort(key=lambda g: int(stats[g, 1].min()))
    slack = min_gutter  # column margins (ColPartition left/right_margin)
    good_w = 2 * min_gutter  # good_width(): wide enough to be a column

    sigs = [_strip_partitions(stats[g], min_gutter) for g in strips]

    span_l = int(stats[:, 0].min())
    span_r = int(stats[:, 2].max())

    def same_set(a: list[tuple[int, int]], b: list[tuple[int, int]]) -> bool:
        return len(a) == len(b) and all(
            abs(x1 - x2) <= min_gutter and abs(y1 - y2) <= min_gutter
            for (x1, y1), (x2, y2) in zip(a, b)
        )

    def col_of(cand: list[tuple[int, int]], x: float) -> int:
        # margins make neighbouring columns overlap inside gutters, so
        # membership is nearest-centre among the columns containing x
        best, bd = -1, 0.0
        for ci, (l, r) in enumerate(cand):
            if l - slack <= x <= r + slack:
                d = abs(x - (l + r) / 2.0)
                if best < 0 or d < bd:
                    best, bd = ci, d
        return best

    def fit_col(cand: list[tuple[int, int]], l: int, r: int) -> int:
        """Column containing the whole partition [l, r] (within slack),
        nearest centre among fitters; -1 when none contains it."""
        best, bd = -1, 0.0
        for ci, (cl, cr) in enumerate(cand):
            if cl - slack <= l and r <= cr + slack:
                d = abs((l + r) / 2.0 - (cl + cr) / 2.0)
                if best < 0 or d < bd:
                    best, bd = ci, d
        return best

    def compat(sig: list[tuple[int, int]], cand: list[tuple[int, int]]) -> bool:
        prev_fit, prev_good = -2, False
        for pi, (l, r) in enumerate(sig):
            f = fit_col(cand, l, r)
            good = r - l >= good_w
            if f < 0:
                lc, rc = col_of(cand, l), col_of(cand, r)
                if lc < 0 or rc < 0:
                    return False  # a partition edge outside all columns
                if good:
                    return False  # good-width partition spans columns
                f = lc  # narrow straddler rides its left column
            # two adjacent partitions sharing one candidate column are a
            # layout change when both are column-width, OR when the gap
            # between them is a true GUTTER (>= 2x the partition split
            # threshold): a narrow column of short lines ('42 my')
            # across a wide gutter is still a column, and a set that
            # would swallow both partitions into one column would fuse
            # their text across the gutter (round-4 three-column
            # fuzzer).  Table cell gaps stay below the gutter width, so
            # cell pairs keep riding one column and table detection
            # downstream is unaffected.
            gap_wide = (
                pi > 0 and l - sig[pi - 1][1] >= 2 * min_gutter
            )
            if (
                pi > 0
                and f == prev_fit
                and ((good and prev_good) or gap_wide)
            ):
                return False  # column layout change inside one column
            prev_fit, prev_good = f, good
        return True

    # candidate pool ordered by quality — good (column-width) coverage
    # first, then good-column count, then total coverage — with the
    # reference's compatibility dedup: a new set whose partitions all
    # fit an existing better-or-equal set is a duplicate
    # (AddToColumnSetsIfUnique, colpartitionset.cpp:178-226); the
    # full-width single column is always appended as the backup
    # (MakeSingleColumnSet).
    #
    # "good" follows the reference's CommonWidth (tabfind.cpp:393 via
    # WidthCB; coverage semantics colpartitionset.cpp:636-683): a
    # partition is good when its width is CLOSE TO A FREQUENT width on
    # the page, not merely wide — a double-width heading (or a
    # margin-extended two-column set manufactured from a strip where
    # the middle column happens to be empty) counts as BAD coverage,
    # so the true column set outranks it even at less total coverage.
    # Quality is scored on the GENERATING signature's ink widths;
    # margin-extended extents overlap in gutters and double-count.
    K_WIDTH_FACTOR = 20  # kColumnWidthFactor, tabfind.h
    from collections import Counter

    # Column-width statistics come from MULTI-partition strips only:
    # they evidence an actual gutter, so their partition widths are real
    # column widths (the reference derives column_widths_ from tab-
    # vector pairs, tabfind.cpp ComputeColumnWidths — gutter-delimited
    # spans, not arbitrary line lengths).  A single-partition strip is
    # width-ambiguous — a short line of a wider column — and must not
    # promote its own width to "common", or a page-wide single-column
    # candidate outranks the true column set whenever one body line
    # runs a little longer than a column (the round-4 three-column
    # fuzzer's short-middle-column pages).  Single-column pages have no
    # gutter evidence; they fall back to the all-strips histogram
    # (candidates all dedupe to the full-width set there anyway).
    column_sigs = [sig for sig in sigs if len(sig) >= 2]
    width_counts = Counter(
        (r - l) // K_WIDTH_FACTOR
        for sig in (column_sigs or sigs)
        for l, r in sig
    )

    def _good_width(w: int) -> bool:
        # CommonWidth merges near-equal histogram entries into ranges
        # (column_widths_ holds [x, y] ranges matched with +-1 slack)
        b = w // K_WIDTH_FACTOR
        return w >= good_w and any(
            abs(b - cb) <= 1 for cb in width_counts
        )

    def quality(sig: list[tuple[int, int]]) -> tuple[int, int, int]:
        good = [(r - l) for l, r in sig if _good_width(r - l)]
        bad = [(r - l) for l, r in sig if not _good_width(r - l)]
        return (sum(good), len(good), sum(bad))

    def margin_extend(sig: list[tuple[int, int]]) -> list[tuple[int, int]]:
        """Candidate columns from a strip signature with the reference's
        margin semantics: a ColPartition's column extent runs between its
        left_key/right_key — margins pushed out to the nearest obstacle
        (neighbouring partition) or the page edge, not the ink extent
        (colpartition.h:171-178 left_key/right_key, :324 KeyWidth;
        colpartitionset.cpp:446-457 compares margins, not boxes).  Without
        this, a single-column region whose lines run a little wider than
        the widest line inside a two-column band above it reads as
        incompatible with the two-column set, splitting the page into two
        bands and breaking column-major reading order.  A margin runs to
        the neighbouring partition's INK edge (the obstacle itself), not
        the gap midpoint — the gutter belongs to both columns, as both
        reference margins reach the shared tab vector — so adjacent
        columns overlap and membership tests use containment (fit_col),
        not first-match edge lookup."""
        out: list[tuple[int, int]] = []
        for i, (l, r) in enumerate(sig):
            lo = span_l if i == 0 else sig[i - 1][1]
            hi = span_r if i == len(sig) - 1 else sig[i + 1][0]
            out.append((min(lo, l), max(hi, r)))
        return out

    cands = [margin_extend(s) for s in sigs]
    full = [(span_l, span_r)]
    pool: list[list[tuple[int, int]]] = []
    pool_q: list[tuple[int, int, int]] = []
    for sig, cand in list(zip(sigs, cands)) + [(full, full)]:
        q = quality(sig)
        dup = False
        at = len(pool)
        for i, c in enumerate(pool):
            if pool_q[i] < q:
                at = i
                break
            if same_set(cand, c) or compat(sig, c):
                dup = True
                break
        if not dup:
            pool.insert(at, cand)
            pool_q.insert(at, q)

    def unmatched(gidx: np.ndarray, cand: list[tuple[int, int]]) -> int:
        # col_of(x) < 0 iff no column's slack-extended span contains x —
        # vectorized over the strip's blob mids (candidate sets are tiny)
        mids = (stats[gidx, 0] + stats[gidx, 2]) / 2.0
        w = stats[gidx, 2] - stats[gidx, 0]
        matched = np.zeros(len(mids), dtype=bool)
        for l, r in cand:
            matched |= (l - slack <= mids) & (mids <= r + slack)
        return int(w[~matched].sum())

    S, C = len(strips), len(pool)
    INF = 1 << 60
    costs = [[INF] * C for _ in range(S)]
    possible = [False] * S
    for si in range(S):
        for ci in range(C):
            if compat(sigs[si], pool[ci]):
                costs[si][ci] = unmatched(strips[si], pool[ci])
                possible[si] = True

    assigned: list[int | None] = [None] * S
    acost = [INF] * S

    def biggest_unassigned() -> tuple[int, int] | None:
        best = (0, -1, -1)
        end = 0
        start = 0
        while start < S:
            while start < S and not (
                assigned[start] is None and possible[start]
            ):
                start += 1
            size = 1
            end = start + 1
            while end < S and assigned[end] is None:
                if possible[end]:
                    size += 1
                end += 1
            if start < S and size > best[0]:
                best = (size, start, end)
            start = end
        return (best[1], best[2]) if best[0] > 0 else None

    def modal(start: int, end: int) -> int:
        votes = [0] * C
        for si in range(start, end):
            for ci in range(C):
                if costs[si][ci] < acost[si]:
                    votes[ci] += 1
        # vote ties prefer the candidate with MORE columns: a short
        # middle column leaves most strips compatible with both the
        # true set and a coarser set that bridges the empty column —
        # the extra gutter was evidenced by some strip, while the
        # bridge is only the absence of ink (round-4 three-column
        # fuzzer: short-col2 pages banded under the coarser set).
        # Final tie: pool order (quality), matching the reference's
        # first-best scan.
        return max(
            range(C), key=lambda ci: (votes[ci], len(pool[ci]), -ci)
        )

    def shrink(cid: int, ostart: int, oend: int) -> tuple[int, int]:
        bs, be, bsize = oend, oend, 0
        end = oend
        start = ostart
        while start < oend:
            while start < oend and not (
                costs[start][cid] < acost[start] or not possible[start]
            ):
                start += 1
            end = start + 1
            while end < oend and not (
                costs[end][cid] >= acost[start] and possible[end]
            ):
                end += 1
            if start < oend and end - start > bsize:
                bsize, bs, be = end - start, start, end
            start = end
        return bs, be

    def extend(cid: int, pos: int, step: int, limit: int) -> int:
        if pos == limit:
            return pos
        while True:
            barrier = 0
            i = pos + step
            while i != limit:
                if costs[i][cid] < acost[i]:
                    break
                if possible[i]:
                    barrier += 1
                i += step
            if barrier > K_MAX_INCOMPATIBLE:
                return pos
            if i == limit:
                return i - step
            good = 1
            i += step
            while i != limit:
                if costs[i][cid] < acost[i]:
                    good += 1
                elif possible[i]:
                    break
                i += step
            if good >= barrier:
                pos = i - step
            else:
                return pos

    while True:
        rng = biggest_unassigned()
        if rng is None:
            break
        cid = modal(*rng)
        s2, e2 = shrink(cid, *rng)
        s3 = extend(cid, s2, -1, -1)
        e3 = extend(cid, e2 - 1, 1, S) + 1
        for si in range(s3, e3):
            assigned[si] = cid
            acost[si] = costs[si][cid]
    # leftover strips (no compatible candidate at all): nearest
    # assigned neighbour; a fully-unassignable page gets set 0
    if all(a is None for a in assigned):
        assigned = [0] * S
    for si in range(S):
        if assigned[si] is None:
            assigned[si] = assigned[si - 1] if si > 0 else next(
                a for a in assigned if a is not None
            )
    for si in range(S - 1, -1, -1):
        if assigned[si] is None:
            assigned[si] = assigned[si + 1]

    # emit blocks: a strip incompatible with its assigned set (the
    # range extension bridges up to kMaxIncompatibleColumnCount of
    # them) holds a partition SPANNING the set's columns — the
    # reference types those partitions as pull-outs
    # (ColumnSpanningType -> PT_PULLOUT_TEXT) rather than splitting
    # them, so such strips become their own full-width band; runs of
    # compatible strips sharing a set split into the set's columns by
    # x-middle (run-major reading order)
    crossing = [costs[si][assigned[si]] >= INF for si in range(S)]
    blocks: list[np.ndarray] = []
    run_of: list[int] = []
    run_idx = -1
    i = 0
    while i < S:
        j = i
        while (j < S and assigned[j] == assigned[i]
               and crossing[j] == crossing[i]):
            j += 1
        run_idx += 1
        members = np.concatenate([strips[k] for k in range(i, j)])
        cand = pool[assigned[i]]
        if crossing[i] or len(cand) == 1:
            # a bridged (cost-INF) strip keeps its own partitions as
            # units: the reference never merges two ColPartitions into
            # one textline, so a two-column strip absorbed into a
            # single-column band must still emit one pullout block per
            # aligned partition interval — merging them would
            # concatenate text across the gutter into one line, which
            # no assignment can justify.  Full-width headings (single-
            # partition sigs) are unaffected: one interval, one block.
            ivals: list[list[int]] = []
            for k in range(i, j):
                for l, r in sigs[k]:
                    for iv in ivals:
                        if l < iv[1] and r > iv[0]:  # x-overlap: align
                            iv[0], iv[1] = min(iv[0], l), max(iv[1], r)
                            break
                    else:
                        ivals.append([l, r])
            ivals.sort()
            if len(ivals) <= 1:
                blocks.append(members)
                run_of.append(run_idx)
            else:
                cx = (stats[members, 0] + stats[members, 2]) / 2.0
                lo = np.array([iv[0] for iv in ivals])
                hi = np.array([iv[1] for iv in ivals])
                mid = (lo + hi) / 2.0
                inside = (cx[:, None] >= lo[None, :] - slack) & (
                    cx[:, None] <= hi[None, :] + slack
                )
                nearest = np.argmin(np.abs(cx[:, None] - mid[None, :]), axis=1)
                iv_idx = np.where(
                    inside.any(axis=1), inside.argmax(axis=1), nearest
                )
                for vi in range(len(ivals)):
                    sel = members[iv_idx == vi]
                    if len(sel):
                        blocks.append(sel)
                        run_of.append(run_idx)
        else:
            # assignment is PER-PARTITION, never per-blob: a ColPartition
            # goes wholly into the column that contains it (margins make
            # columns overlap inside gutters, so a blob-by-blob x-middle
            # vote near a gutter would tear words apart)
            per_col: list[list[np.ndarray]] = [[] for _ in cand]
            centers = np.array([(l + r) / 2.0 for l, r in cand])
            for k in range(i, j):
                g = strips[k]
                mids = (stats[g, 0] + stats[g, 2]) / 2.0
                for l, r in sigs[k]:
                    f = fit_col(cand, l, r)
                    if f < 0:
                        f = col_of(cand, l)
                    if f < 0:
                        f = int(np.argmin(np.abs(centers - (l + r) / 2.0)))
                    sel = g[(mids >= l) & (mids <= r)]
                    if len(sel):
                        per_col[f].append(sel)
            for ci in range(len(cand)):
                if per_col[ci]:
                    blocks.append(np.concatenate(per_col[ci]))
                    run_of.append(run_idx)
        i = j
    return blocks, run_of


def _cluster_rows(stats: np.ndarray) -> list[np.ndarray]:
    """Group blob indices into rows by y-band connectivity.

    Blobs whose [top, bottom) bands overlap transitively share a row
    (assign_blobs_to_rows semantics on a deskewed page).
    """
    if len(stats) == 0:
        return []
    order = np.argsort(stats[:, 1], kind="stable")
    t = stats[order, 1]
    b = stats[order, 3]
    # a row break lands wherever a top clears every previous bottom; the
    # prefix cummax equals the current group's cummax there (any earlier
    # group's bottom <= the top that started this group), so one
    # vectorized pass reproduces the sequential band merge exactly
    cb = np.maximum.accumulate(b)
    breaks = np.flatnonzero(t[1:] >= cb[:-1]) + 1
    return [np.asarray(g, dtype=np.int64) for g in np.split(order, breaks)]


def _drop_cap_candidates(stats: np.ndarray) -> np.ndarray:
    """Indices of oversized blobs that could be drop caps.

    A drop cap spans into the second textline, so leaving it in the
    y-band clustering would FUSE the two rows; candidates are pulled
    before clustering and confirmed afterwards with the reference's
    mid-second-line rule (BLOCK::compute_row_margins,
    ocrblock.cpp:345-369).  Candidate = height >= 1.8x the block's
    median blob height (a genuine cap is >= 2 lines tall)."""
    if len(stats) < 6:
        return np.zeros(0, dtype=np.int64)
    heights = (stats[:, 3] - stats[:, 1]).astype(np.float64)
    med = float(np.median(heights))
    if med <= 0:
        return np.zeros(0, dtype=np.int64)
    return np.flatnonzero(heights >= 1.8 * med)


def _merge_x_overlap_boxes(stats: np.ndarray, idxs: np.ndarray) -> np.ndarray:
    """Union blobs whose x-ranges overlap into glyph boxes [l, t, r, b].

    Fragments of a broken/damaged character stack over the same columns;
    the reference re-associates them during blob organization
    (textord blob merging for broken CJK/damaged chars, tordmain.cpp) —
    without this, a fragment's bottom above the baseline corrupts the
    min-of-bottoms baseline anchor.
    """
    order = idxs[np.argsort(stats[idxs, 0], kind="stable")]
    l = stats[order, 0]
    t = stats[order, 1]
    r = stats[order, 2]
    b = stats[order, 3]
    # glyph-box starts wherever a left edge clears every previous right
    # edge (prefix cummax == group cummax there, as in _cluster_rows)
    cr = np.maximum.accumulate(r)
    starts = np.ones(len(order), dtype=bool)
    starts[1:] = l[1:] >= cr[:-1]
    si = np.flatnonzero(starts)
    return np.stack(
        [l[si], np.minimum.reduceat(t, si),
         np.maximum.reduceat(r, si), np.maximum.reduceat(b, si)],
        axis=1,
    ).astype(np.int64)


def _row_metrics(
    stats: np.ndarray, idxs: np.ndarray
) -> tuple[int, int, int, bool]:
    """(baseline_y, x_height, scale) for one row's blobs.

    Font model (fonts.py): every glyph bottom sits ON the baseline except
    descenders at exactly baseline + 4s, so baseline = min(bottoms); rises
    (baseline - top) lie in {3s, 8s, 12s} (punct / x-height / ascender),
    drops in {0, 4s}, and ink widths are s * {4, 7, 8, 9}.  The render
    scale s is the unique value consistent with all three constraints
    (compute_row_xheight family, makerow.cpp, solved exactly instead of
    statistically because the synthetic font is rigid).
    """
    gboxes = _merge_x_overlap_boxes(stats, idxs)
    bottoms = gboxes[:, 3]
    tops = gboxes[:, 1]
    widths = gboxes[:, 2] - gboxes[:, 0]
    # joint (baseline, scale) election: score every candidate pair by how
    # many glyphs the FULL font model explains — rise in {3s, 8s, 12s},
    # drop in [0, 4s] (a rule struck through the descender band leaves
    # truncated stubs, so any partial drop is allowed), ink width in
    # s * {4, 7, 8, 9} — and keep the highest-scoring pair.  Scoring the
    # constraints jointly (not as separate all-or-nothing gates) is what
    # makes the election robust to outlier glyphs: a damaged fragment, or
    # a raised superscript marker whose bottom would mimic "everything is
    # a descender" under a bottoms-only vote, simply fails to score while
    # the true baseline explains the majority.  Mirrors the consensus
    # nature of the reference's baseline fit (makerow.cpp LMS over many
    # blobs, not a single extremum).
    # one broadcast over the (candidate-baseline, scale, glyph) grid; ties
    # keep the largest consistent scale, then the smallest baseline
    bcands = np.unique(bottoms).astype(np.int64)  # ascending
    svals = np.array([1, 2, 3, 4], dtype=np.int64)[None, :, None]
    rises_c = bcands[:, None, None] - tops[None, None, :]
    drops_c = bottoms[None, None, :] - bcands[:, None, None]
    wq = widths[None, None, :] // svals
    ok = (
        (drops_c >= 0)
        & (drops_c <= 4 * svals)
        & (
            (rises_c == 3 * svals)
            | (rises_c == 8 * svals)
            | (rises_c == 12 * svals)
        )
        & (widths[None, None, :] % svals == 0)
        & ((wq == 4) | (wq == 7) | (wq == 8) | (wq == 9))
    )
    scores = ok.sum(axis=2)  # (n_bcands, 4)
    best_score = int(scores.max())
    if best_score > 0:
        sidx = int(np.flatnonzero(scores.max(axis=0) == best_score).max())
        bidx = int(np.flatnonzero(scores[:, sidx] == best_score).min())
        best_s, baseline_y = sidx + 1, int(bcands[bidx])
    else:
        best_s, baseline_y = 0, int(bottoms.min())
    rises = (baseline_y - tops).astype(np.int64)
    drops = (bottoms - baseline_y).astype(np.int64)
    if best_score <= 0:
        # fallback for degenerate rows (every glyph damaged): the
        # model-free partition fitter first (oldbasel.cpp — the
        # reference's default fitter assumes nothing about glyph
        # heights), then the consensus bottoms vote when the partition
        # verdict is unconfident
        if len(gboxes) >= 4:
            from .oldbasel import fit_old_baseline

            ob = fit_old_baseline(gboxes)
            if ob.ok and (ob.partids == ob.biggest).mean() >= 0.5:
                xmid = float((gboxes[:, 0].min() + gboxes[:, 2].max()) / 2)
                baseline_y = int(round(ob.y(xmid)))
                rises = (baseline_y - tops).astype(np.int64)
                drops = (bottoms - baseline_y).astype(np.int64)
                vals, counts = np.unique(
                    rises[rises > 0], return_counts=True
                )
                modal = (
                    float(vals[np.argmax(counts)])
                    if len(vals)
                    else X_HEIGHT_CANON
                )
                best_s = max(1, int(round(modal / X_HEIGHT_CANON)))
                s_fin = best_s
                ambiguous = bool(
                    len(bottoms) > 0
                    and (drops == 0).all()
                    and (rises >= 12 * s_fin - 2).all()
                )
                return baseline_y, X_HEIGHT_CANON * best_s, best_s, ambiguous
        # consensus bottoms vote + nearest scale from the modal rise
        baseline_y, best_n = int(bottoms.min()), -1
        for b in np.unique(bottoms):
            d = bottoms - b
            ok = (d == 0) | ((d > 0) & (d % 4 == 0) & (d // 4 <= 4))
            n = int(ok.sum())
            if n > best_n:
                baseline_y, best_n = int(b), n
        rises = (baseline_y - tops).astype(np.int64)
        drops = (bottoms - baseline_y).astype(np.int64)
        vals, counts = np.unique(rises[rises > 0], return_counts=True)
        modal = float(vals[np.argmax(counts)]) if len(vals) else X_HEIGHT_CANON
        best_s = max(1, int(round(modal / X_HEIGHT_CANON)))
    # baseline ambiguity: a row whose glyphs ALL show rise 12s / drop 0 is
    # either all-ascenders on the elected baseline or all-descenders on a
    # baseline 4s higher — bboxes cannot distinguish (both satisfy the font
    # model); flag it so recognition can test the alternative
    s_fin = best_s if best_s else 1
    # tolerance of 2px absorbs noise-filter shaving on damaged glyphs —
    # a row is ambiguous when NO glyph shows descender drop and every
    # glyph spans (close to) full ascender height
    ambiguous = bool(
        len(bottoms) > 0
        and (drops == 0).all()
        and (rises >= 12 * s_fin - 2).all()
    )
    return baseline_y, X_HEIGHT_CANON * best_s, best_s, ambiguous


def _descale_strip(
    mask: np.ndarray, l: int, r: int, baseline_y: int, scale: int
) -> np.ndarray:
    """Extract the canonical 16-row strip for a row (input-height rescale)."""
    h, w = mask.shape
    top = baseline_y - BASELINE * scale
    bot = baseline_y + (CELL_H - BASELINE) * scale
    strip = np.zeros((CELL_H * scale, r - l), dtype=bool)
    src_t, src_b = max(0, top), min(h, bot)
    strip[src_t - top : src_b - top] = mask[src_t:src_b, l:r]
    if scale > 1:
        strip = strip[::scale, ::scale]
    return strip


def _word_boxes(
    stats: np.ndarray, idxs: np.ndarray, space_px: int, fuzzy_px: int | None = None
) -> list[tuple[int, int, int, int]]:
    """Word bboxes from gap statistics (to_spacing, tospace.cpp:45-268).

    With ``fuzzy_px`` the split threshold drops to the fuzzy band's lower
    edge — the aggressive segmentation whose fuzzy splits the recognizer
    later joins back (or keeps) per resolve_fuzzy_spaces, mirroring the
    reference's fuzzy-space WERDs resolved by fix_fuzzy_spaces."""
    split_px = space_px if fuzzy_px is None else min(fuzzy_px, space_px)
    order = idxs[np.argsort(stats[idxs, 0], kind="stable")]
    l = stats[order, 0]
    t = stats[order, 1]
    r = stats[order, 2]
    b = stats[order, 3]
    # a word break falls wherever the gap to the PREVIOUS blob (not the
    # running right edge — overlapping glyphs were merged upstream)
    # reaches the split threshold; group bboxes via reduceat
    si = np.concatenate(
        ([0], np.flatnonzero(l[1:] - r[:-1] >= split_px) + 1)
    )
    return [
        (int(a), int(bb), int(c), int(d))
        for a, bb, c, d in zip(
            np.minimum.reduceat(l, si),
            np.minimum.reduceat(t, si),
            np.maximum.reduceat(r, si),
            np.maximum.reduceat(b, si),
        )
    ]


def _bbox_of(stats: np.ndarray, idxs: np.ndarray) -> tuple[int, int, int, int]:
    return (
        int(stats[idxs, 0].min()),
        int(stats[idxs, 1].min()),
        int(stats[idxs, 2].max()),
        int(stats[idxs, 3].max()),
    )


def _fuse_media_regions(media_regions: list["Region"]) -> list["Region"]:
    """Media regions overlapping a PHOTO fuse into it: a rule overlaying
    a photo (or two photo verdicts on one ink mass) is a single
    connected page element — separate detector verdicts are an
    implementation detail (found by the round-4 three-column fuzzer:
    a neighbour column's overhanging rule crossed another column's
    photo and the page emitted a phantom extra media span).  Rule-rule
    pairs never fuse: crossing separators (a form frame) are distinct
    rules by contract, and collinear fragments were already merged by
    the line finder.  Photo kind dominates a merged group."""
    if len(media_regions) <= 1:
        return media_regions
    parent = list(range(len(media_regions)))

    def _find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(len(media_regions)):
        l1, t1, r1, b1 = media_regions[i].bbox
        for j in range(i + 1, len(media_regions)):
            if (
                media_regions[i].kind != "photo"
                and media_regions[j].kind != "photo"
            ):
                continue
            l2, t2, r2, b2 = media_regions[j].bbox
            if l1 <= r2 and l2 <= r1 and t1 <= b2 and t2 <= b1:
                parent[_find(i)] = _find(j)
    groups: dict[int, list[Region]] = {}
    for i, g in enumerate(media_regions):
        groups.setdefault(_find(i), []).append(g)
    if len(groups) == len(media_regions):
        return media_regions
    fused = []
    for members in groups.values():
        u = members[0]
        for g in members[1:]:
            u = Region(
                kind="photo" if "photo" in (u.kind, g.kind) else u.kind,
                bbox=(
                    min(u.bbox[0], g.bbox[0]),
                    min(u.bbox[1], g.bbox[1]),
                    max(u.bbox[2], g.bbox[2]),
                    max(u.bbox[3], g.bbox[3]),
                ),
                block_id=-1,
            )
        fused.append(u)
    return fused


def _paragraphs(
    rows: list[Row], block_left: int, separators: list[tuple] = ()
) -> list[list[int]]:
    """Group row indices into paragraphs (paragraphs.cpp geometric pass).

    Break on: vertical gap > 1.8× modal pitch, a first-line indent
    (row left >= block_left + 2×space width), or a horizontal SEPARATOR
    rule lying between the two rows (removed rules bound partitions,
    the ColPartition grid semantics of colpartitionset.cpp — a ruled-off
    section is its own block even at line pitch).
    """
    if not rows:
        return []
    if len(rows) == 1:
        return [[0]]
    tops = np.array([r.bbox[1] for r in rows])
    pitches = np.diff(tops)
    # line pitch = smallest recurring row advance; paragraph gaps are larger
    line_pitch = float(np.min(pitches)) if len(pitches) else 0.0
    groups: list[list[int]] = [[0]]
    for i in range(1, len(rows)):
        gap = tops[i] - tops[i - 1]
        # rows beside a drop cap measure their margin one space past
        # the cap (compute_row_margins, ocrblock.cpp:322-324)
        left_ref = max(block_left, getattr(rows[i], "drop_cap_pad", 0))
        indent = rows[i].bbox[0] - left_ref
        indent_break = indent >= 2 * rows[i].space_px * 1
        gap_break = (line_pitch > 0 and gap > 1.8 * line_pitch) or (
            gap > 2.2 * CELL_H * rows[i].scale
        )
        sep_break = False
        if separators:
            prev_bot = rows[i - 1].bbox[3]
            cur_top = tops[i]
            rl, rr = rows[i].bbox[0], rows[i].bbox[2]
            block_right = max(r.bbox[2] for r in rows)
            tol = 2 * rows[i].space_px
            for sl, st, sr, sb in separators:
                sy = (st + sb) / 2.0
                if not (prev_bot <= sy <= cur_top and sl < rr and sr > rl):
                    continue
                # the rule bounds this block only when the block OWNS
                # it: it starts at the block's left margin (a column's
                # own section rule, whatever its length), or it fully
                # spans the block (a page-wide separator crossing every
                # column).  A neighbouring column's rule overhanging
                # into this column starts far left of the block and
                # ends mid-block — it is that column's separator, not
                # this one's (the reference keeps separators in their
                # own column's partition set, colpartitionset.cpp;
                # found by the round-4 three-column fuzzer, where such
                # overhangs split the next column's paragraphs)
                own = abs(sl - block_left) <= tol
                spans = sl <= block_left + tol and sr >= block_right - tol
                if own or spans:
                    sep_break = True
                    break
        if gap_break or indent_break or sep_break:
            groups.append([i])
        else:
            groups[-1].append(i)
    return groups


def analyze_page(
    gray: np.ndarray,
    dpi: int = 300,
    single_column: bool = False,
    deva_split: bool = False,
) -> PageResult:
    """Full page-stage analysis of a grayscale page image.

    ``single_column``: skip column-set selection and treat all text as
    one block (PSM_SINGLE_COLUMN / PSM_SINGLE_BLOCK gating,
    publictypes.h:186-207 — the PSM predicates turn layout stages off).

    ``deva_split``: run the shiro-rekha splitter on the page ink before
    component labeling (ShiroRekhaSplitter::Split,
    devanagari_processing.cpp:126-152 — gated on script, like the
    reference's init-time Devanagari config), so conjoined Indic words
    separate into per-glyph cells."""
    res = PageResult()
    if gray.size == 0:
        return res
    ink = binarize_otsu(gray)
    if not ink.any():  # empty-page short circuit (baseapi.cpp:770-773)
        return res

    pre_skew = 0.0
    if deva_split:
        # Reference order: the shiro-rekha split precedes page
        # segmentation and line removal (Tesseract::PrepareForPageseg
        # splits before SegmentPage, tesseractclass.cpp), else the line
        # finder sees every conjoined word's top bar as an h-line
        # candidate whose own body ink defeats the nonline-density
        # rescue.  The splitter's per-row histogram needs a horizontal
        # bar, so estimate the quantized shear on the conjoined blobs
        # first (their tops/bottoms align at the bar/baseline) and
        # unshear before splitting.
        from .devanagari import split_shiro_rekha_page

        base_ink = ink
        _l0, _n0, stats0 = label_and_stats(ink)
        pre_skew = estimate_skew(stats0)
        if pre_skew != 0.0:
            ink = unshear(ink, pre_skew)
        ink, res.deva_splits, deva_mask = split_shiro_rekha_page(
            ink, return_mask=True
        )
        # Residual check: the conjoined-blob estimate can land one grid
        # step off (wide components stress the integer-edge model), and
        # TWO quantized unshears do not compose to one —
        # round(s1*x) + round(s2*x) != round((s1+s2)*x) — leaving
        # internally sheared glyphs the exact template gate rejects.
        # Re-estimate on the SPLIT cells (narrow blobs, the estimator's
        # validated regime) and, on a residual, redo from the original
        # ink in a single transform.
        _l1, _n1, stats1 = label_and_stats(ink)
        residual = estimate_skew(stats1)
        if residual != 0.0:
            pre_skew = pre_skew + residual
            ink = unshear(base_ink, pre_skew) if pre_skew != 0.0 else base_ink
            ink, res.deva_splits, deva_mask = split_shiro_rekha_page(
                ink, return_mask=True
            )

    # Morphological pre-passes in the reference's order
    # (pagesegmain.cpp:287-293): rule-line find/remove FIRST
    # (linefind.cpp:674) so a rule struck through text doesn't fuse glyphs
    # into one unusable component, then the halftone photo mask
    # (imagefind.cpp:247) — dot patterns are thousands of tiny CCs that
    # blob grading below cannot see.  Music staves fold into the photo
    # regions (pagesegmain.cpp:204-219).
    from .linefind import find_and_remove_lines, find_images
    from .superscript import find_script_segments

    _cc_cache = None
    ink, v_vecs, h_vecs, music_mask = find_and_remove_lines(
        ink, dpi, protect=deva_mask if deva_split else None
    )
    # skew retry: a thin rule on a sheared page staircases into
    # short segments the straight-run morphology cannot see (a 1px
    # rule at slope s has runs of ~1/|s| px per row).  Estimate the
    # shear from the components, re-run the finder on a DESKEWED
    # copy, and map the removed pixels and boxes back through the
    # exact integer shear (unshear with the negated slope inverts
    # the quantized column shifts exactly).  Straight pages never
    # reach this (skew 0); sheared rule-less pages pay one extra
    # lazily-gated pass.  The reference tolerates slope later, at
    # TabVector fitting — this engine's quantized-shear model makes
    # the deskew-retry the faithful equivalent.  The retry runs
    # even when the first pass FOUND rules: a sheared page can hide
    # further collinear bars whose staircase defeated the straight
    # morphology (first-pass finds are already removed from the
    # ink, so the retry only ever adds what was missed) — gating on
    # an empty first pass made rule detection skew-dependent.
    _lr, _nr, st_r = label_and_stats(ink)
    # reusable downstream while the ink is untouched (the common
    # sheared text page pays for this labeling ONCE)
    if not v_vecs and not h_vecs and music_mask is None:
        _cc_cache = (_lr, _nr, st_r)
    # with_ambiguity here so the main deskew below can REUSE this estimate
    # (identical inputs) when grading filters nothing — the common text
    # page then runs estimate_skew once, not twice
    _sk, _sk_amb = estimate_skew(st_r[:_nr], with_ambiguity=True)
    if _sk != 0.0:
        _desk = unshear(ink, _sk)
        # Horizontal-only pre-gate for the retry: our quantized shear
        # shifts whole COLUMNS, so vertical runs are invariant — the
        # first (sheared) pass already judged every vertical
        # candidate, and only horizontal rules / staves can staircase
        # into hiding.  One dilate+erode pair decides whether the
        # deskewed copy holds any closing-length horizontal run at
        # all; the common skewed TEXT page skips the full finder.
        from .linefind import dilate_brick, erode_brick

        _cb = max(1, max(1, dpi // 20) // 3)
        _L = max(2, dpi // 4)
        _dil2 = dilate_brick(_desk, _cb, _cb)
        if erode_brick(_dil2, _L, 1).any():
            # the pre-gate's dilated mask and its h-run proof carry into
            # the finder (same brick/length formulas) — gate1 skipped
            _clean2, v2, h2, music2 = find_and_remove_lines(
                _desk, dpi, protect=None, pix_dil=_dil2, gate1_known=True
            )
        else:
            _clean2, v2, h2, music2 = _desk, [], [], None
        if v2 or h2 or music2 is not None:
            removed = _desk & ~_clean2
            ink = ink & ~unshear(removed, -_sk)
            _cc_cache = None

            def _shear_box(b):
                l, t, r, bb = b
                sh = [round(_sk * l), round(_sk * max(l, r - 1))]
                return (l, t + min(sh), r, bb + max(sh))

            v_vecs = v_vecs + [
                type(v)(kind=v.kind, bbox=_shear_box(v.bbox))
                for v in v2
            ]
            h_vecs = h_vecs + [
                type(h)(kind=h.kind, bbox=_shear_box(h.bbox))
                for h in h2
            ]
            if music2 is not None:
                m2 = unshear(music2, -_sk)
                music_mask = (
                    m2 if music_mask is None else (music_mask | m2)
                )
    res.v_rules, res.h_rules = len(v_vecs), len(h_vecs)
    res.has_music = music_mask is not None
    pre_regions: list[Region] = [
        Region(kind="rule", bbox=v.bbox, block_id=-1) for v in v_vecs + h_vecs
    ]
    photo_mask = find_images(ink)
    if photo_mask.any():
        ink = ink & ~photo_mask
        _cc_cache = None
        # absorb mask-residue chunks (the round-4 KNOWN EDGE): the
        # block-aligned halftone mask can sever a sheared photo,
        # leaving a dense remainder that re-enters the text pipeline
        # as a phantom row (its density drops below every photo gate
        # once the mask took the rest).  A remaining component that
        # ABUTS the removed area (8-connected within 1 px) with
        # photo-like density is the photo's own flesh — the
        # reference's partition filtering re-absorbs such pieces
        # (imagefind.cpp:1106-1180).  Text never abuts a photo at
        # 1 px: glyphs sit a paragraph gap away, and the area/density
        # gates keep stray specks and ordinary glyphs out.
        from .linefind import dilate_brick as _dil

        _fat = _dil(photo_mask, 3, 3)
        _lr2, _nr2, st_r2 = label_and_stats(ink)
        _absorbed = False
        for _i in range(_nr2):
            _l, _t, _r, _b, _a = (int(x) for x in st_r2[_i])
            if _a < 100:
                continue
            if _a < 0.3 * (_r - _l) * (_b - _t):
                continue
            _cm = _lr2[_t:_b, _l:_r] == _i + 1
            if (_cm & _fat[_t:_b, _l:_r]).any():
                photo_mask[_t:_b, _l:_r] |= _cm
                ink[_t:_b, _l:_r] &= ~_cm
                _absorbed = True
        del _fat, _lr2, st_r2
    if music_mask is not None:
        photo_mask = photo_mask | music_mask
    if photo_mask.any():
        _pl, pn, pstats = label_and_stats(photo_mask)
        pre_regions += [
            Region(
                kind="photo",
                bbox=(int(l), int(t), int(r), int(b)),
                block_id=-1,
            )
            for l, t, r, b, _a in pstats[:pn]
        ]
    if not ink.any():  # page was nothing but separators/photos
        regions = sorted(pre_regions, key=lambda g: (g.bbox[1], g.bbox[0]))
        for bi, g in enumerate(regions):
            g.block_id = bi
        res.regions = regions
        return res

    if _cc_cache is not None:
        labels, n, stats = _cc_cache
    else:
        labels, n, stats = label_and_stats(ink)

    # underline/overline separation (makerow.cpp:1771 separate_underlines
    # + underlin.cpp restore): bars merged with character ink are erased
    # and the characters restored BEFORE grading, so a struck word never
    # reaches the row builder as one giant blob.  Cheap gate: the pass
    # only inspects wide components, and the common page has none.
    wide = (stats[:n, 2] - stats[:n, 0]) >= np.maximum(
        16, 1.5 * (stats[:n, 3] - stats[:n, 1])
    )
    if wide.any():
        from .underline import separate_underlines_page

        res.n_underlines = separate_underlines_page(
            ink, labels, n, stats, bars=res.underline_bars
        )
        if res.n_underlines:
            labels, n, stats = label_and_stats(ink)

    grade = _grade_blobs(stats, ink, labels)
    res.n_blobs = int((grade == 0).sum())
    res.n_noise = int((grade == 1).sum())

    # media regions (photo/rule) leave the text pipeline here; bboxes are
    # transformed into the deskewed frame below so they share the text
    # regions' coordinate system (reading order + sink bboxes)
    media_regions: list[Region] = list(pre_regions)
    for kind_code, kind in ((2, "photo"), (3, "rule")):
        for i in np.flatnonzero(grade == kind_code):
            l, t, r, b, _a = (int(v) for v in stats[i])
            media_regions.append(Region(kind=kind, bbox=(l, t, r, b), block_id=-1))
    # fuse overlapping media HERE, while every bbox is still in the
    # original (sheared) frame and therefore tight — the deskew mapping
    # below expands boxes conservatively at their shear envelopes, and
    # merging after it manufactured phantom photo+rule overlaps at high
    # skew (round-4 fuzzer: a 0.06-skew page fused a column rule into
    # the photo 60 px above it)
    media_regions = _fuse_media_regions(media_regions)

    text_idx = np.flatnonzero(grade == 0)
    if len(text_idx) == 0:
        regions = sorted(media_regions, key=lambda g: (g.bbox[1], g.bbox[0]))
        for bi, g in enumerate(regions):
            g.block_id = bi
        res.regions = regions
        return res

    # deskew: estimate quantized shear on a text+noise mask (shear can chip
    # sub-pixel fragments off glyph tails; they re-merge after unshear, so
    # noise filtering must wait — reference order: Deskew tabfind.cpp:1287
    # precedes final grading), then unshear and re-extract.
    keep_idx = np.flatnonzero((grade == 0) | (grade == 1))
    if stats is st_r and len(keep_idx) == n:
        # same stats rows as the retry-gate estimate above (cache held and
        # nothing was graded out): the answer cannot differ — reuse it
        skew, skew_ambiguous = _sk, _sk_amb
    else:
        skew, skew_ambiguous = estimate_skew(stats[keep_idx], with_ambiguity=True)
    # total reported shear includes the deva pre-pass even when the
    # post-split residual is exactly 0 (the pre-pass did all the work)
    res.skew = skew + pre_skew

    def mask_of(lbl: np.ndarray, count: int, idx: np.ndarray) -> np.ndarray:
        lut = np.zeros(count + 1, dtype=bool)
        lut[idx + 1] = True
        return lut[lbl]

    if skew != 0.0:
        # labels/stats describe the current ink exactly; when nothing was
        # graded out the keep mask IS the ink — skip the LUT paint
        src_mask = ink if len(keep_idx) == n else mask_of(labels, n, keep_idx)
        if skew_ambiguous or abs(skew) >= 0.0495:
            # refine on ambiguity, and ALWAYS near the grid's outer
            # edge: beyond ~0.055 glyphs shear internally (column shifts
            # step inside one glyph's width) and the bbox vote can be
            # DECISIVELY one step off (see estimate_skew's envelope
            # note) — a true 0.055/0.06 page can READ as 0.05, so the
            # gate keys on the estimate from 0.05 up; the pixel-
            # roughness criterion is exact there, and it keeps the bbox
            # winner on ties so in-envelope behaviour is unchanged.
            # pixel-level tie-break between grid-neighbouring slopes: on
            # a sparse page (few tiny blobs over a short x-range) the
            # bbox vote cannot separate adjacent slopes, and an
            # off-slope unshear shears glyphs INTERNALLY at its rounding
            # boundaries (round(s*x) steps mid-glyph, unmatchable
            # downstream).  Refinement runs ONLY when the bbox vote is
            # ambiguous — on ordinary pages the bbox winner is both
            # decisive and exact, and local pixel criteria are NOISIER
            # than it (tiny-glyph diagonals can score a neighbour
            # fractionally better), so an unconditional refine would
            # break pages the estimator got right.
            skew = _refine_skew_pixels(src_mask, skew)
            res.skew = skew + pre_skew  # refined total
        elif len(keep_idx) <= 8:
            # sparse page: too few bbox voters for the quantized-edge
            # election to be trusted even when decisive (round-5 fuzz:
            # a two-word scale-3 page at -0.055 read -0.03) — run the
            # whole-grid pixel election; the bbox winner stands unless
            # beaten on BOTH pixel criteria
            skew = _global_skew_pixels(src_mask, skew)
            res.skew = skew + pre_skew
        text_mask = unshear(src_mask, skew)
        labels, n, stats = label_and_stats(text_mask)
        # move media bboxes into the deskewed frame: each column's pixels
        # shift up by round(skew*x), so the region's new vertical extent is
        # bounded by the shifts at its two x edges
        for g in media_regions:
            l, t, r, b = g.bbox
            sh_l = int(round(skew * l))
            sh_r = int(round(skew * max(l, r - 1)))
            lo, hi = min(sh_l, sh_r), max(sh_l, sh_r)
            g.bbox = (l, t - hi, r, b - lo)
        # underline bars share the deskewed frame with the word boxes
        res.underline_bars = [
            (
                l,
                t - max(int(round(skew * l)), int(round(skew * max(l, r - 1)))),
                r,
                b - min(int(round(skew * l)), int(round(skew * max(l, r - 1)))),
            )
            for (l, t, r, b) in res.underline_bars
        ]
        grade = _grade_blobs(stats)
        text_idx = np.flatnonzero(grade == 0)
        if len(text_idx) < n:  # drop re-graded noise pixels from the strips
            text_mask = mask_of(labels, n, text_idx)
    elif len(text_idx) == n:
        # nothing filtered: the ink mask IS the text mask (skip a pass)
        text_mask = ink
    else:
        # no shear: reuse the original labeling, keep text blobs only
        text_mask = mask_of(labels, n, text_idx)

    if deva_split and text_mask.any():
        # shiro-rekha split AFTER deskew (the bar must be horizontal for
        # the per-row histogram peak of GetShiroRekhaYExtents to find it;
        # the reference likewise splits on the deskewed page image,
        # devanagari_processing.cpp:126-152), then re-extract components
        # so each per-glyph cell becomes its own blob
        from .devanagari import split_shiro_rekha_page

        text_mask, late_splits = split_shiro_rekha_page(text_mask)
        res.deva_splits += late_splits
        if late_splits:
            labels, n, stats = label_and_stats(text_mask)
            grade = _grade_blobs(stats)
            text_idx = np.flatnonzero(grade == 0)
            if len(text_idx) < n:
                text_mask = mask_of(labels, n, text_idx)
    tstats = stats[text_idx]

    # column blocks by strip-banded column-set selection (the column-set
    # DP of colfind.cpp:548-927 re-expressed): instead of one whole-page
    # x-projection (which a full-width pullout destroys), each row strip
    # votes with its own gutter signature; a gutter cluster is accepted
    # when more strips support it than cross it, and strips whose ink
    # crosses an accepted gutter become full-width pullout blocks.
    page_w = gray.shape[1]
    min_gutter = 4 * WORD_GAP  # wider than any word gap at render scale <= 3
    if single_column:
        blocks, runs_of = (
            [np.arange(len(tstats))] if len(tstats) else []
        ), [0]
    else:
        blocks, runs_of = _column_sets(tstats, page_w, min_gutter)

    text_regions: list[Region] = []
    for bsel in blocks:
        bstats = tstats[bsel]
        # drop-cap pass (compute_row_margins, ocrblock.cpp:331-369):
        # cluster without the oversized candidates, then confirm each —
        # a real cap's bottom reaches the mid-height of the SECOND line
        # and it sits left of the first line's remaining text.
        cap_local = _drop_cap_candidates(bstats)

        def _grouped(exclude: np.ndarray) -> list[np.ndarray]:
            if len(exclude) == 0:
                return _cluster_rows(bstats)
            keep = np.setdiff1d(
                np.arange(len(bstats), dtype=np.int64), exclude
            )
            if len(keep) == 0:
                return []
            return [keep[g] for g in _cluster_rows(bstats[keep])]

        row_groups = _grouped(cap_local)
        caps_of_row: dict[int, int] = {}  # first-row group idx -> blob
        if len(cap_local) and len(row_groups) >= 2:
            bands = [
                (int(bstats[g, 1].min()), int(bstats[g, 3].max()))
                for g in row_groups
            ]
            confirmed: list[int] = []
            for c in cap_local:
                ct, cb = int(bstats[c, 1]), int(bstats[c, 3])
                first = next(
                    (
                        k
                        for k, (bt, bb) in enumerate(bands)
                        if ct < bb and cb > bt
                    ),
                    None,
                )
                if first is None or first + 1 >= len(bands):
                    continue
                bt2, bb2 = bands[first + 1]
                mid2 = (bt2 + bb2) / 2.0
                row_l = int(bstats[row_groups[first], 0].min())
                if cb >= mid2 and int(bstats[c, 2]) <= row_l:
                    confirmed.append(int(c))
                    caps_of_row[first] = int(c)
            if set(confirmed) != set(cap_local.tolist()):
                # unconfirmed candidates are ordinary blobs (e.g. a
                # scale-outlier glyph): put them back and re-cluster
                row_groups = _grouped(np.asarray(confirmed, dtype=np.int64))
                caps_of_row = {}
                if confirmed and len(row_groups) >= 2:
                    bands = [
                        (int(bstats[g, 1].min()), int(bstats[g, 3].max()))
                        for g in row_groups
                    ]
                    for c in confirmed:
                        ct, cb = int(bstats[c, 1]), int(bstats[c, 3])
                        first = next(
                            (
                                k
                                for k, (bt, bb) in enumerate(bands)
                                if ct < bb and cb > bt
                            ),
                            None,
                        )
                        if first is not None:
                            caps_of_row[first] = c
        rows: list[Row] = []
        for gi, gidx in enumerate(row_groups):
            baseline_y, x_height, scale, ambiguous = _row_metrics(bstats, gidx)
            l, t, r, b = _bbox_of(bstats, gidx)
            space_px = WORD_GAP * scale
            # aggressive split at the fuzzy band's lower edge, in
            # full-scale px aligned with the recognizer's canonical
            # threshold (fuzzy_canon * scale)
            wboxes = _word_boxes(
                bstats,
                gidx,
                space_px,
                fuzzy_space_px(max(2, space_px // scale - 1)) * scale,
            )
            # sub/superscript candidate split (superscript.cpp:258-343):
            # y-outlier runs at word edges leave the row for their own
            # re-normalized decode; the word boxes shrink accordingly
            segs, wboxes = find_script_segments(
                bstats, gidx, baseline_y, x_height, scale, wboxes, text_mask
            )
            strip = _descale_strip(text_mask, l, r, baseline_y, scale)
            alt_strip = (
                _descale_strip(text_mask, l, r, baseline_y - 4 * scale, scale)
                if ambiguous
                else None
            )
            for seg in segs:  # split_word's chop: erase the run's columns
                c0 = max(0, (seg.bbox[0] - l) // scale)
                c1 = min(strip.shape[1], -(-(seg.bbox[2] - l) // scale))
                strip[:, c0:c1] = False
                if alt_strip is not None:
                    alt_strip[:, c0:c1] = False
            row = Row(
                bbox=(l, t, r, b),
                baseline_y=baseline_y,
                x_height=x_height,
                scale=scale,
                strip=strip,
                strip_x0=l,
                word_boxes=wboxes,
                space_px=space_px,
                alt_strip=alt_strip,
                script_segs=segs,
            )
            if gi in caps_of_row:
                # the cap decodes at its OWN scale (an uppercase glyph is
                # BASELINE rows tall at scale 1); its bottom is its
                # baseline.  The first word's box absorbs the cap
                # (the cap blob rides in the first word's blob list,
                # ocrblock.cpp:353)
                c = caps_of_row[gi]
                cl, ct2, cr, cb = (int(v) for v in bstats[c, :4])
                cap_scale = max(1, round((cb - ct2) / BASELINE))
                row.has_drop_cap = True
                row.cap_strip = _descale_strip(
                    text_mask, cl, cr, cb, cap_scale
                )
                row.cap_bbox = (cl, ct2, cr, cb)
                if row.word_boxes:
                    w0 = row.word_boxes[0]
                    row.word_boxes[0] = (
                        min(w0[0], cl), min(w0[1], ct2),
                        max(w0[2], cr), max(w0[3], cb),
                    )
            rows.append(row)
        # margin pad for rows beside a cap: "one space past the drop
        # cap" (ocrblock.cpp:322-324) so the indent rule of the
        # paragraph pass does not split them off
        for row in rows:
            for cr_row in rows:
                if cr_row.cap_bbox is None or cr_row is row:
                    # the FIRST line's margin is measured relative to the
                    # block, not past its own cap (ocrblock.cpp:322-325) —
                    # padding it would suppress the indent break that
                    # separates a drop-cap paragraph from its predecessor
                    continue
                cl, ct2, cr2, cb = cr_row.cap_bbox
                if row.bbox[1] < cb and row.bbox[3] > ct2:
                    row.drop_cap_pad = max(
                        row.drop_cap_pad, cr2 + row.space_px
                    )
        block_bbox = _bbox_of(bstats, np.arange(len(bstats)))
        region = Region(kind="text", bbox=block_bbox, block_id=-1, rows=rows)
        # horizontal separator rules bound paragraphs (removed rules are
        # partition boundaries, colpartitionset semantics)
        h_seps = [
            g.bbox
            for g in media_regions
            if g.kind == "rule"
            and (g.bbox[2] - g.bbox[0]) > (g.bbox[3] - g.bbox[1])
        ]
        region.paragraphs = _paragraphs(rows, block_bbox[0], h_seps)
        text_regions.append(region)

    # reading order: run-major (vertical bands top-down), columns
    # left-to-right inside a run — a pullout between column bands reads
    # after the band above it and before the one below (the reference's
    # block ordering after the column DP, layout_test.cc semantics).
    # Media: after text on multi-column pages, interleaved by y otherwise.
    if len(text_regions) > 1:
        order = sorted(
            range(len(text_regions)),
            key=lambda i: (runs_of[i], text_regions[i].bbox[0]),
        )
        regions = [text_regions[i] for i in order] + sorted(
            media_regions, key=lambda g: (g.bbox[1], g.bbox[0])
        )
    else:
        regions = sorted(
            text_regions + media_regions, key=lambda g: (g.bbox[1], g.bbox[0])
        )
    for bi, g in enumerate(regions):
        g.block_id = bi
    res.regions = regions
    return res
