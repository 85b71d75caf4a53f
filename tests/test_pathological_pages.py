"""Pathological-page crash resistance: every recognition entry point
must return gracefully (possibly empty spans) on degenerate rasters —
the per-page contract behind the pipeline's corruption isolation
(thresholder.cpp's dimension guards; a single bad page may never kill
a 100 TB job)."""

import numpy as np
import pytest

from tesseract_spark.functions.image_ops import binarize_otsu
from tesseract_spark.operators.legacy import (
    recognize_page_combined,
    recognize_page_legacy,
)
from tesseract_spark.operators.linefind import find_and_remove_lines
from tesseract_spark.operators.osd import detect_orientation, detect_script
from tesseract_spark.operators.recognize import (
    process_page,
    recognize_page,
    recognize_pages_vgsl,
)
from tesseract_spark.operators.vertical import recognize_page_auto

CASES = {
    "all_black": np.zeros((40, 60), np.uint8),
    "all_white": np.full((40, 60), 255, np.uint8),
    "one_pixel": np.full((1, 1), 20, np.uint8),
    "one_px_row": np.full((1, 80), 20, np.uint8),
    "one_px_col": np.full((80, 1), 235, np.uint8),
    "salt": (np.random.default_rng(0).integers(0, 2, (60, 90)) * 255
             ).astype(np.uint8),
    "checker": (np.indices((64, 64)).sum(0) % 2 * 255).astype(np.uint8),
    "max_noise": np.random.default_rng(1).integers(0, 256, (100, 150)
                                                   ).astype(np.uint8),
    "thin_bar": np.full((2, 300), 20, np.uint8),
}

ENTRY_POINTS = [
    ("page", recognize_page),
    ("auto", recognize_page_auto),
    ("legacy", recognize_page_legacy),
    ("vgsl", lambda g: recognize_pages_vgsl([g])[0]),
    ("combined", recognize_page_combined),
    ("psm_line", lambda g: process_page(g, psm=7)),
    ("psm_char", lambda g: process_page(g, psm=10)),
]


@pytest.mark.parametrize("case", sorted(CASES))
def test_every_entry_point_survives(case):
    img = CASES[case]
    for _tag, fn in ENTRY_POINTS:
        spans, _layout = fn(img)
        assert isinstance(spans, list)
    detect_orientation(img)
    detect_script(img)
    find_and_remove_lines(binarize_otsu(img), 300)
