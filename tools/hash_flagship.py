"""Hash the single-process flagship output for output-identity A/B checks.

Runs recognize_page over N flagship-distribution pages (same loader as
profile_flagship) and prints one sha256 over every span's
(kind, text, confidence, n_lines, n_words) — byte-identity evidence for
performance-only changes.  Then, over the first ROUTE_PAGES of those
pages, one sha256 of every span's (kind, text) per page-router route
(operators.recognize.recognize): the legacy, VGSL and combined engines,
the default engine at PSM 3/6/7, and PSM_AUTO_OSD.

    python tools/hash_flagship.py [n_pages]   # SPARK_GRAFT_SF_DIR=<sf dir>
"""

from __future__ import annotations

import hashlib
import os
import sys

os.environ.setdefault("OMP_NUM_THREADS", "1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROUTE_PAGES = 40  # the fixed page slice every router route is hashed over


def main():
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 300
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from tools.profile_flagship import load_pages

    from tesseract_spark.lstm.templates import get_net
    from tesseract_spark.operators.recognize import recognize_page

    pages = load_pages(n_pages, sf_dir)
    net = get_net()
    h = hashlib.sha256()
    for p in pages:
        spans, _layout = recognize_page(p.image, 300, None, net)
        for s in spans:
            h.update(
                f"{s.kind}|{s.text}|{s.confidence:.6f}|{s.n_lines}|{s.n_words}\n".encode()
            )
    print(f"{len(pages)} pages sha256={h.hexdigest()}")

    from tesseract_spark.config import (
        OEM_DEFAULT,
        OEM_LSTM_ONLY,
        OEM_TESSERACT_LSTM_COMBINED,
        OEM_TESSERACT_ONLY,
        PSM_AUTO,
        PSM_AUTO_OSD,
        PSM_SINGLE_BLOCK,
        PSM_SINGLE_LINE,
    )
    from tesseract_spark.operators.recognize import recognize

    routes = [
        ("legacy", OEM_TESSERACT_ONLY, PSM_AUTO),
        ("vgsl", OEM_LSTM_ONLY, PSM_AUTO),
        ("combined", OEM_TESSERACT_LSTM_COMBINED, PSM_AUTO),
        ("default_psm3", OEM_DEFAULT, PSM_AUTO),
        ("default_psm6", OEM_DEFAULT, PSM_SINGLE_BLOCK),
        ("default_psm7", OEM_DEFAULT, PSM_SINGLE_LINE),
        ("auto_osd", OEM_DEFAULT, PSM_AUTO_OSD),
    ]
    sample = pages[:ROUTE_PAGES]
    for name, oem, psm in routes:
        h = hashlib.sha256()
        for p in sample:
            spans, _words, _layout = recognize(p.image, 300, oem=oem, psm=psm)
            for s in spans:
                h.update(f"{s.kind}|{s.text}\n".encode())
        print(f"route {name}: {len(sample)} pages sha256={h.hexdigest()}")


if __name__ == "__main__":
    main()
