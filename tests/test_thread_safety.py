"""Concurrent recognition safety — the baseapi_thread_test analogue
(unittest/baseapi_thread_test.cc: N threads OCR pages concurrently and
every result must match the single-threaded text).

local[32] runs 32 executor threads in ONE JVM/process; the Python
side's model singletons (template net, static classifier, VGSL model)
are process-shared the same way, so concurrent decode must be safe and
deterministic."""

import concurrent.futures

import pytest

from tesseract_spark.functions.compose import PageSpec, compose_page
from tesseract_spark.operators.legacy import recognize_page_legacy
from tesseract_spark.operators.recognize import recognize_page


@pytest.fixture(scope="module")
def pages():
    specs = [
        PageSpec(paragraphs=[[f"page {i} words here", "second line text"]])
        for i in range(8)
    ]
    return [compose_page(s) for s in specs], specs


def _texts(spans):
    return [(s.kind, s.text) for s in spans]


def test_concurrent_recognize_matches_serial(pages):
    imgs, specs = pages
    serial = [
        _texts(recognize_page(p.image, s.dpi)[0])
        for p, s in zip(imgs, specs)
    ]
    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        futs = [
            ex.submit(lambda p=p, s=s: _texts(recognize_page(p.image, s.dpi)[0]))
            for p, s in zip(imgs, specs)
        ]
        parallel = [f.result() for f in futs]
    assert parallel == serial


def test_concurrent_legacy_engine(pages):
    imgs, specs = pages
    # whole SubSpans compare: kind, text, confidence and counts
    serial = [
        recognize_page_legacy(p.image, s.dpi)[0]
        for p, s in zip(imgs, specs)
    ]
    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        futs = [
            ex.submit(
                lambda p=p, s=s: recognize_page_legacy(p.image, s.dpi)[0]
            )
            for p, s in zip(imgs, specs)
        ]
        parallel = [f.result() for f in futs]
    assert parallel == serial
