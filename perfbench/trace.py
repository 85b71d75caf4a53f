"""Per-page layer tracing from outside the program.

``PageTracer`` replaces public functions of the engine with wrappers
that record one span per call (layer, parent span, start, end); the
originals come back when the ``hooks()`` block ends.  Spans stay in
memory; ``ledger()`` turns them into per-layer calls, inclusive time and
self time (a span's duration minus the part its child spans cover) and
``write_spans()`` writes them out at the end of the run.  A hook whose
target no longer exists is reported under ``missing``; it never fails
the run.
"""

from __future__ import annotations

import importlib
import json
import time
from contextlib import contextmanager
from pathlib import Path

# (layer, module, attribute) — a dotted attribute patches a class method.
# Names are patched where the caller looks them up: page.py binds
# binarize_otsu/label_and_stats at import, recognize.py binds
# analyze_page/ctc_beam_decode at import, the rest resolve at call time.
HOOKS = (
    ("decode", "tesseract_spark.functions.image_codecs", "decode_gray_pages"),
    ("decode", "tesseract_spark.functions.image_codecs", "decode_gray_image"),
    ("recognize", "tesseract_spark.operators.recognize", "recognize_page_detail"),
    ("layout", "tesseract_spark.operators.recognize", "analyze_page"),
    ("layout.otsu", "tesseract_spark.operators.page", "binarize_otsu"),
    ("layout.ccl", "tesseract_spark.operators.page", "label_and_stats"),
    ("layout.ccl", "tesseract_spark.operators.linefind", "label_and_stats"),
    ("layout.linefind", "tesseract_spark.operators.linefind", "find_and_remove_lines"),
    ("recog.forward", "tesseract_spark.lstm.templates", "TemplateNet.forward"),
    ("recog.forward", "tesseract_spark.lstm.templates", "TemplateNet.precompute_scores"),
    ("recog.ctc", "tesseract_spark.operators.recognize", "ctc_beam_decode"),
)

ROOT_LAYER = "page"  # the benchmark's own span around one page
# the ledger's reconciliation holds when the layers' self times sum to
# the traced loop's wall time within this share
RECONCILE_TOLERANCE = 0.03


class PageTracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, int, float, float]] = []  # layer, parent, t0, t1
        self.missing: list[str] = []
        self.pages = 0
        self._stack: list[int] = []

    # ---- span recording ---------------------------------------------------

    def _enter(self, layer: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((layer, parent, time.perf_counter(), 0.0))
        self._stack.append(idx)
        return idx

    def _exit(self, idx: int) -> None:
        layer, parent, t0, _ = self.spans[idx]
        self.spans[idx] = (layer, parent, t0, time.perf_counter())
        self._stack.pop()

    @contextmanager
    def page(self):
        """The root span of one page; every hooked call inside nests in it."""
        idx = self._enter(ROOT_LAYER)
        try:
            yield
        finally:
            self._exit(idx)
            self.pages += 1

    def _wrap(self, layer: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            # a layer calling into itself (decode_gray_image ->
            # decode_gray_pages) stays one span
            if tracer._stack and tracer.spans[tracer._stack[-1]][0] == layer:
                return fn(*args, **kwargs)
            idx = tracer._enter(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._exit(idx)

        traced.__wrapped__ = fn
        return traced

    @contextmanager
    def hooks(self):
        undo = []
        self.missing = []
        for layer, modname, attr in HOOKS:
            try:
                owner = importlib.import_module(modname)
                *path, name = attr.split(".")
                for p in path:
                    owner = getattr(owner, p)
                fn = owner.__dict__[name] if isinstance(owner, type) else getattr(owner, name)
            except (ImportError, AttributeError, KeyError):
                self.missing.append(f"{layer}:{modname}.{attr}")
                continue
            setattr(owner, name, self._wrap(layer, fn))
            undo.append((owner, name, fn))
        try:
            yield self
        finally:
            for owner, name, fn in reversed(undo):
                setattr(owner, name, fn)

    # ---- ledger -------------------------------------------------------------

    def ledger(self, wall_s: float) -> dict:
        """Per-layer calls / inclusive / self seconds, and the check that
        the self times add up to the traced wall time."""
        child_s = [0.0] * len(self.spans)
        for layer, parent, t0, t1 in self.spans:
            if parent >= 0:
                child_s[parent] += t1 - t0
        layers: dict[str, dict] = {}
        for i, (layer, _parent, t0, t1) in enumerate(self.spans):
            row = layers.setdefault(layer, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += t1 - t0
            row["self_s"] += (t1 - t0) - child_s[i]
        self_sum = sum(r["self_s"] for r in layers.values())
        gap = abs(wall_s - self_sum) / wall_s if wall_s > 0 else 0.0
        return {
            "pages": self.pages,
            "layers": layers,
            "missing": sorted(set(self.missing)),
            "reconcile": {
                "traced_wall_s": wall_s,
                "self_sum_s": self_sum,
                "gap_share": gap,
                "tolerance": RECONCILE_TOLERANCE,
                "ok": gap <= RECONCILE_TOLERANCE,
            },
        }

    def write_spans(self, path: Path) -> None:
        with open(path, "w") as f:
            for i, (layer, parent, t0, t1) in enumerate(self.spans):
                f.write(json.dumps([i, parent, layer, round(t0, 7), round(t1, 7)]) + "\n")


def tracing_overhead(run_page, items) -> float:
    """Traced against untraced time of the same pages, measured page by
    page with the order alternating, so host drift and cache warmth fall
    on both sides alike.  Uses its own tracer; the ledger is untouched."""
    probe = PageTracer()
    plain = traced = 0.0
    for i, item in enumerate(items):
        for with_trace in ((False, True) if i % 2 == 0 else (True, False)):
            if with_trace:
                with probe.hooks():
                    t0 = time.perf_counter()
                    with probe.page():
                        run_page(item)
                    traced += time.perf_counter() - t0
            else:
                t0 = time.perf_counter()
                run_page(item)
                plain += time.perf_counter() - t0
    return traced / plain - 1.0 if plain > 0 else 0.0


def page_layer_metrics(ledger: dict) -> dict[str, float]:
    """Per-page layer metrics from a ledger.  Inclusive times for the
    named layers; recognition is recognize_page_detail minus its layout."""
    pages = max(1, ledger["pages"])
    rows = ledger["layers"]

    def total_ms(layer: str) -> float:
        return 1000.0 * rows.get(layer, {}).get("total_s", 0.0) / pages

    def calls(layer: str) -> float:
        return rows.get(layer, {}).get("calls", 0) / pages

    return {
        "decode.ms_per_page": total_ms("decode"),
        "layout.ms_per_page": total_ms("layout"),
        "layout.otsu.ms_per_page": total_ms("layout.otsu"),
        "layout.ccl.calls_per_page": calls("layout.ccl"),
        "layout.ccl.ms_per_page": total_ms("layout.ccl"),
        "layout.linefind.calls_per_page": calls("layout.linefind"),
        "layout.linefind.ms_per_page": total_ms("layout.linefind"),
        "recog.ms_per_page": total_ms("recognize") - total_ms("layout"),
        "recog.forward.calls_per_page": calls("recog.forward"),
        "recog.forward.ms_per_page": total_ms("recog.forward"),
        "recog.ctc.ms_per_page": total_ms("recog.ctc"),
    }
