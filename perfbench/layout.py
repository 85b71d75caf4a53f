"""Workload ``layout_mix``: the single-page API user.

One ``TessBaseAPI`` is initialised once; every page is PNG bytes through
``SetImage`` -> ``GetUTF8Text``, one page at a time (a closed loop, one
client), in this process, single-threaded.  Spark is not involved.

The page generator is this benchmark's own frozen copy, modelled on the
composition fuzzer's spec generator, so that an edit to the fuzzer can
never change the workload.  Its axes are stratified: column count and
scale cycle through all nine pairs by page index, and every other
page-level axis takes each value on a fixed share of the pages, so that
every seed gets the same mix and only content and combinations vary.
"""

from __future__ import annotations

import random
import statistics
import subprocess
import sys
import time

from .common import ROOT, PeakRss, percentile, sha256_of, tail_percentile
from .trace import PageTracer, page_layer_metrics, tracing_overhead

N_PAGES = 405  # 45 of each (columns, scale) pair
SETUP_REPEATS = 5
OVERHEAD_PAGES = 90  # traced-vs-untraced pairs in the traced run

VOCAB = (
    "quick brown fox jumps over lazy dog pack my box with five dozen "
    "liquor jugs sphinx of black quartz judge vow amazingly few "
    "discotheques jukeboxes the provide 42 7 13 99 2026"
).split()
SKEW_GRID = [round(-0.06 + 0.005 * i, 4) for i in range(25)]
# page-level axes and the share of pages taking each value; every seed
# gets exactly these counts (shuffled within each columns x scale cell),
# so seeds differ in content and in how axes combine, not in the mix
AXES = {
    "n_paras": ((1, 1), (2, 1), (3, 1)),
    "skewed": ((False, 1), (True, 1)),
    "photos": ((0, 5), (1, 3), (2, 1)),
    "rules": ((0, 6), (1, 3), (2, 1)),
    "inverted": ((False, 4), (True, 1)),
    "noise_dots": ((0, 3), (2, 1), (4, 1), (7, 1)),
    "underline": ((False, 3), (True, 1)),
}


def _para(rng: random.Random, max_lines: int = 3) -> list[str]:
    return [
        " ".join(rng.choices(VOCAB, k=rng.randint(2, 4)))
        for _ in range(rng.randint(1, max_lines))
    ]


def _balanced(rng: random.Random, weighted, n: int) -> list:
    """n values in exact proportion to their weights (largest remainder),
    shuffled."""
    total = sum(w for _v, w in weighted)
    exact = [(v, n * w / total) for v, w in weighted]
    counts = {v: int(x) for v, x in exact}
    rest = sorted(exact, key=lambda vx: vx[1] - int(vx[1]), reverse=True)
    for v, _x in rest[: n - sum(counts.values())]:
        counts[v] += 1
    out = [v for v, _w in weighted for _ in range(counts[v])]
    rng.shuffle(out)
    return out


def page_spec(rng: random.Random, columns: int, scale: int, axes: dict):
    from tesseract_spark.functions.compose import PageSpec

    n_paras = axes["n_paras"]
    paragraphs = [_para(rng) for _ in range(n_paras)]
    column2 = [_para(rng) for _ in range(rng.randint(1, 3))] if columns >= 2 else None
    column3 = [_para(rng) for _ in range(rng.randint(1, 2))] if columns >= 3 else None
    skew = rng.choice([s for s in SKEW_GRID if s != 0.0]) if axes["skewed"] else 0.0
    photos = tuple(
        (rng.randrange(n_paras), rng.randint(38, 90), rng.randint(25, 46))
        for _ in range(axes["photos"])
    )
    rules = tuple(sorted(rng.sample(range(n_paras), k=min(axes["rules"], n_paras))))
    indents = tuple(i for i in range(n_paras) if rng.random() < 0.2)
    pullout = (
        [" ".join(rng.choices(VOCAB, k=4))]
        if column2 is not None and rng.random() < 0.25
        else None
    )
    underlines = ()
    if axes["underline"]:
        pi = rng.randrange(n_paras)
        underlines = ((pi, rng.randrange(len(paragraphs[pi]))),)
    return PageSpec(
        paragraphs=paragraphs,
        column2=column2,
        column3=column3,
        scale=scale,
        skew=skew,
        inverted=axes["inverted"],
        noise_dots=axes["noise_dots"],
        indent_paras=indents,
        photos=photos,
        rules=rules,
        pullout_lines=pullout,
        underlines=underlines,
    )


def expected_text(golden: list[tuple[str, str]]) -> str:
    """The composer golden joined the way GetUTF8Text joins text spans."""
    return "\n\n".join(t for kind, t in golden if kind == "text") + "\n"


def make_pages(seed: int) -> tuple[list[tuple[bytes, str]], str]:
    """[(png bytes, expected text)] and the sha256 of those inputs."""
    from tesseract_spark.functions.compose import compose_page
    from tesseract_spark.functions.png_codec import encode_gray_png

    rng = random.Random(seed)
    # page i is in cell (columns, scale) = (1 + i % 3, 1 + i // 3 % 3);
    # every axis is balanced within each cell, because page time follows
    # page area and the tail is the (3 columns, scale 3) cell
    per_cell = N_PAGES // 9
    axes = {
        cell: {name: _balanced(rng, weighted, per_cell) for name, weighted in AXES.items()}
        for cell in range(9)
    }
    pages = []
    for i in range(N_PAGES):
        cell = axes[i % 9]
        spec = page_spec(
            rng, columns=1 + i % 3, scale=1 + i // 3 % 3,
            axes={name: vals[i // 9] for name, vals in cell.items()},
        )
        page = compose_page(spec)
        pages.append((encode_gray_png(page.image), expected_text(page.golden)))
    digest = sha256_of(c for png, text in pages for c in (png, text.encode()))
    return pages, digest


_SETUP_PROBE = """
import sys, time
t0 = time.perf_counter()
from tesseract_spark.api import TessBaseAPI
from tesseract_spark.lstm.templates import get_net
api = TessBaseAPI()
if api.Init() != 0:
    sys.exit(3)
get_net()
print(time.perf_counter() - t0)
"""


def setup_seconds() -> list[float]:
    """Engine import + ``TessBaseAPI.Init`` + template-net load, each in
    a fresh interpreter so every repeat does the same work."""
    out = []
    for _ in range(SETUP_REPEATS):
        res = subprocess.run(
            [sys.executable, "-c", _SETUP_PROBE],
            capture_output=True, text=True, cwd=ROOT, timeout=120, check=True,
        )
        out.append(float(res.stdout.strip().splitlines()[-1]))
    return out


def ocr_page(api, png: bytes) -> str:
    api.SetImage(png)
    return api.GetUTF8Text()


def timed_pass(api, pages) -> tuple[list[float], list[str | None]]:
    """Per-page latency of one pass; None text marks a failed page."""
    times, texts = [], []
    for png, _exp in pages:
        t0 = time.perf_counter()
        try:
            text = ocr_page(api, png)
        except Exception as e:  # noqa: BLE001 — a failing page is counted, not fatal
            text = None
            print(f"layout_mix: page failed: {e!r}", file=sys.stderr)
        times.append(time.perf_counter() - t0)
        texts.append(text)
    return times, texts


def run(seed: int, seconds: float, trace: bool, report) -> dict:
    from tesseract_spark.api import TessBaseAPI

    pages, digest = make_pages(seed)
    report("inputs_sha256", digest)
    setups = setup_seconds()
    api = TessBaseAPI()
    api.Init()
    # warm: first touch of the template net, caches and numpy paths
    for png, _exp in pages[:9]:
        ocr_page(api, png)

    if trace:
        return _traced(api, pages)

    # whole passes over the page set until `seconds` have been measured;
    # a page's latency is its median over the passes
    per_page: list[list[float]] = [[] for _ in pages]
    texts: list[str | None] = []
    pass_walls = []
    with PeakRss() as rss:
        t_start = time.perf_counter()
        while True:
            t0 = time.perf_counter()
            times, texts = timed_pass(api, pages)
            pass_walls.append(time.perf_counter() - t0)
            for acc, t in zip(per_page, times):
                acc.append(t)
            # another pass only if it ends nearer to `seconds` than stopping now
            if time.perf_counter() - t_start + pass_walls[-1] / 2 >= seconds:
                break
    lat = sorted(1000.0 * statistics.median(ts) for ts in per_page)
    failed = sum(t is None for t in texts)
    exact = [t == exp for t, (_png, exp) in zip(texts, pages)]
    mismatches = [i for i, ok in enumerate(exact) if not ok]
    if mismatches:
        print(f"layout_mix: text differs from golden on pages {mismatches}", file=sys.stderr)
    tail_p = tail_percentile(len(lat))
    report("page_ms_tail_percentile", tail_p)
    report("page_samples", len(lat))
    report("passes", len(pass_walls))
    report("setup_runs_s", setups)
    wall = statistics.median(pass_walls)
    n = len(pages)
    return {
        "attempted": n * len(pass_walls),
        "failed": failed * len(pass_walls),
        "correct": failed == 0,
        "metrics": {
            "setup_s": statistics.median(setups),
            "wall_s": wall,
            "docs_per_s": n / wall,
            "pages_per_s": n / wall,
            "page_ms_p50": percentile(lat, 50.0),
            "page_ms_tail": percentile(lat, tail_p),
            "peak_rss_mb": rss.mb,
            "ok_share": (n - failed) / n,
            "exact_share": sum(exact) / n,
        },
    }


def _traced(api, pages) -> dict:
    tracer = PageTracer()
    failed = 0
    with tracer.hooks():
        t0 = time.perf_counter()
        for png, _exp in pages:
            with tracer.page():
                try:
                    ocr_page(api, png)
                except Exception:  # noqa: BLE001 — counted like the timed run
                    failed += 1
        wall = time.perf_counter() - t0
    ledger = tracer.ledger(wall)
    metrics = page_layer_metrics(ledger)
    metrics["trace.overhead_share"] = tracing_overhead(
        lambda png: ocr_page(api, png), [png for png, _exp in pages[:OVERHEAD_PAGES]]
    )
    return {
        "attempted": len(pages),
        "failed": failed,
        "correct": failed == 0,
        "metrics": metrics,
        "ledger": {"page_layers": ledger},
        "tracer": tracer,
    }
