"""Routing pin: which recognition engine a page reaches, and with which
dictionary, character lists and language packs, from the two public
page surfaces — ``TessBaseAPI.Recognize`` and the CLI's per-page task
body — for every OEM {0,1,2,3} x PSM {0,3,6,7} x language {eng, heb}.

The engine functions are replaced by recorders, so the test pins the
OEM x PSM x language decision itself (the TessBaseAPI::Recognize ->
ProcessPage dispatch), not any recognition output.  The CLI's Spark
DataFrames are stand-ins whose ``mapInPandas`` hands the task body
back, which then runs in this process over one PNG page.
"""

from __future__ import annotations

import pandas as pd
import pytest

from tesseract_spark import api as A
from tesseract_spark import cli
from tesseract_spark.functions.compose import PageSpec, compose_page
from tesseract_spark.functions.png_codec import encode_gray_png

WORDS = ["hello", "world"]
WHITELIST = "abcdefghijklmnopqrstuvwxyz"
CHARLISTS = ("", WHITELIST, "")

# One row per (oem, psm, lang): the engine calls one page makes, as
# tokens name[+dawg][:packs][@psm][*].  '+dawg' = the user-words
# dictionary was passed; ':heb' = language packs; '@n' = the PSM handed
# to process_page; '*' = the word pass with symbol choices (want_choices).
# 'flagship' is the CLI's hand-off to pipeline.ocr_documents.
API_TABLE = """
0 0 eng  legacy+dawg
0 3 eng  legacy+dawg detail+dawg*
0 6 eng  legacy+dawg detail+dawg*
0 7 eng  legacy+dawg detail+dawg*
0 0 heb  legacy+dawg
0 3 heb  legacy+dawg detail:heb*
0 6 heb  legacy+dawg detail:heb*
0 7 heb  legacy+dawg detail:heb*
1 0 eng  vgsl
1 3 eng  vgsl detail+dawg*
1 6 eng  vgsl detail+dawg*
1 7 eng  vgsl detail+dawg*
1 0 heb  vgsl
1 3 heb  vgsl detail:heb*
1 6 heb  vgsl detail:heb*
1 7 heb  vgsl detail:heb*
2 0 eng  combined+dawg
2 3 eng  combined+dawg detail+dawg*
2 6 eng  combined+dawg detail+dawg*
2 7 eng  combined+dawg detail+dawg*
2 0 heb  combined+dawg
2 3 heb  combined+dawg detail:heb*
2 6 heb  combined+dawg detail:heb*
2 7 heb  combined+dawg detail:heb*
3 0 eng  process_page+dawg@0
3 3 eng  detail+dawg*
3 6 eng  process_page+dawg@6 detail+dawg*
3 7 eng  process_page+dawg@7 detail+dawg*
3 0 heb  process_page+dawg@0
3 3 heb  detail:heb*
3 6 heb  detail:heb*
3 7 heb  detail:heb*
"""

CLI_TABLE = """
0 0 eng  osd
0 3 eng  legacy+dawg
0 6 eng  legacy+dawg
0 7 eng  legacy+dawg
0 0 heb  osd
0 3 heb  legacy+dawg
0 6 heb  legacy+dawg
0 7 heb  legacy+dawg
1 0 eng  osd
1 3 eng  vgsl
1 6 eng  vgsl
1 7 eng  vgsl
1 0 heb  osd
1 3 heb  vgsl
1 6 heb  vgsl
1 7 heb  vgsl
2 0 eng  osd
2 3 eng  combined+dawg
2 6 eng  combined+dawg
2 7 eng  combined+dawg
2 0 heb  osd
2 3 heb  combined+dawg
2 6 heb  combined+dawg
2 7 heb  combined+dawg
3 0 eng  osd
3 3 eng  flagship+dawg
3 6 eng  process_page+dawg@6
3 7 eng  process_page+dawg@7
3 0 heb  osd
3 3 heb  detail:heb
3 6 heb  detail:heb
3 7 heb  detail:heb
"""


def _rows(table: str):
    out = []
    for line in table.strip().splitlines():
        oem, psm, lang, *engines = line.split()
        out.append((int(oem), int(psm), lang, sorted(engines)))
    return out


class _Calls:
    """The recorded engine calls of one page."""

    def __init__(self):
        self.tokens: list[str] = []
        self.charlists: list = []
        self.vgsl_dawgs: list = []

    def add(self, name, dawg=None, charlists=None, packs=None, psm=None,
            want_choices=False):
        tok = name
        if dawg is not None:
            tok += "+dawg"
        if packs is not None:
            tok += ":" + "+".join(p.name for p in packs)
        if psm is not None:
            tok += f"@{psm}"
        if want_choices:
            tok += "*"
        self.tokens.append(tok)
        if name != "osd":
            self.charlists.append(charlists)


class _Frame:
    """Stands in for every Spark DataFrame (and the session) on the CLI
    path: each method returns the frame; ``mapInPandas`` returns the
    task body it was given."""

    def __getattr__(self, name):
        if name == "mapInPandas":
            return lambda fn, schema=None: fn
        return lambda *a, **k: self


@pytest.fixture
def calls(monkeypatch):
    from tesseract_spark import pipeline
    from tesseract_spark.operators import legacy, osd, recognize

    c = _Calls()

    def legacy_rec(gray, dpi=300, charlists=None, dawg=None, **kw):
        c.add("legacy", dawg, charlists)
        return [], None

    def combined_rec(gray, dpi=300, dawg=None, charlists=None):
        c.add("combined", dawg, charlists)
        return [], None

    def vgsl_rec(grays, dpi=300, model=None, charlists=None, dawg=None,
                 use_beam=False):
        c.vgsl_dawgs.append((dawg, use_beam))
        c.add("vgsl", dawg, charlists)
        return [([], None) for _ in grays]

    def process_rec(gray, dpi=300, psm=None, dawg=None, charlists=None):
        c.add("process_page", dawg, charlists, psm=psm)
        return [], None

    def detail_rec(gray, dpi=300, dawg=None, net=None, *, packs=None,
                   charlists=None, want_choices=False, **kw):
        # with packs, recognize_page_detail replaces ``dawg`` by
        # packs[0].dawg: the argument is dead, so only the packs count
        c.add("detail", dawg if packs is None else None, charlists,
              packs=packs, want_choices=want_choices)
        return [], [], None

    def osd_rec(gray, page_number=0, net=None):
        c.add("osd")
        return "Page number: 0\n"

    def flagship_rec(spark, docs, media, dict_words=None, charlists=None,
                     **kw):
        c.add("flagship", dict_words, charlists)
        return _Frame()

    monkeypatch.setattr(legacy, "recognize_page_legacy", legacy_rec)
    monkeypatch.setattr(legacy, "recognize_page_combined", combined_rec)
    monkeypatch.setattr(recognize, "recognize_pages_vgsl", vgsl_rec)
    monkeypatch.setattr(recognize, "process_page", process_rec)
    monkeypatch.setattr(recognize, "recognize_page_detail", detail_rec)
    monkeypatch.setattr(osd, "get_osd_text", osd_rec)
    monkeypatch.setattr(pipeline, "ocr_documents", flagship_rec)
    return c


@pytest.fixture(scope="module")
def gray():
    return compose_page(PageSpec(paragraphs=[["hello world"]])).image


def _check(c: _Calls, expected):
    assert sorted(c.tokens) == expected
    assert all(cl == CHARLISTS for cl in c.charlists)
    # the VGSL engine never takes a dictionary: a dawg would switch it
    # from greedy CTC to the lattice beam decoder
    assert all(d is None and not beam for d, beam in c.vgsl_dawgs)


@pytest.mark.parametrize("oem,psm,lang,expected", _rows(API_TABLE))
def test_api_recognize_routing(calls, gray, oem, psm, lang, expected):
    t = A.TessBaseAPI()
    assert t.Init(None, lang, oem) == 0
    t.SetPageSegMode(psm)
    t.SetVariable("tessedit_char_whitelist", WHITELIST)
    t.SetUserWords(WORDS)
    t.SetImage(gray)
    assert t.Recognize() == 0
    _check(calls, expected)


@pytest.mark.parametrize("oem,psm,lang,expected", _rows(CLI_TABLE))
def test_cli_page_routing(spark, calls, gray, monkeypatch, tmp_path,
                          oem, psm, lang, expected):
    png = encode_gray_png(gray)
    img = tmp_path / "page.png"
    img.write_bytes(png)
    words = tmp_path / "words.txt"
    words.write_text("\n".join(WORDS) + "\n")
    captured = []

    def render_rec(spark, docs, media, spans, *a, **k):
        captured.append(spans)
        return {}

    monkeypatch.setattr(cli, "_render_outputs", render_rec)
    argv = [
        "t", "--oem", str(oem), "--psm", str(psm), "-l", lang,
        "--user-words", str(words),
        "-c", f"tessedit_char_whitelist={WHITELIST}",
        str(img), str(tmp_path / "out"),
    ]
    assert cli.run(argv, spark=_Frame()) == 0
    (spans,) = captured
    if not isinstance(spans, _Frame):  # a per-page task body
        batch = pd.DataFrame({
            "doc_id": ["doc-0"], "pos": [0], "media_ref": ["m-0"],
            "png": [png], "dpi": [300],
        })
        list(spans(iter([batch])))
    _check(calls, expected)
