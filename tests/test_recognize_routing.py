"""Routing pin: which recognition engine a page reaches, and with which
dictionary, character lists, language packs and DPI, from the two
public page surfaces — ``TessBaseAPI.Recognize`` and the CLI's Spark
page tasks — for every OEM {0,1,2,3} x PSM {0,3,6,7} x language
{eng, heb}, with the OEM and PSM given every way each surface takes
them (API: Init/SetPageSegMode, SetVariable, Init vars; CLI: flags,
-c pairs, flags over contrary -c pairs, and flags with user patterns).

The engine functions are replaced by recorders, so the test pins the
OEM x PSM x language decision itself (the TessBaseAPI::Recognize ->
ProcessPage dispatch), not any recognition output.  The CLI's Spark
DataFrames are stand-ins that keep every task body handed to
``mapInPandas`` (the pipeline's page task, or the OSD report task);
each body then runs in this process over the page the CLI loaded, and
must quiet the worker's archives before it recognizes anything.

The last tests walk the parameter registry (config.PARAMS): every name
changes routing or output on the API or the CLI.
"""

from __future__ import annotations

from types import SimpleNamespace

import pandas as pd
import pytest

from tesseract_spark import api as A
from tesseract_spark import cli
from tesseract_spark.config import PARAMS, default_params, set_param
from tesseract_spark.functions.compose import PageSpec, compose_page
from tesseract_spark.functions.png_codec import encode_gray_png
from tesseract_spark.lstm.dawg import CombinedDawg

WORDS = ["hello", "world"]
WHITELIST = "abcdefghijklmnopqrstuvwxyz"
CHARLISTS = ("", WHITELIST, "")

# One row per (oem, psm, lang): the engine calls one page makes, as
# tokens name[+dawg][:packs][@psm][*].  '+dawg' = the user-words
# dictionary was passed; ':heb' = language packs, a pack marked
# 'name/dawg' carries a user-words dictionary (none of WORDS is
# Hebrew); '@n' = the PSM handed to process_page;
# '*' = the word pass with symbol choices (want_choices).  API rows:
# the calls of Recognize, then after '|' the calls the first word-level
# getter adds (the deferred default-engine word pass, when the route
# returned no word records).
API_TABLE = """
0 0 eng  legacy+dawg
0 3 eng  legacy+dawg | detail+dawg*
0 6 eng  legacy+dawg | detail+dawg*
0 7 eng  legacy+dawg | detail+dawg*
0 0 heb  legacy+dawg
0 3 heb  legacy+dawg | detail:heb*
0 6 heb  legacy+dawg | detail:heb*
0 7 heb  legacy+dawg | detail:heb*
1 0 eng  vgsl
1 3 eng  vgsl | detail+dawg*
1 6 eng  vgsl | detail+dawg*
1 7 eng  vgsl | detail+dawg*
1 0 heb  vgsl
1 3 heb  vgsl | detail:heb*
1 6 heb  vgsl | detail:heb*
1 7 heb  vgsl | detail:heb*
2 0 eng  combined+dawg
2 3 eng  combined+dawg | detail+dawg*
2 6 eng  combined+dawg | detail+dawg*
2 7 eng  combined+dawg | detail+dawg*
2 0 heb  combined+dawg
2 3 heb  combined+dawg | detail:heb*
2 6 heb  combined+dawg | detail:heb*
2 7 heb  combined+dawg | detail:heb*
3 0 eng  process_page+dawg@0
3 3 eng  detail+dawg*
3 6 eng  process_page+dawg@6 | detail+dawg*
3 7 eng  process_page+dawg@7 | detail+dawg*
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
3 3 eng  detail+dawg
3 6 eng  process_page+dawg@6
3 7 eng  process_page+dawg@7
3 0 heb  osd
3 3 heb  detail:heb
3 6 heb  detail:heb
3 7 heb  detail:heb
"""


def _rows(table: str):
    """(oem, psm, lang, recognize calls, word-getter calls) per row."""
    out = []
    for line in table.strip().splitlines():
        head, _bar, tail = line.partition("|")
        oem, psm, lang, *engines = head.split()
        out.append((int(oem), int(psm), lang, sorted(engines),
                    sorted(tail.split())))
    return out


def _with_forms(table: str, forms):
    """(oem, psm, lang, expected, form) per row and form; the first
    form's cases carry the plain row ids, the others add the form."""
    return [
        pytest.param(
            oem, psm, lang, expected, form,
            id=f"{oem}-{psm}-{lang}-expected{i}" + (f"-{form}" if k else ""))
        for i, (oem, psm, lang, expected, _) in enumerate(_rows(table))
        for k, form in enumerate(forms)
    ]


class _Calls:
    """The recorded engine calls of one page."""

    def __init__(self):
        self.tokens: list[str] = []
        self.charlists: list = []
        self.vgsl_dawgs: list = []
        self.dpis: list[int] = []
        self.font_attrs: list[bool] = []
        self.dawgs: list = []
        # engine tokens and 'quiet' (pipeline.quiet_spark_archives) in
        # call order
        self.events: list[str] = []

    def add(self, name, dawg=None, charlists=None, packs=None, psm=None,
            want_choices=False, dpi=None):
        tok = name
        if dawg is not None:
            tok += "+dawg"
        if packs is not None:
            tok += ":" + "+".join(
                p.name + ("/dawg" if p.dawg is not None else "")
                for p in packs)
        if psm is not None:
            tok += f"@{psm}"
        if want_choices:
            tok += "*"
        self.tokens.append(tok)
        self.events.append(tok)
        if dawg is not None:
            self.dawgs.append(dawg)
        if name != "osd":
            self.charlists.append(charlists)
        if dpi is not None:
            self.dpis.append(dpi)


class _Frame:
    """Stands in for every Spark DataFrame (and the session) on the CLI
    path: each method returns the frame; ``mapInPandas`` also keeps the
    task body it was given in ``bodies``, shared by every frame derived
    from this one."""

    def __init__(self, bodies=None):
        self.bodies = [] if bodies is None else bodies

    def mapInPandas(self, fn, schema=None):
        self.bodies.append(fn)
        return self

    def __getattr__(self, name):
        return lambda *a, **k: self


class _Session(_Frame):
    """The session stand-in: keeps the media rows the CLI loaded."""

    def __init__(self):
        super().__init__()
        self.media_rows: list[dict] = []
        self.sparkContext = SimpleNamespace(defaultParallelism=1)

    def createDataFrame(self, rows, schema=None):
        if rows and "png" in rows[0]:
            self.media_rows = rows
        return _Frame(self.bodies)


def _batch(media_rows):
    """The media rows as one task's input batch."""
    return pd.DataFrame([
        {"doc_id": "doc-0", "pos": k, "media_ref": m["media_ref"],
         "png": m["png"], "dpi": m["dpi"]}
        for k, m in enumerate(media_rows)
    ])


@pytest.fixture
def calls(monkeypatch):
    from tesseract_spark import pipeline
    from tesseract_spark.operators import legacy, osd, recognize

    c = _Calls()

    def legacy_rec(gray, dpi=300, charlists=None, dawg=None, **kw):
        c.add("legacy", dawg, charlists, dpi=dpi)
        return [], None

    def combined_rec(gray, dpi=300, dawg=None, charlists=None):
        c.add("combined", dawg, charlists, dpi=dpi)
        return [], None

    def vgsl_rec(grays, dpi=300, model=None, charlists=None, dawg=None,
                 use_beam=False):
        c.vgsl_dawgs.append((dawg, use_beam))
        c.add("vgsl", dawg, charlists, dpi=dpi)
        return [([], None) for _ in grays]

    def process_rec(gray, dpi=300, psm=None, dawg=None, charlists=None):
        c.add("process_page", dawg, charlists, psm=psm, dpi=dpi)
        return [], None

    def detail_rec(gray, dpi=300, dawg=None, net=None, *, packs=None,
                   charlists=None, want_choices=False, font_attrs=False,
                   **kw):
        # with packs, recognize_page_detail replaces ``dawg`` by
        # packs[0].dawg: the argument is dead, so only the packs count
        c.add("detail", dawg if packs is None else None, charlists,
              packs=packs, want_choices=want_choices, dpi=dpi)
        c.font_attrs.append(font_attrs)
        return [], [], None

    def osd_rec(gray, page_number=0, net=None):
        c.add("osd")
        return "Page number: 0\n"

    monkeypatch.setattr(legacy, "recognize_page_legacy", legacy_rec)
    monkeypatch.setattr(legacy, "recognize_page_combined", combined_rec)
    monkeypatch.setattr(recognize, "recognize_pages_vgsl", vgsl_rec)
    monkeypatch.setattr(recognize, "process_page", process_rec)
    monkeypatch.setattr(recognize, "recognize_page_detail", detail_rec)
    monkeypatch.setattr(osd, "get_osd_text", osd_rec)
    monkeypatch.setattr(pipeline, "quiet_spark_archives",
                        lambda: c.events.append("quiet"))
    return c


@pytest.fixture(scope="module")
def gray():
    return compose_page(PageSpec(paragraphs=[["hello world"]])).image


def _check(c: _Calls, expected, dpi=300):
    assert sorted(c.tokens) == expected
    assert all(cl == CHARLISTS for cl in c.charlists)
    assert all(d == dpi for d in c.dpis)
    # the VGSL engine never takes a dictionary: a dawg would switch it
    # from greedy CTC to the lattice beam decoder
    assert all(d is None and not beam for d, beam in c.vgsl_dawgs)


def _api(lang, oem, psm, form="args"):
    """An initialised TessBaseAPI with the OEM and PSM given one of the
    API's three ways."""
    t = A.TessBaseAPI()
    if form == "args":
        assert t.Init(None, lang, oem) == 0
        t.SetPageSegMode(psm)
    elif form == "setvariable":
        assert t.Init(None, lang) == 0
        assert t.SetVariable("tessedit_ocr_engine_mode", str(oem))
        assert t.SetVariable("tessedit_pageseg_mode", str(psm))
    else:  # Init's vars win over its oem argument
        assert t.Init(
            None, lang, (oem + 1) % 4,
            vars_vec=["tessedit_ocr_engine_mode", "tessedit_pageseg_mode"],
            vars_values=[str(oem), str(psm)]) == 0
    assert t.oem() == oem and t.GetPageSegMode() == psm
    t.SetVariable("tessedit_char_whitelist", WHITELIST)
    t.SetUserWords(WORDS)
    return t


API_FORMS = ("args", "setvariable", "init_vars")


@pytest.mark.parametrize("oem,psm,lang,expected,form",
                         _with_forms(API_TABLE, API_FORMS))
def test_api_recognize_routing(calls, gray, oem, psm, lang, expected, form):
    t = _api(lang, oem, psm, form)
    t.SetImage(gray)
    assert t.Recognize() == 0
    _check(calls, expected)


@pytest.mark.parametrize("oem,psm,lang,expected,word_pass", _rows(API_TABLE))
def test_api_word_getter_runs_word_pass_once(calls, gray, oem, psm, lang,
                                             expected, word_pass):
    t = _api(lang, oem, psm)
    t.SetImage(gray)
    assert t.GetUTF8Text() is not None
    _check(calls, expected)
    t.GetTSVText()
    t.GetIterator()
    t.AllWordConfidences()
    _check(calls, sorted(expected + word_pass))


WORD_GETTERS = (
    "GetIterator", "AllWordConfidences", "MeanTextConf", "GetHOCRText",
    "GetTSVText", "GetBoxText", "GetAltoText", "GetPAGEText",
    "GetWordStrBoxText", "GetLSTMBoxText", "GetUNLVText", "GetWords",
    "GetBlockTextOrientations",
)


@pytest.mark.parametrize("getter", WORD_GETTERS)
def test_every_word_getter_runs_the_word_pass(calls, gray, getter):
    t = _api("eng", 3, 7)
    t.SetImage(gray)
    t.Recognize()
    assert calls.tokens == ["process_page+dawg@7"]
    getattr(t, getter)()
    assert calls.tokens == ["process_page+dawg@7", "detail+dawg*"]


def test_api_user_words_reach_every_language_pack(calls, gray):
    t = A.TessBaseAPI()
    assert t.Init(None, "eng+heb") == 0
    t.SetUserWords(WORDS)
    t.SetImage(gray)
    t.Recognize()
    # the English pack builds its dictionary from the user words (none
    # of them is expressible in the Hebrew charset)
    assert calls.tokens == ["detail:eng/dawg+heb*"]


def test_api_source_resolution_is_clamped(calls, gray):
    t = _api("eng", 3, 6)
    t.SetImage(gray)
    t.SetSourceResolution(9000)
    t.Recognize()
    assert calls.dpis == [2400]
    # the user_defined_dpi override wins over the source resolution
    assert t.SetVariable("user_defined_dpi", "150")
    t.Recognize()
    assert calls.dpis == [2400, 150]


def _cli_argv(oem, psm, lang, form, tmp_path, extra=()):
    words = tmp_path / "words.txt"
    words.write_text("\n".join(WORDS) + "\n")
    if form == "flags":
        mode = ["--oem", str(oem), "--psm", str(psm)]
    elif form == "user_patterns":
        patterns = tmp_path / "patterns.txt"
        patterns.write_text("\\d\\d\\d\n")
        mode = ["--oem", str(oem), "--psm", str(psm),
                "--user-patterns", str(patterns)]
    elif form == "c":
        mode = ["-c", f"tessedit_ocr_engine_mode={oem}",
                "-c", f"tessedit_pageseg_mode={psm}"]
    else:  # the flags win over contrary -c values
        mode = ["-c", f"tessedit_ocr_engine_mode={(oem + 1) % 4}",
                "-c", f"tessedit_pageseg_mode={6 if psm != 6 else 7}",
                "--oem", str(oem), "--psm", str(psm)]
    return [
        "t", *mode, "-l", lang, "--user-words", str(words),
        "-c", f"tessedit_char_whitelist={WHITELIST}", *extra,
    ]


def _run_cli(argv, gray, tmp_path, monkeypatch, calls):
    """cli.run over one PNG page on the stand-in session; each task body
    the CLI built runs over the media rows the CLI loaded, and quiets
    the worker first."""
    img = tmp_path / "page.png"
    img.write_bytes(encode_gray_png(gray))
    captured = []

    def render_rec(spark, docs, media, spans, *a, **k):
        captured.append(spans)
        return {}

    monkeypatch.setattr(cli, "_render_outputs", render_rec)
    session = _Session()
    assert cli.run([*argv, str(img), str(tmp_path / "out")],
                   spark=session) == 0
    assert len(captured) == 1 and len(session.bodies) == 1
    for body in session.bodies:
        list(body(iter([_batch(session.media_rows)])))
        assert calls.events[:1] == ["quiet"]


CLI_FORMS = ("flags", "c", "flags_over_c", "user_patterns")


@pytest.mark.parametrize("oem,psm,lang,expected,form",
                         _with_forms(CLI_TABLE, CLI_FORMS))
def test_cli_page_routing(spark, calls, gray, monkeypatch, tmp_path,
                          oem, psm, lang, expected, form):
    _run_cli(_cli_argv(oem, psm, lang, form, tmp_path), gray, tmp_path,
             monkeypatch, calls)
    _check(calls, expected)
    if form == "user_patterns":
        # every dictionary an engine got holds the user patterns too
        assert all(isinstance(d, CombinedDawg) and d.pattern is not None
                   for d in calls.dawgs)


@pytest.mark.parametrize("dpi_args,dpi", [
    (["-c", "user_defined_dpi=150"], 150),
    (["--dpi", "200", "-c", "user_defined_dpi=150"], 200),
    (["--dpi", "9000"], 2400),
])
def test_cli_dpi_reaches_the_router(spark, calls, gray, monkeypatch,
                                    tmp_path, dpi_args, dpi):
    argv = _cli_argv(3, 7, "eng", "c", tmp_path, extra=dpi_args)
    _run_cli(argv, gray, tmp_path, monkeypatch, calls)
    _check(calls, ["process_page+dawg@7"], dpi=dpi)
    assert calls.dpis == [dpi]


def test_word_sink_task_quiets_the_worker(spark, calls, gray):
    from tesseract_spark.operators import sinks

    frame = _Frame()
    sinks.ocr_words(None, frame, frame, wordlist=WORDS, charlists=CHARLISTS)
    (body,) = frame.bodies
    list(body(iter([_batch([
        {"media_ref": "m-0", "png": encode_gray_png(gray), "dpi": 300}])])))
    assert calls.events == ["quiet", "detail+dawg*"]
    _check(calls, ["detail+dawg*"])


# ---------------------------------------------------------- registry --

# Registry names no probe below can see: their only behaviour is the
# baseapi_test.cc SetVariable/Get*Variable round trip (tests/test_api.py).
EXEMPT = (
    ("tessedit_ambigs_training",
     "bool round trip of TestMultipleTessInstanceVariables"),
    ("tessedit_init_config_only", "set through Init vars in InitConfigOnlyTest"),
    ("segment_penalty_dict_frequent_word",
     "double round trip of TestMultipleTessInstanceVariables"),
    ("preserve_interword_spaces", "read back after ReadConfigFile"),
)


def _api_probe(calls, gray, settings):
    """What reaches the engines when a page is recognized and its word
    records are read."""
    t = A.TessBaseAPI()
    assert t.Init(None, "eng") == 0
    for name, value in settings.items():
        assert t.SetVariable(name, value)
    t.SetImage(gray)
    t.GetUTF8Text()
    t.GetIterator()
    return (calls.tokens, calls.charlists, calls.dpis, calls.font_attrs)


def _renderer_probe(settings):
    """The renderers the CLI opens."""
    argv = ["t", "i", "o"]
    for name, value in settings.items():
        argv += ["-c", f"{name}={value}"]
    params = cli.resolve_params(cli.parse_args(argv))
    return cli.select_renderers(params, params["tessedit_pageseg_mode"])


def _sink_probe(monkeypatch, settings):
    """The keyword arguments the CLI hands each word sink."""
    from tesseract_spark.operators import sinks

    seen = {}

    def recorder(name):
        def rec(*a, **k):
            seen[name] = {
                key: v if isinstance(v, (bool, int, str, tuple)) or v is None
                else type(v).__name__
                for key, v in k.items()
            }
            return _Frame()
        return rec

    for name in ("ocr_words", "to_text", "to_tsv", "to_hocr", "to_alto",
                 "to_page_xml", "to_unlv", "to_box_chars", "to_lstm_box",
                 "to_box", "to_pdf"):
        monkeypatch.setattr(sinks, name, recorder(name))
    argv = ["t", "i", "o"]
    renderers = ("tessedit_create_hocr", "tessedit_write_unlv",
                 "tessedit_create_pdf")
    for name, value in [(r, "1") for r in renderers] + list(settings.items()):
        argv += ["-c", f"{name}={value}"]
    params = cli.resolve_params(cli.parse_args(argv))
    renderers = cli.select_renderers(params, params["tessedit_pageseg_mode"])
    cli._render_outputs(None, _Frame(), _Frame(), _Frame(), renderers,
                        params, "eng", None)
    return seen


# name -> (a non-default value, the surface that shows it[, the other
# settings it is compared under])
PROBES = {
    "tessedit_pageseg_mode": ("7", "api"),
    "tessedit_ocr_engine_mode": ("0", "api"),
    "tessedit_char_whitelist": ("abc", "api"),
    "tessedit_char_blacklist": ("o", "api"),
    "tessedit_char_unblacklist": ("o", "api"),
    "user_defined_dpi": ("150", "api"),
    "hocr_font_info": ("1", "api"),
    "lstm_choice_mode": ("1", "sinks"),
    "unlv_tilde_crunching": ("1", "sinks"),
    "textonly_pdf": ("1", "sinks"),
    **{name: ("1", "renderers") for name in PARAMS
       if name.startswith(("tessedit_create_", "tessedit_write_"))},
    # txt is the fallback renderer: asking for it shows next to another
    "tessedit_create_txt": ("1", "renderers", {"tessedit_create_tsv": "1"}),
}


def test_every_registry_name_is_honored_or_rejected(
        calls, gray, monkeypatch, capsys):
    exempt = {name for name, _reason in EXEMPT}
    assert exempt <= {
        "tessedit_ambigs_training", "tessedit_init_config_only",
        "segment_penalty_dict_frequent_word", "preserve_interword_spaces",
    }
    assert not exempt & set(PROBES)
    assert exempt | set(PROBES) == set(PARAMS)

    def observe(surface, settings):
        calls.__init__()
        if surface == "api":
            return _api_probe(calls, gray, settings)
        if surface == "renderers":
            return _renderer_probe(settings)
        return _sink_probe(monkeypatch, settings)

    for name, (value, surface, *base) in PROBES.items():
        parsed = default_params()
        assert set_param(parsed, name, value)
        assert parsed[name] != PARAMS[name][1], name
        base = base[0] if base else {}
        changed = observe(surface, {**base, name: value})
        assert changed != observe(surface, base), name
    # a name outside the registry is rejected by both surfaces
    assert A.TessBaseAPI().SetVariable("no_such_param", "1") is False
    capsys.readouterr()
    assert _renderer_probe({"no_such_param": "1"}) == ["txt"]
    assert capsys.readouterr().err == "Could not set option: no_such_param=1\n"


def test_print_parameters_and_print_variables_list_the_same_names(capsys):
    assert cli.run(["t", "--print-parameters"]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert lines[0] == "Tesseract parameters:"
    cli_names = [line.split("\t")[0] for line in lines[1:]]
    api_names = [
        line.split("\t")[0]
        for line in A.TessBaseAPI().PrintVariables().splitlines()
    ]
    assert cli_names == api_names == list(PARAMS)
