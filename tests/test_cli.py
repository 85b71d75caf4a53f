"""The tesseract CLI (src/tesseract.cpp): argument grammar, renderer
selection, and end-to-end file outputs through the Spark pipeline."""

import os

import pytest

from tesseract_spark import cli
from tesseract_spark.functions.compose import PageSpec, compose_page
from tesseract_spark.functions.png_codec import encode_gray_png

GOLD = "hello world\nsecond line"


@pytest.fixture(scope="module")
def page_png(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli_pages")
    page = compose_page(PageSpec(paragraphs=[["hello world", "second line"]]))
    p = d / "page.png"
    p.write_bytes(encode_gray_png(page.image))
    return str(p)


# ---------- ParseArgs (tesseract.cpp:366-520) ----------


def test_parse_positionals_and_configs():
    a = cli.parse_args(["t", "img.png", "out", "hocr", "pdf"])
    assert a.image == "img.png" and a.outputbase == "out"
    assert a.configs == ["hocr", "pdf"]


def test_parse_options_before_image_and_after_outputbase():
    a = cli.parse_args(
        ["t", "--psm", "single_line", "img.png", "out", "--dpi", "150"])
    assert a.psm == 7 and a.dpi == 150
    assert a.image == "img.png" and a.outputbase == "out"


def test_outputbase_follows_image_unconditionally():
    # tesseract.cpp:375-377: no options allowed between image and base
    a = cli.parse_args(["t", "img.png", "-l", "out"])
    assert a.outputbase == "-l"


def test_psm_oem_name_maps():
    # no --psm flag: the registry default
    assert cli.parse_args(["t", "i", "o", ]).psm is None
    default = cli.resolve_params(cli.parse_args(["t", "i", "o", ]))
    assert default["tessedit_pageseg_mode"] == 3
    assert cli.parse_args(["t", "--psm", "sparse_text", "i", "o"]).psm == 11
    assert cli.parse_args(["t", "--psm", "13", "i", "o"]).psm == 13
    assert cli.parse_args(["t", "--oem", "tesseract_only", "i", "o"]).oem == 0
    assert cli.parse_args(["t", "--oem", "2", "i", "o"]).oem == 2


def test_invalid_psm_oem_rejected(capsys):
    assert cli.parse_args(["t", "--psm", "nope", "i", "o"]) is None
    assert "Invalid PSM value" in capsys.readouterr().err
    assert cli.parse_args(["t", "--oem", "7", "i", "o"]) is None
    assert "Invalid OEM value" in capsys.readouterr().err


def test_c_var_assignment_and_missing_equals(capsys):
    a = cli.parse_args(["t", "-c", "textonly_pdf=1", "i", "o"])
    assert a.vars == {"textonly_pdf": "1"}
    assert cli.parse_args(["t", "-c", "textonly_pdf", "i", "o"]) is None
    assert "Missing '='" in capsys.readouterr().err


def test_unknown_argument_rejected(capsys):
    # an unknown dash-argument in option position is a hard error
    assert cli.parse_args(["t", "i", "o", "--bogus"]) is None
    assert "unknown command line argument" in capsys.readouterr().err
    # but a bare arg after outputbase stops option parsing; everything
    # from there on is a configfile name (tesseract.cpp:374 loop bound)
    a = cli.parse_args(["t", "i", "o", "cfg1", "--notanoption"])
    assert a.configs == ["cfg1", "--notanoption"]


def test_osd_only_defaults_lang_to_osd(capsys):
    # the rule keys off the resolved PSM: the flag or a -c value
    for psm in (["--psm", "0"], ["-c", "tessedit_pageseg_mode=0"]):
        a = cli.parse_args(["t", *psm, "i", "o"])
        assert cli.resolve_lang(a, cli.resolve_params(a)) == "osd"
        a = cli.parse_args(["t", *psm, "-l", "eng", "i", "o"])
        assert cli.resolve_lang(a, cli.resolve_params(a)) == "eng"
        assert "detects only orientation" in capsys.readouterr().err


def test_missing_outputbase_is_error(capsys):
    assert cli.parse_args(["t", "img.png"]) is None
    assert "Usage:" in capsys.readouterr().out
    # noocr modes need no outputbase
    assert cli.parse_args(["t", "--list-langs"]).list_langs is True


def test_help_exits_zero(capsys):
    for flag in ("--help", "-h", "--help-psm", "--help-oem", "--help-extra"):
        with pytest.raises(SystemExit) as e:
            cli.parse_args(["t", flag])
        assert e.value.code == 0
    assert "single_line" in capsys.readouterr().out


# ---------- renderer selection (PreloadRenderers) ----------


def test_default_renderer_is_txt():
    assert cli.select_renderers({}, psm=3) == ["txt"]


def test_config_renderers_in_preload_order():
    params = cli.resolve_params(
        cli.parse_args(["t", "i", "o", "pdf", "hocr", "tsv"]))
    assert cli.select_renderers(params, psm=3) == ["hocr", "tsv", "pdf"]


def test_txt_config_plus_others():
    params = cli.resolve_params(cli.parse_args(["t", "i", "o", "txt", "alto"]))
    assert cli.select_renderers(params, psm=3) == ["alto", "txt"]


def test_osd_only_renderer():
    assert cli.select_renderers({}, psm=0) == ["osd"]


def test_c_var_selects_renderer_and_overrides_config():
    a = cli.parse_args(
        ["t", "-c", "tessedit_create_tsv=1", "-c", "hocr_font_info=1",
         "i", "o", "hocr"])
    params = cli.resolve_params(a)
    assert cli.select_renderers(params, psm=3) == ["hocr", "tsv"]
    assert params["hocr_font_info"] is True  # -c wins over the config file


def test_unknown_config_rejected():
    a = cli.parse_args(["t", "i", "o", "nosuchconfig"])
    with pytest.raises(SystemExit):
        cli.resolve_params(a)


def test_digits_config_whitelist():
    params = cli.resolve_params(cli.parse_args(["t", "i", "o", "digits"]))
    assert params["tessedit_char_whitelist"] == "0123456789-."


# ---------- noocr modes ----------


def test_list_langs_and_print_parameters(capsys):
    assert cli.run(["t", "--list-langs"]) == 0
    out = capsys.readouterr().out
    assert "eng" in out and "heb" in out and "deva" in out and "equ" in out
    assert cli.run(["t", "--print-parameters"]) == 0
    out = capsys.readouterr().out
    assert "tessedit_pageseg_mode" in out
    # only parameters the engine reads are advertised
    for unread in (
        "thresholding_method",
        "thresholding_tile_size",
        "thresholding_window_size",
        "thresholding_kfactor",
        "textord_max_noise_size",
        "language_model_penalty_non_dict_word",
    ):
        assert unread not in out


def test_unknown_c_param_warns_and_run_goes_on(capsys):
    assert cli.run(["t", "--print-parameters"]) == 0
    printed = [
        line.split("\t")[0]
        for line in capsys.readouterr().out.splitlines()[1:]
    ]
    assert printed
    args = ["t", "i", "o", "-c", "no_such_param=1"]
    args += ["-c", "tessedit_create_hocr=1"]  # a renderer switch
    for name in printed:
        args += ["-c", f"{name}=1"]
    # enum values out of range are rejected like an unknown name
    args += ["-c", "tessedit_pageseg_mode=42",
             "-c", "tessedit_ocr_engine_mode=7"]
    params = cli.resolve_params(cli.parse_args(args))
    err = capsys.readouterr().err
    assert err.splitlines() == [
        "Could not set option: no_such_param=1",
        "Could not set option: tessedit_pageseg_mode=42",
        "Could not set option: tessedit_ocr_engine_mode=7",
    ]
    assert "no_such_param" not in params
    assert set(printed) <= set(params)
    assert params["tessedit_pageseg_mode"] == 3
    assert params["tessedit_ocr_engine_mode"] == 3


def test_unknown_lang_rejected(capsys, page_png, tmp_path):
    rc = cli.run(["t", "-l", "xyz", page_png, str(tmp_path / "o")])
    assert rc == 1
    assert "unknown language" in capsys.readouterr().err


def test_sparkless_run_leaves_active_session_alive(spark, capsys, tmp_path):
    """cli.run without spark= must not stop a session it merely
    borrowed via getActiveSession — the JVM holds one context per
    process, so stopping it would kill every later caller's session."""
    junk = tmp_path / "junk.bin"
    junk.write_bytes(bytes(range(256)))
    assert cli.run(["t", str(junk), str(tmp_path / "o")]) == 1
    capsys.readouterr()
    assert spark.sparkContext._jsc is not None
    assert spark.range(3).count() == 3


# ---------- end-to-end (apiexample_test.cc analogue) ----------


def test_cli_single_image_txt(spark, page_png, tmp_path):
    base = str(tmp_path / "out")
    assert cli.run(["t", page_png, base], spark=spark) == 0
    assert open(base + ".txt").read() == GOLD + "\n"


def test_cli_multiple_renderers(spark, page_png, tmp_path):
    base = str(tmp_path / "multi")
    assert cli.run(
        ["t", page_png, base, "txt", "tsv", "hocr", "alto", "makebox"],
        spark=spark) == 0
    assert open(base + ".txt").read() == GOLD + "\n"
    tsv = open(base + ".tsv").read()
    assert tsv.startswith("level\tpage_num")
    assert "\thello\n" in tsv or "hello" in tsv
    hocr = open(base + ".hocr").read()
    assert hocr.startswith("<?xml") and "ocrx_word" in hocr
    assert hocr.rstrip().endswith("</html>")
    assert "CONTENT=\"hello\"" in open(base + ".xml").read()
    box = open(base + ".box").read().splitlines()
    # char boxes in reading order: the text stream re-assembles
    assert "".join(ln.split(" ")[0] for ln in box) == GOLD.replace(
        "\n", "").replace(" ", "")
    # box-family y is BOTTOM-UP (the box file convention): bottom < top
    # on each record and the page's first text row carries the larger y
    ys = [(int(ln.split(" ")[2]), int(ln.split(" ")[4])) for ln in box]
    assert all(b < t for b, t in ys)
    assert ys[0][0] > ys[-1][0]  # row 1 above row 2 in bottom-up coords


def test_cli_pdf_output(spark, page_png, tmp_path):
    from tesseract_spark.functions.pdf_parse import extract_pdf_text

    base = str(tmp_path / "pdfout")
    assert cli.run(["t", page_png, base, "pdf"], spark=spark) == 0
    blob = open(base + ".pdf", "rb").read()
    assert blob.startswith(b"%PDF")
    assert extract_pdf_text(blob) == GOLD


def test_cli_stdout(spark, page_png, capsys):
    assert cli.run(["t", page_png, "stdout"], spark=spark) == 0
    assert GOLD in capsys.readouterr().out


def test_cli_psm_osd_only(spark, page_png, tmp_path):
    base = str(tmp_path / "osd")
    assert cli.run(["t", "--psm", "0", page_png, base], spark=spark) == 0
    osd = open(base + ".osd").read()
    assert "Orientation in degrees: 0" in osd
    assert "Script: Latin" in osd


def test_cli_psm_single_column(spark, tmp_path):
    page = compose_page(PageSpec(
        paragraphs=[["left one", "left two"]],
        column2=[["right one", "right two"]],
    ))
    p = tmp_path / "two_col.png"
    p.write_bytes(encode_gray_png(page.image))
    base = str(tmp_path / "sc")
    assert cli.run(
        ["t", "--psm", "single_column", str(p), base], spark=spark) == 0
    assert open(base + ".txt").read() == (
        "left one right one\nleft two right two\n")


def test_cli_oem_legacy_engine(spark, page_png, tmp_path):
    base = str(tmp_path / "legacy")
    assert cli.run(
        ["t", "--oem", "tesseract_only", page_png, base], spark=spark) == 0
    assert open(base + ".txt").read() == GOLD + "\n"


def test_cli_whitelist_var(spark, tmp_path):
    page = compose_page(PageSpec(paragraphs=[["0123 4567"]]))
    p = tmp_path / "digits.png"
    p.write_bytes(encode_gray_png(page.image))
    base = str(tmp_path / "dg")
    assert cli.run(["t", str(p), base, "digits"], spark=spark) == 0
    assert open(base + ".txt").read() == "0123 4567\n"


def _tsv_words(path: str) -> list[str]:
    rows = [line.split("\t") for line in open(path).read().splitlines()[1:]]
    return [r[11] for r in rows if r[0] == "5"]


def test_cli_word_renderers_honor_charlists(spark, tmp_path):
    page = compose_page(PageSpec(paragraphs=[["fox dog box"]]))
    p = tmp_path / "fox.png"
    p.write_bytes(encode_gray_png(page.image))
    base = str(tmp_path / "bl")
    assert cli.run(["t", "-c", "tessedit_char_blacklist=o", str(p), base,
                    "tsv", "txt"], spark=spark) == 0
    txt = open(base + ".txt").read()
    words = _tsv_words(base + ".tsv")
    assert "o" not in txt and len(txt.split()) == 3
    assert len(words) == 3 and not any("o" in w for w in words)


def test_cli_word_renderers_read_jpeg_and_tiff(spark, tmp_path):
    from tesseract_spark.functions.image_codecs import (
        encode_gray_jpeg,
        encode_gray_tiff,
    )

    page = compose_page(PageSpec(paragraphs=[["hello world", "second line"]]))
    for name, data in (("page.jpg", encode_gray_jpeg(page.image, 95)),
                       ("page.tif", encode_gray_tiff([page.image]))):
        p = tmp_path / name
        p.write_bytes(data)
        base = str(tmp_path / name.replace(".", "_"))
        assert cli.run(["t", str(p), base, "tsv"], spark=spark) == 0
        assert _tsv_words(base + ".tsv") == GOLD.split()


def test_cli_box_renderers_read_jpeg_and_tiff(spark, tmp_path):
    from tesseract_spark.functions.image_codecs import (
        encode_gray_jpeg,
        encode_gray_tiff,
    )

    page = compose_page(PageSpec(paragraphs=[["hello world", "second line"]]))
    boxes = {}
    for name, data in (("page.png", encode_gray_png(page.image)),
                       ("page.tif", encode_gray_tiff([page.image])),
                       ("page.jpg", encode_gray_jpeg(page.image, 95))):
        p = tmp_path / name
        p.write_bytes(data)
        for config in ("makebox", "wordstrbox"):
            base = str(tmp_path / f"{name}_{config}")
            assert cli.run(["t", str(p), base, config], spark=spark) == 0
            boxes[name, config] = open(base + ".box").read()
    for config in ("makebox", "wordstrbox"):
        # PNG and TIFF are both lossless: the same page, the same boxes
        assert boxes["page.tif", config] == boxes["page.png", config]
        assert boxes["page.jpg", config].strip()


def test_cli_corrupt_page_isolated_on_every_route(spark, page_png, tmp_path):
    good = open(page_png, "rb").read()
    bad = tmp_path / "truncated.png"
    bad.write_bytes(good[: len(good) // 2])
    lst = tmp_path / "list.txt"
    lst.write_text(f"{page_png}\n{bad}\n")
    for route in (["--psm", "6"], ["--oem", "0"]):
        base = str(tmp_path / route[0].strip("-"))
        assert cli.run(["t", *route, str(lst), base], spark=spark) == 0
        assert open(base + ".txt").read() == GOLD + "\n"
    # a page cut inside its header has no height to read
    bad.write_bytes(good[:16])
    base = str(tmp_path / "box")
    assert cli.run(["t", str(lst), base, "makebox"], spark=spark) == 0
    box = open(base + ".box").read().splitlines()
    assert "".join(ln.split(" ")[0] for ln in box) == GOLD.replace(
        "\n", "").replace(" ", "")


def test_cli_psm_osd_only_corrupt_page_isolated(spark, page_png, tmp_path):
    """--psm 0 over one good and one truncated PNG: the run completes
    and the good page still reports; the bad page's osd span is empty."""
    good = open(page_png, "rb").read()
    bad = tmp_path / "truncated.png"
    bad.write_bytes(good[: len(good) // 2])
    lst = tmp_path / "list.txt"
    lst.write_text(f"{page_png}\n{bad}\n")
    base = str(tmp_path / "osd")
    assert cli.run(["t", "--psm", "0", str(lst), base], spark=spark) == 0
    osd = open(base + ".osd").read()
    assert osd.count("Orientation in degrees: 0") == 1
    assert "Script: Latin" in osd


def test_cli_imagelist_multipage(spark, tmp_path):
    pages = []
    for k, text in enumerate(["page one here", "page two here"]):
        page = compose_page(PageSpec(paragraphs=[[text]]))
        p = tmp_path / f"p{k}.png"
        p.write_bytes(encode_gray_png(page.image))
        pages.append(str(p))
    lst = tmp_path / "list.txt"
    lst.write_text("\n".join(pages) + "\n")
    base = str(tmp_path / "ml")
    assert cli.run(["t", str(lst), base], spark=spark) == 0
    txt = open(base + ".txt").read()
    assert "page one here" in txt and "page two here" in txt
    assert txt.index("page one here") < txt.index("page two here")


def test_cli_corpus_dir_mode(spark, corpus, tmp_path):
    outdir = str(tmp_path / "corpus_out")
    assert cli.run(
        ["t", os.path.dirname(corpus["documents"]), outdir], spark=spark) == 0
    got = spark.read.parquet(os.path.join(outdir, "txt"))
    assert got.count() > 0
    assert set(got.columns) == {"doc_id", "text"}


def test_unsupported_image_reports_error(capsys, tmp_path):
    """An unsupported image format (GIF/BMP/...) must produce a clean
    error, not fall through to the imagelist reader (whose UTF-8 decode
    of image bytes would traceback).  JPEG/TIFF are READ since round 5
    (functions/image_codecs.py) and covered by the tests below."""
    gif = tmp_path / "anim.gif"
    gif.write_bytes(b"GIF89a" + b"\x00" * 32)
    assert cli.run(["t", str(gif), str(tmp_path / "o")]) == 1
    err = capsys.readouterr().err
    assert "GIF" in err and "PNG/JPEG/TIFF" in err
    # binary garbage with no known magic: neither image nor imagelist
    junk = tmp_path / "junk.bin"
    junk.write_bytes(bytes(range(256)))
    assert cli.run(["t", str(junk), str(tmp_path / "o")]) == 1
    assert "imagelist" in capsys.readouterr().err


# ---------- round 5: multiformat input + URL source ----------
# (ProcessPagesInternal content autodetect baseapi.cpp:1033-1194;
#  the libcurl URL branch :1061-1078)


def test_cli_jpeg_input(spark, tmp_path):
    from tesseract_spark.functions.compose import PageSpec, compose_page
    from tesseract_spark.functions.image_codecs import encode_gray_jpeg

    page = compose_page(PageSpec(paragraphs=[["hello world", "second line"]]))
    p = tmp_path / "page.jpg"
    p.write_bytes(encode_gray_jpeg(page.image, 95))
    base = str(tmp_path / "out")
    assert cli.run(["t", str(p), base], spark=spark) == 0
    assert open(base + ".txt").read() == GOLD + "\n"


def test_cli_multipage_tiff_input(spark, tmp_path):
    from tesseract_spark.functions.compose import PageSpec, compose_page
    from tesseract_spark.functions.image_codecs import encode_gray_tiff

    p1 = compose_page(PageSpec(paragraphs=[["hello world"]]))
    p2 = compose_page(PageSpec(paragraphs=[["second line"]]))
    p = tmp_path / "pages.tif"
    p.write_bytes(encode_gray_tiff([p1.image, p2.image]))
    base = str(tmp_path / "out")
    assert cli.run(["t", str(p), base], spark=spark) == 0
    # one span per TIFF page; the text sink separates page spans with a
    # blank line (the reference's page separator)
    assert open(base + ".txt").read() == "hello world\n\nsecond line\n"


def test_cli_psm_osd_only_multipage_tiff(spark, tmp_path):
    from tesseract_spark.functions.compose import PageSpec, compose_page
    from tesseract_spark.functions.image_codecs import encode_gray_tiff

    p1 = compose_page(PageSpec(paragraphs=[["hello world"]]))
    p2 = compose_page(PageSpec(paragraphs=[["second line"]]))
    p = tmp_path / "pages.tif"
    p.write_bytes(encode_gray_tiff([p1.image, p2.image]))
    base = str(tmp_path / "osd")
    assert cli.run(["t", "--psm", "0", str(p), base], spark=spark) == 0
    # one OSD report per TIFF page, in container order
    osd = open(base + ".osd").read()
    assert osd.count("Orientation in degrees: 0") == 2
    assert osd.index("Page number: 0") < osd.index("Page number: 1")


def test_cli_file_url_input(spark, page_png, tmp_path):
    base = str(tmp_path / "out")
    assert cli.run(["t", "file://" + page_png, base], spark=spark) == 0
    assert open(base + ".txt").read() == GOLD + "\n"


def test_cli_http_url_input(spark, page_png, tmp_path):
    import http.server
    import threading

    import os as _os

    class H(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **k):
            super().__init__(*a, directory=_os.path.dirname(page_png), **k)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/page.png"
        base = str(tmp_path / "out")
        assert cli.run(["t", url, base], spark=spark) == 0
        assert open(base + ".txt").read() == GOLD + "\n"
    finally:
        srv.shutdown()


def test_cli_bad_url_reports_error(capsys, tmp_path):
    rc = cli.run(
        ["t", "http://127.0.0.1:1/none.png", str(tmp_path / "o")]
    )
    assert rc == 1
    assert "cannot fetch" in capsys.readouterr().err
