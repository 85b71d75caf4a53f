"""TessBaseAPI facade (tesseract_spark/api.py) — the baseapi_test.cc /
apiexample_test.cc ports, plus byte-parity between the local text
getters and the distributed DataFrame sinks."""

import re

import pytest

from tesseract_spark import api as A
from tesseract_spark.functions.compose import PageSpec, compose_page
from tesseract_spark.functions.fonts import RTL_CHARSET

GOLD = "hello world\nsecond line"


@pytest.fixture(scope="module")
def page():
    return compose_page(PageSpec(paragraphs=[["hello world", "second line"]]))


@pytest.fixture(scope="module")
def ready_api(page):
    t = A.TessBaseAPI()
    assert t.Init(None, "eng", A.OEM_DEFAULT) == 0
    t.SetImage(page.image)
    t.Recognize()
    return t


# ---------- baseapi_test.cc ports ----------


def test_static_tess_base_api():
    # StaticTessBaseAPI (baseapi_test.cc:66-69)
    api = A.TessBaseAPI()
    api.End()


def test_basic_tesseract_test(page):
    # BasicTesseractTest (baseapi_test.cc:72-89): OEM_TESSERACT_ONLY
    # reads exactly the gold text
    api = A.TessBaseAPI()
    assert api.Init(None, "eng", A.OEM_TESSERACT_ONLY) == 0
    api.SetImage(page.image)
    assert api.GetUTF8Text().strip() == GOLD


def test_basic_lstm_test(page):
    # BasicLSTMTest (baseapi_test.cc:208-230): OEM_LSTM_ONLY parity
    api = A.TessBaseAPI()
    assert api.Init(None, "eng", A.OEM_LSTM_ONLY) == 0
    api.SetImage(page.image)
    assert api.GetUTF8Text().strip() == GOLD


def test_init_rejects_unknown_language():
    api = A.TessBaseAPI()
    assert api.Init(None, "xyz") == -1
    assert api.Init(None, "eng", oem=9) == -1


def test_hocr_works_without_set_input_name(ready_api):
    # HOCRWorksWithoutSetInputName (baseapi_test.cc:122-139)
    result = ready_api.GetHOCRText(0)
    assert result is not None
    assert "hello" in result
    assert '<div class="ocr_page"' in result


def test_hocr_contains_baseline(ready_api):
    # HOCRContainsBaseline (baseapi_test.cc:140-158) — the reference
    # regex modulo this engine's double-quoted class attributes
    result = ready_api.GetHOCRText(0)
    assert "hello" in result
    assert re.search(
        r'<span class="ocr_line"[^>]* baseline [-.0-9]+ [-.0-9]+', result)


def test_init_config_only():
    # InitConfigOnlyTest (baseapi_test.cc:275-300)
    for lang in ("eng", "heb", "equ", "deva"):
        api = A.TessBaseAPI()
        assert api.Init(None, lang, A.OEM_TESSERACT_ONLY) == 0
    for lang in ("eng", "heb", "equ", "deva"):
        api = A.TessBaseAPI()
        assert api.Init(
            None, lang, A.OEM_TESSERACT_ONLY,
            vars_vec=["tessedit_init_config_only"], vars_values=["1"]) == 0
        assert api.GetBoolVariable("tessedit_init_config_only") is True


def test_multiple_tess_instances(page):
    # TestMultipleTessInstances (baseapi_test.cc:308-352): two live
    # instances with different languages stay independent
    W1, W2, W3 = RTL_CHARSET[0:3], RTL_CHARSET[3:6], RTL_CHARSET[6:9]
    visual = " ".join(w[::-1] for w in reversed([W1, W2, W3]))
    heb_page = compose_page(PageSpec(paragraphs=[[visual]]))

    tess1, tess2 = A.TessBaseAPI(), A.TessBaseAPI()
    assert tess1.Init(None, "eng") == 0
    assert tess2.Init(None, "heb") == 0
    tess1.SetImage(page.image)
    tess2.SetImage(heb_page.image)
    assert tess1.GetUTF8Text().strip() == GOLD
    assert tess2.GetUTF8Text().strip() == f"{W1} {W2} {W3}"
    # and tess1 again after tess2 ran — no shared state corruption
    assert tess1.GetUTF8Text().strip() == GOLD


def test_multiple_tess_instance_variables():
    # TestMultipleTessInstanceVariables (baseapi_test.cc:355-397)
    int_param = [1, 2]
    bool_param = [False, True]
    str_param = ["abc", "def"]
    double_param = [0.01, 2.0]
    tess = [A.TessBaseAPI(), A.TessBaseAPI()]
    for i, api in enumerate(tess):
        api.Init(None, "eng")
        assert api.SetVariable("an_illegal_name", "none") is False
        assert api.SetVariable("tessedit_pageseg_mode", str(int_param[i]))
        assert api.SetVariable(
            "tessedit_ambigs_training", ["F", "T"][i])
        assert api.SetVariable("tessedit_char_blacklist", str_param[i])
        assert api.SetVariable(
            "segment_penalty_dict_frequent_word", ["0.01", "2"][i])
        # enum values out of range are rejected and leave the value
        assert api.SetVariable("tessedit_pageseg_mode", "42") is False
        assert api.SetVariable("tessedit_ocr_engine_mode", "7") is False
        assert api.oem() == 3
    for i, api in enumerate(tess):
        assert api.GetStringVariable("an_illegal_name") is None
        assert api.GetIntVariable("tessedit_pageseg_mode") == int_param[i]
        assert api.GetBoolVariable("tessedit_ambigs_training") == bool_param[i]
        assert api.GetStringVariable("tessedit_char_blacklist") == str_param[i]
        assert api.GetDoubleVariable(
            "segment_penalty_dict_frequent_word") == double_param[i]


def test_variable_type_mismatch_is_none(ready_api):
    assert ready_api.GetIntVariable("tessedit_char_blacklist") is None
    assert ready_api.GetStringVariable("tessedit_pageseg_mode") is None


# ---------- iterators ----------


def test_iterator_symbol_stream_reassembles_text(ready_api):
    it = ready_api.GetIterator()
    chars = [it.GetUTF8Text(A.RIL_SYMBOL)]
    while it.Next(A.RIL_SYMBOL):
        chars.append(it.GetUTF8Text(A.RIL_SYMBOL))
    assert "".join(chars) == GOLD.replace("\n", "").replace(" ", "")


def test_iterator_word_walk(ready_api):
    it = ready_api.GetIterator()
    words = [it.GetUTF8Text(A.RIL_WORD)]
    while it.Next(A.RIL_WORD):
        words.append(it.GetUTF8Text(A.RIL_WORD))
    assert words == ["hello", "world", "second", "line"]


def test_iterator_line_and_block_text(ready_api):
    it = ready_api.GetIterator()
    assert it.GetUTF8Text(A.RIL_TEXTLINE) == "hello world\n"
    assert it.GetUTF8Text(A.RIL_BLOCK).strip() == GOLD
    assert it.Next(A.RIL_TEXTLINE) is True
    assert it.GetUTF8Text(A.RIL_TEXTLINE) == "second line\n"
    assert it.Next(A.RIL_TEXTLINE) is False


def test_iterator_boxes_nest(ready_api):
    it = ready_api.GetIterator()
    wl, wt, wr, wb = it.BoundingBox(A.RIL_WORD)
    ll, lt, lr, lb = it.BoundingBox(A.RIL_TEXTLINE)
    sl, st, sr, sb = it.BoundingBox(A.RIL_SYMBOL)
    assert ll <= wl <= sl and sr <= wr <= lr
    assert lt <= wt <= st or lt <= wt  # symbol y inside word band
    assert wb <= lb


def test_iterator_begin_final_flags(ready_api):
    it = ready_api.GetIterator()
    assert it.IsAtBeginningOf(A.RIL_TEXTLINE)
    assert it.Next(A.RIL_WORD)  # -> "world"
    assert not it.IsAtBeginningOf(A.RIL_TEXTLINE)
    assert it.IsAtFinalElement(A.RIL_TEXTLINE, A.RIL_WORD)
    assert not it.IsAtFinalElement(A.RIL_BLOCK, A.RIL_WORD)


def test_iterator_confidence_and_dictionary(ready_api):
    it = ready_api.GetIterator()
    assert it.Confidence(A.RIL_WORD) > 50
    assert it.WordFontAttributes()["font_name"]
    assert it.WordIsFromDictionary() in (True, False)


# ---------- component images (IteratesParagraphsEvenIfNotDetected) ----------


def test_component_images_levels(ready_api):
    paras = ready_api.GetComponentImages(A.RIL_PARA)
    blocks = ready_api.GetRegions()
    lines = ready_api.GetTextlines()
    words = ready_api.GetWords()
    assert len(paras) >= len(blocks) >= 1
    assert len(lines) == 2 and len(words) == 4
    (box, crop) = words[0]
    assert crop.shape == (box[3] - box[1], box[2] - box[0])
    # RIL_SYMBOL is a valid level too (baseapi.h accepts any
    # PageIteratorLevel): one component per recognized character
    syms = ready_api.GetComponentImages(A.RIL_SYMBOL)
    n_chars = len(ready_api.GetUTF8Text().replace("\n", "").replace(" ", ""))
    assert len(syms) == n_chars
    (sbox, scrop) = syms[0]
    assert scrop.shape == (sbox[3] - sbox[1], sbox[2] - sbox[0])


def test_set_rectangle(page):
    api = A.TessBaseAPI()
    api.Init(None, "eng")
    api.SetImage(page.image)
    api.Recognize()
    full_lines = api.GetTextlines()
    # clip to the first line's band only
    (l, t, r, b) = full_lines[0][0]
    api.SetImage(page.image)
    api.SetRectangle(0, 0, page.image.shape[1], b + 2)
    assert api.GetUTF8Text().strip() == "hello world"


def test_mean_conf_and_thresholded(ready_api):
    assert 50 < ready_api.MeanTextConf() <= 100
    assert len(ready_api.AllWordConfidences()) == 4
    mask = ready_api.GetThresholdedImage()
    assert mask.shape == ready_api._page_image().shape
    assert mask.any()


def test_is_valid_word(page):
    api = A.TessBaseAPI()
    api.Init(None, "eng")
    api.SetUserWords(["hello", "world"])
    api.SetImage(page.image)
    assert api.IsValidWord("hello") == 1
    assert api.IsValidWord("zzzzq") == 0


def test_detect_os(page):
    api = A.TessBaseAPI()
    api.Init(None, "eng")
    api.SetImage(page.image)
    osd = api.DetectOS()
    assert osd["orientation"] == 0
    assert osd["script"] == "Latin"
    assert "Orientation in degrees: 0" in api.GetOsdText()


# ---------- parity with the DataFrame sinks ----------


def _spark_words_df(spark, page):
    from pyspark.sql import types as T

    from tesseract_spark.functions.png_codec import encode_gray_png
    from tesseract_spark.operators.sinks import ocr_words

    docs = spark.createDataFrame(
        [{"doc_id": "d", "spans": [
            {"kind": "media", "text": None, "media_ref": "m", "offset": 0}]}],
        T.StructType([
            T.StructField("doc_id", T.StringType()),
            T.StructField("spans", T.ArrayType(T.StructType([
                T.StructField("kind", T.StringType()),
                T.StructField("text", T.StringType()),
                T.StructField("media_ref", T.StringType()),
                T.StructField("offset", T.IntegerType()),
            ]))),
        ]),
    )
    media = spark.createDataFrame(
        [{"media_ref": "m", "png": encode_gray_png(page.image), "dpi": 300}],
        T.StructType([
            T.StructField("media_ref", T.StringType()),
            T.StructField("png", T.BinaryType()),
            T.StructField("dpi", T.IntegerType()),
        ]),
    )
    return docs, media, ocr_words(spark, docs, media)


def test_hocr_byte_parity_with_sink(spark, page, ready_api):
    from tesseract_spark.operators.sinks import to_hocr

    _d, _m, words = _spark_words_df(spark, page)
    sink = to_hocr(words).collect()[0]["hocr"]
    assert ready_api.GetHOCRText(0) == sink


def test_tsv_field_parity_with_sink(spark, page, ready_api):
    from tesseract_spark.operators.sinks import to_tsv

    _d, _m, words = _spark_words_df(spark, page)
    sink_rows = [
        r["tsv"] for r in to_tsv(words).orderBy(
            "doc_id", "media_ref", "block_num", "par_num", "line_num",
            "word_num", "level").collect()
    ]
    local_rows = ready_api.GetTSVText(0).splitlines()
    assert len(local_rows) == len(sink_rows)
    for lr, sr in zip(local_rows, sink_rows):
        lf, sf = lr.split("\t"), sr.split("\t")
        assert lf[:10] == sf[:10]
        assert float(lf[10]) == float(sf[10])  # conf modulo rendering
        assert lf[11] == sf[11]


def test_box_parity_with_sink(spark, page, ready_api):
    from pyspark.sql import types as T

    from tesseract_spark.operators.sinks import to_box_chars

    _d, _m, words = _spark_words_df(spark, page)
    heights = spark.createDataFrame(
        [{"media_ref": "m", "height_px": int(page.image.shape[0])}],
        T.StructType([
            T.StructField("media_ref", T.StringType()),
            T.StructField("height_px", T.IntegerType()),
        ]),
    )
    sink = {
        r["box_line"]
        for r in to_box_chars(words, page_heights=heights).collect()
    }
    local = set(ready_api.GetBoxText(0).splitlines())
    assert local == sink


def test_unlv_parity_with_sink(spark, page, ready_api):
    from tesseract_spark.operators.sinks import to_unlv

    _d, _m, words = _spark_words_df(spark, page)
    sink = to_unlv(words).collect()[0]["unlv"]
    assert ready_api.GetUNLVText() == sink


def test_alto_byte_parity_with_sink(spark, page, ready_api):
    from tesseract_spark.operators.sinks import to_alto

    _d, _m, words = _spark_words_df(spark, page)
    sink = to_alto(words).collect()[0]["alto"]
    assert ready_api.GetAltoText(0) == sink


def test_page_xml_byte_parity_with_sink(spark, page, ready_api):
    from tesseract_spark.operators.sinks import to_page_xml

    _d, _m, words = _spark_words_df(spark, page)
    sink = to_page_xml(words).collect()[0]["page_xml"]
    assert ready_api.GetPAGEText(0) == sink


def test_page_xml_multipage_closing_tags(ready_api):
    # PAGEXMLMultiPageClosingTags (baseapi_test.cc:399-440): every
    # GetPAGEText call yields exactly one balanced Page element
    for _ in range(2):
        xml = ready_api.GetPAGEText(0)
        assert xml.count("<Page>") == 1
        assert xml.count("</Page>") == 1
        assert xml.index("<Page>") < xml.index("</Page>")


def test_version_symbol():
    """capiexample_test.cc: the library exposes a callable version
    symbol reachable from a clean top-level import."""
    import tesseract_spark

    v = tesseract_spark.TessBaseAPI.Version()
    assert isinstance(v, str) and v == tesseract_spark.__version__
    assert all(part.isdigit() for part in v.split("."))


def test_clean_import_namespace():
    """cleanapi_test.cc analogue: a bare `import tesseract_spark` drags
    in neither pyspark nor numpy/pandas (the lazy-facade contract that
    keeps executor-side imports light), and pollutes the package
    namespace with no dependency aliases."""
    import subprocess
    import sys

    code = (
        "import sys\n"
        "import tesseract_spark\n"
        "bad = [m for m in ('pyspark', 'numpy', 'pandas', 'duckdb')\n"
        "       if m in sys.modules]\n"
        "assert not bad, bad\n"
        "leaked = [n for n in ('np', 'pd', 'F', 'spark')\n"
        "          if n in vars(tesseract_spark)]\n"
        "assert not leaked, leaked\n"
        "print('CLEAN')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr
    assert "CLEAN" in out.stdout


# ---------- continuation wave: the remaining baseapi.h surface ----------


def test_wordstr_and_lstm_box_text(ready_api):
    """GetWordStrBoxText (wordstrboxrenderer.cpp) and GetLSTMBoxText
    (lstmboxrenderer.cpp) record shapes."""
    ws_text = ready_api.GetWordStrBoxText()
    ws = ws_text.splitlines()
    word_recs = [ln for ln in ws if ln.startswith("WordStr ")]
    tab_recs = [ln for ln in ws if ln.startswith("\t ")]
    assert len(word_recs) == 2  # one record per textline
    # every line is closed by the reference's tab EOL record
    # (wordstrboxrenderer.cpp:50-56) and every word carries a
    # trailing space (:70-71)
    assert len(tab_recs) == 2 and ws_text.endswith("\n")
    for line in word_recs:
        assert " #" in line and line.endswith(" ")
    assert word_recs[0].endswith("#hello world ")
    # tab record geometry: right+1 .. right+5 of its own line
    r = int(word_recs[0].split(" ")[3])
    t0 = tab_recs[0].split(" ")
    assert int(t0[1]) == r + 1 and int(t0[3]) == r + 5
    lstm = ready_api.GetLSTMBoxText().splitlines()
    # per-symbol records incl. the space + one tab record per line
    assert sum(1 for ln in lstm if ln.startswith("\t")) == 2
    syms = [ln[0] for ln in lstm if not ln.startswith("\t")]
    assert "".join(syms) == "hello worldsecond line"
    # every record carries the same textline box within a line
    first_line = [ln for ln in lstm[:12]]
    boxes = {ln[1:] for ln in first_line[:11]}
    assert len(boxes) == 1


def test_analyse_layout_boxes_without_text(page):
    """AnalyseLayout (baseapi.cpp:805-830): layout-only iterator — boxes
    walk, text is empty."""
    t = A.TessBaseAPI()
    assert t.Init(None, "eng") == 0
    t.SetImage(page.image)
    it = t.AnalyseLayout()
    assert it is not None
    n_words = 0
    while True:
        box = it.BoundingBox(A.RIL_WORD)
        assert box is not None
        l, top, r, b = box
        assert l < r and top < b
        assert it.GetUTF8Text(A.RIL_WORD).strip() == ""
        n_words += 1
        if not it.Next(A.RIL_WORD):
            break
    assert n_words == 4  # hello world / second line


def test_get_text_direction(page):
    """GetTextDirection (baseapi.cpp:1894-1925): deskewed fixture lines
    have slope ~0 and the offset passes through the first line's
    bottom."""
    t = A.TessBaseAPI()
    assert t.Init(None, "eng") == 0
    t.SetImage(page.image)
    offset, slope = t.GetTextDirection()
    assert abs(slope) < 0.05
    it = t.AnalyseLayout()
    l, top, r, b = it.BoundingBox(A.RIL_TEXTLINE)
    assert abs(offset - b) <= 1


def test_block_text_orientations(ready_api):
    out = ready_api.GetBlockTextOrientations()
    assert out and all(o == (0, False) for o in out)


def test_detect_orientation_script(page):
    """DetectOrientationScript matches the OSD contract (osd_test.cc:
    expected 0 degrees on an upright page)."""
    t = A.TessBaseAPI()
    assert t.Init(None, "osd") == 0
    t.SetImage(page.image)
    deg, oconf, script, sconf = t.DetectOrientationScript()
    assert deg == 0
    assert script == "Latin" and sconf > 0


def test_read_config_file_and_datapath(tmp_path, page):
    cfg = tmp_path / "myconfig"
    cfg.write_text("# comment\npreserve_interword_spaces 1\n"
                   "tessedit_char_blacklist xyz\n\n")
    t = A.TessBaseAPI()
    assert t.Init(str(tmp_path), "eng") == 0
    t.ReadConfigFile(str(cfg))
    assert t.GetBoolVariable("preserve_interword_spaces") is True
    assert t.GetStringVariable("tessedit_char_blacklist") == "xyz"
    assert t.GetDatapath() == str(tmp_path)


def test_process_pages_form_feed(page):
    """ProcessPages: per-page recognize + form-feed-joined document
    (TessTextRenderer semantics)."""
    t = A.TessBaseAPI()
    assert t.Init(None, "eng") == 0
    doc = t.ProcessPages([page.image, page.image])
    parts = doc.split("\f")
    assert len(parts) == 2
    assert "hello world" in parts[0] and "hello world" in parts[1]


def test_process_pages_reads_jpeg_and_tiff_bytes(page):
    """ProcessPages hands encoded pages to SetImage, which sniffs the
    format: JPEG and TIFF bytes read like PNG bytes."""
    from tesseract_spark.functions.image_codecs import (
        encode_gray_jpeg,
        encode_gray_tiff,
    )

    t = A.TessBaseAPI()
    assert t.Init(None, "eng") == 0
    doc = t.ProcessPages([encode_gray_jpeg(page.image, 95),
                          encode_gray_tiff([page.image])])
    parts = doc.split("\f")
    assert len(parts) == 2
    assert "hello world" in parts[0] and "hello world" in parts[1]


def test_adapt_to_word_str(page):
    """AdaptToWordStr (baseapi.cpp:1640-1700): teaching persists adapted
    templates on the API object and ClearAdaptiveClassifier drops
    them."""
    from tesseract_spark.config import PSM_SINGLE_BLOCK

    t = A.TessBaseAPI()
    assert t.Init(None, "eng") == 0
    t.SetImage(page.image)
    assert t.AdaptToWordStr(PSM_SINGLE_BLOCK, "hello world second line")
    assert t._adapted is not None and len(t._adapted.protos) > 0
    t.ClearAdaptiveClassifier()
    assert t._adapted is None
