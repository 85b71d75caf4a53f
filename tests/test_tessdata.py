"""tessdata container / network serialization / recoder / VGSL engine.

Reference contracts:
- container layout: src/ccutil/tessdatamanager.cpp:110-167 (uint32 count,
  int64 offsets, -1 = absent);
- LSTM section: src/lstm/lstmrecognizer.cpp:93-178;
- network tree: src/lstm/network.cpp:155-189 + plumbing.cpp;
- weights: src/lstm/weightmatrix.cpp:238-330 (double + int8 modes);
- recoder: src/ccutil/unicharcompress.h:75-118;
- end-to-end: unittest/baseapi_test.cc:208-224 (BasicLSTMTest — load a
  traineddata, OCR a fixture, compare text exactly).
"""

import numpy as np
import pytest

from tesseract_spark.lstm import tessdata as td
from tesseract_spark.lstm.fixture_model import (
    build_fixture_model,
    decode_strips,
    fixture_traineddata_bytes,
)
from tesseract_spark.lstm.vgsl import VGSLNetwork


def test_container_roundtrip_with_absent_sections():
    entries = {
        td.TESSDATA_LSTM: b"\x01\x02\x03network",
        td.TESSDATA_VERSION: b"5.5.3-test",
        td.TESSDATA_LSTM_RECODER: b"rc",
    }
    blob = td.write_container(entries)
    back = td.read_container(blob)
    assert back == entries
    # header structure: uint32 count then int64 offsets, -1 where absent
    import struct

    n = struct.unpack("<I", blob[:4])[0]
    assert n == td.TESSDATA_NUM_ENTRIES
    offs = struct.unpack(f"<{n}q", blob[4 : 4 + 8 * n])
    assert offs[td.TESSDATA_UNICHARSET] == -1
    assert offs[td.TESSDATA_LSTM] == 4 + 8 * n


def test_container_rejects_garbage():
    with pytest.raises(ValueError):
        td.read_container(b"\xff\xff\xff\xff" + b"\x00" * 64)


def test_unicharset_roundtrip():
    u = td.Unicharset.from_charset("abZ9,? ")
    blob = u.save()
    back = td.Unicharset.load(blob)
    assert back.chars == u.chars
    assert back.properties == u.properties
    # the space row uses the reference's NULL convention
    assert b"NULL" in blob


def test_recoder_passthrough_and_serialize():
    rc = td.UnicharCompress.pass_through(5)
    assert rc.encode_unichar(3) == [3]
    assert rc.decode_codes([0, 4, 2]) == [0, 4, 2]
    w = td.Writer()
    rc.write(w)
    back = td.UnicharCompress.read(td.Reader(w.getvalue()))
    assert [e.codes for e in back.encoder] == [[i] for i in range(5)]


def test_recoder_multicode_decode():
    """CJK-style compression: unichars map to multi-code sequences; the
    decoder must do greedy longest-match over the flat code stream
    (including codes that are prefixes of longer codes)."""
    enc = [
        td.RecodedCharID(1, [0]),        # uid 0 -> [0]
        td.RecodedCharID(1, [1, 2]),     # uid 1 -> [1,2]
        td.RecodedCharID(1, [1, 2, 3]),  # uid 2 -> [1,2,3] (extends uid 1)
        td.RecodedCharID(1, [4, 0]),     # uid 3 -> [4,0]
    ]
    rc = td.UnicharCompress(enc)
    assert rc.code_range == 5
    assert rc.decode_codes([0]) == [0]
    assert rc.decode_codes([1, 2, 3]) == [2]  # longest match wins
    assert rc.decode_codes([1, 2, 0]) == [1, 0]
    assert rc.decode_codes([4, 0, 1, 2]) == [3, 1]
    # round-trip through serialization
    w = td.Writer()
    rc.write(w)
    back = td.UnicharCompress.read(td.Reader(w.getvalue()))
    assert back.decode_codes([1, 2, 3, 4, 0]) == [2, 3]


def test_weight_matrix_float_roundtrip():
    m = np.arange(12, dtype=np.float32).reshape(3, 4) / 7.0
    w = td.Writer()
    td.write_weight_matrix(w, m)
    back = td.read_weight_matrix(td.Reader(w.getvalue()))
    np.testing.assert_allclose(back, m, rtol=1e-6)


def test_weight_matrix_int8_read():
    """int8 (tessdata_fast) weights: wi_ int8 array + per-output double
    scales.  The FILE scale is the quantization step max_abs/127 —
    Serialize multiplies the in-memory scale (which carries an extra
    /INT8_MAX for the int8-input fast path) back out
    (weightmatrix.cpp:211-216) — so dequantized weight = wi * scale."""
    w = td.Writer()
    w.u8(128 | 1)  # kDoubleFlag | kInt8Flag
    wi = np.array([[127, -127], [64, 0]], dtype=np.int8)
    w.u32(2)
    w.u32(2)
    w.i8(0)  # empty_
    w.raw(wi.tobytes())
    w.u32(2)
    w.f64(2.0)  # row-0 quantization step: row max_abs was 254
    w.f64(0.5)
    back = td.read_weight_matrix(td.Reader(w.getvalue()))
    np.testing.assert_allclose(
        back, [[254.0, -254.0], [32.0, 0.0]], rtol=1e-6
    )


def test_network_tree_roundtrip_all_layer_kinds():
    """Serialize a VGSL net exercising conv/maxpool/Lbx/Lrx/Lfys/output,
    deserialize, and require bitwise-equal forward output."""
    spec = "[1,8,0,1 Ct3,3,4 Mp2,2 Lfys6 Lbx5 Lrx4 O1c7]"
    net = VGSLNetwork(spec, seed=11)
    blob = td.serialize_network(net)
    net2 = td.deserialize_network(td.Reader(blob), spec)
    x = np.random.default_rng(3).random((2, 8, 24, 1)).astype(np.float32)
    np.testing.assert_array_equal(net.forward(x), net2.forward(x))


def test_lstm_gate_mapping_is_lossless():
    """Gate weights survive the CI/GI/GF1/GO split-and-merge exactly."""
    spec = "[1,4,0,1 Lfx3 O1c5]"
    net = VGSLNetwork(spec, seed=7)
    blob = td.serialize_network(net)
    net2 = td.deserialize_network(td.Reader(blob), spec)
    for k in ("wx", "wh", "b"):
        np.testing.assert_array_equal(
            net.layers[0].weights[k], net2.layers[0].weights[k]
        )


def test_traineddata_basic_lstm_contract():
    """BasicLSTMTest analogue: serialize the fixture model to a real
    traineddata container, load it back, OCR fixture lines, compare
    exactly (baseapi_test.cc:208-224)."""
    from tesseract_spark.functions.fonts import render_line
    from tesseract_spark.lstm.tessdata import load_traineddata

    blob = fixture_traineddata_bytes()
    model = load_traineddata(blob)
    # structural checks on the container
    entries = td.read_container(blob)
    assert td.TESSDATA_LSTM in entries and td.TESSDATA_VERSION in entries
    assert entries[td.TESSDATA_VERSION].startswith(b"5.5")
    texts = ["The quick brown fox", "jumps over 13 lazy dogs!", "a b c"]
    got = decode_strips(model, [render_line(t) for t in texts])
    assert got == texts
    # spec survives (network_str_ field)
    assert model.spec.startswith("[1,1,0,16 Ct1,1,")
    assert model.null_char == len(model.charset)


def test_traineddata_separate_charset_components():
    """A container with separate LSTM_UNICHARSET / LSTM_RECODER sections
    overrides the embedded ones (LoadCharsets, lstmrecognizer.cpp:181)."""
    model = build_fixture_model()
    blob = td.save_traineddata(model)
    entries = td.read_container(blob)
    alt = td.Unicharset.from_charset(model.charset)
    rc_w = td.Writer()
    model.recoder.write(rc_w)
    entries[td.TESSDATA_LSTM_UNICHARSET] = alt.save()
    entries[td.TESSDATA_LSTM_RECODER] = rc_w.getvalue()
    model2 = td.load_traineddata(td.write_container(entries))
    assert model2.charset == model.charset


def test_vgsl_engine_page_parity_with_template_engine():
    """The two engines must produce identical span text on fixture pages
    (the OEM parity the reference asserts between its engines on clean
    scans)."""
    from tesseract_spark.functions.compose import PageSpec, compose_page
    from tesseract_spark.operators.recognize import (
        recognize_page,
        recognize_pages_vgsl,
    )

    lines = ["big table a a", "big sort data data", "query a key a"]
    for scale in (1, 2):
        for skew in (0.0, -0.02):
            page = compose_page(
                PageSpec(paragraphs=[lines], scale=scale, skew=skew)
            )
            t_spans, _ = recognize_page(page.image)
            v_spans, _ = recognize_pages_vgsl([page.image])[0]
            assert [s.text for s in t_spans if s.kind == "text"] == [
                s.text for s in v_spans if s.kind == "text"
            ], (scale, skew)


def test_container_byte_layout_acceptance():
    """Hexdump-level acceptance of the traineddata container against the
    reference serializer TessdataManager::Serialize
    (tessdatamanager.cpp:188-216) and loader LoadMemBuffer (:110-166):
    parse a full fixture traineddata with RAW struct unpacking only — no
    tesseract_spark reader — and verify every offset, the -1 absent
    markers, contiguous enum-order section packing, and that a section
    located purely via the raw offset table load-decodes."""
    import struct

    from tesseract_spark.lstm.fixture_model import get_vgsl_model

    model = get_vgsl_model()
    blob = td.save_traineddata(model, version="5.5.3-accept")
    lstm_bytes = td.write_lstm_section(model)

    # --- header: uint32 num_entries + int64[num_entries] offset table ---
    n = struct.unpack_from("<I", blob, 0)[0]
    assert n == td.TESSDATA_NUM_ENTRIES == 24
    assert n <= 1000  # kMaxNumTessdataEntries: no byte-swap triggered
    offs = struct.unpack_from(f"<{n}q", blob, 4)
    header = 4 + 8 * n
    assert header == 196

    # exact header bytes, reconstructed independently (Serialize packs
    # offsets in enum order starting right after the table)
    expected_offs = [-1] * n
    expected_offs[td.TESSDATA_LSTM] = header
    expected_offs[td.TESSDATA_VERSION] = header + len(lstm_bytes)
    expected_header = struct.pack("<I", n) + struct.pack(
        f"<{n}q", *expected_offs
    )
    assert blob[:header] == expected_header

    # absent sections are -1 (LoadMemBuffer skips them, :136-140)
    present = {td.TESSDATA_LSTM, td.TESSDATA_VERSION}
    for i in range(n):
        if i in present:
            assert offs[i] >= header
        else:
            assert offs[i] == -1

    # entry size = next present offset (or EOF) - own offset (:141-152)
    assert offs[td.TESSDATA_VERSION] - offs[td.TESSDATA_LSTM] == len(lstm_bytes)
    assert len(blob) - offs[td.TESSDATA_VERSION] == len(b"5.5.3-accept")

    # sections sliced by the RAW table byte-match the section serializers
    assert blob[offs[td.TESSDATA_LSTM] : offs[td.TESSDATA_VERSION]] == lstm_bytes
    assert blob[offs[td.TESSDATA_VERSION] :] == b"5.5.3-accept"

    # and the raw-sliced LSTM section genuinely load-decodes
    model2 = td.read_lstm_section(
        blob[offs[td.TESSDATA_LSTM] : offs[td.TESSDATA_VERSION]]
    )
    assert model2.unicharset is not None


def test_unicharset_from_texts_extractor():
    """unicharset_extractor analogue (unicharset_extractor.cpp:50-85):
    distinct chars with property bits, whitespace folds to the space
    row, round-trips through the text format."""
    from tesseract_spark.lstm.tessdata import Unicharset

    u = Unicharset.from_texts(["Hello world 42!", "tab\there"])
    assert " " in u.chars and "\t" not in u.chars
    assert "H" in u.chars and "2" in u.chars and "!" in u.chars
    i_h = u.chars.index("h")
    assert u.properties[i_h] & 0x1 and u.properties[i_h] & 0x2  # alpha+lower
    i_H = u.chars.index("H")
    assert u.properties[i_H] & 0x4  # upper
    i_bang = u.chars.index("!")
    assert u.properties[i_bang] & 0x10  # punctuation
    u2 = Unicharset.load(u.save())
    assert u2.chars == u.chars and u2.properties == u.properties


def test_combine_lang_model_starter_roundtrip():
    """combine_lang_model (src/training/combine_lang_model.cpp:30-80):
    a STARTER traineddata carries unicharset + recoder + wordlist dawgs
    and no network — lstmtraining's input shape.  The runtime loader
    rejects it (no LSTM section), read_lang_model inspects it."""
    import pytest

    from tesseract_spark.lstm.tessdata import (
        TESSDATA_LSTM_PUNC_DAWG,
        TESSDATA_LSTM_SYSTEM_DAWG,
        Unicharset,
        combine_lang_model,
        load_traineddata,
        read_lang_model,
    )

    u = Unicharset.from_texts(["the cat sat ."])
    blob = combine_lang_model(
        u, words=["the", "cat", "sat"], puncs=["."]
    )
    ucs, recoder, dawgs = read_lang_model(blob)
    assert ucs.chars == u.chars
    assert recoder.code_range >= len(u.chars)
    assert dawgs[TESSDATA_LSTM_SYSTEM_DAWG].accepts("cat")
    assert not dawgs[TESSDATA_LSTM_SYSTEM_DAWG].accepts("dog")
    assert dawgs[TESSDATA_LSTM_PUNC_DAWG].accepts(".")
    with pytest.raises(ValueError, match="no LSTM section"):
        load_traineddata(blob)


def test_merge_unicharsets_tool():
    """merge_unicharsets (src/training/merge_unicharsets.cpp): first
    set's ids stable, second set's new chars append in order."""
    from tesseract_spark.lstm.tessdata import Unicharset, merge_unicharsets

    a = Unicharset.from_charset("abc")
    b = Unicharset.from_charset("bcdx")
    m = merge_unicharsets(a, b)
    assert m.chars == ["a", "b", "c", "d", "x"]
    assert m.properties[0] == a.properties[0]


def test_cleanup_string_tatweel_and_ligatures():
    """kCleanupMaps ingest substitutions (unicharset.cpp:72-77) and the
    TatweelTest contracts (unittest/tatweel_test.cc): the unicharset
    never contains tatweel, the dictionary ignores it."""
    from tesseract_spark.lstm.dawg import read_squished_dawg, wordlist2dawg
    from tesseract_spark.lstm.tessdata import Unicharset

    assert Unicharset.cleanup_string("aـb") == "ab"
    assert Unicharset.cleanup_string("ﬁsh ﬂy") == "fish fly"
    u = Unicharset.from_texts(["aـb ﬁsh"])
    assert "ـ" not in u.chars and "ﬁ" not in u.chars
    cs = "abcfish"
    d = read_squished_dawg(
        wordlist2dawg(["aـbc", "ﬁsh"], cs), cs
    )
    assert d.accepts("abc") and d.accepts("fish")
    assert not d.accepts("aـbc")


def test_int8_weight_matrix_roundtrip_matches_convert_to_int():
    """tessdata_fast format: int8-mode serialization reads back as
    EXACTLY ConvertToInt's quantize-dequantize of the float weights
    (file scale = max_abs/127, weightmatrix.cpp:110-140 + 211-216)."""
    from tesseract_spark.lstm.vgsl import VGSLNetwork, convert_to_int

    spec = "[1,8,0,1 Ct3,3,4 Mp2,2 Lfys6 Lbx5 Lrx4 Ft5 O1c7]"
    net = VGSLNetwork(spec, seed=11)
    blob = td.serialize_network(net, int_mode=True)
    net_q = VGSLNetwork(spec, seed=11)
    convert_to_int(net_q)
    net2 = td.deserialize_network(td.Reader(blob), spec)
    for li, layer in enumerate(net_q.layers):
        for k, v in layer.weights.items():
            np.testing.assert_allclose(
                net2.layers[li].weights[k], v, atol=1e-6,
                err_msg=f"layer {li} weight {k}")


def test_int8_mode_engine_decodes_identically():
    """The int-mode ('fast') model decodes the fixture corpus the same
    as the float model — TestIntMode's inference-side contract through
    the container format."""
    from tesseract_spark.functions.fonts import render_line
    from tesseract_spark.lstm.fixture_model import PAD, get_vgsl_model

    model = get_vgsl_model()
    net = model.net
    blob = td.serialize_network(net, int_mode=True)
    net_q = td.deserialize_network(td.Reader(blob), net.spec)
    for text in ("hello world", "quick brown fox", "zebras jump"):
        s = render_line(text, 1).astype(np.float32)
        x = np.zeros((1, 1, s.shape[1] + 2 * PAD, 16), np.float32)
        x[0, 0, PAD:PAD + s.shape[1], :] = s.T
        a = net.forward(x)[0].argmax(-1)
        b = net_q.forward(x)[0].argmax(-1)
        np.testing.assert_array_equal(a, b, err_msg=text)


def test_convert_to_int_cli_produces_working_fast_model(tmp_path, capsys):
    """lstmtraining --stop_training --convert_to_int (lstmtraining.cpp:54,
    :131): the converted fast model carries TF_INT_MODE, int8 weight
    records, and still decodes the training corpus exactly."""
    from tesseract_spark import tools

    text_file = tmp_path / "t.txt"
    text_file.write_text("ab ba\naab\nbba ab\n")
    base = str(tmp_path / "scr")
    assert tools.main(["prog", "text2image", "--text", str(text_file),
                       "--outputbase", base, "--degrade_image=false"]) == 0
    listfile = tmp_path / "scr.list"
    listfile.write_text(base + ".lstmf\n")
    ucs_out = str(tmp_path / "u.unicharset")
    assert tools.main(["prog", "unicharset_extractor",
                       "--output_unicharset", ucs_out, str(text_file)]) == 0
    assert tools.main(["prog", "combine_lang_model",
                       "--input_unicharset", ucs_out, "--lang", "scr",
                       "--output_dir", str(tmp_path),
                       "--words", str(text_file)]) == 0
    model_out = str(tmp_path / "m")
    assert tools.main([
        "prog", "lstmtraining", "--net_spec", "[1,1,0,16 Ct1,5,12 Lbx20 O1c9]",
        "--traineddata", str(tmp_path / "scr" / "scr.traineddata"),
        "--train_listfile", str(listfile), "--model_output", model_out,
        "--learning_rate", "0.02", "--max_iterations", "250"]) == 0
    assert tools.main(["prog", "lstmtraining", "--stop_training",
                       "--convert_to_int", "--model_output", model_out]) == 0
    data = open(model_out + ".traineddata", "rb").read()
    # the LSTM section carries TF_INT_MODE and int8 weight records
    sec = td.read_container(data)[td.TESSDATA_LSTM]
    assert bytes([td._K_INT8_FLAG | td._K_DOUBLE_FLAG]) in sec
    model = td.load_traineddata(data)
    # fast model still decodes perfectly
    capsys.readouterr()
    assert tools.main(["prog", "lstmeval", "--model",
                       model_out + ".traineddata",
                       "--eval_listfile", str(listfile),
                       "--verbosity", "0"]) == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    assert out.startswith("BCER eval=0.000")
