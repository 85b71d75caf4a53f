"""Port of unittest/recodebeam_test.cc over synthesized charsets.

The reference drives RecodeBeamSearch three ways and this file keeps
all three:

- random-padded easy outputs over real multi-code encodings
  (GenerateRandomPaddedOutputs, recodebeam_test.cc:201-241) for the
  Chinese/Korean/Kannada/English shape tests;
- the "Gets words right." dictionary lattice
  (kGWRTops/kGWR2ndScores, recodebeam_test.cc:38-46 +
  DISABLED_EngDictionary:423-439) where the dual dawg/no-dawg beam
  must flip three weak decisions to the dictionary reading;
- the zh segmentation lattice (DISABLED_ChiDictionary:440-467):
  space-free word chaining with per-word permuters.

The sandbox has no *.traineddata/wordlists, so dictionaries are
in-test Dawg fixtures (trailing punctuation is carried as part of the
dict word — the reference reaches the same effect through its punc
DAWG, a Dict feature outside the beam under test)."""

import numpy as np
import pytest

from tesseract_spark.lstm.dawg import Dawg
from tesseract_spark.lstm.recode_beam import (
    NO_PERM,
    SYSTEM_DAWG_PERM,
    TOP_CHOICE_PERM,
    RecodeBeamSearch,
)
from tesseract_spark.lstm.refcharset import RefUnicharset
from tesseract_spark.lstm.tessdata import K_MAX_CODE_LEN, UnicharCompress

from test_unicharcompress_fixtures import (
    load_unicharset,
    make_eng_set,
    make_han_set_and_radicals,
    make_kan_set,
    make_kor_set,
)

# recodebeam_test.cc:28-30
K_NUM_CHARS = 50  # trimmed from 100: same coverage, faster in Python
K_PADDING = 32
SPECIAL_COUNT = 3

# Dictionary test data (recodebeam_test.cc:38-46).  Top choice reads
# "Gef s wordsright."; the dictionary must recover "Gets words right."
# against the competing dict phrase "Get swords right.".
GWR_TOPS = ["G", "e", "f", " ", "s", " ", "w", "o", "r", "d",
            "s", "", "r", "i", "g", "h", "t", "."]
GWR_TOP_SCORES = [0.99, 0.85, 0.87, 0.55, 0.99, 0.65, 0.89, 0.99, 0.99,
                  0.99, 0.99, 0.95, 0.99, 0.90, 0.90, 0.90, 0.95, 0.75]
GWR_2NDS = ["C", "c", "t", "", "S", "", "W", "O", "t", "h",
            "S", " ", "t", "I", "9", "b", "f", ","]
GWR_2ND_SCORES = [0.01, 0.10, 0.12, 0.42, 0.01, 0.25, 0.10, 0.01, 0.01,
                  0.01, 0.01, 0.05, 0.01, 0.09, 0.09, 0.09, 0.05, 0.25]

ZH_TOPS = list("实学储啬投学生")
ZH_TOP_SCORES = [0.98] * 7
ZH_2NDS = list("学储投生学生实")
ZH_2ND_SCORES = [0.01] * 7


# -- output synthesis (recodebeam_test.cc:201-326) ---------------------


def random_padded_outputs(recoder, null_char, unichar_ids, padding, seed=42):
    """GenerateRandomPaddedOutputs: easy 1.0 winners over uniform
    [0, 0.25) noise, a null between equal adjacent codes and after
    each unichar, rows normalized."""
    width = len(unichar_ids) * 2 * K_MAX_CODE_LEN
    num_codes = recoder.code_range
    rng = np.random.RandomState(seed)
    outputs = np.zeros((width + padding, num_codes), dtype=np.float64)
    outputs[:width] = rng.uniform(0.0, 0.25, size=(width, num_codes))
    t = 0
    for uid in unichar_ids:
        code = recoder.encode_unichar(uid)
        assert code
        for j, c in enumerate(code):
            if j > 0 and c == code[j - 1]:
                outputs[t, null_char] = 1.0
                t += 1
            outputs[t, c] = 1.0
            t += 1
        outputs[t, null_char] = 1.0
        t += 1
    outputs[:width] /= outputs[:width].sum(axis=1, keepdims=True)
    # The padding rows stay all-zero in the reference; give the null
    # char full probability there instead so log() is defined.
    outputs[width:, null_char] = 1.0
    return outputs


def synthetic_outputs(encode, null_char, num_codes, chars1, scores1,
                      chars2, scores2, rng=None):
    """GenerateSyntheticOutputs + EncodeUTF8: two scored choices per
    position, remainder shared with null taking half, null padding."""
    width = len(chars1)
    # The random-dup arm can triple each code and append nulls, so
    # size generously (the reference instead bounds dups against dim1,
    # EncodeUTF8 recodebeam_test.cc:261).
    padding = width * K_MAX_CODE_LEN * (4 if rng is not None else 1)
    outputs = np.zeros((width + padding, num_codes), dtype=np.float64)

    def encode_at(s, score, start_t):
        t = start_t
        codes = encode(s) if s else [null_char]
        for c in codes:
            outputs[t, c] = score
            t += 1
            if rng is not None:
                for _ in range(int(rng.uniform(0, 3.0))):
                    outputs[t, c] = score
                    t += 1
        if rng is not None:
            for _ in range(int(rng.uniform(0, 3.0))):
                outputs[t, null_char] = score
                t += 1
        return t

    t = 0
    for i in range(width):
        end_t2 = encode_at(chars2[i], scores2[i], t)
        end_t1 = encode_at(chars1[i], scores1[i], t)
        max_t = max(end_t1, end_t2)
        while t < max_t:
            total = outputs[t].sum()
            null_remainder = (1.0 - total) / 2.0
            remainder = null_remainder / (num_codes - 2)
            if outputs[t, null_char] < null_remainder:
                outputs[t, null_char] += null_remainder
            else:
                remainder += remainder
            zero = outputs[t] == 0.0
            outputs[t, zero] = remainder
            t += 1
    while t < width + padding:
        outputs[t, null_char] = 1.0
        t += 1
    return outputs


# -- ExpectCorrect (recodebeam_test.cc:107-198) -------------------------


def decode_labels(recoder, null_char, labels, truth_len, id_to_str):
    """The label walk of ExpectCorrect:124-147: greedy recoder decode
    requiring valid unichar ids at every boundary."""
    decoded = ""
    start = 0
    while start < len(labels):
        code: list[int] = []
        index = start
        uni_id = -1
        while True:
            code.append(labels[index])
            index += 1
            uni_id = recoder.decode_unichar(code)
            if not (
                index < len(labels)
                and len(code) < K_MAX_CODE_LEN
                and (uni_id == -1
                     or not recoder.is_valid_first_code(labels[index]))
            ):
                break
        assert uni_id != -1, f"index={index}/{len(labels)}"
        if labels[start] != null_char and len(decoded) < truth_len:
            decoded += id_to_str(uni_id)
        start = index
    return decoded


def expect_correct(beam, outputs, truth, id_to_str, null_uid):
    """All three extraction walks agree with the truth string."""
    beam.decode(outputs)
    labels, xcoords = beam.extract_best_path_as_labels()
    decoded = decode_labels(
        beam.recoder, beam.null_char, labels, len(truth), id_to_str
    )
    assert decoded == truth
    uids, certs, ratings, xcoords2 = beam.extract_best_path_as_unichar_ids()
    u_decoded = ""
    for u in uids:
        if len(u_decoded) < len(truth):
            u_decoded += id_to_str(u)
    assert u_decoded == truth
    words = None
    for _ in range(2):  # idempotent, like the reference's i<2 loop
        words = beam.extract_best_path_as_words(id_to_str)
        w_decoded = ""
        for w in words:
            if len(w_decoded) < len(truth):
                if w_decoded and w.space_before:
                    w_decoded += " "
                w_decoded += w.text
        assert w_decoded[: len(truth)] == truth
    return words


def expect_random_padded(make_set, lang_radicals=None, seed=42):
    if lang_radicals is not None:
        ucs, radicals = make_set()
    else:
        ucs, radicals = make_set(), None
    compressed, null_char, encoded_null = load_unicharset(ucs, radicals)
    transcription = list(
        range(SPECIAL_COUNT, min(K_NUM_CHARS, len(ucs)))
    )
    outputs = random_padded_outputs(
        compressed, encoded_null, transcription, K_PADDING, seed
    )
    truth = "".join(ucs.id_to_unichar(u) for u in transcription)
    beam = RecodeBeamSearch(compressed, encoded_null)
    expect_correct(
        beam, outputs, truth, ucs.id_to_unichar, null_char
    )


# -- the tests ----------------------------------------------------------


def test_does_chinese():
    """DoesChinese (recodebeam_test.cc:334): multi-code radical
    encodings survive the beam round-trip."""
    expect_random_padded(make_han_set_and_radicals, lang_radicals=True)


def test_does_korean():
    expect_random_padded(make_kor_set)


def test_does_kannada():
    expect_random_padded(make_kan_set)


def test_does_english():
    expect_random_padded(make_eng_set)


def _ascii_beam(charset, words=None, space_delimited=True, nsd=()):
    """Pass-through recoder + optional word dawg over an explicit
    uid->char table (uid 0 is space, as in the reference specials)."""
    null_char = len(charset)
    recoder = UnicharCompress.pass_through(len(charset) + 1)
    dawg = Dawg("".join(charset), words) if words else None
    return RecodeBeamSearch(
        recoder,
        null_char,
        dawg=dawg,
        uid_chars=list(charset),
        space_delimited=space_delimited,
        non_space_delimited_uids=frozenset(nsd),
    ), null_char


def _gwr_fixture(words=None):
    charset = [" "] + sorted(
        {c for c in GWR_TOPS + GWR_2NDS if c and c != " "}
    )
    uid = {c: i for i, c in enumerate(charset)}
    beam, null_char = _ascii_beam(charset, words)
    outputs = synthetic_outputs(
        lambda s: [uid[c] for c in s],
        null_char,
        len(charset) + 1,
        GWR_TOPS,
        GWR_TOP_SCORES,
        GWR_2NDS,
        GWR_2ND_SCORES,
    )
    return beam, outputs, charset


def test_eng_top_choice():
    """EngDictionary first half: without a dictionary the beam reads
    the top choices verbatim."""
    beam, outputs, charset = _gwr_fixture()
    expect_correct(
        beam, outputs, "".join(GWR_TOPS), lambda u: charset[u], None
    )


def test_eng_dictionary():
    """EngDictionary second half: the dawg beam recovers
    "Gets words right." across three weak network decisions (f>t,
    two weak spaces) and against the competing "Get swords right."."""
    words = ["Get", "Gets", "swords", "words", "right", "right."]
    beam, outputs, charset = _gwr_fixture(words)
    rec_words = expect_correct(
        beam, outputs, "Gets words right.", lambda u: charset[u], None
    )
    assert [w.text for w in rec_words] == ["Gets", "words", "right."]
    assert all(w.permuter == SYSTEM_DAWG_PERM for w in rec_words)


def test_chi_dictionary():
    """ChiDictionary: space-free scripts chain dictionary words
    without separators; non-dict chars become top-choice words."""
    charset = [" "] + sorted(set(ZH_TOPS + ZH_2NDS))
    uid = {c: i for i, c in enumerate(charset)}
    nsd = frozenset(uid[c] for c in charset if c != " ")

    def run(words):
        beam, null_char = _ascii_beam(
            charset, words, space_delimited=not words, nsd=nsd
        )
        outputs = synthetic_outputs(
            lambda s: [uid[c] for c in s],
            null_char,
            len(charset) + 1,
            ZH_TOPS,
            ZH_TOP_SCORES,
            ZH_2NDS,
            ZH_2ND_SCORES,
        )
        return expect_correct(
            beam, outputs, "".join(ZH_TOPS), lambda u: charset[u], None
        )

    # Without a dictionary: 7 single-char top-choice words.
    words = run(None)
    assert [w.text for w in words] == ZH_TOPS
    assert all(w.permuter == TOP_CHOICE_PERM for w in words)
    # With the dictionary: 实学 / 储 / 啬 / 投 / 学生.
    words = run(["实学", "学生"])
    assert [w.text for w in words] == ["实学", "储", "啬", "投", "学生"]
    assert [w.permuter for w in words] == [
        SYSTEM_DAWG_PERM,
        TOP_CHOICE_PERM,
        TOP_CHOICE_PERM,
        TOP_CHOICE_PERM,
        SYSTEM_DAWG_PERM,
    ]


def test_multi_code_sequences():
    """MultiCodeSequences: true-CTC duplicates and inserted nulls
    inside multi-code sequences still decode (EncodeUTF8's random-dup
    arm, recodebeam_test.cc:244-278, over the Kannada-shape set)."""
    ucs = make_kan_set()
    compressed, null_char, encoded_null = load_unicharset(ucs)
    transcription = list(range(SPECIAL_COUNT, SPECIAL_COUNT + 8))
    chars1 = [ucs.id_to_unichar(u) for u in transcription]
    scores1 = [0.95] * len(chars1)
    chars2 = [""] * len(chars1)
    scores2 = [0.01] * len(chars1)
    rng = np.random.RandomState(7)

    def encode(s):
        return compressed.encode_unichar(ucs.unichar_to_id(s))

    outputs = synthetic_outputs(
        encode, encoded_null, compressed.code_range,
        chars1, scores1, chars2, scores2, rng=rng,
    )
    truth = "".join(chars1)
    beam = RecodeBeamSearch(compressed, encoded_null)
    expect_correct(beam, outputs, truth, ucs.id_to_unichar, null_char)


def test_beam_decode_strips_matches_greedy_engine():
    """The production wiring: beam_decode_strips (forced, no gate) and
    the greedy decoder agree on rendered fixture lines, and the
    page-level VGSL engine produces identical spans under use_beam
    (the 'same gold text' contract both engines share)."""
    from tesseract_spark.functions.fonts import render_line
    from tesseract_spark.lstm.fixture_model import (
        beam_decode_strips,
        decode_strips,
        get_vgsl_model,
    )

    model = get_vgsl_model()
    texts = ["The quick brown fox", "jumps over 13 lazy dogs!", "a b c"]
    strips = [render_line(t) for t in texts]
    assert decode_strips(model, strips) == texts
    assert beam_decode_strips(model, strips, force_beam=True) == texts
    # the margin gate takes the greedy shortcut on these crisp lattices
    # and must return the same strings
    assert beam_decode_strips(model, strips) == texts


def test_recognize_page_vgsl_use_beam_parity():
    from tesseract_spark.functions.compose import PageSpec, compose_page
    from tesseract_spark.operators.recognize import recognize_pages_vgsl

    page = compose_page(
        PageSpec(paragraphs=[["hello world", "jumps over 13 dogs"]])
    )
    greedy_spans, _ = recognize_pages_vgsl([page.image])[0]
    beam_spans, _ = recognize_pages_vgsl([page.image], use_beam=True)[0]
    assert [(s.kind, s.text) for s in greedy_spans] == [
        (s.kind, s.text) for s in beam_spans
    ]
    assert any(s.text for s in beam_spans if s.kind == "text")


def test_dawg_rescoring_on_real_lattice_keeps_all_words():
    """Regression: the model charset puts space at uid 76, not at the
    reference's UNICHAR_SPACE=0 (unicharset.h SPECIAL_UNICHAR_CODES).
    The dict dual-beam must resolve the real space uid — before the
    fix the dawg beam died at every space, carried the rest of the
    line as nulls, and ExtractBestPaths returned a single word."""
    from tesseract_spark.functions.fonts import render_line
    from tesseract_spark.lstm.fixture_model import (
        beam_decode_strips,
        get_vgsl_model,
    )

    model = get_vgsl_model()
    charset = "".join(model.charset)
    dawg = Dawg(charset, ["quick", "brown", "jumps", "the", "fox"])
    strips = [render_line("the quick brown fox"), render_line("jumps")]
    assert beam_decode_strips(model, strips, dawg=dawg) == [
        "the quick brown fox",
        "jumps",
    ]
    # all-dict line: the dict beam path must carry SYSTEM_DAWG_PERM
    # spaces without restarting from nulls mid-line
    assert beam_decode_strips(model, strips, dawg=dawg, force_beam=True) == [
        "the quick brown fox",
        "jumps",
    ]


def test_zero_timestep_extraction_is_empty():
    """ADVICE r3: extraction on a zero-timestep decode (or before any
    decode) must return empty paths, not IndexError on steps[-1]."""
    charset = [" ", "a", "b"]
    beam, null_char = _ascii_beam(charset)
    # never decoded: steps is empty
    labels, xcoords = beam.extract_best_path_as_labels()
    assert labels == [] and xcoords == [0]
    uids, certs, ratings, xc = beam.extract_best_path_as_unichar_ids()
    assert uids == [] and certs == [] and ratings == [] and xc == [0]
    assert beam.extract_best_path_as_words(lambda u: charset[u]) == []
    # zero-timestep output matrix
    beam.decode(np.zeros((0, len(charset) + 1), dtype=np.float32))
    labels, xcoords = beam.extract_best_path_as_labels()
    assert labels == [] and xcoords == [0]


def test_beam_decode_strips_space_free_charset():
    """ADVICE r3: beam_decode_strips over a model whose charset lacks
    a space (CJK fixture shape) must not raise ValueError resolving
    the space uid."""
    from tesseract_spark.lstm.fixture_model import beam_decode_strips

    class _Net:
        def forward(self, x):
            n, w = x.shape[0], 4
            lp = np.full((n, w, 3), -10.0, dtype=np.float32)
            lp[:, :, 2] = -0.01          # null everywhere...
            lp[:, 0, 0] = -0.01          # ...except uid 0 at t=0
            lp[:, 0, 2] = -10.0
            return lp

    class _Model:
        charset = ["甲", "乙"]           # no space anywhere
        null_char = 2
        recoder = UnicharCompress.pass_through(3)
        net = _Net()

    strips = [np.zeros((16, 8), dtype=np.float32)]
    out = beam_decode_strips(_Model(), strips, force_beam=True)
    assert out == ["甲"]


def test_recognize_pages_vgsl_cross_page_batch_parity():
    # cross-page batched decode must equal per-page calls exactly: the
    # width buckets pool strips from every page, but one strip's decode
    # never sees another (stridemap.cpp batching is caller-transparent)
    from tesseract_spark.functions.compose import PageSpec, compose_page
    from tesseract_spark.operators.recognize import recognize_pages_vgsl

    pages = [
        compose_page(PageSpec(paragraphs=[["hello world"]])),
        compose_page(
            PageSpec(paragraphs=[["jumps over 13 dogs", "quick brown fox"]])
        ),
        compose_page(PageSpec(paragraphs=[["zebras vex 42 jq"]])),
    ]
    batched = recognize_pages_vgsl([p.image for p in pages])
    for page, (spans, _layout) in zip(pages, batched):
        solo, _ = recognize_pages_vgsl([page.image])[0]
        assert [(s.kind, s.text) for s in spans] == [
            (s.kind, s.text) for s in solo
        ]
