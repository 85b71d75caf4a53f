"""Config params (params.h subset), DPI clamping, ambiguity substitution."""

from tesseract_spark.config import (
    clamp_dpi,
    default_params,
    resolve_dpi,
    set_param,
)
from tesseract_spark.functions.ambigs import apply_ambigs
from tesseract_spark.lstm.dawg import Dawg


def test_dpi_clamp_credible_range():
    # baseapi.cpp:2004-2020
    assert clamp_dpi(300) == 300
    assert clamp_dpi(50) == 70
    assert clamp_dpi(9000) == 2400
    assert clamp_dpi(None) == 300
    assert clamp_dpi(0) == 300


def test_config_dpi_override():
    params = default_params()
    assert resolve_dpi(params, 150) == 150
    assert set_param(params, "user_defined_dpi", "600")
    assert resolve_dpi(params, 150) == 600


def test_ambigs_fix_nondict_word():
    d = Dawg("abcdefghijklmnopqrstuvwxyz0123456789 ", ["morning", "well", "so"])
    assert apply_ambigs("rnorning", d) == "morning"
    assert apply_ambigs("we1l so", d) == "well so"


def test_ambigs_keep_dict_and_unfixable():
    d = Dawg("abcdefghijklmnopqrstuvwxyz0123456789 ", ["corn", "morning"])
    # 'corn' is a dict word: must NOT rewrite to 'com'
    assert apply_ambigs("corn", d) == "corn"
    # unfixable stays as-is
    assert apply_ambigs("xyz123", d) == "xyz123"


def test_ambiguous_words_tool():
    """ambiguous_words (src/training/ambiguous_words.cpp:24-65): for
    each word, the single-substitution ambig variants that are also
    dictionary words, both confusion directions probed."""
    from tesseract_spark.functions.ambigs import ambiguous_words
    from tesseract_spark.lstm.dawg import Dawg

    cs = "abcdefghijklmnopqrstuvwxyz015"
    d = Dawg(cs, ["hello", "he1lo", "modern", "modem", "mass", "ma55"])
    pairs = ambiguous_words(["hello", "modern", "mass"], d)
    assert ("hello", "he1lo") in pairs  # l -> 1
    assert ("modern", "modem") in pairs  # rn -> m
    assert all(w != v for w, v in pairs)
    # 'ma55' needs TWO substitutions — single-substitution semantics
    # exclude it, and no other variant of 'mass' is a dict word
    assert not any(w == "mass" for w, _v in pairs)
