"""Every source file compiles with DeprecationWarning and SyntaxWarning
raised as errors: an invalid escape such as ``'\\s'`` in a plain string
is a DeprecationWarning on Python 3.11 and a SyntaxWarning from 3.12."""

import pathlib
import warnings

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_sources_compile_without_warnings():
    bad = []
    for top in ("tesseract_spark", "tools", "tests"):
        for path in sorted((ROOT / top).rglob("*.py")):
            with warnings.catch_warnings():
                warnings.simplefilter("error", DeprecationWarning)
                warnings.simplefilter("error", SyntaxWarning)
                try:
                    compile(path.read_text(encoding="utf-8"), str(path), "exec")
                except (SyntaxError, DeprecationWarning, SyntaxWarning) as e:
                    bad.append(f"{path.relative_to(ROOT)}: {e}")
    assert not bad, "\n".join(bad)
