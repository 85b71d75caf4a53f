"""The ``tesseract`` command-line program, Spark-native.

Port of src/tesseract.cpp (ParseArgs :366-520, PreloadRenderers
:523-645, main :688-800) over this engine: the same argument grammar,
PSM/OEM name maps (stringToPSM/stringToOEM :316-363), renderer
selection order and config-file names (tessdata/configs/*), but the
execution is a Spark job — a single image becomes a 1-row media
DataFrame through the SAME DataFrame pipeline that serves a parquet
corpus of millions of pages, so ``tesseract corpus_dir out/`` is the
100 TB path and ``tesseract page.png out`` is its degenerate case.

Inputs (positional ``imagename``):
- a PNG file -> one document, one page;
- ``stdin`` or ``-`` -> PNG bytes from standard input;
- a text file of image paths (imagelist) -> one document, one page
  per listed image, in list order (the reference's multipage walk);
- a directory holding ``documents.parquet`` + ``media.parquet`` ->
  the distributed corpus path; outputs become parquet directories
  under ``outputbase`` instead of local files.

Outputs (``outputbase`` + renderer extension, renderer.cpp:137-229):
txt, tsv, hocr, xml (ALTO), page.xml, pdf, unlv, box (makebox /
lstmbox / wordstrbox), osd.  ``outputbase`` of ``stdout`` or ``-``
writes the text stream to standard output.

v1 routing restrictions (each warned, none silently wrong):
- word-level renderers (tsv/hocr/alto/page/pdf/box/unlv) always run
  the default engine at PSM_AUTO — non-default --psm/--oem/-l apply
  to the span-level txt path only;
- --oem 0/1/2 and multi-language -l run PSM_AUTO layout.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass, field, fields

from . import __version__

# stringToPSM (tesseract.cpp:330-363)
PSM_MAP = {
    **{str(i): i for i in range(14)},
    "osd_only": 0,
    "auto_osd": 1,
    "auto_only": 2,
    "auto": 3,
    "single_column": 4,
    "single_block_vert_text": 5,
    "single_block": 6,
    "single_line": 7,
    "single_word": 8,
    "circle_word": 9,
    "single_char": 10,
    "sparse_text": 11,
    "sparse_text_osd": 12,
    "raw_line": 13,
}
PSM_COUNT = 14

# stringToOEM (tesseract.cpp:315-328)
OEM_MAP = {
    **{str(i): i for i in range(4)},
    "tesseract_only": 0,
    "lstm_only": 1,
    "tesseract_lstm_combined": 2,
    "default": 3,
}
OEM_COUNT = 4

# tessdata/configs/* analogues: each config file is a param assignment
# list; the renderer configs set one tessedit_create_* each
# (tessdata/configs/{txt,hocr,tsv,alto,page,pdf,unlv,makebox,lstmbox,
# wordstrbox,digits,quiet}).
CONFIGS: dict[str, dict[str, str]] = {
    "txt": {"tessedit_create_txt": "1"},
    "hocr": {"tessedit_create_hocr": "1", "hocr_font_info": "0"},
    "tsv": {"tessedit_create_tsv": "1"},
    "alto": {"tessedit_create_alto": "1"},
    "page": {"tessedit_create_page_xml": "1"},
    "pdf": {"tessedit_create_pdf": "1"},
    "unlv": {"tessedit_write_unlv": "1", "unlv_tilde_crunching": "T"},
    "makebox": {"tessedit_create_boxfile": "1"},
    "lstmbox": {"tessedit_create_lstmbox": "1"},
    "wordstrbox": {"tessedit_create_wordstrbox": "1"},
    "digits": {"tessedit_char_whitelist": "0123456789-."},
    "quiet": {"debug_file": "/dev/null"},
}

# truthy strings per ParamUtils::SetParam bool reads ("T"/"true"/"1")
_TRUE = {"1", "t", "true", "yes"}


def _is_true(v: str) -> bool:
    return str(v).strip().lower() in _TRUE


LANGS = ("deva", "eng", "equ", "heb")  # the built-in packs (multilang)


@dataclass
class CliArgs:
    image: str | None = None
    outputbase: str | None = None
    lang: str | None = None
    datapath: str | None = None
    dpi: int = 0
    loglevel: str = ""
    user_words: str | None = None
    user_patterns: str | None = None
    psm: int = 3  # PSM_AUTO
    oem: int = 3  # OEM_DEFAULT
    list_langs: bool = False
    print_parameters: bool = False
    print_fonts_table: bool = False
    vars: dict[str, str] = field(default_factory=dict)
    configs: list[str] = field(default_factory=list)


def _print_help(prog: str) -> None:
    print(
        "Usage:\n"
        f"  {prog} --help | --help-extra | --version\n"
        f"  {prog} --list-langs\n"
        f"  {prog} imagename outputbase [options...] [configfile...]\n"
    )


def _print_help_psm() -> None:
    print("Page segmentation modes:")
    for name, n in sorted(
        ((k, v) for k, v in PSM_MAP.items() if not k.isdigit()),
        key=lambda kv: kv[1],
    ):
        print(f"  {n:>2}    {name}")


def _print_help_oem() -> None:
    print("OCR Engine modes:")
    for name, n in sorted(
        ((k, v) for k, v in OEM_MAP.items() if not k.isdigit()),
        key=lambda kv: kv[1],
    ):
        print(f"  {n}    {name}")


def _check_arg_value(v: int, label: str, count: int) -> bool:
    # checkArgValues (tesseract.cpp:297-313)
    if 0 <= v < count:
        return True
    print(f"Invalid {label} value, please enter a number between 0-{count - 1}",
          file=sys.stderr)
    return False


def parse_args(argv: list[str]) -> CliArgs | None:
    """ParseArgs (tesseract.cpp:366-520).  Returns None after printing
    an error (the reference's ``return false`` -> EXIT_FAILURE path);
    raises SystemExit(0) for the help/version requests that exit."""
    a = CliArgs()
    noocr = False
    prog = argv[0] if argv else "tesseract"
    i = 1
    while i < len(argv) and (a.outputbase is None or argv[i].startswith("-")):
        arg = argv[i]
        if a.image is not None and a.outputbase is None:
            # outputbase follows image unconditionally — no options at
            # that position (tesseract.cpp:375-377)
            a.outputbase = arg
        elif arg in ("-h", "--help"):
            _print_help(prog)
            raise SystemExit(0)
        elif arg == "--help-extra":
            _print_help(prog)
            _print_help_psm()
            _print_help_oem()
            raise SystemExit(0)
        elif arg == "--help-psm":
            _print_help_psm()
            raise SystemExit(0)
        elif arg == "--help-oem":
            _print_help_oem()
            raise SystemExit(0)
        elif arg in ("-v", "--version"):
            print(f"tesseract_spark {__version__}")
            raise SystemExit(0)
        elif arg == "-l" and i + 1 < len(argv):
            a.lang = argv[i + 1]
            i += 1
        elif arg == "--tessdata-dir" and i + 1 < len(argv):
            a.datapath = argv[i + 1]
            i += 1
        elif arg == "--dpi" and i + 1 < len(argv):
            try:
                a.dpi = int(argv[i + 1])
            except ValueError:
                a.dpi = 0
            i += 1
        elif arg == "--loglevel" and i + 1 < len(argv):
            lvl = argv[i + 1].upper()
            if lvl not in ("ALL", "TRACE", "DEBUG", "INFO", "WARN",
                           "ERROR", "FATAL", "OFF"):
                print(f"Error, unsupported --loglevel {argv[i + 1]}",
                      file=sys.stderr)
                return None
            a.loglevel = lvl
            i += 1
        elif arg == "--user-words" and i + 1 < len(argv):
            a.user_words = argv[i + 1]
            i += 1
        elif arg == "--user-patterns" and i + 1 < len(argv):
            a.user_patterns = argv[i + 1]
            i += 1
        elif arg == "--list-langs":
            noocr = True
            a.list_langs = True
        elif arg == "--psm" and i + 1 < len(argv):
            psm = PSM_MAP.get(argv[i + 1], -1)
            if not _check_arg_value(psm, "PSM", PSM_COUNT):
                return None
            a.psm = psm
            i += 1
        elif arg == "--oem" and i + 1 < len(argv):
            oem = OEM_MAP.get(argv[i + 1], -1)
            if not _check_arg_value(oem, "OEM", OEM_COUNT):
                return None
            a.oem = oem
            i += 1
        elif arg == "--print-parameters":
            noocr = True
            a.print_parameters = True
        elif arg == "--print-fonts-table":
            noocr = True
            a.print_fonts_table = True
        elif arg == "-c" and i + 1 < len(argv):
            assignment = argv[i + 1]
            eq = assignment.find("=")
            if eq < 0:
                print("Missing '=' in configvar assignment", file=sys.stderr)
                return None
            a.vars[assignment[:eq]] = assignment[eq + 1 :]
            i += 1
        elif a.image is None:
            a.image = arg
        else:
            print(f"Error, unknown command line argument '{arg}'",
                  file=sys.stderr)
            return None
        i += 1

    a.configs = list(argv[i:])

    if a.psm == 0:  # PSM_OSD_ONLY wants the osd language
        if a.lang is not None and a.lang != "osd":
            print(f"Warning, detects only orientation with -l {a.lang}",
                  file=sys.stderr)
        else:
            a.lang = "osd"

    if a.outputbase is None and not noocr:
        _print_help(prog)
        return None
    return a


def resolve_params(a: CliArgs) -> dict[str, str]:
    """Config files first, then -c vars on top (main(),
    tesseract.cpp:757-764: Init reads configs, then SetVariable applies
    each -c pair).  A -c name the engine does not know (neither an
    EngineConfig field nor in api.PARAM_DEFS) is reported on stderr and
    skipped, and the run goes on, as the reference's failed SetVariable
    does."""
    from .api import PARAM_DEFS
    from .config import EngineConfig

    params: dict[str, str] = {}
    for name in a.configs:
        cfg = CONFIGS.get(name)
        if cfg is None:
            # unknown config: the reference fails inside Init; match it
            raise SystemExit(f"Error, unknown config file '{name}'")
        params.update(cfg)
    known = {f.name for f in fields(EngineConfig)} | set(PARAM_DEFS)
    for name, value in a.vars.items():
        if name in known:
            params[name] = value
        else:
            print(f"Could not set option: {name}={value}", file=sys.stderr)
    return params


# renderer order of PreloadRenderers (tesseract.cpp:523-645)
_RENDERER_ORDER = (
    ("tessedit_create_hocr", "hocr"),
    ("tessedit_create_alto", "alto"),
    ("tessedit_create_page_xml", "page_xml"),
    ("tessedit_create_tsv", "tsv"),
    ("tessedit_create_pdf", "pdf"),
    ("tessedit_write_unlv", "unlv"),
    ("tessedit_create_lstmbox", "lstmbox"),
    ("tessedit_create_boxfile", "box"),
    ("tessedit_create_wordstrbox", "wordstrbox"),
)
# renderer -> output file extension (renderer.cpp constructor args)
EXT = {
    "txt": "txt", "tsv": "tsv", "hocr": "hocr", "alto": "xml",
    "page_xml": "page.xml", "pdf": "pdf", "unlv": "unlv",
    "box": "box", "lstmbox": "box", "wordstrbox": "box", "osd": "osd",
}


def select_renderers(params: dict[str, str], psm: int) -> list[str]:
    """PreloadRenderers: PSM_OSD_ONLY -> osd only; else the configured
    set, defaulting to txt when nothing else was requested
    (tesseract.cpp:623-635)."""
    if psm == 0:
        return ["osd"]
    out = [name for key, name in _RENDERER_ORDER if _is_true(params.get(key, "0"))]
    if _is_true(params.get("tessedit_create_txt", "0")) or not out:
        out.append("txt")
    return out


def _read_wordfile(path: str) -> list[str]:
    with open(path, "r", encoding="utf-8") as f:
        return [w.strip() for w in f if w.strip()]


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


class CLIError(Exception):
    """Unusable input: reported on stderr with exit code 1 (the
    reference's unreadable-image error path)."""


def _fetch_url(url: str) -> bytes:
    """http(s):// input (baseapi.cpp:1061-1078, the libcurl path) via
    stdlib urllib; file:// supported for parity with curl."""
    import urllib.error
    import urllib.request

    try:
        with urllib.request.urlopen(url, timeout=30) as resp:
            return resp.read()
    except (urllib.error.URLError, OSError) as e:
        raise CLIError(f"Error: cannot fetch {url}: {e}") from None


def _load_input(image: str, dpi: int) -> tuple[list[dict], list[dict]]:
    """A file input -> (docs_rows, media_rows).  One document; one
    media span per page (the reference's multipage document walk;
    a multipage TIFF blob yields its pages downstream)."""
    from .functions.image_codecs import sniff_format

    if image in ("stdin", "-"):
        pages = [("stdin", sys.stdin.buffer.read())]
    elif image.startswith(("http://", "https://", "file://")):
        # URL source (ProcessPagesInternal's curl branch,
        # baseapi.cpp:1061-1078): fetch then content-sniff like any file
        data = _fetch_url(image)
        if sniff_format(data) is None:
            raise CLIError(
                f"Error: {image} is not a PNG/JPEG/TIFF image"
            )
        pages = [(image.rstrip("/").rsplit("/", 1)[-1] or "url", data)]
    else:
        with open(image, "rb") as f:
            head = f.read(8)
            f.seek(0)
            if sniff_format(head + b"\x00" * 8) is not None:
                # PNG/JPEG/TIFF: pass bytes through — the decode UDF
                # content-sniffs (image_codecs.decode_gray_pages) and a
                # multipage TIFF contributes one span per page
                pages = [(os.path.basename(image), f.read())]
            else:
                # a known unsupported image magic must NOT fall through
                # to the imagelist reader (the reference reports an
                # unreadable-image error)
                known = (
                    (b"GIF8", "GIF"), (b"BM", "BMP"),
                    (b"P4", "PNM"), (b"P5", "PNM"), (b"P6", "PNM"),
                    (b"RIFF", "WEBP"),
                )
                for magic, fmt in known:
                    if head.startswith(magic):
                        raise CLIError(
                            f"Error: {image} is a {fmt} image; this "
                            "build reads PNG/JPEG/TIFF (or an imagelist "
                            "/ parquet corpus directory)"
                        )
                # imagelist: one path per line
                try:
                    listing = f.read().decode("utf-8")
                except UnicodeDecodeError:
                    raise CLIError(
                        f"Error: {image} is neither a supported image "
                        "nor a UTF-8 imagelist"
                    ) from None
                paths = [
                    ln.strip()
                    for ln in listing.splitlines()
                    if ln.strip()
                ]
                pages = []
                for p in paths:
                    if p.startswith(("http://", "https://", "file://")):
                        pages.append(
                            (p.rstrip("/").rsplit("/", 1)[-1], _fetch_url(p))
                        )
                        continue
                    with open(p, "rb") as pf:
                        pages.append((os.path.basename(p), pf.read()))
    doc_id = "doc-0"
    media_rows = [
        {"media_ref": f"m-{k:04d}-{name}", "png": png, "dpi": dpi or 300}
        for k, (name, png) in enumerate(pages)
    ]
    docs_rows = [
        {
            "doc_id": doc_id,
            "spans": [
                {"kind": "media", "text": None,
                 "media_ref": m["media_ref"], "offset": k}
                for k, m in enumerate(media_rows)
            ],
        }
    ]
    return docs_rows, media_rows


def _spans_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("offset", T.IntegerType()),
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
        ]
    )


def _cli_spans(spark, docs, media, a: CliArgs, charlists, dict_words,
               dict_patterns):
    """Span-level extraction routed by --psm/--oem/-l.

    The default oem 3 + psm AUTO + single-language case delegates to
    the flagship ``ocr_documents`` (the optimized salted-shuffle path);
    anything else runs a page-per-row mapInPandas calling the requested
    engine — still fully distributed, one task per media batch."""
    import pandas as pd

    from .pipeline import ocr_documents

    lang = a.lang or "eng"
    if a.oem == 3 and a.psm == 3 and lang in ("eng", None):
        flat = ocr_documents(
            spark, docs, media, dict_words=dict_words,
            dict_patterns=dict_patterns, charlists=charlists,
        )
        return flat.select("doc_id", "offset", "kind", "text", "media_ref")

    oem, psm, dpi_override = a.oem, a.psm, a.dpi
    uw = tuple(dict_words) if dict_words else None

    from pyspark.sql import functions as F

    pages = (
        docs.select("doc_id", F.posexplode("spans").alias("pos", "span"))
        .filter(F.col("span.kind") == "media")
        .select("doc_id", "pos", F.col("span.media_ref").alias("media_ref"))
        .join(media.select("media_ref", "png", "dpi"), "media_ref", "left")
    )

    def udf(batches):
        from .functions.image_codecs import decode_gray_pages
        from .lstm.dawg import Dawg
        from .lstm.templates import get_net

        dawg = Dawg(get_net().charset, list(uw)) if uw else None
        packs = None
        if oem == 3 and lang != "eng":
            from .operators.multilang import get_lang_packs

            packs = get_lang_packs(lang, dict_words=list(uw) if uw else None)
        for pdf_b in batches:
            rows = []
            for doc_id, pos, ref, png, dpi in zip(
                pdf_b["doc_id"], pdf_b["pos"], pdf_b["media_ref"],
                pdf_b["png"], pdf_b["dpi"],
            ):
                if png is None:
                    continue
                # content autodetect + multipage container iteration
                # (baseapi.cpp:1033-1194, :958-998): every page of the
                # media blob contributes spans in container order
                grays = decode_gray_pages(bytes(png))
                use_dpi = dpi_override or int(dpi)
                spans = []
                for gray in grays:
                    if oem == 0:
                        from .operators.legacy import recognize_page_legacy

                        sp, _ = recognize_page_legacy(
                            gray, use_dpi, charlists=charlists, dawg=dawg)
                    elif oem == 1:
                        from .operators.recognize import recognize_page_vgsl

                        sp, _ = recognize_page_vgsl(
                            gray, use_dpi, charlists=charlists)
                    elif oem == 2:
                        from .operators.legacy import recognize_page_combined

                        sp, _ = recognize_page_combined(
                            gray, use_dpi, dawg=dawg, charlists=charlists)
                    elif packs is not None:
                        from .operators.recognize import recognize_page_detail

                        sp, _w, _l = recognize_page_detail(
                            gray, use_dpi, packs=packs, charlists=charlists)
                    else:
                        from .operators.recognize import process_page

                        sp, _ = process_page(
                            gray, use_dpi, psm=psm, dawg=dawg,
                            charlists=charlists)
                    spans.extend(sp)
                for k, s in enumerate(spans):
                    # SubSpan objects (template/VGSL paths) or plain
                    # (kind, text) tuples (the legacy/combined paths)
                    kind, text = (
                        (s.kind, s.text) if hasattr(s, "kind") else (s[0], s[1])
                    )
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "offset": int(pos) * 10_000 + k,
                            "kind": kind,
                            "text": text,
                            "media_ref": ref,
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "offset", "kind", "text",
                               "media_ref"])

    return pages.mapInPandas(udf, schema=_spans_schema())


def _render_outputs(
    spark, docs, media, spans, renderers, params, a: CliArgs, dict_words
):
    """Build each requested renderer's DataFrame.  Returns
    {renderer: (DataFrame, content_column, order_exprs)} — one row per
    output line/page, sorted by order_exprs into the file's reading
    order (the TessResultRenderer append order); pdf's column is
    binary, one blob per page."""
    from pyspark.sql import functions as F

    from .operators import sinks as S

    # the box family drops its ordering columns; recover reading order
    # from the coordinates inside the record (top-then-left walk)
    def _box_order(col: str):
        # box lines carry bottom-up y (field 3 = bottom): reading order
        # is descending y, then left-to-right
        parts = F.split(F.col(col), " ")
        return [
            "doc_id", "media_ref",
            F.element_at(parts, 3).cast("int").desc(),
            F.element_at(parts, 2).cast("int"),  # left
        ]

    def _page_heights():
        # the box family's y axis is bottom-up (box file format); the
        # page height comes straight from the PNG IHDR (bytes 20:24,
        # big-endian u32) — pure JVM column expressions, no decode
        return media.select(
            "media_ref",
            F.conv(F.hex(F.expr("substring(png, 21, 4)")), 16, 10)
            .cast("int")
            .alias("height_px"),
        )

    out = {}
    word_renderers = [r for r in renderers if r not in ("txt", "osd")]
    words = None
    if word_renderers:
        if a.psm != 3 or a.oem != 3 or (a.lang or "eng") != "eng":
            print(
                "Warning, word-level renderers run the default engine at "
                "PSM_AUTO in this build",
                file=sys.stderr,
            )
        words = S.ocr_words(
            spark, docs, media,
            font_attrs=_is_true(params.get("hocr_font_info", "0")),
            wordlist=dict_words,
        )
    for r in renderers:
        if r == "txt":
            out[r] = (S.to_text(spans), "text", ["doc_id"])
        elif r == "osd":
            out[r] = (
                spans.filter(F.col("kind") == "osd")
                .select("doc_id", "media_ref", "offset",
                        F.col("text").alias("osd")),
                "osd",
                ["doc_id", "offset"],
            )
        elif r == "tsv":
            out[r] = (
                S.to_tsv(words), "tsv",
                ["doc_id", "media_ref", "block_num", "par_num",
                 "line_num", "word_num", "level"],
            )
        elif r == "hocr":
            out[r] = (
                S.to_hocr(
                    words,
                    lstm_choice_mode=int(params.get("lstm_choice_mode", "0")),
                    font_info=_is_true(params.get("hocr_font_info", "0")),
                ),
                "hocr", ["doc_id", "media_ref"],
            )
        elif r == "alto":
            out[r] = (S.to_alto(words), "alto", ["doc_id", "media_ref"])
        elif r == "page_xml":
            out[r] = (
                S.to_page_xml(words), "page_xml", ["doc_id", "media_ref"])
        elif r == "unlv":
            out[r] = (
                S.to_unlv(
                    words,
                    quality_rejection=_is_true(
                        params.get("unlv_tilde_crunching", "0")),
                ),
                "unlv", ["doc_id", "media_ref"],
            )
        elif r == "box":
            out[r] = (
                S.to_box_chars(words, page_heights=_page_heights()),
                "box_line", _box_order("box_line"))
        elif r == "lstmbox":
            out[r] = (
                S.to_lstm_box(words, page_heights=_page_heights()),
                "lstm_box",
                ["doc_id", "media_ref", "block_num", "par_num", "line_num"],
            )
        elif r == "wordstrbox":
            out[r] = (
                S.to_box(words, page_heights=_page_heights()),
                "box_line", _box_order("box_line"))
        elif r == "pdf":
            textonly = _is_true(params.get("textonly_pdf", "0"))
            images = None if textonly else media.select("media_ref", "png")
            out[r] = (
                S.to_pdf(words, images=images), "pdf",
                ["doc_id", "media_ref"])
    return out


_HOCR_HEAD = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Transitional//EN"\n'
    '    "http://www.w3.org/TR/xhtml1/DTD/xhtml1-transitional.dtd">\n'
    '<html xmlns="http://www.w3.org/1999/xhtml" xml:lang="en" lang="en">\n'
    " <head>\n  <title></title>\n"
    '  <meta http-equiv="Content-Type" content="text/html;charset=utf-8"/>\n'
    f"  <meta name='ocr-system' content='tesseract_spark {__version__}' />\n"
    " </head>\n <body>\n"
)
_HOCR_TAIL = " </body>\n</html>\n"


def _write_local(outputbase: str, renderer: str, df, col: str, order) -> None:
    """Collect the (tiny: lines of one document) result and write
    ``outputbase.ext`` — the single-image/imagelist file contract."""
    rows = df.orderBy(*order).collect()
    if renderer == "pdf":
        blob = b"".join(bytes(r[col]) for r in rows)
        with open(f"{outputbase}.{EXT[renderer]}", "wb") as f:
            f.write(blob)
        return
    body = "\n".join((r[col] or "") for r in rows)
    if renderer == "hocr":
        body = _HOCR_HEAD + body + _HOCR_TAIL
    elif renderer == "tsv":
        body = (
            "level\tpage_num\tblock_num\tpar_num\tline_num\tword_num\t"
            "left\ttop\twidth\theight\tconf\ttext\n" + body
        )
    if outputbase in ("stdout", "-"):
        sys.stdout.write(body + "\n")
        return
    with open(f"{outputbase}.{EXT[renderer]}", "w", encoding="utf-8") as f:
        f.write(body + "\n")


def run(argv: list[str], spark=None) -> int:
    """main1 (tesseract.cpp:688-800).  ``spark``: an existing
    SparkSession (tests); created on demand otherwise."""
    a = parse_args(argv)
    if a is None:
        return 1

    if a.list_langs:
        print("List of available languages (4):")
        for lang in LANGS:
            print(lang)
        return 0
    if a.print_parameters:
        from .config import EngineConfig
        import dataclasses

        print("Tesseract parameters:")
        for f_ in dataclasses.fields(EngineConfig):
            print(f"{f_.name}\t{f_.default}")
        return 0
    if a.print_fonts_table:
        from .lstm.templates import get_net_fonts

        net = get_net_fonts()
        for k, name in enumerate(getattr(net, "font_names", ["normal"])):
            print(f"ID {k}: {name}")
        return 0

    lang = a.lang or "eng"
    for part in lang.split("+"):
        if part not in LANGS and part != "osd":
            print(f"Error, unknown language '{part}'", file=sys.stderr)
            return 1

    params = resolve_params(a)
    renderers = select_renderers(params, a.psm)

    charlists = None
    bl = params.get("tessedit_char_blacklist", "")
    wl = params.get("tessedit_char_whitelist", "")
    ul = params.get("tessedit_char_unblacklist", "")
    if bl or wl or ul:
        charlists = (bl, wl, ul)
    dict_words = _read_wordfile(a.user_words) if a.user_words else None
    dict_patterns = (
        _read_wordfile(a.user_patterns) if a.user_patterns else None
    )

    own_spark = spark is None
    if own_spark:
        from pyspark.sql import SparkSession

        # getOrCreate() would RETURN a session another caller owns (the
        # JVM holds one context per process); stopping it in our finally
        # would kill theirs.  Only own — and stop — a session we created.
        spark = SparkSession.getActiveSession()
        if spark is not None:
            own_spark = False
        else:
            spark = (
                SparkSession.builder.master(
                    os.environ.get("SPARK_GRAFT_MASTER", "local[*]"))
                .config("spark.sql.shuffle.partitions", "32")
                .config("spark.ui.enabled", "false")
                .appName("tesseract_spark_cli")
                .getOrCreate()
            )
    try:
        corpus_mode = a.image is not None and os.path.isdir(a.image)
        if corpus_mode:
            docs = spark.read.parquet(os.path.join(a.image, "documents.parquet"))
            media = spark.read.parquet(os.path.join(a.image, "media.parquet"))
        else:
            docs_rows, media_rows = _load_input(a.image, a.dpi)
            from pyspark.sql import types as T

            docs = spark.createDataFrame(
                docs_rows,
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
                media_rows,
                T.StructType([
                    T.StructField("media_ref", T.StringType()),
                    T.StructField("png", T.BinaryType()),
                    T.StructField("dpi", T.IntegerType()),
                ]),
            )
        if a.dpi:
            from pyspark.sql import functions as F

            media = media.withColumn("dpi", F.lit(int(a.dpi)))

        if a.psm == 0:
            spans = _osd_spans(spark, docs, media)
        else:
            spans = _cli_spans(
                spark, docs, media, a, charlists, dict_words, dict_patterns)

        outs = _render_outputs(
            spark, docs, media, spans, renderers, params, a, dict_words)
        for r, (df, col, order) in outs.items():
            if corpus_mode:
                df.write.mode("overwrite").parquet(
                    os.path.join(a.outputbase, r))
            else:
                _write_local(a.outputbase, r, df, col, order)
        return 0
    except CLIError as e:
        print(e, file=sys.stderr)
        return 1
    finally:
        if own_spark:
            spark.stop()


def _osd_spans(spark, docs, media):
    """PSM_OSD_ONLY: one kind='osd' span per page holding the GetOsdText
    report (TessOsdRenderer, renderer.cpp:229-247)."""
    import pandas as pd
    from pyspark.sql import functions as F

    pages = (
        docs.select("doc_id", F.posexplode("spans").alias("pos", "span"))
        .filter(F.col("span.kind") == "media")
        .select("doc_id", "pos", F.col("span.media_ref").alias("media_ref"))
        .join(media.select("media_ref", "png"), "media_ref", "left")
    )

    def udf(batches):
        from .functions.image_codecs import decode_gray_image
        from .operators.osd import get_osd_text

        for b in batches:
            rows = []
            for doc_id, pos, ref, png in zip(
                b["doc_id"], b["pos"], b["media_ref"], b["png"]
            ):
                if png is None:
                    continue
                rows.append(
                    {
                        "doc_id": doc_id,
                        "offset": int(pos),
                        "kind": "osd",
                        "text": get_osd_text(
                            decode_gray_image(bytes(png)), page_number=int(pos)),
                        "media_ref": ref,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "offset", "kind", "text",
                               "media_ref"])

    return pages.mapInPandas(udf, schema=_spans_schema())


def main(argv: list[str] | None = None) -> int:
    return run(list(sys.argv if argv is None else argv))
