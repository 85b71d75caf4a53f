"""Output sinks: text / TSV / hOCR / ALTO renderers (SURVEY §2.1).

Shape-parity with the reference renderers:
- text  — GetUTF8Text (baseapi.cpp:1307-1337): paragraph texts joined with
  blank lines, media spans elided.
- TSV   — GetTSVText (baseapi.cpp:1353-1496): 12 columns, hierarchy levels
  1 page / 2 block / 3 para / 4 line / 5 word; upper levels are roll-up
  rows over the word level (the reference walks the iterator; we GROUP BY).
- hOCR  — hocrrenderer.cpp:119: ocr_page/ocr_carea/ocr_par/ocr_line/
  ocrx_word nesting with bbox + x_wconf.
- ALTO  — altorenderer.cpp:71-150: TextBlock/TextLine/String.

All renderers consume the word-level DataFrame produced by ocr_words()
(one mapInPandas over media rows) — the sink itself is pure DataFrame/SQL.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WORDS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("block_num", T.IntegerType()),
        T.StructField("par_num", T.IntegerType()),
        T.StructField("line_num", T.IntegerType()),
        T.StructField("word_num", T.IntegerType()),
        T.StructField("left", T.IntegerType()),
        T.StructField("top", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("conf", T.DoubleType()),
        T.StructField("text", T.StringType()),
        T.StructField("baseline", T.IntegerType()),
        # WERD_CHOICE::permuter attribution (ratngs.h:235 via
        # lstm/langmodel.py) and rating/certainty (ratngs.h:84-88) —
        # the data model's word-choice columns
        T.StructField("permuter", T.StringType()),
        T.StructField("rating", T.DoubleType()),
        T.StructField("certainty", T.DoubleType()),
        # per-symbol alternative choices (ChoiceIterator / lstm_choice_mode
        # surface, ltrresultiterator.cpp:368-470): one confidence-sorted
        # (ch, conf) list per character of ``text``
        T.StructField(
            "choices",
            T.ArrayType(
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("ch", T.StringType()),
                            T.StructField("conf", T.DoubleType()),
                        ]
                    )
                )
            ),
        ),
        # blank count in front of the word (WERD::blanks, werd.h:42):
        # the preserve_interword_spaces source (resultiterator.cpp:745)
        T.StructField("blanks", T.IntegerType()),
        # WordFontAttributes surface (ltrresultiterator.cpp:152-200);
        # filled only when ocr_words ran with font_attrs=True
        T.StructField("font", T.StringType()),
        T.StructField("bold", T.IntegerType()),
        T.StructField("italic", T.IntegerType()),
        T.StructField("mono", T.IntegerType()),
        T.StructField("pointsize", T.IntegerType()),
        T.StructField("smallcaps", T.IntegerType()),
        # underlined words come from the underline-removal operator's
        # bar boxes (the reference's WordFontAttributes hard-codes
        # is_underlined=false, ltrresultiterator.cpp:175) — filled even
        # without font_attrs, the bars are always detected
        T.StructField("underlined", T.IntegerType()),
    ]
)


def _words_udf(
    batches: Iterator[pd.DataFrame], font_attrs: bool = False,
    wordlist: list[str] | None = None,
    charlists: tuple[str, str, str] | None = None,
) -> Iterator[pd.DataFrame]:
    from ..functions.image_codecs import decode_gray_image
    from ..pipeline import quiet_spark_archives
    from .recognize import recognize_page_detail

    quiet_spark_archives()
    net = None
    if font_attrs:
        from ..lstm.templates import get_net_fonts

        net = get_net_fonts()
    dawg = None
    doc_words_of: dict = {}
    if wordlist is not None:
        from ..lstm.dawg import Dawg
        from ..lstm.langmodel import DocumentWords
        from ..lstm.templates import get_net

        dawg = Dawg(get_net().charset, list(wordlist))
    for pdf in batches:
        rows = []
        for doc_id, ref, png, dpi in zip(
            pdf["doc_id"], pdf["media_ref"], pdf["png"], pdf["dpi"]
        ):
            if png is None:
                continue
            # per-document vocabulary learning (Dict::document_words_):
            # pages of one document share a DocumentWords; the word
            # sink's batches are only doc-grouped within a partition,
            # so cross-partition documents learn per-partition (the
            # pipeline's adapt_carryover path is the strictly-ordered
            # variant)
            doc_words = None
            if wordlist is not None:
                doc_words = doc_words_of.setdefault(doc_id, DocumentWords())
            try:
                _spans, words, _layout = recognize_page_detail(
                    decode_gray_image(bytes(png)), int(dpi), dawg, net=net,
                    want_choices=True, font_attrs=font_attrs,
                    doc_words=doc_words, charlists=charlists,
                )
            except Exception:
                # per-page isolation (control.cpp:314-322 semantics): emit a
                # degraded marker row (conf=-1, word_num=-1) so failed pages
                # stay distinguishable from pages with no words — matching
                # the pipeline's n_chars=-1 accounting instead of silently
                # dropping the page from the word-level sinks.
                rows.append(
                    {
                        "doc_id": doc_id,
                        "media_ref": ref,
                        "block_num": -1,
                        "par_num": -1,
                        "line_num": -1,
                        "word_num": -1,
                        "left": 0,
                        "top": 0,
                        "width": 0,
                        "height": 0,
                        "conf": -1.0,
                        "text": "",
                        "baseline": 0,
                        "permuter": "no_perm",
                        "rating": 0.0,
                        "certainty": -20.0,
                        "choices": [],
                        "blanks": 0,
                        "font": "",
                        "bold": 0,
                        "italic": 0,
                        "mono": 0,
                        "pointsize": 0,
                        "smallcaps": 0,
                        "underlined": 0,
                    }
                )
                continue
            for w in words:
                rows.append(
                    {
                        "doc_id": doc_id,
                        "media_ref": ref,
                        "block_num": w.block_num,
                        "par_num": w.par_num,
                        "line_num": w.line_num,
                        "word_num": w.word_num,
                        "left": w.left,
                        "top": w.top,
                        "width": w.width,
                        "height": w.height,
                        "conf": w.conf,
                        "text": w.text,
                        "baseline": w.baseline,
                        "permuter": w.permuter,
                        "rating": float(w.rating),
                        "certainty": float(w.certainty),
                        "choices": [
                            [{"ch": ch, "conf": cf} for ch, cf in sym]
                            for sym in w.choices
                        ],
                        "blanks": int(w.blanks),
                        "font": w.font,
                        "bold": int(w.bold),
                        "italic": int(w.italic),
                        "mono": int(w.mono),
                        "pointsize": int(w.pointsize),
                        "smallcaps": int(w.smallcaps),
                        "underlined": int(w.underlined),
                    }
                )
        yield pd.DataFrame(rows, columns=[f.name for f in WORDS_SCHEMA.fields])


def ocr_words(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    font_attrs: bool = False,
    wordlist: list[str] | None = None,
    charlists: tuple[str, str, str] | None = None,
) -> DataFrame:
    """Word-level OCR results (TSV level 5) for every media span, the
    first page of each PNG/JPEG/TIFF blob.

    ``font_attrs``: recognize with the font-variant template bank and
    fill the font/bold/italic/mono/pointsize columns (WordFontAttributes
    surface).  Off by default — the variant bank costs extra template
    matches, the lazy-consumer discipline of the choice lattice.

    ``wordlist``: dictionary words — recognition runs dawg-assisted and
    the permuter column carries real attribution (system_dawg /
    doc_dawg / number / top_choice) instead of the no-dictionary
    defaults; the list ships to executors inside the UDF closure (KBs,
    the broadcast-small-side discipline).

    ``charlists``: the (blacklist, whitelist, unblacklist) triple of
    ``config.charlists_of``, as in ``pipeline.ocr_documents``."""
    media_rows = (
        docs.select("doc_id", F.explode("spans").alias("span"))
        .filter(F.col("span.kind") == "media")
        .select("doc_id", F.col("span.media_ref").alias("media_ref"))
        .join(media.select("media_ref", "png", "dpi"), "media_ref", "left")
    )
    def udf(b):
        return _words_udf(b, font_attrs=font_attrs, wordlist=wordlist,
                          charlists=charlists)

    return media_rows.mapInPandas(udf, schema=WORDS_SCHEMA)


def to_text(flat_spans: DataFrame) -> DataFrame:
    """GetUTF8Text: per-doc text, paragraphs joined by blank lines.

    Only ``kind == 'text'`` spans assemble — the PTIsTextType contract
    (include/tesseract/publictypes.h:80-85): PT_EQUATION display
    regions are NOT text-type, so the reference's GetUTF8Text never
    contains them (equation regions form no text blocks at recognition
    time), while INLINE equations are text-type and stay inside their
    text spans here exactly as there.  The decoded display-equation
    text is still available on the ``kind='equation'`` span itself —
    richer than the reference, which discards it."""
    texts = flat_spans.filter(F.col("kind") == "text")
    return texts.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("offset", "text"))),
                lambda s: s["text"],
            ),
            "\n\n",
        ).alias("text")
    )


def words_to_text(
    words: DataFrame, preserve_interword_spaces: bool = False
) -> DataFrame:
    """GetUTF8Text from the word records — the ResultIterator text walk
    (AppendUTF8WordText, src/ccmain/resultiterator.cpp:743-751): each
    word is preceded by ``word->space()`` blanks when
    ``preserve_interword_spaces`` is set (tesseractclass.cpp:425), else
    by one space (``words_appended > 0``).  Lines join with the line
    separator, paragraphs get an extra newline (resultiterator.cpp:
    757-761).  Pure DataFrame/SQL — no UDF.

    Returns (doc_id, media_ref, text), one row per OCR'd page."""
    words = _ok_words(words)
    lines = words.groupBy(
        "doc_id", "media_ref", "block_num", "par_num", "line_num"
    ).agg(
        F.array_sort(
            F.collect_list(F.struct("word_num", "blanks", "text"))
        ).alias("ws")
    ).select(
        "doc_id", "media_ref", "block_num", "par_num", "line_num",
        F.array_join(
            F.transform(
                F.col("ws"),
                lambda w: F.concat(
                    F.repeat(
                        F.lit(" "),
                        F.when(w["word_num"] == 1, F.lit(0)).otherwise(
                            w["blanks"]
                            if preserve_interword_spaces
                            else F.least(w["blanks"], F.lit(1))
                        ),
                    ),
                    w["text"],
                ),
            ),
            "",
        ).alias("line_text"),
    )
    paras = lines.groupBy(
        "doc_id", "media_ref", "block_num", "par_num"
    ).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("line_num", "line_text"))
                ),
                lambda s: s["line_text"],
            ),
            "\n",
        ).alias("para_text")
    )
    return paras.groupBy("doc_id", "media_ref").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("block_num", "par_num", "para_text")
                    )
                ),
                lambda s: s["para_text"],
            ),
            "\n\n",
        ).alias("text")
    )


def _ok_words(words: DataFrame) -> DataFrame:
    """Drop the conf=-1/word_num=-1 degraded page markers before
    formatting: the markers exist for failure accounting (lineage / QA),
    not for the rendered sinks."""
    return words.filter(F.col("word_num") >= 0)


def to_tsv(words: DataFrame) -> DataFrame:
    """GetTSVText: word rows (level 5) unioned with roll-up rows for line
    (4), para (3), block (2) and page (1), formatted as the 12-column TSV
    line the reference emits."""
    words = _ok_words(words)
    w5 = words.select(
        F.lit(5).alias("level"), "doc_id", "media_ref",
        "block_num", "par_num", "line_num", "word_num",
        "left", "top", "width", "height", "conf", "text",
    )

    def rollup(level: int, keys: list[str]) -> DataFrame:
        grp = words.groupBy("doc_id", "media_ref", *keys).agg(
            F.min("left").alias("left"),
            F.min("top").alias("top"),
            (F.max(F.col("left") + F.col("width")) - F.min("left")).alias("width"),
            (F.max(F.col("top") + F.col("height")) - F.min("top")).alias("height"),
        )
        fill = {"block_num": 0, "par_num": 0, "line_num": 0, "word_num": 0}
        sel = [F.lit(level).alias("level"), "doc_id", "media_ref"]
        for k in ("block_num", "par_num", "line_num", "word_num"):
            sel.append((F.col(k) if k in keys else F.lit(fill[k])).alias(k))
        sel += ["left", "top", "width", "height",
                F.lit(-1.0).alias("conf"), F.lit("").alias("text")]
        return grp.select(*sel)

    out = (
        rollup(1, [])
        .unionByName(rollup(2, ["block_num"]))
        .unionByName(rollup(3, ["block_num", "par_num"]))
        .unionByName(rollup(4, ["block_num", "par_num", "line_num"]))
        .unionByName(w5)
    )
    return out.withColumn(
        "tsv",
        F.concat_ws(
            "\t",
            F.col("level"), F.lit(1),
            "block_num", "par_num", "line_num", "word_num",
            "left", "top", "width", "height", "conf", "text",
        ),
    ).orderBy("doc_id", "media_ref", "block_num", "par_num", "line_num",
              "word_num", "level")




def _xml_escape_sql(expr: str) -> str:
    """SQL fragment escaping XML specials in a string expression — the
    charset includes apostrophe and double-quote, which would break
    attribute values (the reference escapes via HOcrEscape,
    baseapi.cpp:2240-2270)."""
    e = f"replace({expr}, '&', '&amp;')"
    e = f"replace({e}, '<', '&lt;')"
    e = f"replace({e}, '>', '&gt;')"
    e = f'replace({e}, \'"\', \'&quot;\')'
    e = f"replace({e}, \"'\", '&apos;')"
    return e

def to_hocr(
    words: DataFrame, lstm_choice_mode: int = 0, font_info: bool = False
) -> DataFrame:
    """GetHOCRText: one XHTML fragment per media page.  ocr_line titles
    carry ``baseline <slope> <offset>`` (hocrrenderer.cpp; the contract
    baseapi_test.cc:139-158 regex-asserts): slope 0 in the deskewed
    frame, offset = row baseline minus line bbox bottom.  Word frames
    without a baseline column default it to the bbox bottom (offset 0).

    ``lstm_choice_mode=2``: after each word's text, emit one
    ``ocrx_cinfo`` span per symbol holding its alternative choices with
    ``x_confs`` titles (hocrrenderer.cpp:354-374, the ChoiceIterator
    walk), from the ``choices`` column when present.

    Bold/italic words wrap in <strong>/<em> when the bold/italic
    columns are present (hocrrenderer.cpp:308-312, closed in reverse
    order :379-383); ``font_info=True`` adds x_font/x_fsize to the word
    title (hocrrenderer.cpp:271-307)."""
    words = _ok_words(words)
    if "baseline" not in words.columns:
        words = words.withColumn("baseline", F.col("top") + F.col("height"))
    cinfo = ""
    wcols = "word_num, left, top, width, height, conf, text"
    has_fonts = "bold" in words.columns and "italic" in words.columns
    b_open = i_open = i_close = b_close = fs = ""
    if has_fonts:
        wcols += ", bold, italic"
        b_open = "IF(w.bold = 1, '<strong>', ''), "
        i_open = "IF(w.italic = 1, '<em>', ''), "
        i_close = ", IF(w.italic = 1, '</em>', '')"
        b_close = ", IF(w.bold = 1, '</strong>', '')"
        if font_info and "pointsize" in words.columns:
            wcols += ", font, pointsize"
            fs = (
                ", '; x_font ', IF(w.font = '', 'normal', w.font),"
                " '; x_fsize ', w.pointsize"
            )
    if lstm_choice_mode == 2 and "choices" in words.columns:
        wcols += ", choices"
        cinfo = """,
        array_join(transform(w.choices, sym -> concat(
          '<span class="ocrx_cinfo">',
          array_join(transform(sym, c -> concat(
            '<span class="ocrx_cinfo" title="x_confs ', c.conf, '">',
            {esc_ch}, '</span>')), ''),
          '</span>')), '')
        """.format(esc_ch=_xml_escape_sql("c.ch"))
    line_sql = """
      concat(
        '   <span class="ocr_line" title="bbox ', min(left), ' ', min(top), ' ',
        max(left + width), ' ', max(top + height),
        '; baseline 0 ', max(baseline) - max(top + height), '">',
        array_join(transform(array_sort(collect_list(struct({wcols}))),
          w -> concat('<span class="ocrx_word" title="bbox ', w.left, ' ', w.top,
                      ' ', w.left + w.width, ' ', w.top + w.height,
                      '; x_wconf ', cast(round(w.conf, 0) as int){fs}, '">',
                      {b_open}{i_open}{esc}{cinfo}{i_close}{b_close}, '</span>')), ' '),
        '</span>')
    """
    line_sql = line_sql.format(
        esc=_xml_escape_sql("w.text"), cinfo=cinfo, wcols=wcols,
        b_open=b_open, i_open=i_open, i_close=i_close, b_close=b_close,
        fs=fs,
    )
    from .bidi import _RTL_RANGES

    rtl_cls = "[" + "".join(
        f"\\u{lo:04X}-\\u{hi:04X}" for lo, hi in _RTL_RANGES
    ) + "]"
    is_rtl = F.when(F.col("text").rlike(rtl_cls), 1).otherwise(0)
    lines = words.groupBy(
        "doc_id", "media_ref", "block_num", "par_num", "line_num"
    ).agg(
        F.expr(line_sql).alias("html"),
        F.sum(is_rtl).alias("n_rtl"),
        F.count("*").alias("n_w"),
    )
    # paragraph direction attribute (hocrrenderer.cpp:217-226): dir='rtl'
    # when strong-RTL words dominate.  (Word-level dir overrides,
    # :291-296, are not emitted — the word text is already in logical
    # order from the bidi walk.)
    paras = lines.groupBy("doc_id", "media_ref", "block_num", "par_num").agg(
        F.concat(
            F.lit('  <p class="ocr_par"'),
            F.when(
                F.sum("n_rtl") * 2 > F.sum("n_w"), F.lit(" dir='rtl'")
            ).otherwise(F.lit("")),
            F.lit('>\n'),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_num", "html"))),
                    lambda s: s["html"],
                ),
                "\n",
            ),
            F.lit("\n  </p>"),
        ).alias("html")
    )
    blocks = paras.groupBy("doc_id", "media_ref", "block_num").agg(
        F.concat(
            F.lit(' <div class="ocr_carea">\n'),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("par_num", "html"))),
                    lambda s: s["html"],
                ),
                "\n",
            ),
            F.lit("\n </div>"),
        ).alias("html")
    )
    return blocks.groupBy("doc_id", "media_ref").agg(
        F.concat(
            F.lit('<div class="ocr_page">\n'),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("block_num", "html"))),
                    lambda s: s["html"],
                ),
                "\n",
            ),
            F.lit("\n</div>"),
        ).alias("hocr")
    )


def to_page_xml(words: DataFrame) -> DataFrame:
    """PRImA PAGE XML (pagerenderer.cpp:628-710): TextRegion/TextLine/Word
    with Coords polygons and a ReadingOrder section."""
    words = _ok_words(words)
    line_sql = """
      concat('   <TextLine><Coords points="',
        min(left), ',', min(top), ' ', max(left + width), ',', min(top), ' ',
        max(left + width), ',', max(top + height), ' ', min(left), ',',
        max(top + height), '"/>',
        array_join(transform(array_sort(collect_list(struct(word_num, left, top,
                                                            width, height, text))),
          w -> concat('<Word><Coords points="', w.left, ',', w.top, ' ',
                      w.left + w.width, ',', w.top + w.height,
                      '"/><TextEquiv><Unicode>', {esc},
                      '</Unicode></TextEquiv></Word>')), ''),
        '</TextLine>')
    """
    line_sql = line_sql.format(esc=_xml_escape_sql("w.text"))
    lines = words.groupBy(
        "doc_id", "media_ref", "block_num", "par_num", "line_num"
    ).agg(F.expr(line_sql).alias("xml"))
    regions = lines.groupBy("doc_id", "media_ref", "block_num").agg(
        F.concat(
            F.lit('  <TextRegion id="r'),
            F.col("block_num"),
            F.lit('">\n'),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("par_num", "line_num", "xml"))),
                    lambda s: s["xml"],
                ),
                "\n",
            ),
            F.lit("\n  </TextRegion>"),
        ).alias("xml")
    )
    return regions.groupBy("doc_id", "media_ref").agg(
        F.concat(
            F.lit("<PcGts><Page>\n <ReadingOrder>"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("block_num", "xml"))),
                    lambda s: F.concat(
                        F.lit('<RegionRefIndexed index="'),
                        (s["block_num"] - 1).cast("string"),
                        F.lit('" regionRef="r'),
                        s["block_num"].cast("string"),
                        F.lit('"/>'),
                    ),
                ),
                "",
            ),
            F.lit("</ReadingOrder>\n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("block_num", "xml"))),
                    lambda s: s["xml"],
                ),
                "\n",
            ),
            F.lit("\n</Page></PcGts>"),
        ).alias("page_xml")
    )


def page_heights(media: DataFrame) -> DataFrame:
    """(media_ref, height_px): the height of the page ``ocr_words``
    reads from each media blob, for the box family's bottom-up y axis
    (box file format)."""

    def height(png: pd.Series) -> pd.Series:
        from ..functions.image_codecs import decode_gray_image
        from ..pipeline import quiet_spark_archives

        quiet_spark_archives()

        def one(data):
            # per-page isolation: a page that does not decode gave no
            # words either, so it has no box line to flip
            try:
                return decode_gray_image(bytes(data)).shape[0]
            except Exception:
                return None

        return png.map(one)

    return media.select(
        "media_ref", F.pandas_udf(height, "int")("png").alias("height_px"))


def to_box(words: DataFrame, page_heights: DataFrame | None = None) -> DataFrame:
    """WordStr box format (wordstrboxrenderer.cpp:32-86): one line-level
    record per text line — 'WordStr' marker + #-prefixed word list where
    EVERY word carries a trailing space (:70-71), followed by the tab EOL
    record '\\t right+1 bottom right+5 top page' (:50-56) — bottom-up y
    (the box family's coordinate convention, SURVEY §1.1).  Each output
    row holds one line's full two-record block; joining rows with '\\n'
    reproduces the reference byte stream.  Known divergence: the
    reference skips the FINAL line's tab record when any raw coordinate
    is 0 (:76, a border-touching quirk); a distributed sink has no
    "final" row, so every row emits its EOL record."""
    words = _ok_words(words)
    lines = words.groupBy("doc_id", "media_ref", "block_num", "par_num", "line_num").agg(
        F.min("left").alias("l"),
        F.min("top").alias("t"),
        F.max(F.col("left") + F.col("width")).alias("r"),
        F.max(F.col("top") + F.col("height")).alias("b"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("word_num", "text"))),
                lambda s: s["text"],
            ),
            " ",
        ).alias("line_text"),
    )
    if page_heights is not None:
        # inner join: a media_ref missing from page_heights cannot be
        # y-flipped; a left join would leave NULL coords that concat_ws
        # silently drops, emitting malformed box records
        lines = lines.join(page_heights, "media_ref", "inner")
        top_expr = F.col("height_px") - F.col("b")
        bot_expr = F.col("height_px") - F.col("t")
    else:
        top_expr, bot_expr = F.col("t"), F.col("b")
    return lines.select(
        "doc_id",
        "media_ref",
        F.concat(
            F.concat_ws(
                " ",
                F.lit("WordStr"),
                F.col("l"),
                top_expr,
                F.col("r"),
                bot_expr,
                F.lit("0"),
                F.concat(F.lit("#"), F.col("line_text")),
            ),
            F.lit(" \n"),  # trailing space after the last word (:70-71)
            F.concat_ws(
                " ",
                F.lit("\t"),
                F.col("r") + 1,
                top_expr,
                F.col("r") + 5,
                bot_expr,
                F.lit("0"),
            ),
        ).alias("box_line"),
    )


def to_lstm_box(
    words: DataFrame, page_heights: DataFrame | None = None
) -> DataFrame:
    """LSTM-training box format (GetLSTMBoxText,
    src/api/lstmboxrenderer.cpp:39-90): one record per SYMBOL where every
    symbol carries its whole TEXTLINE's bounding box (bottom-up y,
    right+5 padding), a space record between words, and a tab record
    ending each line.  One output row per textline holding that line's
    full multi-record block — pure column expressions."""
    words = _ok_words(words).filter(F.length("text") > 0)
    lines = words.groupBy(
        "doc_id", "media_ref", "block_num", "par_num", "line_num"
    ).agg(
        F.min("left").alias("l"),
        F.min("top").alias("t"),
        F.max(F.col("left") + F.col("width")).alias("r"),
        F.max(F.col("top") + F.col("height")).alias("b"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("word_num", "text"))),
                lambda s: s["text"],
            ),
            " ",
        ).alias("line_text"),
    )
    if page_heights is not None:
        lines = lines.join(page_heights, "media_ref", "inner")
        y_top = F.col("height_px") - F.col("b")
        y_bot = F.col("height_px") - F.col("t")
    else:
        y_top, y_bot = F.col("t"), F.col("b")
    box = F.concat_ws(
        " ", F.lit(""), F.col("l"), y_top, F.col("r") + 5, y_bot, F.lit("0")
    )
    sym_rows = F.array_join(
        F.transform(
            F.split("line_text", ""), lambda c: F.concat(c, box)
        ),
        "\n",
    )
    return lines.select(
        "doc_id",
        "media_ref",
        "block_num",
        "par_num",
        "line_num",
        F.concat(sym_rows, F.lit("\n"), F.lit("\t"), box).alias("lstm_box"),
    )


def to_box_chars(
    words: DataFrame, page_heights: DataFrame | None = None
) -> DataFrame:
    """Per-SYMBOL box records — GetBoxText (baseapi.cpp:1497-1545): one
    ``char left bottom right top page`` line per recognized character,
    bottom-up y.  Spaces would make illegal box lines, so word internals
    only (the reference substitutes kTesseractReject for spaces; words
    here never contain one).

    Character x-extents come from the engine's own font advance model:
    each word box splits at the known per-glyph advances (glyph width +
    1px kern), scaled to the word box — exact for this engine because
    the renderer uses the same advances.  Pure column expressions + one
    posexplode; no UDF."""
    from ..functions.fonts import KERN, get_font

    words = _ok_words(words).filter(F.length("text") > 0)
    font = get_font()
    # advance table as a map literal column: char -> glyph width (px)
    wmap = F.create_map(
        *[
            x
            for ch, g in sorted(font.items())
            for x in (F.lit(ch), F.lit(int(g.shape[1])))
        ]
    )
    chars = (
        words.withColumn("chs", F.split("text", ""))
        .withColumn(
            "adv",
            F.transform(
                F.col("chs"),
                lambda c: F.coalesce(F.element_at(wmap, c), F.lit(7)),
            ),
        )
        .select(
            "doc_id", "media_ref", "top", "height", "left", "width",
            F.size("chs").alias("n"),
            "adv",
            F.posexplode("chs").alias("ci", "ch"),
        )
    )
    total = F.expr(f"aggregate(adv, 0, (a, x) -> a + x) + ({KERN}) * (n - 1)")
    prefix = F.expr(
        f"aggregate(slice(adv, 1, ci), 0, (a, x) -> a + x) + ({KERN}) * ci"
    )
    scale = F.col("width") / F.greatest(total, F.lit(1))
    l_expr = (F.col("left") + prefix * scale).cast("int")
    r_expr = (
        F.col("left") + (prefix + F.expr("adv[ci]")) * scale
    ).cast("int")
    out = chars.select(
        "doc_id", "media_ref", "ch",
        l_expr.alias("l"),
        F.col("top").alias("t"),
        r_expr.alias("r"),
        (F.col("top") + F.col("height")).alias("b"),
    )
    if page_heights is not None:
        out = out.join(page_heights, "media_ref", "inner")
        top_expr = F.col("height_px") - F.col("b")
        bot_expr = F.col("height_px") - F.col("t")
    else:
        top_expr, bot_expr = F.col("t"), F.col("b")
    return out.select(
        "doc_id",
        "media_ref",
        F.concat_ws(
            " ", F.col("ch"), F.col("l"), top_expr, F.col("r"), bot_expr,
            F.lit("0"),
        ).alias("box_line"),
    )


def to_alto(words: DataFrame) -> DataFrame:
    """ALTO XML: TextBlock/TextLine/String per media page."""
    words = _ok_words(words)
    line_sql = """
      concat('  <TextLine>',
        array_join(transform(array_sort(collect_list(struct(word_num, left, top,
                                                            width, height, text))),
          w -> concat('<String HPOS="', w.left, '" VPOS="', w.top,
                      '" WIDTH="', w.width, '" HEIGHT="', w.height,
                      '" CONTENT="', {esc}, '"/>')), ''),
        '</TextLine>')
    """
    line_sql = line_sql.format(esc=_xml_escape_sql("w.text"))
    lines = words.groupBy(
        "doc_id", "media_ref", "block_num", "par_num", "line_num"
    ).agg(F.expr(line_sql).alias("xml"))
    blocks = lines.groupBy("doc_id", "media_ref", "block_num").agg(
        F.concat(
            F.lit(" <TextBlock>\n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("par_num", "line_num", "xml"))),
                    lambda s: s["xml"],
                ),
                "\n",
            ),
            F.lit("\n </TextBlock>"),
        ).alias("xml")
    )
    return blocks.groupBy("doc_id", "media_ref").agg(
        F.concat(
            F.lit("<alto><Layout><Page>\n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("block_num", "xml"))),
                    lambda s: s["xml"],
                ),
                "\n",
            ),
            F.lit("\n</Page></Layout></alto>"),
        ).alias("alto")
    )


def to_threshold_images(media: DataFrame) -> DataFrame:
    """Thresholded-image export — the ``tessedit_write_images`` capture of
    the binarized page the engine actually recognizes (baseapi.cpp:1224,
    tesseractclass.cpp:391 "Capture the image from the IPE").

    Returns (media_ref, threshold_png, fg_frac): the Otsu-binarized page
    re-encoded as an 8-bit gray PNG (ink=0, background=255) plus the ink
    fraction, a cheap per-page QA signal.  Pure mapInPandas over the media
    table — no shuffle.
    """

    def udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions.image_ops import binarize_otsu
        from ..functions.png_codec import decode_gray_png, encode_gray_png

        for pdf in batches:
            refs, pngs, fracs = [], [], []
            for ref, png in zip(pdf["media_ref"], pdf["png"]):
                if png is None:
                    continue
                try:
                    mask = binarize_otsu(decode_gray_png(bytes(png)))
                except Exception:
                    # degraded marker (NULL png, fg_frac=-1) instead of a
                    # silent drop — mirrors the pipeline's failure accounting
                    refs.append(ref)
                    pngs.append(None)
                    fracs.append(-1.0)
                    continue
                img = np.where(mask, 0, 255).astype(np.uint8)
                refs.append(ref)
                pngs.append(encode_gray_png(img))
                fracs.append(float(mask.mean()))
            yield pd.DataFrame(
                {"media_ref": refs, "threshold_png": pngs, "fg_frac": fracs}
            )

    return media.select("media_ref", "png").mapInPandas(
        udf, schema="media_ref string, threshold_png binary, fg_frac double"
    )


def to_component_images(
    media: DataFrame, level: str = "textline", text_only: bool = True
) -> DataFrame:
    """GetComponentImages / GetRegions / GetTextlines / GetWords
    (baseapi.cpp:GetComponentImages via PageIterator::BoundingBox +
    GetImage, baseapi.h:350-426): layout-level bounding boxes WITH the
    cropped grayscale image of each component, at ``level`` in
    {'block', 'textline', 'word'}.

    This is the API real pipelines use to cut LINE IMAGE datasets for
    LSTM training (the lstmtraining workflow consumes exactly these
    crops); emitting them as a table of (media_ref, ids, bbox, png) rows
    makes the extraction a first-class distributed dataset.

    ``text_only``: drop non-text components (the reference's text_only
    flag) — with it off, block level also emits photo/rule regions.

    Zero shuffles: one mapInPandas over media rows; each page's crops
    are independent.
    """
    if level not in ("block", "textline", "word"):
        raise ValueError(f"unsupported component level: {level!r}")

    def udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.png_codec import decode_gray_png, encode_gray_png
        from .page import analyze_page

        cols = [
            "media_ref", "block_num", "line_num", "word_num",
            "left", "top", "width", "height", "png",
        ]
        for pdf in batches:
            rows = []
            for ref, png in zip(pdf["media_ref"], pdf["png"]):
                if png is None:
                    continue
                try:
                    gray = decode_gray_png(bytes(png))
                    layout = analyze_page(gray, 300)
                except Exception:
                    continue  # degraded pages have no components
                H, W = gray.shape

                def crop(l, t, r, b):
                    l, t = max(0, int(l)), max(0, int(t))
                    r, b = min(W, int(r)), min(H, int(b))
                    if r <= l or b <= t:
                        return None
                    return encode_gray_png(gray[t:b, l:r])

                for bi, region in enumerate(layout.regions):
                    if region.kind != "text":
                        if level == "block" and not text_only:
                            l, t, r, b = region.bbox
                            rows.append(
                                {
                                    "media_ref": ref, "block_num": bi + 1,
                                    "line_num": 0, "word_num": 0,
                                    "left": int(l), "top": int(t),
                                    "width": int(r - l),
                                    "height": int(b - t),
                                    "png": crop(l, t, r, b),
                                }
                            )
                        continue
                    if level == "block":
                        l, t, r, b = region.bbox
                        rows.append(
                            {
                                "media_ref": ref, "block_num": bi + 1,
                                "line_num": 0, "word_num": 0,
                                "left": int(l), "top": int(t),
                                "width": int(r - l), "height": int(b - t),
                                "png": crop(l, t, r, b),
                            }
                        )
                        continue
                    for li, row in enumerate(region.rows):
                        if level == "textline":
                            l, t, r, b = row.bbox
                            rows.append(
                                {
                                    "media_ref": ref, "block_num": bi + 1,
                                    "line_num": li + 1, "word_num": 0,
                                    "left": int(l), "top": int(t),
                                    "width": int(r - l),
                                    "height": int(b - t),
                                    "png": crop(l, t, r, b),
                                }
                            )
                        else:  # word
                            for wi, (l, t, r, b) in enumerate(row.word_boxes):
                                rows.append(
                                    {
                                        "media_ref": ref,
                                        "block_num": bi + 1,
                                        "line_num": li + 1,
                                        "word_num": wi + 1,
                                        "left": int(l), "top": int(t),
                                        "width": int(r - l),
                                        "height": int(b - t),
                                        "png": crop(l, t, r, b),
                                    }
                                )
            yield pd.DataFrame(rows, columns=cols)

    return media.select("media_ref", "png").mapInPandas(
        udf,
        schema="media_ref string, block_num int, line_num int, "
        "word_num int, left int, top int, width int, height int, "
        "png binary",
    )


# ---------------------------------------------------------------------------
# Searchable PDF sink (pdfrenderer.cpp analogue)
# ---------------------------------------------------------------------------

K_CHAR_WIDTH_FRAC = 0.5  # glue-font advance: half an em (1000/kCharWidth
#                          with kCharWidth=2, pdfrenderer.cpp:184,550)

# Identity ToUnicode CMap (pdfrenderer.cpp:595-615): character code ==
# UTF-16BE code unit, so any spec-compliant extractor recovers the
# original text regardless of script.  Format-mandated boilerplate from
# the Adobe CMap spec.
_TO_UNICODE_CMAP = (
    "/CIDInit /ProcSet findresource begin\n"
    "12 dict begin\n"
    "begincmap\n"
    "/CIDSystemInfo\n"
    "<<\n"
    "  /Registry (Adobe)\n"
    "  /Ordering (UCS)\n"
    "  /Supplement 0\n"
    ">> def\n"
    "/CMapName /Adobe-Identify-UCS def\n"
    "/CMapType 2 def\n"
    "1 begincodespacerange\n"
    "<0000> <FFFF>\n"
    "endcodespacerange\n"
    "1 beginbfrange\n"
    "<0000> <FFFF> <0000>\n"
    "endbfrange\n"
    "endcmap\n"
    "CMapName currentdict /CMap defineresource pop\n"
    "end\n"
    "end\n"
).encode("latin-1")


def _word_to_utf16be_hex(text: str) -> tuple[str, int]:
    """UTF-16BE hex string + CODEPOINT count (pdf_word_len counts one
    per codepoint even when it takes a surrogate pair,
    pdfrenderer.cpp:470-475)."""
    from ..functions.glyphless_font import codepoint_to_utf16be_hex

    parts, n = [], 0
    for ch in text:
        h = codepoint_to_utf16be_hex(ord(ch))
        if h is not None:
            parts.append(h)
            n += 1
    return "".join(parts), n


def build_pdf_page(
    words: list[dict],
    width_px: int,
    height_px: int,
    dpi: int,
    image: "np.ndarray | None" = None,
) -> bytes:
    """One searchable text-only PDF page from word records.

    The text layer follows TessPDFRenderer::GetPDFTextObjects
    (src/api/pdfrenderer.cpp:360-500): one text object per block rendered
    in invisible ink (``BT 3 Tr``), absolute ``Tm`` placement at each line
    start, per-word ``Tz`` horizontal stretch so the string advance matches
    the word box, UTF-16BE ``[ <hex> ] TJ`` show operators with a trailing
    U+0020 unit between words (:482-484), ``ET`` at block end.  The font is
    the reference's CID design (BeginDocumentHandler, :503-690): a Type0
    /GlyphLessFont with /Identity-H encoding, a CIDFontType2 descendant
    (/DW 500), a FlateDecode CIDToGIDMap stream mapping every CID to the
    single glyph (:557-563), the identity ToUnicode CMap (:595-615) so
    ANY script's text layer — Hebrew, Devanagari, CJK, supplementary-plane
    — extracts losslessly, and an embedded glyphless TrueType program
    synthesized from the public OpenType spec
    (functions/glyphless_font.py; the reference ships its own binary in
    pdf_ttf.h, which is not copied).  File skeleton mirrors
    pdfrenderer.cpp:504-996 (Catalog, Pages, Page, Contents, font chain,
    xref with byte-exact offsets).

    ``image``: optional gray uint8 page raster — embedded as a
    FlateDecode DeviceGray Image XObject drawn to fill the MediaBox
    under the invisible text (imageToPDFObj, pdfrenderer.cpp:503-700;
    without it the sink matches the reference's textonly_pdf mode).
    """
    s = 72.0 / max(1, dpi)
    page_w, page_h = width_px * s, height_px * s
    # content stream: group words by (block, par, line)
    lines: dict[tuple, list[dict]] = {}
    for w in words:
        lines.setdefault(
            (w["block_num"], w["par_num"], w["line_num"]), []
        ).append(w)
    content = []
    cur_block = None
    cur_fontsize = None
    for key in sorted(lines):
        block = key[0]
        ws = sorted(lines[key], key=lambda w: w["word_num"])
        if block != cur_block:
            if cur_block is not None:
                content.append("ET")
            content.append("BT\n3 Tr")  # invisible ink, pdfrenderer.cpp:374
            cur_block = block
            cur_fontsize = None
        line_h = max(w["height"] for w in ws)
        fontsize = max(1, round(line_h * s))
        if fontsize != cur_fontsize:
            content.append(f"/f-0-0 {fontsize} Tf")
            cur_fontsize = fontsize
        baseline_px = max(w["top"] + w["height"] for w in ws)
        y = page_h - baseline_px * s
        for wi, w in enumerate(ws):
            x = w["left"] * s
            content.append(f"1 0 0 1 {x:.2f} {y:.2f} Tm")
            hexstr, n = _word_to_utf16be_hex(w["text"])
            if not hexstr:
                continue  # every codepoint unencodable: skip the show op
            word_len_pts = w["width"] * s
            stretch = 100.0 * word_len_pts / (
                K_CHAR_WIDTH_FRAC * fontsize * n
            )
            content.append(f"{stretch:.2f} Tz")
            if wi + 1 < len(ws):
                hexstr += "0020"  # inter-word space unit (:482-484)
            content.append(f"[ <{hexstr}> ] TJ")
    if cur_block is not None:
        content.append("ET")
    if image is not None:
        # paint the raster first so the invisible text sits above it
        content.insert(
            0, f"q\n{page_w:.2f} 0 0 {page_h:.2f} 0 0 cm\n/im-0 Do\nQ"
        )
    stream = "\n".join(content).encode("latin-1")

    import zlib

    from ..functions.glyphless_font import GLYPHLESS_FONT

    xobj = ""
    if image is not None:
        xobj = " /XObject << /im-0 11 0 R >>"
    objs: list[bytes] = []
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    objs.append(
        (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {page_w:.2f} "
            f"{page_h:.2f}] /Contents 4 0 R /Resources << /Font "
            f"<< /f-0-0 5 0 R >>{xobj} >> >>"
        ).encode()
    )
    objs.append(
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream)
    )
    # 5: Type0 umbrella font (pdfrenderer.cpp:520-530)
    objs.append(
        b"<< /Type /Font /Subtype /Type0 /BaseFont /GlyphLessFont "
        b"/Encoding /Identity-H /DescendantFonts [ 6 0 R ] "
        b"/ToUnicode 8 0 R >>"
    )
    # 6: CIDFontType2 descendant, /DW = 1000/kCharWidth (:535-554)
    objs.append(
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /GlyphLessFont "
        b"/CIDToGIDMap 7 0 R /CIDSystemInfo << /Ordering (Identity) "
        b"/Registry (Adobe) /Supplement 0 >> /FontDescriptor 9 0 R "
        b"/DW 500 >>"
    )
    # 7: CIDToGIDMap — every CID to the single glyph GID 1 (:557-563)
    cid2gid = zlib.compress(b"\x00\x01" * (1 << 16), 6)
    objs.append(
        (
            f"<< /Length {len(cid2gid)} /Filter /FlateDecode >>\nstream\n"
        ).encode()
        + cid2gid
        + b"\nendstream"
    )
    # 8: identity ToUnicode CMap (:595-615)
    objs.append(
        b"<< /Length %d >>\nstream\n%s\nendstream"
        % (len(_TO_UNICODE_CMAP), _TO_UNICODE_CMAP)
    )
    # 9: font descriptor (:628-646); FontBBox x-extent = 1000/kCharWidth
    objs.append(
        b"<< /Type /FontDescriptor /Ascent 1000 /CapHeight 1000 "
        b"/Descent -1 /Flags 5 /FontBBox [ 0 0 500 1000 ] "
        b"/FontFile2 10 0 R /FontName /GlyphLessFont /ItalicAngle 0 "
        b"/StemV 80 >>"
    )
    # 10: the embedded glyphless TrueType program (:648-690)
    objs.append(
        (
            f"<< /Length {len(GLYPHLESS_FONT)} "
            f"/Length1 {len(GLYPHLESS_FONT)} >>\nstream\n"
        ).encode()
        + GLYPHLESS_FONT
        + b"\nendstream"
    )
    if image is not None:

        import numpy as np

        arr = np.ascontiguousarray(image, dtype=np.uint8)
        data = zlib.compress(arr.tobytes(), 6)
        objs.append(
            (
                f"<< /Type /XObject /Subtype /Image /Width {arr.shape[1]} "
                f"/Height {arr.shape[0]} /ColorSpace /DeviceGray "
                f"/BitsPerComponent 8 /Filter /FlateDecode "
                f"/Length {len(data)} >>\nstream\n"
            ).encode()
            + data
            + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.5\n%\xde\xad\xbe\xeb\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


def to_pdf(
    words: DataFrame,
    page_dims: DataFrame | None = None,
    images: DataFrame | None = None,
) -> DataFrame:
    """Searchable PDF per media page: one row (doc_id, media_ref,
    pdf:binary) — TessPDFRenderer semantics (pdfrenderer.cpp).

    ``page_dims``: optional (media_ref, width_px, height_px, dpi); without
    it the page box is the word-extent hull at 300 dpi.
    ``images``: optional (media_ref, png) — embeds each page's raster
    under the invisible text layer (the non-textonly mode,
    pdfrenderer.cpp:503-700); omitted = textonly_pdf.  Grouped
    applyInPandas per page — embarrassingly parallel, single shuffle on
    the (doc_id, media_ref) grouping key; the png payload joins
    bucket-locally when the media table is bucketed on media_ref.
    """
    words = _ok_words(words)
    # prune to the columns the page builder reads: the nested `choices`
    # column is irrelevant here and ragged nested arrays don't survive
    # Arrow->pandas ndarray conversion inside applyInPandas
    words = words.drop("choices")
    joined = words.join(page_dims, "media_ref", "left") if page_dims is not None else words
    if images is not None:
        joined = joined.join(
            images.select("media_ref", F.col("png").alias("_page_png")),
            "media_ref",
            "left",
        )

    def _iget(recs: list[dict], key: str) -> int:
        v = recs[0].get(key)
        try:
            iv = int(v)
        except (TypeError, ValueError):
            return 0
        return iv if iv == iv and iv > 0 else 0  # NaN/neg -> 0

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        recs = pdf.to_dict("records")
        w_px = _iget(recs, "width_px") or (
            max(r["left"] + r["width"] for r in recs) + 10
        )
        h_px = _iget(recs, "height_px") or (
            max(r["top"] + r["height"] for r in recs) + 10
        )
        dpi = _iget(recs, "dpi") or 300
        img = None
        png = recs[0].get("_page_png")
        if png is not None and not (isinstance(png, float)):
            from ..functions.png_codec import decode_gray_png

            try:
                img = decode_gray_png(bytes(png))
            except Exception:
                img = None  # degraded: fall back to text-only page
        blob = build_pdf_page(recs, w_px, h_px, dpi, image=img)
        return pd.DataFrame(
            {
                "doc_id": [recs[0]["doc_id"]],
                "media_ref": [recs[0]["media_ref"]],
                "pdf": [blob],
            }
        )

    return joined.groupBy("doc_id", "media_ref").applyInPandas(
        build, schema="doc_id string, media_ref string, pdf binary"
    )


K_UNLV_REJECT = "~"  # kUNLVReject (baseapi.cpp:1575)
K_UNLV_SUSPECT = "^"  # kUNLVSuspect (set_unlv_suspects marks)
K_REJECT_CONF = 50.0  # words below: tilde-crunched (CR_LOOSE analogue)
K_SUSPECT_CONF = 80.0  # words below: suspect-marked


def to_unlv(words: DataFrame, quality_rejection: bool = False) -> DataFrame:
    """GetUNLVText (baseapi.cpp:1546-1625): reading-ordered Latin-1 text
    where rejected (tilde-crunched) words collapse to a single '~' and
    suspect words carry a leading '^'; lines join with \\n.

    ``quality_rejection``: run the docqual pass first
    (quality_based_rejection, docqual.cpp:115-129 — the reference's
    tilde crunch executes under it) so block/page-level rejection also
    crunches words their own confidence would have kept.

    When the words carry a ``rejects`` column (the REJMAP string from
    ``reject.reject_words``), suspects mark PER CHARACTER — '^' before
    each map-rejected char, ' ' chars as '~' — the reference's
    non-crunched word walk (GetUNLVText, baseapi.cpp:1602-1612).
    Otherwise the word-level confidence mark applies (documented
    divergence: confidence is word-level without the map)."""
    if quality_rejection:
        from .docqual import quality_based_rejection

        base = quality_based_rejection(words)  # filters markers itself
        rejected = F.col("rejected")
    else:
        base = _ok_words(words)
        rejected = F.col("conf") < K_REJECT_CONF
    if "rejects" in words.columns:
        per_char = F.array_join(
            F.zip_with(
                F.split(F.col("text"), ""),
                F.split(F.col("rejects"), ""),
                lambda c, m: F.when(c == " ", F.lit(K_UNLV_REJECT))
                .when(m == "R", F.concat(F.lit(K_UNLV_SUSPECT), c))
                .otherwise(c),
            ),
            "",
        )
        marked = base.withColumn(
            "unlv_word",
            F.when(rejected, F.lit(K_UNLV_REJECT)).otherwise(per_char),
        )
    else:
        marked = base.withColumn(
            "unlv_word",
            F.when(rejected, F.lit(K_UNLV_REJECT)).when(
                F.col("conf") < K_SUSPECT_CONF,
                F.concat(F.lit(K_UNLV_SUSPECT), F.col("text")),
            ).otherwise(F.col("text")),
        )
    lines = marked.groupBy(
        "doc_id", "media_ref", "block_num", "par_num", "line_num"
    ).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("word_num", "unlv_word"))),
                lambda s: s["unlv_word"],
            ),
            " ",
        ).alias("line_text")
    )
    return lines.groupBy("doc_id", "media_ref").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("block_num", "par_num", "line_num", "line_text")
                    )
                ),
                lambda s: s["line_text"],
            ),
            "\n",
        ).alias("unlv")
    )
