"""The OCR extraction pipeline — Spark DataFrame plan + Arrow-batched UDFs.

End-to-end job (SURVEY §7.1): explode interleaved spans, join media bytes,
defeat compute skew with a fine-grained salted hash repartition, run the
page+recognition stages in one ``mapInPandas`` (Arrow batches, zero per-row
Python), stitch recognized sub-spans back between pass-through text spans
with a single window, and reassemble per-document span arrays.

That ``mapInPandas`` body (``_make_ocr_udf``) is the engine's one Spark
page-OCR task: every engine mode, page-segmentation mode and language
reaches its recognition path through the page router
(operators.recognize.recognize), so the flagship queries, lineage,
streaming and every CLI route share its failed-page marker, user
dictionaries and offset rule.

Scale notes (100 TB / 1000 executors).  The exchanges of each plan:
- join-first (``ocr_documents``; ``ocr_from_parts`` by default): (a) a
  media_ref hash exchange of each side of the equi-join into
  ``num_partitions`` partitions, the png payload's one move, which also
  balances per-task OCR compute; (b) with ``adapt_carryover`` only, a
  doc_id exchange of the joined pages; (c) the doc_id exchange of the
  stitch window.  Recognition state never shuffles.
- OCR-first (``ocr_from_parts(media_prebucketed=True)``, the job behind
  ``derived.ocr_production_bucketed``): no heavy exchange.  The page body
  runs over the media scan coalesced to at most ``num_partitions``
  tasks, so the png payload stays where it was written and the task
  count follows the cores, not the table's bucket count.  Only the light
  per-page results and the (doc_id, pos, media_ref) refs move for the
  left join back (an exchange, or a broadcast of the results when they
  are small), then (c).
- OCR compute dominates; ``num_partitions`` defaults to 4x the default
  parallelism, so stragglers stay bounded (BASELINE.md protocol).
- per-task metrics surface in the result rows (wall_ms, partition_id) and
  aggregate into the lineage table (sources/lineage.py) for checkpoint
  resume — the reference's ETEXT_DESC progress/cancel analogue
  (include/tesseract/ocrclass.h, control.cpp:304-323).

The Python task boundary has a fixed cost of its own, separate from the
UDF body.  Before every task, PySpark's worker calls
``importlib.invalidate_caches()`` (pyspark/worker_util.py
setup_spark_files), and on CPython 3.11 every ``zipimporter`` then
re-reads its archive's whole central directory.  A worker holds 16 of
them: pyspark.zip and one per imported pyspark subpackage, the py4j zip
and the 5,359-entry spark-core jar.  That is 160-230 ms per task, paid
again by every task on a reused worker, against 3-5 ms for an empty task
body.  ``quiet_spark_archives()`` runs first in each task body of this
engine (the page UDF here, ``queries._ocr_chunks``,
``derived._render_udf``, ``cli._osd_spans`` and ``sinks.ocr_words``):
it turns those importers' ``invalidate_caches`` into a no-op for the rest of the worker's life, so only the first task a
worker runs pays the re-read.  No output can change: Spark never rewrites
pyspark.zip, py4j or its jars during a session, a new ``addPyFile`` zip
arrives under a new path with a fresh importer, archives under the
SparkFiles root keep full invalidation, and directory finders are left
alone.  Measured on 4 vCPUs (BENCH.md): an empty ``mapInPandas`` task
went from 309-375 to 86-151 core-ms, and perfbench's ``corpus_bucketed``
from 30.8 to 61.0 docs/s (medians of ten interleaved pairs).
"""

from __future__ import annotations

import os
import sys
import zipimport
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import OEM_DEFAULT, PSM_AUTO

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

OCR_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("sub", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("n_lines", T.IntegerType()),
        T.StructField("n_words", T.IntegerType()),
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("wall_ms", T.DoubleType()),
        T.StructField("partition_id", T.IntegerType()),
    ]
)

DEFAULT_SALT = 16


class _QuietZipImporter(zipimport.zipimporter):
    """A zipimporter that keeps the archive directory it has read."""

    def invalidate_caches(self) -> None:
        pass


def quiet_spark_archives() -> None:
    """Stop the per-task re-read of Spark's own zip archives (module
    docstring).  Call it first in a task body; a no-op outside a Spark
    task, idempotent, and it lasts for the life of the worker process."""
    from pyspark import SparkFiles, TaskContext

    if TaskContext.get() is None:
        return
    user_files = os.path.join(SparkFiles.getRootDirectory(), "")
    for importer in list(sys.path_importer_cache.values()):
        plain = type(importer) is zipimport.zipimporter
        if plain and not importer.archive.startswith(user_files):
            importer.__class__ = _QuietZipImporter


def _failed_row(doc_id, pos, ref, wall_ms: float, pid: int) -> dict:
    """The degraded media span of a page that produced no spans: empty
    text, n_chars = -1 as the failure marker for lineage/QA."""
    return {
        "doc_id": doc_id,
        "pos": int(pos),
        "sub": 0,
        "kind": "media",
        "text": None,
        "media_ref": ref,
        "confidence": 0.0,
        "n_lines": 0,
        "n_words": 0,
        "n_chars": -1,
        "wall_ms": wall_ms,
        "partition_id": pid,
    }


def _make_ocr_udf(
    dict_words: list[str] | None,
    dict_patterns: list[str] | None = None,
    adapt_carryover: bool = False,
    charlists: tuple[str, str, str] | None = None,
    oem: int = OEM_DEFAULT,
    psm: int = PSM_AUTO,
    lang: str = "eng",
):
    """Build the page+recognition mapInPandas body: one page-router call
    (operators.recognize.recognize) per decoded page, routed by ``oem``,
    ``psm`` and ``lang``.

    Heavy state (template net, DAWG, language packs) is constructed
    lazily once per python worker — the executor-side singleton pattern
    the reference uses for models/DAWGs (src/dict/dawg_cache.cpp,
    SURVEY §3.1 step 3).
    """

    def ocr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        quiet_spark_archives()
        import time

        from pyspark import TaskContext

        from .functions.image_codecs import decode_gray_pages
        from .lstm.dawg import CombinedDawg, Dawg, PatternDawg
        from .lstm.templates import get_net
        from .operators.multilang import page_packs
        from .operators.recognize import recognize

        net = get_net()
        dawg = None
        if dict_words or dict_patterns:
            # user words + user patterns probe as parallel dawgs
            # (Dict::Load user-words/user-patterns, src/dict/dict.cpp)
            wd = Dawg(net.charset, dict_words) if dict_words else None
            pdw = (
                PatternDawg(net.charset, dict_patterns)
                if dict_patterns
                else None
            )
            dawg = CombinedDawg(wd, pdw) if pdw is not None else wd
        packs = page_packs(lang, dict_words=dict_words)
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        # cross-page adaptive carryover (SwitchAdaptiveClassifier
        # continuity, control.cpp:306-322): with doc-local partitioning
        # (adapt_carryover mode) pages of one document arrive
        # consecutively and share learned glyph templates, and the
        # document-words dawg carried with them lets vocabulary learned
        # on page 1 validate terminology on page N
        # (Dict::document_words_, dict.cpp:648-708)
        carry_doc = None
        carry: dict = {}
        for pdf in batches:
            rows = []
            for doc_id, pos, ref, png, dpi in zip(
                pdf["doc_id"], pdf["pos"], pdf["media_ref"], pdf["png"], pdf["dpi"]
            ):
                t0 = time.perf_counter()
                if png is None:
                    # media_ref missing from the media table (left-join
                    # miss): keep the span in the document with the same
                    # degraded marker as a corrupt page — silent drops
                    # would be invisible data loss at corpus scale
                    rows.append(_failed_row(doc_id, pos, ref, 0.0, pid))
                    continue
                # per-page error isolation: a corrupt image must not kill
                # the job — emit an empty media span and keep going, the
                # reference's degraded-continuation semantics (per-page
                # deadline fakes remaining words and the run continues,
                # src/ccmain/control.cpp:314-322)
                try:
                    # format autodetect by content (PNG/JPEG/TIFF —
                    # baseapi.cpp:1033-1194 ProcessPagesInternal); a
                    # multipage TIFF contributes every page's spans in
                    # container order under one media_ref
                    # (baseapi.cpp:958-998 multipage iteration)
                    imgs = decode_gray_pages(bytes(png))
                    if adapt_carryover and dawg is not None and doc_id != carry_doc:
                        from .lstm.adaptive import AdaptiveTemplates
                        from .lstm.langmodel import DocumentWords

                        carry_doc = doc_id
                        carry = {"carry_adapted": AdaptiveTemplates(),
                                 "doc_words": DocumentWords()}
                    spans = [
                        s
                        for img in imgs
                        for s in recognize(
                            img, int(dpi), oem=oem, psm=psm, dawg=dawg,
                            packs=packs, charlists=charlists, **carry,
                        )[0]
                    ]
                except Exception:
                    wall = (time.perf_counter() - t0) * 1000.0
                    rows.append(_failed_row(doc_id, pos, ref, wall, pid))
                    continue
                wall = (time.perf_counter() - t0) * 1000.0
                for sub, s in enumerate(spans):
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "pos": int(pos),
                            "sub": sub,
                            "kind": s.kind,
                            "text": s.text if s.kind == "text" else None,
                            "media_ref": ref if s.kind == "media" else None,
                            "confidence": float(s.confidence),
                            "n_lines": int(s.n_lines),
                            "n_words": int(s.n_words),
                            "n_chars": len(s.text),
                            # per-span timing is approximate: the page's
                            # wall clock divides evenly across its spans
                            # (only per-PAGE totals are meaningful; the
                            # lineage metrics aggregate before reporting)
                            "wall_ms": wall / max(1, len(spans)),
                            "partition_id": pid,
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in OCR_OUT_SCHEMA.fields])

    return ocr_batches


def _ocr_then_join(
    media_refs: DataFrame, media: DataFrame, num_partitions: int, udf
) -> DataFrame:
    """The bucketed plan's OCR rows: recognize every media row where it
    was scanned, then join the light results back to the refs.

    The page body runs over the media scan coalesced to at most
    ``num_partitions`` tasks, with the page key in its ``doc_id`` column
    and ``pos`` 0, so each page's sub-spans stay keyed (text sub-spans
    carry a NULL ``media_ref``).  A media row that several refs point to
    is recognized once and joined to each; a ref with no media row keeps
    ``_failed_row``'s marker with ``partition_id`` -1, since no OCR task
    saw it.  Nothing under the coalesce holds memory per input
    partition, so a task streams its buckets one after another.
    """
    pages = (
        media.select(
            F.col("media_ref").alias("doc_id"),
            F.lit(0).alias("pos"),
            "media_ref",
            "png",
            "dpi",
        )
        .coalesce(num_partitions)
        .mapInPandas(udf, schema=OCR_OUT_SCHEMA)
        .withColumnRenamed("doc_id", "page_ref")
        .withColumnRenamed("media_ref", "span_ref")
        .drop("pos")
    )
    fail = _failed_row(None, 0, None, 0.0, -1)
    joined = media_refs.join(
        pages, media_refs["media_ref"] == pages["page_ref"], "left"
    )
    missing = F.col("page_ref").isNull()
    return joined.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("pos").cast("int").alias("pos"),
        "text",
        F.when(missing, F.col("media_ref")).otherwise(F.col("span_ref"))
        .alias("media_ref"),
        *[F.coalesce(c, F.lit(v)).alias(c) for c, v in fail.items()
          if c not in ("doc_id", "pos", "text", "media_ref")],
    )


def ocr_documents(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    dict_words: list[str] | None = None,
    num_partitions: int | None = None,
    dict_patterns: list[str] | None = None,
    adapt_carryover: bool = False,
    charlists: tuple[str, str, str] | None = None,
    oem: int = OEM_DEFAULT,
    psm: int = PSM_AUTO,
    lang: str = "eng",
) -> DataFrame:
    """documents(doc_id, spans) + media(media_ref, png, dpi) -> flat spans.

    Returns (doc_id, offset, kind, text, media_ref, confidence, n_lines,
    n_words, n_chars, wall_ms, partition_id) in reading order per
    document.  ``oem``, ``psm`` and ``lang`` pick each page's
    recognition path through the page router
    (operators.recognize.recognize).
    """
    exploded = docs.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
    )
    text_rows = exploded.filter(F.col("kind") == "text").select(
        "doc_id", "pos", "text"
    )
    media_refs = exploded.filter(F.col("kind") == "media").select(
        "doc_id", "pos", "media_ref"
    )
    return ocr_from_parts(
        spark, text_rows, media_refs, media,
        dict_words=dict_words, num_partitions=num_partitions,
        dict_patterns=dict_patterns,
        adapt_carryover=adapt_carryover, charlists=charlists,
        oem=oem, psm=psm, lang=lang,
    )


def ocr_from_parts(
    spark: SparkSession,
    text_rows: DataFrame,
    media_refs: DataFrame,
    media: DataFrame,
    dict_words: list[str] | None = None,
    num_partitions: int | None = None,
    media_prebucketed: bool = False,
    dict_patterns: list[str] | None = None,
    adapt_carryover: bool = False,
    charlists: tuple[str, str, str] | None = None,
    oem: int = OEM_DEFAULT,
    psm: int = PSM_AUTO,
    lang: str = "eng",
) -> DataFrame:
    """Pipeline core over pre-split inputs.

    text_rows: (doc_id, pos, text) pass-through spans;
    media_refs: (doc_id, pos, media_ref); media: (media_ref, png, dpi).

    ``adapt_carryover``: partition/sort media rows by (doc_id, pos) so
    pages of one document land consecutively in one task and share
    adapted glyph templates (the reference's cross-page adaptive
    classifier continuity).  Trade-off, documented: doc-keyed placement
    gives up the media_ref hash's page-level skew defeat, so reserve it
    for corpora whose per-document page counts are bounded.

    ``media_prebucketed``: OCR before the join.  The page body runs over
    the media scan itself, coalesced to at most ``num_partitions`` tasks,
    and only its light per-page results are left-joined back to the
    refs (``_ocr_then_join``), so the heavy png payload NEVER shuffles
    and the task count is sized from the cores, not from the media
    table's 128 buckets.  The plan recognizes every row of ``media``:
    it is meant for a media table holding only the documents' own
    pages, as the materialized corpus does
    (derived.materialize_corpus_bucketed).  Callers that pass a subset
    of the documents against a full media table (streaming, lineage) use
    the join-first plan of ``ocr_documents``.  It cannot be combined
    with ``adapt_carryover``, which needs pages in document order.
    """
    if num_partitions is None:
        env = int(os.environ.get("SPARK_GRAFT_PARTITIONS", "0"))
        num_partitions = env or spark.sparkContext.defaultParallelism * 4
    text_full = text_rows.select(
        "doc_id",
        "pos",
        F.lit(-1).cast("int").alias("sub"),
        F.lit("text").alias("kind"),
        "text",
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(None).cast("double").alias("confidence"),
        F.lit(0).cast("int").alias("n_lines"),
        F.lit(0).cast("int").alias("n_words"),
        F.length("text").cast("int").alias("n_chars"),
        F.lit(0.0).alias("wall_ms"),
        F.lit(-1).cast("int").alias("partition_id"),
    )
    udf = _make_ocr_udf(dict_words, dict_patterns, adapt_carryover, charlists,
                        oem=oem, psm=psm, lang=lang)
    if media_prebucketed:
        if adapt_carryover:
            raise ValueError(
                "adapt_carryover needs pages in document order; the bucketed "
                "plan recognizes media rows before they meet their documents"
            )
        ocr = _ocr_then_join(media_refs, media, num_partitions, udf)
    else:
        # pre-partition BOTH sides on media_ref so the join reuses these
        # exchanges (EnsureRequirements adds none) — the heavy png payload
        # shuffles exactly once, and the join output is already the
        # cost-balanced OCR partitioning.  Skew defeat (BASELINE.json):
        # page-complexity cost is Zipf-skewed, so hashing the fine-grained
        # media_ref key detaches page placement from document/file
        # locality and balances per-partition cost by the law of large
        # numbers (hundreds of pages per task, partitions >= 4x cores);
        # no sort and no range-bounds sampling job (repartitionByRange
        # would execute the render/scan twice).  Measured: the
        # size-bucketed range scheme concentrated the expensive class
        # (33s straggler vs 9s median) and was rejected.
        media_side = media.select("media_ref", "png", "dpi")
        media_rows = (
            media_refs.repartition(num_partitions, "media_ref")
            .join(
                media_side.repartition(num_partitions, "media_ref").hint(
                    "shuffle_hash"  # avoid sort-merge's per-partition sorts
                ),
                "media_ref",
                "left",
            )
        )
        repart = media_rows.select("doc_id", "pos", "media_ref", "png", "dpi")
        if adapt_carryover:
            repart = repart.repartition(num_partitions, "doc_id").sortWithinPartitions(
                "doc_id", "pos"
            )
        ocr = repart.mapInPandas(udf, schema=OCR_OUT_SCHEMA)
    unioned = ocr.unionByName(text_full)
    w = Window.partitionBy("doc_id").orderBy("pos", "sub")
    return unioned.withColumn(
        "offset", (F.row_number().over(w) - 1).cast("int")
    ).select(
        "doc_id", "offset", "kind", "text", "media_ref", "confidence",
        "n_lines", "n_words", "n_chars", "wall_ms", "partition_id",
    )


def assemble_spans(flat: DataFrame) -> DataFrame:
    """Flat spans -> documents-shaped (doc_id, spans array<struct>) output."""
    return flat.groupBy("doc_id").agg(
        F.collect_list(
            F.struct("kind", "text", "media_ref", "offset")
        ).alias("spans_unordered")
    ).select(
        "doc_id",
        F.expr(
            "transform(array_sort(spans_unordered, (a, b) -> a.offset - b.offset),"
            " s -> struct(s.kind as kind, s.text as text,"
            " s.media_ref as media_ref, s.offset as offset))"
        ).alias("spans"),
    )
