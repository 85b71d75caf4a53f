"""Derive an interleaved text+media corpus from the driver documents table.

The sandbox's driver tables carry flat text documents; BASELINE.json's input
shape is interleaved spans.  This module deterministically re-shapes
``documents(doc_id, text)`` into that shape — chunking each document into
12-word paragraphs, passing every 3rd chunk through as a text span and
RENDERING the rest to PNG media spans (4 words per line, deterministic
scale/skew per chunk) — so that the full OCR pipeline runs for real while a
pure-SQL oracle can reconstruct the expected output spans exactly.

Chunking rule (mirrored by the DuckDB CTE queries._ORACLE_CHUNKS):
  words     = split(coalesce(text, ''), ' ')
  chunk i   = words[12i : 12i+12]                 (i = 0 .. ceil(n/12)-1)
  kind      = 'text' if i % 3 == 0 else 'media'
  rendering = lines of 4 words, scale = 1 + (doc_id+i) % 2,
              skew = {-0.02,-0.01,0,0.01,0.02}[(doc_id+i) % 5]
  expected  = text chunks verbatim; media chunks recognize to their lines
              joined with \\n (one paragraph per chunk by construction)
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pipeline import quiet_spark_archives

# the materialized corpora's default home: .bench_corpus in the checkout
# that holds this package
BENCH_CORPUS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_corpus"
)

WORDS_PER_PARA = 12
WORDS_PER_LINE = 4
SKEWS = (-0.02, -0.01, 0.0, 0.01, 0.02)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("png", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("dpi", T.IntegerType()),
    ]
)


def chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> one row per chunk with (doc_id, i, kind, chunk_text)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            # NULL text would make size(words) = -1 and sequence(0, -1)
            # the DESCENDING [0, -1], injecting a bogus i=-1 chunk whose
            # NULL chunk_text crashes the render UDF
            F.split(F.coalesce("text", F.lit("")), " ").alias("words"),
        )
        .withColumn(
            "i",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("words") / WORDS_PER_PARA).cast("int") - 1,
                )
            ),
        )
        .select(
            "doc_id",
            "i",
            F.when(F.col("i") % 3 == 0, "text").otherwise("media").alias("kind"),
            F.array_join(
                F.slice("words", F.col("i") * WORDS_PER_PARA + 1, WORDS_PER_PARA), " "
            ).alias("chunk_text"),
        )
    )


def chunk_lines(chunk: str) -> list[str]:
    """THE line rule: a chunk's words, WORDS_PER_LINE to a line (the
    oracles' 4-word-line expression, queries._ORACLE_LINES)."""
    words = chunk.split(" ")
    return [
        " ".join(words[j : j + WORDS_PER_LINE])
        for j in range(0, len(words), WORDS_PER_LINE)
    ]


def chunk_page_spec(doc_id: int, i: int, chunk: str):
    """THE corpus render rule: chunk text -> PageSpec.  Single source of
    truth shared by the corpus renderer and every engine variant that
    re-renders chunks (q_ocr_vgsl_extract) — the DuckDB oracles mirror
    exactly this rule, so it must never fork."""
    from .functions.compose import PageSpec
    from .functions.fonts import text_ink_width

    lines = chunk_lines(chunk)
    scale = 1 + int((doc_id + i) % 2)
    # skew only when the page is wide enough to resolve the 0.005
    # slope grid (sub-pixel-ambiguous below ~150 px — even the
    # reference cannot deskew a single narrow word); decided from
    # content, so the SQL oracle is unaffected.
    max_w = max(text_ink_width(ln) for ln in lines) * scale
    skew = (
        SKEWS[int((doc_id + i) % len(SKEWS))]
        if (len(lines) >= 2 and max_w >= 150)
        else 0.0
    )
    return PageSpec(paragraphs=[lines], scale=scale, skew=skew)


def _render_udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    quiet_spark_archives()
    from .functions.compose import compose_page
    from .functions.png_codec import encode_gray_png

    for pdf in batches:
        rows = []
        for doc_id, i, chunk in zip(pdf["doc_id"], pdf["i"], pdf["chunk_text"]):
            page = compose_page(chunk_page_spec(int(doc_id), int(i), chunk))
            rows.append(
                {
                    "media_ref": f"m-{doc_id}-{i}",
                    "png": encode_gray_png(page.image),
                    "width": page.width,
                    "height": page.height,
                    "dpi": 300,
                }
            )
        yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])


def derive_corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Returns (documents_spans, media) in the BASELINE.json input shape."""
    ch = chunked(spark, sf_dir).cache()  # consumed twice (spans agg + render)
    docs_spans = ch.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("i", "kind", "chunk_text"))
            ),
            lambda s: F.struct(
                s["kind"].alias("kind"),
                F.when(s["kind"] == "text", s["chunk_text"])
                .otherwise(F.lit(None))
                .alias("text"),
                F.when(s["kind"] == "media",
                       F.concat(F.lit("m-"), F.col("doc_id"), F.lit("-"), s["i"]))
                .otherwise(F.lit(None))
                .alias("media_ref"),
                s["i"].cast("int").alias("offset"),
            ),
        ).alias("spans")
    ).select(F.col("doc_id").cast("string").alias("doc_id"), "spans")
    media = (
        ch.filter(F.col("kind") == "media")
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(_render_udf, schema=MEDIA_SCHEMA)
    )
    return docs_spans, media


CORPUS_VERSION = "v1"  # bump when chunking/render rules change


def materialize_corpus(
    spark: SparkSession, sf_dir: str, cache_root: str = BENCH_CORPUS
) -> tuple[str, str]:
    """Write the derived interleaved corpus to parquet once (idempotent).

    Returns (documents_path, media_path).  Used by bench.py so the timed
    flagship measures the PRODUCTION job — reading an existing corpus —
    rather than corpus synthesis.
    """
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = f"{cache_root}/{CORPUS_VERSION}-{tag}"
    docs_path, media_path = f"{base}/documents", f"{base}/media"
    marker = f"{base}/_COMPLETE"
    if not os.path.exists(marker):
        docs_spans, media = derive_corpus(spark, sf_dir)
        docs_spans.write.mode("overwrite").parquet(docs_path)
        media.write.mode("overwrite").parquet(media_path)
        with open(marker, "w") as f:
            f.write(CORPUS_VERSION)
    return docs_path, media_path


def ocr_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shaped flagship: read the materialized interleaved corpus
    (documents + media tables) and run the full documents-shaped pipeline
    (explode -> media join -> salted repartition -> OCR -> stitch)."""
    from .pipeline import ocr_documents

    docs_path, media_path = materialize_corpus(spark, sf_dir)
    docs = spark.read.parquet(docs_path)
    media = spark.read.parquet(media_path)
    flat = ocr_documents(spark, docs, media)
    return flat.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("offset").cast("int").alias("offset"),
        "kind",
        "text",
        "media_ref",
    )


def ocr_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query: derive corpus -> full OCR -> flat ordered spans.

    Output: (doc_id bigint, offset int, kind, text, media_ref) — matched by
    the pure-SQL oracle in queries.py (ORACLE_OCR_EXTRACT).

    Uses the split-input pipeline core directly: text rows and media rows
    come straight from chunked() instead of being assembled into spans
    arrays and re-exploded (two shuffles of the small side saved); the
    media join + salted repartition + stitch window are identical to the
    documents-shaped path.
    """
    from .pipeline import ocr_from_parts

    ch = chunked(spark, sf_dir).cache()
    text_rows = ch.filter(F.col("kind") == "text").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("i").cast("int").alias("pos"),
        F.col("chunk_text").alias("text"),
    )
    media_refs = ch.filter(F.col("kind") == "media").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("i").cast("int").alias("pos"),
        F.concat(F.lit("m-"), F.col("doc_id"), F.lit("-"), F.col("i")).alias(
            "media_ref"
        ),
    )
    media = (
        ch.filter(F.col("kind") == "media")
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(_render_udf, schema=MEDIA_SCHEMA)
    )
    flat = ocr_from_parts(spark, text_rows, media_refs, media)
    return flat.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("offset").cast("int").alias("offset"),
        "kind",
        "text",
        "media_ref",
    )


def materialize_corpus_bucketed(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = 128,
    cache_root: str = BENCH_CORPUS,
) -> tuple[str, str]:
    """Bucketed variant of materialize_corpus: the media table is written
    as a catalog table bucketed on media_ref, so the production join reads
    it shuffle-free (the png payload never moves; see
    pipeline.ocr_from_parts media_prebucketed).  Returns
    (documents_path, media_table_name)."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    docs_path, media_path = materialize_corpus(spark, sf_dir, cache_root)
    table = f"tess_media_bkt_{tag}_{n_buckets}"
    loc = f"{cache_root}/{CORPUS_VERSION}-{tag}-bkt{n_buckets}"
    if not os.path.exists(f"{loc}/_BUCKETED"):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        (
            spark.read.parquet(media_path)
            .write.bucketBy(n_buckets, "media_ref")
            .sortBy("media_ref")
            .option("path", f"{loc}/media")
            .mode("overwrite")
            .saveAsTable(table)
        )
        with open(f"{loc}/_BUCKETED", "w") as f:
            f.write(table)
    elif table not in [t.name for t in spark.catalog.listTables()]:
        # session catalog lost the table (new session, default in-memory
        # catalog): re-register the external location
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(
            f"CREATE TABLE {table} (media_ref STRING, png BINARY, width INT, "
            f"height INT, dpi INT) USING parquet "
            f"OPTIONS (path '{loc}/media') "
            f"CLUSTERED BY (media_ref) SORTED BY (media_ref) "
            f"INTO {n_buckets} BUCKETS"
        )
    return docs_path, table


def ocr_production_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ocr_production over the bucketed media table: identical results,
    one fewer exchange — the heavy png side is read in bucket layout."""
    from .pipeline import ocr_from_parts

    docs_path, table = materialize_corpus_bucketed(spark, sf_dir)
    docs = spark.read.parquet(docs_path)
    media = spark.table(table)
    media_rows = docs.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).filter(F.col("span.kind") == "media").select(
        "doc_id", "pos", F.col("span.media_ref").alias("media_ref")
    )
    text_rows = docs.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).filter(F.col("span.kind") == "text").select(
        "doc_id", "pos", F.col("span.text").alias("text")
    )
    flat = ocr_from_parts(
        spark, text_rows, media_rows, media, media_prebucketed=True
    )
    return flat.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("offset").cast("int").alias("offset"),
        "kind",
        "text",
        "media_ref",
    )
