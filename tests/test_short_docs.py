"""Degenerate-document regression: the text-quality registry queries
must survive (and agree with their oracles on) documents shorter than
the largest n-gram — empty, one-token, and nine-token docs — and on
NULL text.  The driver fixtures happen to contain none (minimum 10
tokens, no NULL), so this is the 100 TB robustness case the fixtures
never exercise."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from tesseract_spark.queries import REGISTRY

DOCS = [
    (0, "", "en", "web"),
    (1, "one", "en", "web"),
    (2, "two words", "en", "web"),
    (3, "the a row data join", "en", "cc"),  # 5 tokens
    (4, "a b c d e f g h i", "en", "cc"),  # 9 tokens: < the 10-gram
    (5, "the a row data join table hash scan batch customer extra "
        "words to make this one comfortably long enough to pass the "
        "length gate of seventy characters", "en", "web"),
    # dirty text: HTML-active chars, a copyright mark, doubled spaces
    (6, "a © b  <tag> & x", "en", "web"),
    # NULL text chunks as '' (derived.chunked / queries._ORACLE_CHUNKS)
    (7, None, "en", "web"),
]

QUERIES = ["gopher_repetition", "seq_packing", "corpus_funnel",
           "justext_extract", "quality_score", "bpe_token_stats",
           "c4_filters", "dehyphenate", "ocr_extract"]


@pytest.fixture(scope="module")
def tiny_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tinydocs")
    pdf = pd.DataFrame(DOCS, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len().fillna(0).astype("int64")
    pdf = pdf[["doc_id", "text", "lang", "source", "n_chars"]]
    pdf.to_parquet(d / "documents.parquet", index=False)
    return str(d)


@pytest.mark.parametrize("name", QUERIES)
def test_short_docs_match_oracle(spark, tiny_dir, name):
    fn, sql = REGISTRY[name]
    got = fn(spark, tiny_dir).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tiny_dir}/documents.parquet'"
    )
    exp = con.sql(sql).df()

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype.kind == "f":
                df[c] = df[c].round(6)
        return (
            df.astype(str)
            .sort_values(list(df.columns))
            .reset_index(drop=True)
        )

    a, b = norm(got), norm(exp)
    assert len(a) == len(b), (name, len(a), len(b))
    assert a.equals(b), f"{name}\n{a}\nvs\n{b}"
