"""Per-url byte-identity of extracted text (BASELINE.json input_hint:
"byte-identical extracted text per url") + corpus determinism."""

import numpy as np
import pandas as pd

from datamart_spark.analyzer import extract_text_series
from datamart_spark.corpus import generate_documents, generate_documents_pandas


N = 600  # covers empty-body (101), duplicate (149), non-ASCII/entity (211) edges


def test_extract_text_byte_identical_per_url():
    docs = generate_documents_pandas(N)
    extracted = extract_text_series(docs["html"])
    mismatches = docs.loc[extracted != docs["text"], "url"]
    assert mismatches.empty, f"text mismatch for urls: {list(mismatches[:5])}"
    # byte-level check, not just str equality
    for t, e in zip(docs["text"], extracted):
        assert t.encode("utf-8") == e.encode("utf-8")


def test_corpus_deterministic():
    a = generate_documents_pandas(100)
    b = generate_documents_pandas(100)
    pd.testing.assert_frame_equal(a, b)


def test_edge_rows_present():
    docs = generate_documents_pandas(N)
    # empty body: text is "title\n\n\n"-shaped (body == "")
    empties = docs[docs.index % 101 == 0]
    assert (empties["text"].str.count("\n") == 3).all() or all(
        t.split("\n")[1] == "" for t in empties["text"]
    )
    # duplicate body under different urls → exact BM25 tie fixture
    d149 = docs.iloc[149]
    d148 = docs.iloc[148]
    assert d149["text"] == d148["text"]
    assert d149["url"] != d148["url"]
    assert docs.iloc[298]["text"] == docs.iloc[297]["text"]
    # non-ASCII + entity row
    d211 = docs.iloc[211]
    assert "café" in d211["text"] and "R&D" in d211["text"]
    assert b"R&amp;D" in bytes(d211["html"])


def test_langs_and_ts():
    docs = generate_documents_pandas(N)
    assert set(docs["lang"]) <= {"en", "de", "fr", "es", "pt"}
    assert (docs["lang"] == "en").mean() > 0.6
    assert docs["warc_ts"].min() >= pd.Timestamp("2023-01-01")
    assert docs["warc_ts"].max() < pd.Timestamp("2024-01-01")


def test_spark_generation_matches_pandas(spark):
    sdf = generate_documents(spark, 50, partitions=4).orderBy("doc_id").toPandas()
    pdf = generate_documents_pandas(50)
    assert list(sdf["url"]) == list(pdf["url"])
    assert list(sdf["text"]) == list(pdf["text"])
    assert [bytes(h) for h in sdf["html"]] == [bytes(h) for h in pdf["html"]]
    assert list(sdf["lang"]) == list(pdf["lang"])
    assert list(pd.to_datetime(sdf["warc_ts"])) == list(pdf["warc_ts"])


def test_default_partitions_scale_with_n(spark):
    """At 400k docs the default plan makes ~4000 docs per task, not one
    task per core (planned only: no job runs)."""
    assert generate_documents(spark, 400_000).rdd.getNumPartitions() == 100
    assert generate_documents(spark, 1000).rdd.getNumPartitions() == max(
        spark.sparkContext.defaultParallelism, 4
    )
