"""End-to-end: build index on the synthetic corpus, run the reference
query set, assert rank identity (top-k docIDs + BM25 scores) of BOTH
query engines against the pure-Python oracle.

This is the BASELINE.json north-rule gate: "matching the reference's
top-k docIDs and BM25 scores (rank-identical) on the reference query
set"; tie-break (score desc, doc_id asc) per SURVEY.md §7.
"""

import math

import pandas as pd
import pytest

from datamart_spark.corpus import generate_documents, generate_documents_pandas, generate_queries
from datamart_spark.index import IndexCatalog, build_index
from datamart_spark.index.build import extract_text
from datamart_spark.query import bm25_topk_blockmax, bm25_topk_dataframe
from datamart_spark.query.bm25_oracle import Bm25Oracle

N_DOCS = 1200
K = 10


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("index"))
    catalog = IndexCatalog(root)
    docs = generate_documents(spark, N_DOCS).drop("text")
    docs = extract_text(docs)  # engine path: text comes from html via extractor
    manifest = build_index(docs, catalog, n_shards=8)
    oracle = Bm25Oracle(generate_documents_pandas(N_DOCS)[["doc_id", "text", "lang", "warc_ts"]])
    return catalog, oracle, manifest


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _assert_rank_identical(got, want, qid, query):
    assert len(got) == len(want), (qid, query, got, want)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd, (qid, query, got, want)
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), (qid, query, gd, gs, ws)


def test_manifest_metrics(built, spark):
    catalog, _, manifest = built
    assert manifest["n_docs"] == N_DOCS
    assert manifest["avgdl"] > 0
    assert manifest["lineage"]["n_shards"] == 8
    rows = catalog.lineage_rows(spark)
    assert len(rows) == 8
    assert all(b >= 1 and p >= 1 for _sh, b, p in rows)
    assert manifest["docs_per_sec"] > 0


@pytest.mark.parametrize("engine", ["dataframe", "blockmax"])
def test_rank_identity_query_set(built, spark, engine, spark_job):
    _check_rank_identity_query_set(built, spark, engine)


def test_rank_identity_query_set_blockmax_in_process(built, spark, in_process):
    _check_rank_identity_query_set(built, spark, "blockmax")


def _check_rank_identity_query_set(built, spark, engine):
    catalog, oracle, _ = built
    queries = generate_queries()
    fn = bm25_topk_dataframe if engine == "dataframe" else bm25_topk_blockmax
    # subset for runtime: all structural classes are covered by these ids
    ids = [0, 1, 5, 20, 22, 25, 30, 33, 35, 38, 40, 45, 46, 49]
    for _, q in queries[queries["query_id"].isin(ids)].iterrows():
        lang = q["lang_filter"] if isinstance(q["lang_filter"], str) else None
        ts_lo = q["ts_lo"] if pd.notna(q["ts_lo"]) else None
        ts_hi = q["ts_hi"] if pd.notna(q["ts_hi"]) else None
        got = _rows(fn(spark, catalog, q["query"], k=K, lang=lang, ts_lo=ts_lo, ts_hi=ts_hi))
        want = oracle.topk(q["query"], k=K, lang=lang, ts_lo=ts_lo, ts_hi=ts_hi)
        _assert_rank_identical(got, want, q["query_id"], q["query"])


def test_engines_agree_on_stopword_query(built, spark):
    """Stopword-tier term (max skew) exercises block skipping."""
    from datamart_spark.corpus import _VOCAB

    catalog, oracle, _ = built
    q = f"the {_VOCAB[60]}"
    a = _rows(bm25_topk_dataframe(spark, catalog, q, k=K))
    b = _rows(bm25_topk_blockmax(spark, catalog, q, k=K))
    w = oracle.topk(q, k=K)
    _assert_rank_identical(a, w, -1, q)
    _assert_rank_identical(b, w, -1, q)


def test_tie_break_duplicate_docs(built, spark):
    """Docs 0 and 149 share identical text → identical score; doc_id asc
    decides (pinned total order)."""
    catalog, oracle, _ = built
    docs = generate_documents_pandas(N_DOCS)
    # docs 148 and 149 share title+body (group 148, non-empty)
    assert docs.iloc[148]["text"] == docs.iloc[149]["text"]
    terms = docs.iloc[148]["text"].split("\n")[1].split()[:2]
    q = " ".join(terms)
    got = _rows(bm25_topk_blockmax(spark, catalog, q, k=50))
    want = oracle.topk(q, k=50)
    _assert_rank_identical(got, want, -2, q)
    by_id = dict(got)
    assert 148 in by_id and 149 in by_id
    assert math.isclose(by_id[148], by_id[149], rel_tol=1e-12)
    ids = [d for d, _ in got]
    assert ids.index(148) < ids.index(149)


def test_absent_term_empty(built, spark):
    catalog, _, _ = built
    assert _rows(bm25_topk_dataframe(spark, catalog, "zzznotaword")) == []
    assert _rows(bm25_topk_blockmax(spark, catalog, "zzznotaword")) == []
    # AND semantics: one present + one absent term ⇒ empty
    assert _rows(bm25_topk_blockmax(spark, catalog, "the zzznotaword")) == []


def test_or_mode_superset(built, spark):
    from datamart_spark.corpus import _VOCAB

    catalog, oracle, _ = built
    q = f"{_VOCAB[60]} zzznotaword"
    and_rows = _rows(bm25_topk_blockmax(spark, catalog, q, k=5))
    or_rows = _rows(bm25_topk_blockmax(spark, catalog, q, k=5, or_mode=True))
    assert and_rows == [] and len(or_rows) > 0
    _assert_rank_identical(or_rows, oracle.topk(q, k=5, or_mode=True), -3, q)


def test_or_mode_wand_rank_identity(built, spark):
    """Block-max WAND pruning must stay exact: multi-term OR queries
    incl. a stopword-tier term (max pruning pressure) vs oracle."""
    from datamart_spark.corpus import _VOCAB

    catalog, oracle, _ = built
    for q in (
        f"the {_VOCAB[80]}",
        f"{_VOCAB[31]} {_VOCAB[500]} {_VOCAB[1500]}",
        "the of and",
        f"{_VOCAB[40]}",
    ):
        got = _rows(bm25_topk_blockmax(spark, catalog, q, k=10, or_mode=True))
        want = oracle.topk(q, k=10, or_mode=True)
        _assert_rank_identical(got, want, -4, q)
    # filtered OR mode
    got = _rows(bm25_topk_blockmax(spark, catalog, f"the {_VOCAB[80]}", k=10,
                                   or_mode=True, lang="en"))
    want = oracle.topk(f"the {_VOCAB[80]}", k=10, or_mode=True, lang="en")
    _assert_rank_identical(got, want, -5, f"the {_VOCAB[80]} lang=en")


def test_resume_skips_committed_shards(built, spark, tmp_path):
    """Snapshot resumability: a second build over the same catalog
    rebuilds nothing and commits a new snapshot with identical shards."""
    catalog, _, m1 = built
    docs = generate_documents(spark, N_DOCS)
    m2 = build_index(docs, catalog, n_shards=8, resume=True)
    assert m2["built_shards_this_run"] == []
    assert m2["lineage"] == m1["lineage"]  # content checksum binds equality
    assert m2["sequence"] > m1["sequence"]
