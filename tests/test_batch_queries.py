"""The query planner and batch engine (query/batch.py): exact rank
identity with the pure-Python oracle across the full reference query
set — AND, OR, stopword-tier, absent-term, lang-filtered and
ts-filtered queries all evaluated in ONE batch call, compared per
query against ``Bm25Oracle.topk``.  Queries of one batch share the
shard kernel's block-decode caches, so identity here gates that cache.
Every public query entry point is planned here, so the planner's
checks are pinned here too.
"""

import math
import os

import pandas as pd
import pytest

from datamart_spark.corpus import (
    generate_documents,
    generate_documents_pandas,
    generate_queries,
)
from datamart_spark.index import IndexCatalog, build_index
from datamart_spark.query import (
    bm25_phrase_prefix_topk,
    bm25_phrase_topk,
    bm25_topk_batch,
    bm25_topk_blockmax,
    bm25_topk_dataframe,
    passages,
    phrase_spans,
    search,
    search_many,
)
from datamart_spark.query.bm25_oracle import Bm25Oracle

N_DOCS = 1200
K = 10


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("batch_index"))
    catalog = IndexCatalog(root)
    docs = generate_documents(spark, N_DOCS)
    build_index(docs, catalog, n_shards=8)
    return catalog


@pytest.fixture(scope="module")
def oracle():
    return Bm25Oracle(
        generate_documents_pandas(N_DOCS)[["doc_id", "text", "lang", "warc_ts"]]
    )


def _specs(or_ids=()):
    """Reference query set → batch spec dicts (heterogeneous filters)."""
    out = []
    for _, q in generate_queries().iterrows():
        out.append(
            {
                "query_id": f"q{q['query_id']:02d}",
                "query": q["query"],
                "or_mode": int(q["query_id"]) in set(or_ids),
                "lang": q["lang_filter"] if isinstance(q["lang_filter"], str) else None,
                "ts_lo": q["ts_lo"] if pd.notna(q["ts_lo"]) else None,
                "ts_hi": q["ts_hi"] if pd.notna(q["ts_hi"]) else None,
            }
        )
    return out


def _assert_rank_identical(got, want, spec):
    assert len(got) == len(want), (spec, got, want)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd, (spec, got, want)
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), (spec, gd, gs, ws)


def test_batch_rank_identity_full_query_set(built, oracle, spark, spark_job):
    _check_batch_rank_identity_full_query_set(built, oracle, spark)


def test_batch_rank_identity_full_query_set_in_process(built, oracle, spark,
                                                       in_process):
    _check_batch_rank_identity_full_query_set(built, oracle, spark)


def _check_batch_rank_identity_full_query_set(built, oracle, spark):
    catalog = built
    # a third of the set in OR mode, incl. absent-term + filtered ids,
    # so both kernel modes run against the shared decode caches
    or_ids = (1, 21, 26, 31, 36, 41, 45, 47, 49)
    specs = _specs(or_ids)
    batched = bm25_topk_batch(spark, catalog, specs, k=K).collect()
    by_qid: dict[str, list] = {}
    for r in batched:
        by_qid.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))

    for s in specs:
        want = oracle.topk(s["query"], k=K, lang=s["lang"], ts_lo=s["ts_lo"],
                           ts_hi=s["ts_hi"], or_mode=s["or_mode"])
        _assert_rank_identical(by_qid.get(s["query_id"], []), want, s)


def test_filter_context_bounds_inclusive_naive_and_aware(built, oracle, spark,
                                                        kernel_branch):
    """warc_ts bounds equal to stored values are inclusive; naive,
    UTC-aware and +09:00-aware bounds of one instant select the same
    docs; a naive bound is read in the driver's local zone (a Spark
    literal's conversion) on both branches.  The context's docs all sit
    in one shard, so the other shards' kernels get an empty filter set
    while an unfiltered spec of the batch still scans them."""
    import datetime as dt
    import time

    docs = generate_documents_pandas(N_DOCS)
    lo_doc, hi_doc = 1000, 1010
    width = built.current_snapshot()["shard_width"]
    assert lo_doc // width == hi_doc // width
    lo, hi = docs.at[lo_doc, "warc_ts"], docs.at[hi_doc, "warc_ts"]
    q = " ".join(["the", *docs.at[lo_doc, "text"].split()[:2],
                  *docs.at[hi_doc, "text"].split()[:2]])
    plus9 = dt.timezone(dt.timedelta(hours=9))
    bounds = {
        "naive": (lo, hi),
        "datetime": (lo.to_pydatetime(), hi.to_pydatetime()),
        "utc": (lo.tz_localize("UTC"), hi.tz_localize("UTC")),
        "plus9": (lo.tz_localize("UTC").tz_convert(plus9),
                  hi.tz_localize("UTC").tz_convert(plus9)),
    }

    def run():
        specs = [{"query_id": name, "query": q, "or_mode": True, "ts_lo": a,
                  "ts_hi": b} for name, (a, b) in bounds.items()]
        specs.append({"query_id": "all", "query": q, "or_mode": True})
        got: dict[str, list] = {}
        for r in bm25_topk_batch(spark, built, specs, k=20).collect():
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return got

    got = run()
    want = oracle.topk(q, k=20, ts_lo=lo, ts_hi=hi, or_mode=True)
    assert [d for d, _ in want] and {lo_doc, hi_doc} <= {d for d, _ in want}
    for name in bounds:
        _assert_rank_identical(got.get(name, []), want, name)
    _assert_rank_identical(got["all"], oracle.topk(q, k=20, or_mode=True), "all")

    tz = os.environ.get("TZ")
    os.environ["TZ"] = "Etc/GMT-9"  # POSIX sign: UTC+09:00
    time.tzset()
    try:
        got = run()
    finally:
        if tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = tz
        time.tzset()
    shift = pd.Timedelta(hours=9)
    shifted = oracle.topk(q, k=20, ts_lo=lo - shift, ts_hi=hi - shift, or_mode=True)
    assert shifted and shifted != want
    for name in ("naive", "datetime"):
        _assert_rank_identical(got.get(name, []), shifted, f"{name} at UTC+9")
    for name in ("utc", "plus9"):
        _assert_rank_identical(got.get(name, []), want, f"{name} at UTC+9")


def test_absent_term_search_runs_no_spark_job(built, spark, kernel_branch,
                                             spark_jobs):
    """A plan with no live spec returns its empty hydrated frame without
    a job, whichever branch the kernels would take."""
    rows, jobs = spark_jobs(lambda: search(
        spark, built, "the zzzneverseen", k=K).collect())
    assert rows == [] and jobs == 0
    many, jobs = spark_jobs(lambda: search_many(
        spark, built, [{"query_id": "a", "query": "zzzneverseen"}], k=K).collect())
    assert many == [] and jobs == 0


def test_filtered_rare_term_absent_from_shards_with_passing_docs(built, oracle, spark,
                                                                 kernel_branch):
    """A filtered query whose only term lives in one shard: every other
    shard holds docs that pass the filter but no posting of the term, so
    the Spark job's cogroup hands those shards an empty postings side."""
    from datamart_spark.analyzer import analyze_query

    width = built.current_snapshot()["shard_width"]
    shards_of: dict[str, set] = {}
    for doc_id, tf in oracle.tf.items():
        for t in tf:
            shards_of.setdefault(t, set()).add(doc_id // width)
    docs = generate_documents_pandas(N_DOCS)
    en_shards = {d // width for d in docs.loc[docs["lang"] == "en", "doc_id"]}
    word = next(w for text in docs.loc[docs["lang"] == "en", "text"]
                for w in text.split()
                if (terms := analyze_query(w)) and len(shards_of.get(terms[0], ())) == 1)
    assert len(en_shards - shards_of[analyze_query(word)[0]]) >= 1
    want = oracle.topk(word, k=K, lang="en")
    assert want
    got = [(r["doc_id"], r["score"]) for r in search(
        spark, built, word, k=K, lang="en").collect()]
    _assert_rank_identical(got, want, word)


def test_filter_stats_cache_skips_dead_session_handles(built, spark, spark_job):
    """Evicting a _DS_CACHE entry from a PREVIOUS SparkSession must not
    touch its dead JVM handle (unpersist on a stopped context NPEs —
    it failed the first filtered query of every new session in a
    multi-session process until guarded)."""
    from datamart_spark.query import bm25

    class DeadHandle:
        def unpersist(self):
            raise RuntimeError("unpersist reached a stopped session's handle")

    catalog = built
    # eviction runs only on a cache miss: drop live entries (unpersist
    # is safe for them — same session) so the lookup below misses
    for k in list(bm25._DS_CACHE):
        bm25._DS_CACHE.pop(k).unpersist()
    stale_key = ("app-from-stopped-session", catalog.root, -1, 0.0)
    bm25._DS_CACHE[stale_key] = DeadHandle()
    try:
        out = bm25_topk_batch(
            spark, catalog, [{"query_id": "x", "query": "the", "lang": "en"}], k=5
        ).collect()
        assert stale_key not in bm25._DS_CACHE  # evicted without unpersist
        assert out  # and the filtered query itself worked
    finally:
        bm25._DS_CACHE.pop(stale_key, None)


def test_batch_empty_and_edge_inputs(built, spark):
    catalog = built
    # all-absent AND, all-absent OR, empty-analysis query → zero rows
    specs = [
        {"query_id": "a", "query": "zzzneverseen qqqneverseen"},
        {"query_id": "b", "query": "zzzneverseen", "or_mode": True},
        {"query_id": "c", "query": "    "},
    ]
    assert bm25_topk_batch(spark, catalog, specs, k=K).count() == 0
    assert bm25_topk_batch(spark, catalog, [], k=K).count() == 0


def test_search_many_hydrates_and_matches_search(built, spark):
    """search_many = per-query search(): same hits, same metadata."""
    from datamart_spark.corpus import _VOCAB

    catalog = built
    q = f"the {_VOCAB[60]}"
    specs = [
        {"query_id": "a", "query": q},
        {"query_id": "b", "query": q, "lang": "de"},
    ]
    out = search_many(spark, catalog, specs, k=K).collect()
    assert out and set(out[0].asDict()) == {
        "query_id", "doc_id", "url", "lang", "warc_ts", "score"
    }
    for s in specs:
        want = [
            (r["doc_id"], r["url"], r["lang"], r["score"])
            for r in search(spark, catalog, s["query"], k=K,
                            lang=s.get("lang")).collect()
        ]
        got = [
            (r["doc_id"], r["url"], r["lang"], r["score"])
            for r in out
            if r["query_id"] == s["query_id"]
        ]
        assert got == want, s
    assert all(r["lang"] == "de" for r in out if r["query_id"] == "b")


@pytest.fixture(scope="module")
def two_shards(spark, tmp_path_factory):
    """The corpus of ``built`` in 2 shards: stopword-tier terms span
    several posting blocks per shard."""
    catalog = IndexCatalog(str(tmp_path_factory.mktemp("two_shards")))
    build_index(generate_documents(spark, N_DOCS), catalog, n_shards=2)
    return catalog


def test_shuffled_postings_rows_give_the_same_hits(two_shards, spark, kernel_branch,
                                                   tmp_path):
    """Kernels see postings only through ``wand._shard_groups``, which
    sorts each shard's rows by (term, block_id): a copy of the index
    whose postings files hold their rows in a shuffled order gives the
    stored order's hits for the whole reference set plus stopword-tier
    queries, AND and OR, filtered and not, on either kernel branch."""
    import shutil

    import numpy as np
    import pyarrow.parquet as pq

    from datamart_spark.corpus import _VOCAB

    root = str(tmp_path / "shuffled")
    shutil.copytree(two_shards.root, root)
    rng = np.random.default_rng(7)
    moved = 0
    for dirpath, _, files in os.walk(os.path.join(root, "postings")):
        for f in files:
            if f.endswith(".parquet"):
                path = os.path.join(dirpath, f)
                tb = pq.read_table(path)
                perm = rng.permutation(tb.num_rows)
                moved += int((perm != np.arange(tb.num_rows)).sum())
                pq.write_table(tb.take(perm), path)
                crc = os.path.join(dirpath, f".{f}.crc")  # Hadoop's checksum
                if os.path.exists(crc):
                    os.remove(crc)
    assert moved

    # stopword-tier terms hold several blocks per shard
    specs = _specs(or_ids=(1, 21, 26, 31, 36, 41, 45, 47, 49)) + [
        {"query_id": "stop_or", "query": " ".join(_VOCAB[:4]), "or_mode": True},
        {"query_id": "stop_and", "query": f"{_VOCAB[0]} {_VOCAB[2]}"},
        {"query_id": "stop_de", "query": f"{_VOCAB[1]} {_VOCAB[60]}", "lang": "de"},
    ]

    def hits(cat):
        return [tuple(r) for r in bm25_topk_batch(spark, cat, specs, k=K).collect()]

    want = hits(two_shards)
    assert want and hits(IndexCatalog(root)) == want


def test_in_process_hydration_reads_only_the_hits_shards(built, spark, in_process,
                                                         monkeypatch):
    """In-process hydration reads doc_stats only from the shard
    partitions its hits fall in (doc_id // shard_width, the build's
    shard rule), not every shard's file."""
    import re

    from datamart_spark.corpus import _VOCAB

    real = built.snapshot_dataset
    read: list[str] = []

    class Recording:
        def __init__(self, ds):
            self.ds = ds
            self.schema = ds.schema

        def to_table(self, columns=None, filter=None):
            read.extend(f.path for f in self.ds.get_fragments(filter))
            return self.ds.to_table(columns=columns, filter=filter)

    monkeypatch.setattr(built, "snapshot_dataset", lambda name: (
        Recording(real(name)) if name == "doc_stats" else real(name)))
    width = built.current_snapshot()["shard_width"]
    assert built.current_snapshot()["n_shards"] > 2
    rows = search(spark, built, f"the {_VOCAB[60]}", k=2).collect()
    assert rows and all(r["url"] is not None for r in rows)
    shards = {int(re.search(r"shard=(\d+)", p).group(1)) for p in read}
    assert shards and shards <= {r["doc_id"] // width for r in rows}


def test_batch_single_query_matches(built, oracle, spark):
    """A 1-query batch (the one-spec merge) ranks like the oracle."""
    from datamart_spark.corpus import _VOCAB

    catalog = built
    q = f"the {_VOCAB[60]}"  # stopword-tier + mid-frequency term
    specs = [{"query_id": "only", "query": q, "lang": "en"}]
    out = bm25_topk_batch(spark, catalog, specs, k=K).collect()
    assert out and {r["query_id"] for r in out} == {"only"}
    got = [(r["doc_id"], r["score"]) for r in out]
    _assert_rank_identical(got, oracle.topk(q, k=K, lang="en"), specs[0])


def test_batch_rejects_duplicate_query_ids(built, spark):
    """Two queries sharing a query_id would silently merge their top-k
    lists into one wrong ranking — reject at the driver."""
    with pytest.raises(ValueError, match="duplicate query_id"):
        bm25_topk_batch(
            spark,
            built,
            [{"query_id": "a", "query": "the"},
             {"query_id": "a", "query": "data"}],
            k=5,
        )


def test_negative_k_raises(built, spark, kernel_branch):
    """A negative k is one clear ValueError on either branch, not a
    truncated or unbounded ranking; k=0 is an empty result."""
    from datamart_spark.corpus import _VOCAB

    q = f"the {_VOCAB[60]}"
    specs = [{"query_id": "a", "query": q}, {"query_id": "b", "query": "the"}]
    with pytest.raises(ValueError, match="k must be >= 0, got -1"):
        search(spark, built, q, k=-1)
    with pytest.raises(ValueError, match="k must be >= 0, got -1"):
        bm25_topk_batch(spark, built, specs, k=-1)
    assert search(spark, built, q, k=1).count() == 1  # q matches
    assert search(spark, built, q, k=0).collect() == []
    assert bm25_topk_batch(spark, built, specs, k=0).collect() == []


@pytest.mark.parametrize("entry", ["dataframe", "cross_fields"])
def test_negative_k_raises_off_planner(built, spark, spark_jobs, entry):
    """The entry points the planner does not front reject a negative k
    with the planner's ValueError before any Spark job; k=0 is empty."""
    from datamart_spark.corpus import _VOCAB
    from datamart_spark.query.cross_fields import cross_fields_topk

    terms = ["the", _VOCAB[60]]
    if entry == "dataframe":
        def call(k):
            return bm25_topk_dataframe(spark, built, " ".join(terms), k=k)
    else:
        docs = generate_documents(spark, 300)

        def call(k):
            return cross_fields_topk(spark, docs, terms, k=k)

    def negative():
        with pytest.raises(ValueError, match="k must be >= 0, got -1"):
            call(-1)

    _, jobs = spark_jobs(negative)
    assert jobs == 0
    assert call(0).collect() == []


def test_generated_query_set_deterministic_and_mixed():
    """generate_query_set(n): the bulk-labeling workload generator —
    deterministic, reference-set mix proportions at any n, and NOT a
    repeat of the 50-query reference set."""
    from datamart_spark.corpus import generate_query_set

    a = generate_query_set(100)
    b = generate_query_set(100)
    pd.testing.assert_frame_equal(a, b)
    assert len(a) == 100
    assert list(a.columns) == [
        "query_id", "query", "lang_filter", "ts_lo", "ts_hi"
    ]
    assert int(a["lang_filter"].notna().sum()) == 30
    assert int(a["ts_lo"].notna().sum()) == 20
    assert sum(
        q.split()[-1].startswith("zzzunseen") for q in a["query"]
    ) == 10
    # 40% single / 30% two-term / 20% three-term mix (absent-term rows
    # are two tokens: real term + unseen sentinel)
    n_terms = a["query"].str.split().str.len()
    assert int((n_terms == 1).sum()) == 40
    assert int((n_terms == 3).sum()) == 20
    # independent draws, not the reference set re-sliced
    assert set(a["query"]) != set(generate_queries()["query"])
    # a different n gives a different (still deterministic) draw
    assert list(generate_query_set(20)["query"]) != list(a["query"][:20])


def test_generated_batch_rank_identity_sample(built, oracle, spark):
    """A generated 100-query batch through ONE bm25_topk_batch call is
    rank-identical to the oracle (spot-checked on every 8th query,
    covering all four shape slices + both filter kinds)."""
    from datamart_spark.corpus import generate_query_set

    catalog = built
    specs = []
    for _, q in generate_query_set(100).iterrows():
        specs.append(
            {
                "query_id": f"g{int(q['query_id']):03d}",
                "query": q["query"],
                "lang": q["lang_filter"]
                if isinstance(q["lang_filter"], str) else None,
                "ts_lo": q["ts_lo"] if pd.notna(q["ts_lo"]) else None,
                "ts_hi": q["ts_hi"] if pd.notna(q["ts_hi"]) else None,
            }
        )
    batched = bm25_topk_batch(spark, catalog, specs, k=K).collect()
    by_qid: dict[str, list] = {}
    for r in batched:
        by_qid.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for s in specs[::8]:
        want = oracle.topk(s["query"], k=K, lang=s["lang"], ts_lo=s["ts_lo"],
                           ts_hi=s["ts_hi"])
        _assert_rank_identical(by_qid.get(s["query_id"], []), want, s)


_DOCS_SCHEMA = "doc_id long, text string"

#: every public query entry point, called with valid arguments
_ENTRY_POINTS = {
    "bm25_topk_blockmax": lambda spark, cat: bm25_topk_blockmax(spark, cat, "the"),
    "bm25_topk_batch": lambda spark, cat: bm25_topk_batch(
        spark, cat, [{"query_id": "a", "query": "the"}]),
    "bm25_topk_dataframe": lambda spark, cat: bm25_topk_dataframe(spark, cat, "the"),
    "search": lambda spark, cat: search(spark, cat, "the"),
    "search_many": lambda spark, cat: search_many(
        spark, cat, [{"query_id": "a", "query": "the"}]),
    "bm25_phrase_topk": lambda spark, cat: bm25_phrase_topk(spark, cat, "the data"),
    "bm25_phrase_prefix_topk": lambda spark, cat: bm25_phrase_prefix_topk(
        spark, cat, "the da"),
    "phrase_spans": lambda spark, cat: phrase_spans(spark, cat, "the data"),
    "passages": lambda spark, cat: passages(
        spark, cat, spark.createDataFrame([(0, "the data")], _DOCS_SCHEMA),
        "the data"),
}


@pytest.mark.parametrize("entry", sorted(_ENTRY_POINTS))
def test_entry_points_reject_catalog_without_snapshot(spark, tmp_path, entry):
    """A catalog with no committed snapshot is one clear ValueError from
    every entry point, not an AttributeError on the missing manifest."""
    cat = IndexCatalog(str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="no committed snapshot in this catalog"):
        _ENTRY_POINTS[entry](spark, cat)
