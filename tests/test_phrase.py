"""Positional index + exact-phrase BM25 (query/phrase.py).

Oracle: a brute-force python scorer over the same analyzed token
streams — Lucene match_phrase semantics (pf = adjacent-run count,
idf summed over phrase positions, BM25 tf-normalization on pf) — and
``Bm25Oracle`` for keyword specs.
"""

import math
import re

import numpy as np
import pandas as pd
import pytest

from datamart_spark.index import IndexCatalog, build_index
from datamart_spark.query import bm25_phrase_topk
from datamart_spark.query.bm25_oracle import Bm25Oracle

K1, B = 1.2, 0.75

DOCS = [
    (0, "merge sort beats hash join on sorted runs", "en"),
    (1, "hash join hash join hash join", "en"),
    (2, "the hash join operator builds a hash table", "de"),
    (3, "join hash is not hash join", "en"),
    (4, "sort merge join and hash join and broadcast join", "en"),
    (5, "unrelated text about vectors and filters", "en"),
    (6, "hash", "en"),
    (7, "join hash join", "de"),
]


def _toks(text):
    return re.findall(r"\w+", text.lower())


def _vocab_prefix(prefix, max_expansions=50, docs=DOCS):
    """The lexicographically-first fixture terms extending ``prefix``."""
    vocab = sorted({t for _, text, _ in docs for t in _toks(text)})
    return [t for t in vocab if t.startswith(prefix)][:max_expansions]


def _assert_ranked(got, exp, msg=""):
    assert [d for d, _ in got] == [d for d, _ in exp], msg
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in exp], rtol=1e-9, err_msg=msg
    )


def _brute_phrase(phrase, k=10, lang=None):
    terms = phrase.split()
    n = len(DOCS)
    toks = {d: _toks(t) for d, t, _ in DOCS}
    df = {
        t: sum(1 for d in toks if t in toks[d]) for t in set(terms)
    }
    if any(df[t] == 0 for t in terms):
        return []
    idf_sum = sum(
        math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5)) for t in terms
    )
    avgdl = sum(len(v) for v in toks.values()) / n
    out = []
    for d, text, dl_lang in DOCS:
        if lang is not None and dl_lang != lang:
            continue
        tk = toks[d]
        pf = sum(
            1
            for i in range(len(tk) - len(terms) + 1)
            if tk[i : i + len(terms)] == terms
        )
        if pf:
            dl = len(tk)
            s = idf_sum * pf / (pf + K1 * (1 - B + B * dl / avgdl))
            out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


@pytest.fixture(scope="module")
def pos_catalog(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("phrase_idx")
    docs = spark.createDataFrame(
        [(d, t, lg) for d, t, lg in DOCS], "doc_id long, text string, lang string"
    )
    cat = IndexCatalog(str(root / "cat"))
    # 3 shards so phrase intersection crosses shard kernels
    build_index(docs, cat, n_shards=3, stemming=False, resume=False,
                n_docs=len(DOCS), positions=True)
    return cat


def _run(spark, cat, phrase, **kw):
    return [
        (r["doc_id"], r["score"])
        for r in bm25_phrase_topk(spark, cat, phrase, **kw).collect()
    ]


@pytest.mark.parametrize(
    "phrase",
    [
        "hash join",          # multi-doc, multi-occurrence
        "hash join hash",     # overlapping self-similar phrase
        "sort merge join",    # trigram
        "join hash",          # reversed order ≠ forward order
        "hash table",         # phrase at document end
        "merge sort beats hash join on sorted runs",  # whole document
    ],
)
def test_phrase_matches_bruteforce(spark, pos_catalog, phrase):
    got = _run(spark, pos_catalog, phrase)
    exp = _brute_phrase(phrase)
    assert [d for d, _ in got] == [d for d, _ in exp]
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in exp], rtol=1e-9
    )


def test_phrase_no_match_and_absent_term(spark, pos_catalog):
    assert _run(spark, pos_catalog, "join merge sort") == []  # never adjacent
    assert _run(spark, pos_catalog, "hash quux") == []  # df=0 term


def test_phrase_lang_filter(spark, pos_catalog):
    got = _run(spark, pos_catalog, "hash join", lang="de")
    exp = _brute_phrase("hash join", lang="de")
    assert [d for d, _ in got] == [d for d, _ in exp]
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in exp], rtol=1e-9
    )


def test_single_term_phrase_delegates(spark, pos_catalog):
    """A one-token phrase is planned as the keyword query on it; its
    score is the phrase score with pf = tf."""
    got = _run(spark, pos_catalog, "hash")
    _assert_ranked(got, _brute_phrase("hash"))


def test_phrase_needs_positional_index(spark, tmp_path):
    docs = spark.createDataFrame(
        [(d, t, lg) for d, t, lg in DOCS], "doc_id long, text string, lang string"
    )
    cat = IndexCatalog(str(tmp_path / "plain"))
    build_index(docs, cat, stemming=False, resume=False, n_docs=len(DOCS))
    with pytest.raises(ValueError, match="positional"):
        bm25_phrase_topk(spark, cat, "hash join")


def test_resume_flags_positions_mismatch(spark, pos_catalog, tmp_path):
    docs = spark.createDataFrame(
        [(d, t, lg) for d, t, lg in DOCS], "doc_id long, text string, lang string"
    )
    with pytest.raises(ValueError, match="positions"):
        build_index(docs, pos_catalog, stemming=False, n_docs=len(DOCS),
                    positions=False)


def test_growth_preserves_positions(spark, tmp_path):
    """Grow a positional index and verify phrase results stay exact
    over old + new docs (boundary-shard rewrite keeps positions)."""
    first = DOCS[:5]
    docs1 = spark.createDataFrame(
        [(d, t, lg) for d, t, lg in first], "doc_id long, text string, lang string"
    )
    cat = IndexCatalog(str(tmp_path / "grow"))
    build_index(docs1, cat, n_shards=2, stemming=False, resume=False,
                n_docs=len(first), positions=True)
    docs2 = spark.createDataFrame(
        [(d, t, lg) for d, t, lg in DOCS], "doc_id long, text string, lang string"
    )
    snap = build_index(docs2, cat, stemming=False, n_docs=len(DOCS),
                       positions=True)
    assert snap["positions"] is True
    got = _run(spark, cat, "hash join")
    exp = _brute_phrase("hash join")
    assert [d for d, _ in got] == [d for d, _ in exp]
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in exp], rtol=1e-9
    )


def _brute_prefix(phrase, k=10, max_expansions=50, docs=DOCS):
    """match_phrase_prefix oracle: last token expands to the
    lexicographically-first terms with that prefix; idf sums fixed
    positions + every expansion (Lucene MultiPhraseWeight)."""
    toks_q = phrase.split()
    fixed, prefix = toks_q[:-1], toks_q[-1]
    n = len(docs)
    toks = {d: _toks(t) for d, t, _ in docs}
    exp = _vocab_prefix(prefix, max_expansions, docs)
    if not exp:
        return []
    df = {
        t: sum(1 for d in toks if t in toks[d]) for t in set(fixed) | set(exp)
    }
    if any(df[t] == 0 for t in fixed):
        return []

    def idf(t):
        return math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))

    idf_sum = sum(idf(t) for t in fixed) + sum(idf(t) for t in exp)
    avgdl = sum(len(v) for v in toks.values()) / n
    m = len(fixed)
    out = []
    for d, _, _ in docs:
        tk = toks[d]
        pf = sum(
            1
            for i in range(len(tk) - m)
            if tk[i : i + m] == fixed and tk[i + m] in exp
        )
        if pf:
            dl = len(tk)
            s = idf_sum * pf / (pf + K1 * (1 - B + B * dl / avgdl))
            out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


_PREFIX_PHRASES = ["hash j", "merge s", "sort m", "hash jo"]


@pytest.mark.parametrize("phrase", _PREFIX_PHRASES)
def test_phrase_prefix_matches_bruteforce(spark, pos_catalog, phrase, spark_job):
    _check_phrase_prefix(spark, pos_catalog, phrase)


@pytest.mark.parametrize("phrase", _PREFIX_PHRASES)
def test_phrase_prefix_matches_bruteforce_in_process(spark, pos_catalog, phrase,
                                                     in_process):
    _check_phrase_prefix(spark, pos_catalog, phrase)


def _check_phrase_prefix(spark, pos_catalog, phrase):
    from datamart_spark.query import bm25_phrase_prefix_topk

    got = [
        (r["doc_id"], r["score"])
        for r in bm25_phrase_prefix_topk(spark, pos_catalog, phrase).collect()
    ]
    exp = _brute_prefix(phrase)
    assert [d for d, _ in got] == [d for d, _ in exp]
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in exp], rtol=1e-9
    )


def test_phrase_prefix_expansion_cap(spark, pos_catalog):
    from datamart_spark.query import bm25_phrase_prefix_topk
    from datamart_spark.query.phrase import expand_prefixes

    exp_all = expand_prefixes(spark, pos_catalog, {"s": 50})["s"]
    assert exp_all == sorted(exp_all)  # deterministic lexicographic order
    assert len(exp_all) >= 2
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_phrase_prefix_topk(
            spark, pos_catalog, "merge s", max_expansions=1
        ).collect()
    ]
    exp = _brute_prefix("merge s", max_expansions=1)
    assert [d for d, _ in got] == [d for d, _ in exp]
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in exp], rtol=1e-9
    )


def test_phrase_prefix_no_expansion(spark, pos_catalog):
    from datamart_spark.query import bm25_phrase_prefix_topk

    assert bm25_phrase_prefix_topk(
        spark, pos_catalog, "hash zzz"
    ).count() == 0


def test_phrase_prefix_absent_fixed_term(spark, pos_catalog):
    """A df=0 FIXED term kills the query even when the prefix expands —
    regression: the idf map also holds the expansions, so a size check
    (instead of membership) let the missing term through to a KeyError."""
    from datamart_spark.query import bm25_phrase_prefix_topk

    assert bm25_phrase_prefix_topk(
        spark, pos_catalog, "zzznotaword h"
    ).count() == 0


def _brute_spans(phrase, lang=None):
    terms = phrase.split()
    out = []
    for d, text, dl_lang in DOCS:
        if lang is not None and dl_lang != lang:
            continue
        tk = _toks(text)
        for i in range(len(tk) - len(terms) + 1):
            if tk[i : i + len(terms)] == terms:
                out.append((d, i))
    return out


@pytest.mark.parametrize(
    "phrase", ["hash join", "hash join hash", "sort merge join", "hash"]
)
def test_phrase_spans_matches_bruteforce(spark, pos_catalog, phrase):
    from datamart_spark.query import phrase_spans

    got = [
        (r["doc_id"], r["pos"])
        for r in phrase_spans(spark, pos_catalog, phrase).collect()
    ]
    assert got == _brute_spans(phrase)


def test_phrase_spans_filtered_and_empty(spark, pos_catalog):
    from datamart_spark.query import phrase_spans

    got = [
        (r["doc_id"], r["pos"])
        for r in phrase_spans(spark, pos_catalog, "hash join", lang="de").collect()
    ]
    assert got == _brute_spans("hash join", lang="de")
    assert phrase_spans(spark, pos_catalog, "join merge").count() == 0
    assert phrase_spans(spark, pos_catalog, "zzznotaword").count() == 0


def test_keyword_and_phrase_kernels_share_one_decode_pool(pos_catalog, monkeypatch):
    """No Spark job: the keyword kernel and then the phrase kernel run
    over one shard's column-dict rows (``wand._shard_groups``) with ONE
    decode-cache dict.  Every decode is a batched call
    (``wand._decode_payloads``: one ``vb_decode`` over the concatenated
    payloads of one column of a term's missing blocks), recorded by
    (term, column, block id).  No block payload (doc ids, tfs, doclens,
    positions) decodes twice and every doc-id payload decodes, so each
    decodes exactly once; sharing the pool changes no result."""
    from collections import Counter, defaultdict

    import pyarrow.dataset as pads

    from datamart_spark.query import phrase as phrase_mod
    from datamart_spark.query import wand

    terms = ["hash", "join"]
    snap = pos_catalog.current_snapshot()
    avgdl, tfn_ref = snap["avgdl"], snap["tfn_ref_avgdl"]
    idfs = {t: 1.0 for t in terms}
    cols = ["doc_ids_vb", "tfs_vb", "dls_vb", "pos_vb"]
    table = pos_catalog.snapshot_dataset("postings").to_table(
        columns=[*wand._POSTING_COLS, "pos_vb"],
        filter=pads.field("term").isin(terms))
    payload = {  # (shard, term, column, block id) → its stored bytes
        (r["shard"], r["term"], c, r["block_id"]): r[c]
        for r in table.to_pylist() for c in cols
    }

    vb_calls, batches = [], []
    real_vb, real_batch = wand.vb_decode, wand._decode_payloads

    def counting(buf):
        vb_calls.append(bytes(buf))
        return real_vb(buf)

    def recording(rows, col, idx):
        batches.append((term_of[id(rows)], col, rows["block_id"][idx].tolist()))
        return real_batch(rows, col, idx)

    # every query-layer module that binds its own vb_decode
    for mod in (wand, phrase_mod):
        if hasattr(mod, "vb_decode"):
            monkeypatch.setattr(mod, "vb_decode", counting)
    monkeypatch.setattr(wand, "_decode_payloads", recording)

    def keyword(by_term, caches):
        return wand._topk_from_terms(by_term, None, idfs, avgdl, 10, len(terms),
                                     False, tfn_ref, caches)

    def phrase(by_term, caches):
        return phrase_mod._phrase_topk_from_terms(
            by_term, None, [[t] for t in terms], 2.0, avgdl, 10, 0, caches)

    shards_run = 0
    for shard, by_term in wand._shard_groups(table):
        if len(by_term) < len(terms):
            continue
        term_of = {id(rows): t for t, rows in by_term.items()}
        vb_calls.clear()
        batches.clear()
        shared = defaultdict(dict)
        kw, ph = keyword(by_term, shared), phrase(by_term, shared)
        assert len(kw[0]) and len(ph[0])
        # each batch is one vb_decode of exactly its blocks' payloads
        assert vb_calls == [
            b"".join(payload[(shard, t, c, bid)] for bid in bids)
            for t, c, bids in batches
        ]
        decoded = Counter((t, c, bid) for t, c, bids in batches for bid in bids)
        assert max(decoded.values()) == 1, "a block payload decoded twice"
        for t, rows in by_term.items():
            for bid in rows["block_id"].tolist():
                assert (t, "doc_ids_vb", bid) in decoded
        for got, again in ((kw, keyword(by_term, defaultdict(dict))),
                           (ph, phrase(by_term, defaultdict(dict)))):
            np.testing.assert_array_equal(got[0], again[0])
            np.testing.assert_array_equal(got[1], again[1])
        shards_run += 1
    assert shards_run


def test_batch_with_phrase_specs(spark, pos_catalog):
    """A heterogeneous batch mixing keyword AND/OR, exact-phrase,
    phrase-prefix and a lang-filtered phrase is rank-identical to the
    brute-force scorers and the keyword oracle, per query."""
    from datamart_spark.query import bm25_topk_batch

    specs = [
        {"query_id": "kw_and", "query": "hash join"},
        {"query_id": "kw_or", "query": "hash join", "or_mode": True},
        {"query_id": "ph", "query": "hash join", "phrase": True},
        {"query_id": "ph_de", "query": "hash join", "phrase": True,
         "lang": "de"},
        {"query_id": "pp", "query": "merge s", "phrase_prefix": True},
        {"query_id": "ph_dead", "query": "hash zzznotaword", "phrase": True},
    ]
    got = {}
    for r in bm25_topk_batch(spark, pos_catalog, specs, k=10).collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))

    oracle = Bm25Oracle(
        pd.DataFrame(DOCS, columns=["doc_id", "text", "lang"]), stemming=False
    )
    exp = {
        "kw_and": oracle.topk("hash join", k=10),
        "kw_or": oracle.topk("hash join", k=10, or_mode=True),
        "ph": _brute_phrase("hash join"),
        "ph_de": _brute_phrase("hash join", lang="de"),
        "pp": _brute_prefix("merge s"),
    }
    assert "ph_dead" not in got
    for qid, want in exp.items():
        assert want, qid  # every live spec has hits to compare
        _assert_ranked(got.get(qid, []), want, qid)


def test_batch_phrase_needs_positions(spark, tmp_path):
    from datamart_spark.index import IndexCatalog, build_index
    from datamart_spark.query import bm25_topk_batch

    docs = spark.createDataFrame(
        [(d, t, lg) for d, t, lg in DOCS], "doc_id long, text string, lang string"
    )
    cat = IndexCatalog(str(tmp_path / "plainb"))
    build_index(docs, cat, stemming=False, resume=False, n_docs=len(DOCS))
    with pytest.raises(ValueError, match="positional"):
        bm25_topk_batch(
            spark, cat, [{"query_id": "p", "query": "hash join", "phrase": True}]
        )


def test_stemmed_phrase(spark, tmp_path):
    """Positions with stemming: surface forms collapse to one stem and
    the phrase matches across forms ('joining tables' ~ 'join table')."""
    rows = [
        (0, "joining tables quickly"),
        (1, "join table now"),
        (2, "table join now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cat = IndexCatalog(str(tmp_path / "stem"))
    build_index(docs, cat, stemming=True, resume=False, n_docs=len(rows),
                positions=True)
    got = _run(spark, cat, "join table")
    assert [d for d, _ in got] == [0, 1]


# --- ordered proximity (slop > 0) --------------------------------------------


def _brute_slop(term_sets, idf_terms, slop, k=10, lang=None, docs=DOCS):
    """span_near(in_order=true) oracle: per position-0 occurrence, the
    greedy smallest next offset per later position; matched iff the
    completion's gap = span − (m−1) ≤ slop, each match weighing
    1/(gap+1) into pf (Lucene SloppyPhraseScorer slop factor).
    ``term_sets[i]``: acceptable terms at position i."""
    n = len(docs)
    toks = {d: _toks(t) for d, t, _ in docs}
    df = {
        t: sum(1 for d in toks if t in toks[d])
        for t in {t for ts in term_sets for t in ts} | set(idf_terms)
    }
    if any(all(df[t] == 0 for t in ts) for ts in term_sets):
        return []
    idf_sum = sum(
        math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
        for t in idf_terms
        if df[t] > 0
    )
    avgdl = sum(len(v) for v in toks.values()) / n
    m = len(term_sets)
    out = []
    for d, text, dl_lang in docs:
        if lang is not None and dl_lang != lang:
            continue
        tk = toks[d]
        pf = 0.0
        for p0, tok in enumerate(tk):
            if tok not in term_sets[0]:
                continue
            prev, ok = p0, True
            for ts in term_sets[1:]:
                nxt = next(
                    (j for j in range(prev + 1, len(tk)) if tk[j] in ts), None
                )
                if nxt is None:
                    ok = False
                    break
                prev = nxt
            if ok:
                gap = prev - p0 - (m - 1)
                if gap <= slop:
                    pf += 1.0 / (gap + 1)
        if pf:
            dl = len(tk)
            s = idf_sum * pf / (pf + K1 * (1 - B + B * dl / avgdl))
            out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


_SLOP_CASES = [
    ("hash join", 1),       # admits 'hash ... join' one apart
    ("hash join", 3),       # wider window, weighted 1/(gap+1)
    ("join table", 2),      # crosses 'hash' in doc 2
    ("sort join", 2),       # never adjacent, only sloppy matches
    ("merge join", 4),      # far apart in doc 4
    ("hash join hash", 2),  # m=3 greedy chain with repeats
    ("merge hash runs", 5), # m=3 spanning most of doc 0
]


@pytest.mark.parametrize(("phrase", "slop"), _SLOP_CASES)
def test_slop_matches_bruteforce(spark, pos_catalog, phrase, slop, spark_job):
    _check_slop(spark, pos_catalog, phrase, slop)


@pytest.mark.parametrize(("phrase", "slop"), _SLOP_CASES)
def test_slop_matches_bruteforce_in_process(spark, pos_catalog, phrase, slop,
                                            in_process):
    _check_slop(spark, pos_catalog, phrase, slop)


def _check_slop(spark, pos_catalog, phrase, slop):
    got = _run(spark, pos_catalog, phrase, slop=slop)
    terms = phrase.split()
    exp = _brute_slop([[t] for t in terms], terms, slop)
    assert [d for d, _ in got] == [d for d, _ in exp]
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in exp], rtol=1e-9
    )


def test_slop_degenerates_to_exact_on_adjacent_matches(spark, pos_catalog):
    """When every in-order match is exactly adjacent (gap 0, weight 1),
    any slop gives the exact-phrase scores — the 1/(gap+1) weighting
    and greedy chain must not perturb the degenerate case."""
    exact = _run(spark, pos_catalog, "merge sort")
    sloppy = _run(spark, pos_catalog, "merge sort", slop=5)
    assert [d for d, _ in exact] == [d for d, _ in sloppy]
    np.testing.assert_allclose(
        [s for _, s in exact], [s for _, s in sloppy], rtol=1e-9
    )


def test_slop_is_ordered_only(spark, pos_catalog):
    """'beats merge' never appears in order even though both terms are
    in doc 0 — span_near(in_order=true) must NOT match reversed terms
    (the documented divergence from ES match_phrase slop)."""
    assert _run(spark, pos_catalog, "beats merge", slop=0) == []
    assert _run(spark, pos_catalog, "beats merge", slop=1) == []
    # the forward order matches once slop covers the gap
    assert _run(spark, pos_catalog, "merge beats", slop=1) != []


def test_slop_lang_filter(spark, pos_catalog):
    got = _run(spark, pos_catalog, "join table", slop=3, lang="de")
    exp = _brute_slop([["join"], ["table"]], ["join", "table"], 3, lang="de")
    assert [d for d, _ in got] == [d for d, _ in exp]
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in exp], rtol=1e-9
    )


def test_slop_validation(spark, pos_catalog):
    from datamart_spark.query import bm25_phrase_prefix_topk, bm25_topk_batch

    with pytest.raises(ValueError, match="slop"):
        bm25_phrase_topk(spark, pos_catalog, "hash join", slop=-1)
    with pytest.raises(ValueError, match="slop"):
        bm25_phrase_prefix_topk(spark, pos_catalog, "hash j", slop=-2)
    with pytest.raises(ValueError, match="slop"):
        bm25_topk_batch(
            spark, pos_catalog,
            [{"query_id": "x", "query": "hash join", "slop": 2}],
        )


def test_prefix_with_slop_matches_bruteforce(spark, pos_catalog, spark_job):
    _check_prefix_with_slop(spark, pos_catalog)


def test_prefix_with_slop_matches_bruteforce_in_process(spark, pos_catalog,
                                                        in_process):
    _check_prefix_with_slop(spark, pos_catalog)


def _check_prefix_with_slop(spark, pos_catalog):
    """slop composes with the last-position expansion set: greedy takes
    the smallest next offset matching ANY expansion."""
    from datamart_spark.query import bm25_phrase_prefix_topk

    exp_terms = _vocab_prefix("j")
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_phrase_prefix_topk(
            spark, pos_catalog, "hash j", slop=2
        ).collect()
    ]
    exp = _brute_slop([["hash"], exp_terms], ["hash"] + exp_terms, 2)
    assert [d for d, _ in got] == [d for d, _ in exp]
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in exp], rtol=1e-9
    )


@pytest.mark.parametrize("slop", [0, 2])
def test_phrase_prefix_expansion_fenced_out_of_candidates(spark, tmp_path, slop):
    """An expansion term present in the shard whose every block fence
    misses the candidates decodes to no positions; those must stay
    int64 so the chain's doc·2^33+pos keys are not promoted to float.
    One shard: 'hash jo' expands to join and jotted, and jotted's fence
    [2, 2] misses the hash∧jo* candidate doc 0."""
    from datamart_spark.query import bm25_phrase_prefix_topk

    docs = [(0, "hash join", "en"), (1, "x", "en"), (2, "jotted", "en")]
    cat = IndexCatalog(str(tmp_path / "cat"))
    build_index(
        spark.createDataFrame(docs, "doc_id long, text string, lang string"),
        cat, n_shards=1, stemming=False, resume=False, n_docs=len(docs),
        positions=True,
    )
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_phrase_prefix_topk(spark, cat, "hash jo", slop=slop).collect()
    ]
    exp_terms = _vocab_prefix("jo", docs=docs)
    assert exp_terms == ["join", "jotted"]
    exp = _brute_slop([["hash"], exp_terms], ["hash"] + exp_terms, slop,
                      docs=docs)
    if slop == 0:
        assert exp == _brute_prefix("hash jo", docs=docs)
    assert [d for d, _ in exp] == [0]
    assert [d for d, _ in got] == [d for d, _ in exp]
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in exp], rtol=1e-9
    )

def test_batch_slop_rank_identical(spark, pos_catalog):
    """A batch mixing exact, sloppy and filtered-sloppy phrase specs is
    rank-identical to the brute-force scorers, per query."""
    from datamart_spark.query import bm25_topk_batch

    specs = [
        {"query_id": "exact", "query": "hash join", "phrase": True},
        {"query_id": "s1", "query": "hash join", "phrase": True, "slop": 1},
        {"query_id": "s3", "query": "hash join", "phrase": True, "slop": 3},
        {"query_id": "s_de", "query": "join table", "phrase": True,
         "slop": 3, "lang": "de"},
        {"query_id": "pp_s", "query": "hash j", "phrase_prefix": True,
         "slop": 2},
    ]
    got = {}
    for r in bm25_topk_batch(spark, pos_catalog, specs, k=10).collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))

    hj = [["hash"], ["join"]]
    j_exp = _vocab_prefix("j")
    exp = {
        "exact": _brute_phrase("hash join"),
        "s1": _brute_slop(hj, ["hash", "join"], 1),
        "s3": _brute_slop(hj, ["hash", "join"], 3),
        "s_de": _brute_slop([["join"], ["table"]], ["join", "table"], 3,
                            lang="de"),
        "pp_s": _brute_slop([["hash"], j_exp], ["hash"] + j_exp, 2),
    }
    for qid, want in exp.items():
        _assert_ranked(got.get(qid, []), want, qid)


def test_search_facade_phrase(spark, pos_catalog):
    """search(phrase=True, slop=...) hydrates phrase hits exactly like
    keyword hits and rejects contradictory flags."""
    from datamart_spark.query.search import search

    got = [
        (r["doc_id"], r["score"])
        for r in search(spark, pos_catalog, "hash join", k=10,
                        phrase=True, slop=2).collect()
    ]
    exp = _brute_slop([["hash"], ["join"]], ["hash", "join"], 2)
    _assert_ranked(got, exp)
    with pytest.raises(ValueError, match="or_mode"):
        search(spark, pos_catalog, "hash join", phrase=True, or_mode=True)
    with pytest.raises(ValueError, match="phrase"):
        search(spark, pos_catalog, "hash join", slop=2)
# To be appended to tests/test_phrase.py


def _brute_passages(phrase, window, lang=None):
    terms = phrase.split()
    m = len(terms)
    out = []
    for d, text, dl_lang in DOCS:
        if lang is not None and dl_lang != lang:
            continue
        tk = _toks(text)
        for i in range(len(tk) - m + 1):
            if tk[i : i + m] == terms:
                out.append((d, i, " ".join(tk[max(0, i - window):i + m + window])))
    return out


@pytest.mark.parametrize(
    ("phrase", "window"),
    [("hash join", 2), ("hash join", 0), ("sort merge join", 3), ("hash", 1)],
)
def test_passages_match_bruteforce(spark, pos_catalog, phrase, window):
    from datamart_spark.query.phrase import passages

    docs = spark.createDataFrame(
        [(d, t) for d, t, _ in DOCS], "doc_id long, text string"
    )
    got = [
        (r["doc_id"], r["pos"], r["passage"])
        for r in passages(spark, pos_catalog, docs, phrase, window=window).collect()
    ]
    assert got == _brute_passages(phrase, window)


def test_passages_filtered_empty_and_validation(spark, pos_catalog):
    from datamart_spark.query.phrase import passages

    docs = spark.createDataFrame(
        [(d, t) for d, t, _ in DOCS], "doc_id long, text string"
    )
    got = [
        (r["doc_id"], r["pos"], r["passage"])
        for r in passages(spark, pos_catalog, docs, "hash join", window=2,
                          lang="de").collect()
    ]
    assert got == _brute_passages("hash join", 2, lang="de")
    assert passages(spark, pos_catalog, docs, "zzznotaword").count() == 0
    with pytest.raises(ValueError, match="window"):
        passages(spark, pos_catalog, docs, "hash join", window=-1)


def test_passages_stemmed_index_surface_text(spark, tmp_path):
    """On a stemmed index the span ordinals index the analyzed stream;
    passages must slice the SURFACE tokens at those ordinals (analysis
    is positionally 1:1)."""
    from datamart_spark.query.phrase import passages

    rows = [(0, "quickly joining tables wins races")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cat = IndexCatalog(str(tmp_path / "stemp"))
    build_index(docs, cat, stemming=True, resume=False, n_docs=1,
                positions=True)
    got = [
        (r["doc_id"], r["pos"], r["passage"])
        for r in passages(spark, cat, docs, "join table", window=1).collect()
    ]
    assert got == [(0, 1, "quickly joining tables wins")]


def test_batch_positional_spec_validation(spark, pos_catalog):
    from datamart_spark.query import bm25_topk_batch

    with pytest.raises(ValueError, match="or_mode"):
        bm25_topk_batch(spark, pos_catalog, [
            {"query_id": "x", "query": "hash join", "phrase": True,
             "or_mode": True},
        ])
    with pytest.raises(ValueError, match="not both"):
        bm25_topk_batch(spark, pos_catalog, [
            {"query_id": "x", "query": "hash join", "phrase": True,
             "phrase_prefix": True},
        ])
    with pytest.raises(ValueError, match="max_expansions"):
        bm25_topk_batch(spark, pos_catalog, [
            {"query_id": "x", "query": "hash j", "phrase_prefix": True,
             "max_expansions": 0},
        ])


def test_batch_prefix_max_expansions_and_one_scan(spark, pos_catalog):
    """Per-spec max_expansions matches the brute-force prefix scorer,
    and two specs sharing a prefix with different caps both get the
    lexicographically-first slice of ONE resolution."""
    from datamart_spark.query import bm25_topk_batch

    specs = [
        {"query_id": "cap1", "query": "merge s", "phrase_prefix": True,
         "max_expansions": 1},
        {"query_id": "capall", "query": "merge s", "phrase_prefix": True},
    ]
    got = {}
    for r in bm25_topk_batch(spark, pos_catalog, specs, k=10).collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, mx in (("cap1", 1), ("capall", 50)):
        _assert_ranked(got.get(qid, []), _brute_prefix("merge s", max_expansions=mx),
                       qid)


def test_expand_prefixes_matches_expand_prefix(spark, pos_catalog):
    """One resolution of many prefixes equals, per prefix, the
    lexicographically-first terms of the fixture vocabulary."""
    from datamart_spark.query.phrase import expand_prefixes

    reqs = {"s": 50, "j": 50, "ha": 1, "zzz": 50}
    many = expand_prefixes(spark, pos_catalog, reqs)
    for p, mx in reqs.items():
        assert many[p] == _vocab_prefix(p, mx), p
    assert expand_prefixes(spark, pos_catalog, {}) == {}


def test_positions_correct_on_mixed_ascii_unicode_batch(spark, tmp_path):
    """The build's batch tokenizer routes pure-ASCII rows through the
    Arrow byte-level fast path and everything else through the python
    path, merging the two streams (analyzer.tokenize_batch_flat).  A
    positional build over a MIXED batch must still record per-doc token
    ordinals correctly for BOTH stream halves — this pins phrase span
    offsets against a brute-force python tokenization of the same
    docs."""
    from datamart_spark.analyzer import analyze_str
    from datamart_spark.query.phrase import phrase_spans

    docs_rows = [
        (0, "alpha beta gamma alpha beta", "en"),
        (1, "café beta naïve alpha beta gamma", "fr"),     # non-ASCII → slow path
        (2, "alpha beta 日本語 gamma alpha beta", "en"),    # CJK → slow path
        (3, "can't stop alpha beta won't stop", "en"),      # mid-join char → slow path (uax29 only)
        (4, "beta alpha beta alpha", "en"),
        (5, "", "en"),
    ]
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string, lang string")
    cat = IndexCatalog(str(tmp_path / "mixed_pos"))
    build_index(docs, cat, n_shards=2, stemming=False, resume=False,
                n_docs=len(docs_rows), positions=True)

    for phrase in ("alpha beta", "beta gamma", "beta alpha"):
        got = sorted(
            (r["doc_id"], r["pos"])
            for r in phrase_spans(spark, cat, phrase).collect()
        )
        terms = phrase.split()
        want = []
        for d, text, _ in docs_rows:
            tk = analyze_str(text, None, tokenizer="simple")
            for i in range(len(tk) - len(terms) + 1):
                if tk[i:i + len(terms)] == terms:
                    want.append((d, i))
        assert got == sorted(want), phrase
