"""Phrase top-k over a positional index: exact (Lucene match_phrase,
slop=0) and ordered proximity (span_near in_order=true, slop>0).

The reference exposes keyword AND/OR matching only (its fulltext layer
is Elasticsearch `multi_match`, apiserver/apiserver/search/__init__.py:
55-77); phrase matching is the canonical next capability of an inverted
index and is implemented here the way Lucene's PhraseQuery does it:

- tf   = phraseFreq: the number of token offsets p such that
  term_i appears at p+i for every phrase position i;
- idf  = Σ_i idf(term_i) over the phrase's positions (a repeated term
  contributes once per occurrence — Lucene sums the idf of its
  TermStatistics array, which lists each position's term);
- score = idf_sum · pf / (pf + k1·(1−b + b·dl/avgdl)) — the same BM25
  tf-normalization as a single synthetic term with tf = phraseFreq.

Every entry point here is planned by query/batch.py — a phrase query
is a batch of one, and a batch may mix phrase, prefix and keyword
specs — and runs through the one shard-job skeleton
(wand._shard_kernel_job):

  postings scan (`term IN (phrase terms)` pushed to row-group pruning,
  positional payload column read only when the plan has a positional
  spec — plain BM25 queries never select pos_vb, so a positional index
  costs them nothing)
  → per-shard groups [with the filter doc-id sets when filtered] — in
    process for a small selection, else one Spark job
  → per-shard kernel: AND-intersect candidates via block fences
    (rarest term drives), decode positions only for blocks that can
    contain a candidate, the ordered chain, local top-k
    (``_phrase_topk_from_terms``) or the chain's start offsets
    (``phrase_spans``)
  → global merge over ≤ k·S tiny rows.

One positional kernel (``_slop_matches``) serves every slop: per
position-0 occurrence, a greedy vectorized next-offset chain finds the
minimal in-order completion, and a start matches when its gap (extra
tokens between first and last) is ≤ slop.  Each match contributes
Lucene's 1/(gap+1) slop factor to the weighted phrase frequency.  An
exact phrase is slop 0: gap 0 means every later term sits at the
next offset, so the chain counts exactly the adjacent runs, with
weight 1 each.  This is span_near(in_order=true) — NOT ES
match_phrase's sloppy mode, which also admits reordered terms
(transpositions cost 2); the in-order form is the documented choice
because its greedy chain is provably minimal per start and stays one
vectorized pass.  Keys are ``local_doc·2^33 + pos`` int64s, so each
chain step is one sorted searchsorted; no per-row python anywhere
(north rule §2.10).
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..analyzer import analyze_str
from ..index.build import B, K1
from .bm25 import _local_frame
from .wand import (
    _NO_HITS, _POSTING_COLS, _decode_blocks, _local_topk, _ragged_gather,
    _shard_kernel_job,
)

#: the keyword scan columns plus the position payload
_PHRASE_COLS = [*_POSTING_COLS, "pos_vb"]


def _phrase_topk_from_terms(
    by_term: dict[str, dict],
    filter_ids: np.ndarray | None,
    term_sets: list[list[str]],
    idf_sum: float,
    avgdl: float,
    k: int,
    slop: int,
    caches: dict[str, dict],
) -> tuple[np.ndarray, np.ndarray]:
    """One positional query's top-k (doc_ids, scores) within one
    shard, over the shard's term → posting-rows map (the batch
    kernel's positional counterpart of ``wand._topk_from_terms``;
    ``caches`` maps term → its ``_decode_blocks`` pool, shared with the
    kernel's keyword specs).

    ``term_sets[i]`` is the set of terms acceptable at phrase position
    i — singletons for an exact phrase, and the prefix's expansion set
    at the last position for match_phrase_prefix (the Lucene
    MultiPhraseQuery shape).  A document is a candidate iff for EVERY
    position at least one of its terms is present.  pf is the sum of
    1/(gap+1) over the chain's matches (``_slop_matches``): at slop 0,
    the number of offsets p where position i matches some term of set
    i at p+i."""
    sm = _slop_matches(by_term, filter_ids, term_sets, slop, caches)
    if sm is None:
        return _NO_HITS
    cand, dl_cand, start, gap = sm
    pf = np.bincount(start >> 33, weights=1.0 / (gap + 1.0), minlength=cand.size)
    hit = pf > 0
    pfh = pf[hit]
    norm = K1 * (1.0 - B + B * dl_cand[hit] / avgdl)
    score = idf_sum * pfh / (pfh + norm)
    return _local_topk(cand[hit], score, k)


def _gather_positions(
    by_term: dict[str, dict],
    filter_ids: np.ndarray | None,
    term_sets: list[list[str]],
    caches: dict[str, dict],
) -> tuple[np.ndarray, np.ndarray, list[list[str]],
           dict[str, tuple[np.ndarray, np.ndarray]]] | None:
    """Front half of the positional kernel: candidate docs (present in
    EVERY position's term set, post-filter) plus the decoded
    (local_doc, position) pairs of each surviving term.  Returns
    (cand, dl_cand, present_sets, keys_of) or None when the shard
    cannot match.  The intersection passes read only the blocks'
    doc-id/tf/doclen payloads; positions decode afterwards, and only
    for blocks whose fence holds a surviving candidate."""
    if filter_ids is not None and filter_ids.size == 0:
        return None
    # per position: the subset of its terms present in this shard
    present_sets: list[list[str]] = []
    for ts in term_sets:
        here = [t for t in ts if t in by_term]
        if not here:
            return None  # no acceptable term for this position here
        present_sets.append(here)

    def union_docs(ts: list[str], cand: np.ndarray | None) -> np.ndarray:
        parts = [_decode_blocks(by_term[t], cand, caches[t])[0] for t in ts]
        if len(parts) == 1:
            return parts[0]
        return np.unique(np.concatenate(parts))

    # 1. candidate intersection across positions, smallest set driving
    set_order = np.argsort([
        sum(int(by_term[t]["n"].sum()) for t in ts) for ts in present_sets
    ])
    cand = union_docs(present_sets[set_order[0]], None)
    if filter_ids is not None:
        cand = cand[np.isin(cand, filter_ids)]
    for si in set_order[1:]:
        if cand.size == 0:
            return None
        cand = cand[np.isin(cand, union_docs(present_sets[si], cand))]
    if cand.size == 0:
        return None

    # 2. per-term candidate positions (terms may repeat across
    # positions — decode once each) + doclen fill from any present term
    keys_of: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    dl_cand = np.zeros(cand.size, dtype=np.float64)
    for t in {t for ts in present_sets for t in ts}:
        d, tf, dl, flat = _decode_blocks(by_term[t], cand, caches[t],
                                         positions=True)
        loc = np.searchsorted(d, cand)
        loc_c = np.minimum(loc, max(d.size - 1, 0))
        has = d[loc_c] == cand if d.size else np.zeros(cand.size, bool)
        dl_cand[has] = dl[loc_c[has]].astype(np.float64)
        sel = loc_c[has]
        tf64 = tf.astype(np.int64)
        counts = tf64[sel]
        idx = _ragged_gather((np.cumsum(tf64) - tf64)[sel], counts)
        doc_local = np.repeat(np.flatnonzero(has).astype(np.int64), counts)
        keys_of[t] = (doc_local, flat[idx])
    return cand, dl_cand, present_sets, keys_of


def _slop_matches(
    by_term: dict[str, dict],
    filter_ids: np.ndarray | None,
    term_sets: list[list[str]],
    slop: int,
    caches: dict[str, dict],
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray] | None:
    """The one positional kernel — ordered proximity matches
    (span_near, in_order=true), with the exact phrase as slop 0: for
    each occurrence of a position-0 term, later positions greedily take
    their SMALLEST matching offset strictly after the previous one —
    optimal for a fixed start (exchange argument: the greedy next
    offset minimizes the final span), so a start matches iff ANY
    in-order completion has gap = span − (m−1) ≤ slop.  A start is
    dropped as soon as its partial gap (next − start) − i exceeds
    slop: the gap only grows along the chain, so this is exact, and at
    slop 0 each step keeps only adjacent continuations, the same work
    as an adjacency join.  Returns (cand, dl_cand, start, gap) — one
    ``local_doc·2^33 + pos`` start key and one gap per match, starts
    ascending — or None."""
    g = _gather_positions(by_term, filter_ids, term_sets, caches)
    if g is None:
        return None
    cand, dl_cand, present_sets, keys_of = g

    def raw_keys(i: int) -> np.ndarray:
        parts = []
        for t in present_sets[i]:
            doc_t, pos_t = keys_of[t]
            parts.append(doc_t * (1 << 33) + pos_t)
        if len(parts) == 1:
            return parts[0]  # already sorted (docs asc, pos asc)
        return np.sort(np.concatenate(parts))  # one token per offset ⇒ unique

    cur = raw_keys(0)
    start = cur
    for i in range(1, len(term_sets)):
        if cur.size == 0:
            return None
        keys_i = raw_keys(i)
        if keys_i.size == 0:
            return None
        # smallest key of position i strictly after cur, same doc.
        # cur stays sorted: the next-after map is monotone nondecreasing.
        idx = np.searchsorted(keys_i, cur, side="right")
        ok = idx < keys_i.size
        nxt = keys_i[np.minimum(idx, keys_i.size - 1)]
        ok &= (nxt >> 33) == (cur >> 33)
        ok &= (nxt - start) - i <= slop  # same doc: key gap = offset gap
        cur, start = nxt[ok], start[ok]
    if cur.size == 0:
        return None
    return cand, dl_cand, start, cur - start - (len(term_sets) - 1)


def bm25_phrase_topk(
    spark: SparkSession,
    catalog,
    phrase: str,
    k: int = 10,
    slop: int = 0,
    lang: str | None = None,
    ts_lo=None,
    ts_hi=None,
) -> DataFrame:
    """Phrase BM25 top-k against a positional index
    (``build_index(..., positions=True)``) — a planned batch of one
    (query/batch.py).

    ``slop=0`` (default) is the exact phrase — Lucene match_phrase.
    ``slop>0`` is ordered proximity — span_near(in_order=true): the
    terms must appear in order with at most ``slop`` extra tokens
    between first and last; each match weighs 1/(gap+1) into the
    phrase frequency (Lucene's SloppyPhraseScorer slop factor).
    Unlike ES match_phrase's slop, reordered terms never match — the
    in-order semantics keep the kernel one vectorized greedy pass.
    A one-token phrase is the keyword query on that token."""
    from .batch import _topk_one

    return _topk_one(spark, catalog, {
        "query": phrase, "phrase": True, "slop": slop, "lang": lang,
        "ts_lo": ts_lo, "ts_hi": ts_hi,
    }, k)


_SPANS_SCHEMA = "doc_id long, pos int"


def phrase_spans(
    spark: SparkSession,
    catalog,
    phrase: str,
    lang: str | None = None,
    ts_lo=None,
    ts_hi=None,
) -> DataFrame:
    """Every occurrence of the exact phrase as (doc_id, pos) rows,
    ``pos`` the 0-based token offset of the phrase's first term — the
    passage-extraction primitive a training-data pipeline needs
    (retrieve matching windows, not just ranked doc ids).  Same plan
    and scan as ``bm25_phrase_topk``; the shard kernel emits the slop-0
    chain's start offsets instead of folding them into phrase
    frequencies."""
    spans, _, _ = _phrase_spans_df(spark, catalog, phrase, lang, ts_lo, ts_hi)
    if isinstance(spans, pd.DataFrame):
        spans = spans.sort_values(["doc_id", "pos"])
        return _local_frame(spark, spans, _SPANS_SCHEMA)
    return spans.orderBy("doc_id", "pos")


def _phrase_spans_df(
    spark: SparkSession,
    catalog,
    phrase: str,
    lang: str | None = None,
    ts_lo=None,
    ts_hi=None,
) -> tuple[DataFrame | pd.DataFrame, str, int]:
    """``phrase_spans`` without the final global sort — the join-side
    form ``passages`` consumes, a pandas frame when the kernel ran
    in-process or the plan has no live spec — plus the snapshot's
    tokenizer and the phrase length."""
    from .batch import _plan_queries

    plan = _plan_queries(spark, catalog, [{
        "query": phrase, "phrase": True, "lang": lang, "ts_lo": ts_lo,
        "ts_hi": ts_hi,
    }])
    if not plan.specs:
        return pd.DataFrame({"doc_id": [], "pos": []}), plan.tokenizer, 0
    spec = plan.specs[0]
    m = len(spec.term_sets)

    def emit(by_term, fids_by_ctx) -> dict[str, np.ndarray]:
        sm = _slop_matches(by_term, fids_by_ctx[spec.cid], spec.term_sets, 0,
                           defaultdict(dict))
        if sm is None:
            return {"doc_id": np.zeros(0, np.int64), "pos": np.zeros(0, np.int32)}
        cand, _, start, _ = sm
        return {
            "doc_id": cand[start >> 33].astype(np.int64),
            "pos": (start & ((1 << 33) - 1)).astype(np.int32),
        }

    spans = _shard_kernel_job(
        spark, catalog, plan.scan_terms, emit, _SPANS_SCHEMA, plan.contexts,
        cols=_PHRASE_COLS,
    )
    return spans, plan.tokenizer, m


_PASSAGE_SCHEMA = "doc_id long, pos int, passage string"


def passages(
    spark: SparkSession,
    catalog,
    docs: DataFrame,
    phrase: str,
    window: int = 10,
    lang: str | None = None,
    ts_lo=None,
    ts_hi=None,
) -> DataFrame:
    """Every occurrence of the exact phrase as a context window of
    surface text: (doc_id, pos, passage) where ``passage`` is the
    ``window`` tokens either side of the match, space-joined — the
    retrieve-matching-windows-with-context primitive of a training-data
    pipeline (the index stores positions, not text, so the caller
    passes the document table).

    One spans job (``phrase_spans``' pruned scan + kernel) → equi-join
    with ``docs`` on doc_id (only matched documents' text moves) → one
    mapInPandas pass that re-tokenizes each matched document ONCE with
    the snapshot's tokenizer and slices [pos−window, pos+m−1+window].
    Surface ordinals equal index ordinals because analysis is
    positionally 1:1 — stemming maps token→stem in place and stopwords
    are indexed, never dropped — so the slice needs no stemmer."""
    if window < 0:
        raise ValueError(f"window must be >= 0, got {window}")
    spans, tokenizer, m = _phrase_spans_df(spark, catalog, phrase, lang,
                                           ts_lo, ts_hi)
    if isinstance(spans, pd.DataFrame):
        spans = _local_frame(spark, spans, _SPANS_SCHEMA)
    joined = spans.join(docs.select("doc_id", "text"), "doc_id")

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            parts = []
            for doc_id, g in pdf.groupby("doc_id", sort=False):
                toks = analyze_str(
                    g["text"].iloc[0], None, tokenizer=tokenizer
                )
                for pos in g["pos"]:
                    lo = max(0, int(pos) - window)
                    parts.append((
                        int(doc_id), int(pos),
                        " ".join(toks[lo:int(pos) + m + window]),
                    ))
            if parts:
                yield pd.DataFrame(
                    parts, columns=["doc_id", "pos", "passage"]
                )

    return (
        joined.mapInPandas(gen, schema=_PASSAGE_SCHEMA)
        .orderBy("doc_id", "pos")
    )


def expand_prefixes(
    spark: SparkSession, catalog, reqs: dict[str, int]
) -> dict[str, list[str]]:
    """Resolve every prefix of a plan in ONE term_stats scan: for each
    prefix, the lexicographically-first ``reqs[prefix]`` index terms
    extending it — deterministic, since Lucene expands in
    term-dictionary order, which IS lexicographic.  The scan filters on
    the OR of the pushed ``startswith`` predicates (StringStartsWith
    reaches the parquet source), a tiny broadcast prefix table joins
    each surviving term to the prefixes it extends, and a per-prefix
    window keeps the first ``reqs[prefix]`` terms, so the collect stays
    bounded by Σ max_expansions."""
    if not reqs:
        return {}
    cond = None
    for p in sorted(reqs):
        c = F.col("term").startswith(p)
        cond = c if cond is None else (cond | c)
    pf = pd.DataFrame(sorted(reqs.items()), columns=["prefix", "mx"])
    pf = _local_frame(spark, pf, "prefix string, mx int")
    t = catalog.read_snapshot(spark, "term_stats").where(cond).select("term")
    w = Window.partitionBy("prefix").orderBy("term")
    rows = (
        t.join(F.broadcast(pf), F.col("term").startswith(F.col("prefix")))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.col("mx"))
        .select("prefix", "term")
        .collect()
    )
    out: dict[str, list[str]] = {p: [] for p in reqs}
    for r in rows:
        out[r["prefix"]].append(r["term"])
    for p in out:
        out[p].sort()
    return out


def bm25_phrase_prefix_topk(
    spark: SparkSession,
    catalog,
    phrase: str,
    k: int = 10,
    max_expansions: int = 50,
    slop: int = 0,
    lang: str | None = None,
    ts_lo=None,
    ts_hi=None,
) -> DataFrame:
    """match_phrase_prefix (search-as-you-type): the LAST token of
    ``phrase`` is a prefix; it expands to the lexicographically-first
    ``max_expansions`` index terms (ES match_phrase_prefix semantics,
    default cap 50), and a document matches where the fixed terms are
    followed by ANY expansion — Lucene's MultiPhraseQuery.  Scoring
    follows MultiPhraseWeight: idf is summed over the fixed positions
    AND every expansion's term statistics; tf is the match count.

    The prefix is lowercased but NOT stemmed — expansions match raw
    index terms (on a stemmed index they are stems), mirroring how ES
    keyword-expands against the term dictionary rather than analyzing
    the fragment.  ``slop`` as in ``bm25_phrase_topk`` (ordered
    proximity; the expansion set is still the last position).  A
    planned batch of one (query/batch.py)."""
    from .batch import _topk_one

    return _topk_one(spark, catalog, {
        "query": phrase, "phrase_prefix": True,
        "max_expansions": max_expansions, "slop": slop, "lang": lang,
        "ts_lo": ts_lo, "ts_hi": ts_hi,
    }, k)
