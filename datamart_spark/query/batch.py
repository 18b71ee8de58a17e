"""The query planner: every BM25 search is a planned batch.

One keyword query, one phrase, a phrase prefix or a 10^3-query
relevance sweep are all the same program.  ``bm25_topk_blockmax``,
``bm25_phrase_topk``, ``bm25_phrase_prefix_topk`` and ``search`` are
batches of one; ``phrase_spans`` and ``passages`` take their plan from
here and swap only the shard kernel.  The bulk-evaluation shape of a
training-data pipeline (relevance labeling, query-set regression
sweeps, dedup-against-reference-set) is where batching pays: the
reference answers one ES request per query
(apiserver/apiserver/search/__init__.py:55-105), while a batch here
pays one scan and one kernel pass however many queries overlap in
terms (Zipf: a handful of frequent terms appear in a large fraction of
queries).

Planning (driver, ``_plan_queries``): the snapshot and format checks;
per-spec flag validation; analysis (keyword terms dedup; a phrase keeps
its ordered token sequence, and a one-token exact phrase becomes the
keyword AND query on that token); ONE ``expand_prefixes`` term_stats
scan for every distinct phrase prefix; ONE idf fetch for the union of
all terms; then df=0 pruning — an AND or phrase spec with a position
that has no df>0 term can match nothing and is dropped, an OR spec
keeps its df>0 terms.

Execution (wand._shard_kernel_job, the one skeleton):

  postings scan, `term IN (union of every live spec's terms)` pushed
  to parquet row-group pruning — ONE scan regardless of query count
  → one sort into per-(shard, term) column dicts (wand._shard_groups)
    [with the distinct filter contexts' doc-id sets, tagged by context
    id, when any spec is filtered]
  → per-shard kernel: score each spec over its term subset
    (wand._topk_from_terms / phrase._phrase_topk_from_terms, each
    returning (doc_ids, scores) arrays) through the one block decoder
    (wand._decode_blocks) and one per-term decode cache shared by every
    spec, keyword and phrase alike — a posting block's payloads decode
    at most once per shard no matter how many queries touch its term;
    the kernel concatenates its specs' arrays into one set of
    (query_id, doc_id, score) columns
  → merge to ≤ k rows per spec, (score desc, doc_id asc).

``_shard_kernel_job`` picks the branch from the bytes the scan selects.
A selection up to ``wand._IN_PROCESS_MAX_BYTES`` (94 MiB) runs
in-process: a pyarrow read of the selected row groups, the kernel once
per shard on the driver, one frame of their concatenated columns and a
pandas merge — no Spark job.  A larger one is one ``applyInPandas`` job
(a cogroup with the cached filter doc ids when filtered), merged by
``orderBy(score desc, doc_id asc).limit(k)`` for one live spec
(TakeOrderedAndProject, no exchange) or one per-query window over
≤ k·S·Q tiny local rows for several.  A plan
with no live spec runs nothing.  Public entry points return a DataFrame
either way; the in-process result is built from Arrow (a LocalRelation,
which collects without a job).

Scale: a distributed call is one job whose shuffle volume is the union
scan (≤ sum of the individual scans, typically far less under term
overlap) plus k·S·Q result rows.  Query fan-out lives in the kernel
loop, not the scheduler — at 10^3 queries the per-shard kernel is a
tight numpy loop over an already-decoded block pool, which is exactly
the layout a 1000-executor cluster wants: S shard tasks, each doing Q
independent small scoring problems with shared immutable inputs.
"""

from __future__ import annotations

from collections import defaultdict
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..analyzer import StemCache, analyze_query, analyze_str
from .bm25 import _committed_snapshot, _local_frame, idf_map
from .phrase import _PHRASE_COLS, _phrase_topk_from_terms, expand_prefixes
from .wand import _NO_HITS, _POSTING_COLS, _shard_kernel_job, _topk_from_terms

#: fixed reference avgdl the baked per-block max_tfn is quantized at —
#: single definition in index.build (a drifted duplicate would silently
#: mis-scale the baked bound and block pruning could drop true top-k
#: docs).  Queries read the value the INDEX was built with from the
#: snapshot manifest; this import is only the fallback for format-2
#: snapshots that predate the manifest field.
from ..index.build import TFN_REF_AVGDL

_RESULT_SCHEMA = "query_id string, doc_id long, score double"


class _Spec(NamedTuple):
    """One live query of a plan."""

    query_id: str | None
    #: acceptable terms per position: a keyword spec has one singleton
    #: per term; a phrase one per token; a phrase prefix ends with its
    #: expansion set (the Lucene MultiPhraseQuery shape)
    term_sets: list[list[str]]
    positional: bool
    or_mode: bool
    slop: int
    #: MultiPhraseWeight idf: Σ over phrase positions and expansions
    idf_sum: float
    #: filter context id (index into ``_Plan.contexts``), None = unfiltered
    cid: int | None


class _Plan(NamedTuple):
    avgdl: float
    tfn_ref: float
    tokenizer: str
    idfs: dict[str, float]
    specs: list[_Spec]
    #: distinct (lang, ts_lo, ts_hi) filter contexts of the live specs
    contexts: list[tuple]
    scan_terms: list[str]


def _plan_queries(spark: SparkSession, catalog, queries: list[dict]) -> _Plan:
    """Validate, analyze and prune ``queries`` (spec dicts, see
    ``bm25_topk_batch``; ``query_id`` may be None for a batch of one)
    into the live specs one scan serves."""
    snap = _committed_snapshot(catalog)
    if snap.get("postings_format", 1) < 2:
        raise ValueError(
            "index predates the doclen-in-postings layout (postings_format 2); "
            "rebuild with build_index(resume=False)"
        )
    stemming = snap.get("stemming", True)
    tokenizer = snap.get("tokenizer", "simple")
    if any(q.get("phrase") or q.get("phrase_prefix") for q in queries) and not snap.get(
        "positions", False
    ):
        raise ValueError(
            "phrase queries need a positional index — rebuild with "
            "build_index(..., positions=True)"
        )
    qids = [q["query_id"] for q in queries if q.get("query_id") is not None]
    if len(set(qids)) != len(qids):
        dupes = sorted({i for i in qids if qids.count(i) > 1})
        raise ValueError(
            f"duplicate query_id(s) in batch: {dupes} — results are "
            "grouped per query_id, so duplicates would silently merge "
            "two queries' top-k lists"
        )

    # (query_id, ctx, positional, or_mode, slop, term_sets, idf_terms,
    # (prefix, max_expansions) | None) — prefixes resolve after the scan
    analyzed: list[tuple] = []
    prefix_reqs: dict[str, int] = {}
    for q in queries:
        qid = q.get("query_id")
        where = "" if qid is None else f"query_id {qid!r}: "
        positional = bool(q.get("phrase") or q.get("phrase_prefix"))
        slop = int(q.get("slop", 0))
        if slop and not positional:
            raise ValueError(f"{where}slop is only valid on phrase/phrase_prefix specs")
        if slop < 0:
            raise ValueError(f"{where}slop must be >= 0, got {slop}")
        if positional and q.get("or_mode"):
            raise ValueError(f"{where}or_mode does not apply to phrase/phrase_prefix specs")
        if q.get("phrase") and q.get("phrase_prefix"):
            raise ValueError(f"{where}set phrase OR phrase_prefix, not both")
        ctx = (q.get("lang"), q.get("ts_lo"), q.get("ts_hi"))
        if q.get("phrase_prefix"):
            mx = int(q.get("max_expansions", 50))
            if mx <= 0:
                raise ValueError(f"{where}max_expansions must be > 0, got {mx}")
            toks = analyze_str(q["query"], None, tokenizer=tokenizer)
            if not toks:
                continue
            prefix, fixed = toks[-1], toks[:-1]
            if stemming:
                stem = StemCache()
                fixed = [stem(t) for t in fixed]
            prefix_reqs[prefix] = max(prefix_reqs.get(prefix, 0), mx)
            analyzed.append((qid, ctx, True, False, slop, [[t] for t in fixed],
                             fixed, (prefix, mx)))
            continue
        if q.get("phrase"):
            # the ordered sequence, duplicates kept (a phrase is not a
            # term set — analyze_query dedups)
            terms = analyze_str(q["query"], StemCache() if stemming else None,
                                tokenizer=tokenizer)
            # a one-token phrase is exactly the keyword query on it
            positional = len(terms) > 1
        else:
            terms = analyze_query(q["query"], stemming=stemming, tokenizer=tokenizer)
        if terms:
            analyzed.append((qid, ctx, positional, bool(q.get("or_mode")), slop,
                             [[t] for t in terms], terms, None))

    # every distinct prefix in ONE term_stats scan; a lower per-spec cap
    # is a prefix of the shared lexicographically-first list
    expansions_of = expand_prefixes(spark, catalog, prefix_reqs)
    resolved = []
    for qid, ctx, positional, or_mode, slop, term_sets, idf_terms, pre in analyzed:
        if pre is not None:
            expansions = expansions_of[pre[0]][:pre[1]]
            if not expansions:
                continue
            term_sets = term_sets + [expansions]
            idf_terms = idf_terms + expansions
        resolved.append((qid, ctx, positional, or_mode, slop, term_sets, idf_terms))

    all_terms = sorted({t for r in resolved for ts in r[5] for t in ts})
    idfs = idf_map(spark, catalog, all_terms) if all_terms else {}
    ctx_ids: dict[tuple, int] = {}
    specs: list[_Spec] = []
    for qid, ctx, positional, or_mode, slop, term_sets, idf_terms in resolved:
        kept = [[t for t in ts if t in idfs] for ts in term_sets]
        if or_mode:
            kept = [ts for ts in kept if ts]  # OR keeps only df>0 terms
        if not kept or not all(kept):
            continue  # a position with no df>0 term: AND / phrase match nothing
        cid = None
        if ctx != (None, None, None):
            cid = ctx_ids.setdefault(ctx, len(ctx_ids))
        # MultiPhraseWeight: one TermStatistics entry per fixed position
        # plus one per expansion — a fixed term that is also an
        # expansion counts in both sums
        idf_sum = float(sum(idfs[t] for t in idf_terms if t in idfs))
        specs.append(_Spec(qid, kept, positional, or_mode, slop, idf_sum, cid))
    return _Plan(
        avgdl=snap["avgdl"],
        tfn_ref=float(snap.get("tfn_ref_avgdl", TFN_REF_AVGDL)),
        tokenizer=tokenizer,
        idfs=idfs,
        specs=specs,
        contexts=list(ctx_ids),
        scan_terms=sorted({t for s in specs for ts in s.term_sets for t in ts}),
    )


def _topk(spark: SparkSession, catalog, queries: list[dict],
          k: int) -> DataFrame | pd.DataFrame:
    """Plan ``queries`` and run them as one top-k pass:
    (query_id, doc_id, score), ≤ k rows per live spec, ordered
    (query_id, score desc, doc_id asc) — a pandas frame when the kernels
    ran in-process or the plan has no live spec, else a DataFrame."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    plan = _plan_queries(spark, catalog, queries)
    if not plan.specs:
        return pd.DataFrame({"query_id": [], "doc_id": [], "score": []})
    idfs, avgdl, tfn_ref = plan.idfs, plan.avgdl, plan.tfn_ref

    def kernel(by_term, fids_by_ctx) -> dict[str, np.ndarray]:
        # one per-term decode pool (wand._decode_blocks) shared by every
        # spec of the shard, keyword and positional alike
        caches: dict[str, dict] = defaultdict(dict)
        qids, docs, scores = [np.zeros(0, object)], [_NO_HITS[0]], [_NO_HITS[1]]
        for s in plan.specs:
            fids = fids_by_ctx[s.cid]
            if s.positional:
                d, sc = _phrase_topk_from_terms(by_term, fids, s.term_sets, s.idf_sum,
                                                avgdl, k, s.slop, caches)
            else:
                sub = {ts[0]: by_term[ts[0]] for ts in s.term_sets if ts[0] in by_term}
                if not sub:
                    continue
                d, sc = _topk_from_terms(sub, fids, idfs, avgdl, k, len(s.term_sets),
                                         s.or_mode, tfn_ref, caches)
            qids.append(np.full(d.size, s.query_id, dtype=object))
            docs.append(d)
            scores.append(sc)
        return {"query_id": np.concatenate(qids), "doc_id": np.concatenate(docs),
                "score": np.concatenate(scores)}

    cols = _PHRASE_COLS if any(s.positional for s in plan.specs) else _POSTING_COLS
    per_shard = _shard_kernel_job(spark, catalog, plan.scan_terms, kernel,
                                  _RESULT_SCHEMA, plan.contexts, cols=cols)
    if isinstance(per_shard, pd.DataFrame):
        ranked = per_shard.sort_values(["query_id", "score", "doc_id"],
                                       ascending=[True, False, True])
        return ranked.groupby("query_id", dropna=False, sort=False).head(k)
    if len(plan.specs) == 1:
        # one query needs no per-query window: Spark's
        # TakeOrderedAndProject is a per-partition partial top-k with
        # no exchange (measured cheaper than the window on the serve mix)
        return per_shard.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_shard.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )


def _frame(spark: SparkSession, hits: DataFrame | pd.DataFrame) -> DataFrame:
    """``_topk``'s hits as a DataFrame."""
    if isinstance(hits, pd.DataFrame):
        return _local_frame(spark, hits, _RESULT_SCHEMA)
    return hits


def _topk_one(spark: SparkSession, catalog, spec: dict, k: int) -> DataFrame:
    """Top-k (doc_id, score) of one spec — a batch of one with the
    query_id dropped."""
    hits = _topk(spark, catalog, [dict(spec, query_id=None)], k)
    return _frame(spark, hits).drop("query_id")


def bm25_topk_batch(
    spark: SparkSession,
    catalog,
    queries: list[dict],
    k: int = 10,
) -> DataFrame:
    """Top-k for every query in one pass.

    ``queries``: list of dicts with keys ``query_id`` (str), ``query``
    (str) and optional ``or_mode`` (bool), ``lang`` (str), ``ts_lo`` /
    ``ts_hi`` (timestamps) — the same per-query surface as
    ``bm25_topk_blockmax``, heterogeneous across the batch.  A spec may
    instead set ``phrase: True`` (exact phrase, query/phrase.py
    semantics) or ``phrase_prefix: True`` (last token expands,
    match_phrase_prefix) — those need a positional index, and their
    position payload rides the same single scan (``pos_vb`` is added to
    the selected columns only when the batch contains one).  A
    positional spec may add ``slop`` (int ≥ 0, default 0): ordered
    proximity with Lucene's 1/(gap+1) weighting, exactly
    ``bm25_phrase_topk(slop=...)``.  A phrase_prefix spec may add
    ``max_expansions`` (default 50); all distinct prefixes in the
    batch resolve in ONE term_stats scan (``expand_prefixes``).
    ``or_mode`` on a positional spec raises.

    Returns (query_id, doc_id, score), each query's rows ordered
    (score desc, doc_id asc), ≤ k rows per query; queries with no
    match (absent AND term, empty analysis, all-pruned) contribute no
    rows.
    """
    return _frame(spark, _topk_many(spark, catalog, queries, k))


def _topk_many(spark: SparkSession, catalog, queries: list[dict],
               k: int) -> DataFrame | pd.DataFrame:
    return _topk(spark, catalog,
                 [dict(q, query_id=str(q["query_id"])) for q in queries], k)
