"""Block-max document-at-a-time top-k kernels, and the one shard-job
skeleton every query runs through.

Layout recap (index/build.py): postings are doc-range sharded; within a
(term, shard) group, fixed 128-entry varbyte blocks carry
(first_doc_id, last_doc_id, max_tf, min_dl, qmax_tfn) skip metadata and
three varbyte payloads: delta doc_ids, tfs, and per-posting doclens
(plus per-posting token positions on a positional index).
``_decode_blocks`` is the one block decoder: every kernel, keyword or
positional, reads blocks through it and its per-term cache.
Carrying doclen IN the posting block (the classic impact-ordered /
Lucene-norms layout) means scoring never needs the doc_stats table:
an unfiltered query is ONE grouped scan of the query terms' blocks —
no doc_stats shuffle, no cogroup.  Only filtered queries (lang /
warc_ts predicates) cogroup with the (cached, narrow) doc-id filter
set.

Two block upper bounds, combined with min():
- corner bound idf · max_tf/(max_tf + k1·(1−b + b·min_dl/avgdl)) —
  avgdl-independent at build time, stays valid as the corpus grows;
- baked bound: qmax_tfn = ceil(255 · max_doc tf/(tf + k1·(1−b +
  b·dl/A))) at fixed reference A = TFN_REF_AVGDL, quantized up to
  uint8.  tfn is increasing in avgdl and tfn(avgdl) ≤ tfn(A) ·
  max(1, avgdl/A) (the denominators' ratio is bounded by avgdl/A), so
  (qmax_tfn/255) · max(1, avgdl/A) is a valid upper bound at ANY
  avgdl — per-document, hence tighter than the corner whenever the
  max-tf document is long.

Every query — one keyword or phrase search, or a whole batch — is
planned once by query/batch.py and executes as:

  postings scan, `term IN (scan terms)` pushed to parquet (the build
  writes each shard partition as ONE term-sorted file, so row-group
  min/max stats prune everything but the query terms' blocks)
  → per-shard groups [with the tagged filter doc-id sets when any
    query is filtered]          — ``_shard_kernel_job``, this module
  → per-shard kernel: top-k per query (``_topk_from_terms`` here,
    ``phrase._phrase_topk_from_terms``) or phrase spans
  → global merge over ≤ k·S·Q tiny rows (query/batch.py).

The reference's query semantics are AND (`operator:'and'`,
apiserver/apiserver/search/__init__.py:67), which admits a *stronger*
pruning than classic WAND: documents must appear in EVERY term's
posting list, so the kernel drives from the rarest term's doc list and
uses per-block [first,last] doc-id fences to skip — never decode —
blocks of frequent terms that cannot intersect the candidate set
(block-max skipping; this is where a stopword-tier term in the query
costs almost nothing).  Scoring of survivors is fully vectorized
(numpy).  ``or_mode=True`` runs block-max WAND-style pruning: a θ
threshold seeded from the best blocks of every query term, block
pruning by ub(b) + Σ max_ub(other terms) < θ, exact rescore of
survivors.

The kernels take and return pandas frames — Arrow in, Arrow out, no
per-row Python at any boundary (north rule §2.10).  Where they run is
decided once per query, in ``_shard_kernel_job``, from the bytes the
``term IN`` filter selects: up to ``_IN_PROCESS_MAX_BYTES`` they run
in-process on the driver over a pyarrow read of the same committed
files (no Spark job; a query on a 5k-doc index selects ~3 MB), beyond
it inside ``applyInPandas`` groups.  Both branches call the same
kernels, once per shard.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..index.build import B, K1
from ..index.varbyte import vb_decode, delta_decode
from .bm25 import _arrow_filter_context, _filtered_doc_ids, _struct

_POSTING_COLS = [
    "shard", "term", "block_id", "n", "first_doc_id", "last_doc_id",
    "max_tf", "min_dl", "qmax_tfn", "doc_ids_vb", "tfs_vb", "dls_vb",
]


_Z = np.zeros(0, np.uint64)
#: positions decode to int64 (the chain's doc·2^33+pos keys); an empty
#: uint64 here would promote those keys to float64
_ZPOS = np.zeros(0, np.int64)


def _no_hits() -> pd.DataFrame:
    return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                         "score": pd.Series([], dtype="float64")})


def _decode_blocks(
    rows: pd.DataFrame,
    candidates: np.ndarray | None,
    cache: dict,
    positions: bool = False,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray | None]:
    """Decode one term's blocks within a shard, skipping blocks whose
    [first_doc_id, last_doc_id] fence misses the candidate set.
    Returns (doc_ids, tfs, doclens, positions).  ``positions`` is None
    unless asked for; then it holds every posting's absolute token
    offsets, ascending within the posting, concatenated in posting
    order (posting j owns the tfs[j] offsets after Σ tfs[:j]).

    ``cache`` is the term's one decode pool in a shard kernel:
    block_id → [doc_ids, tfs, doclens, positions-or-None].  Every
    keyword and positional pass of every query of the kernel reads it,
    so each payload of a block decodes at most once per shard.  The
    position payload, the largest, decodes only when a positional pass
    asks for it.  Candidate pruning only selects WHICH blocks decode;
    the per-block payloads are candidate-independent, so entries are
    exact."""
    order = np.argsort(rows["block_id"].to_numpy())
    firsts = rows["first_doc_id"].to_numpy()[order]
    lasts = rows["last_doc_id"].to_numpy()[order]
    keep = np.ones(len(order), dtype=bool)
    if candidates is not None:
        if candidates.size == 0:
            return _Z, _Z, _Z, (_ZPOS if positions else None)
        # block survives iff any candidate falls inside its fence
        left = np.searchsorted(candidates, firsts, side="left")
        keep = (left < candidates.size) & (candidates[np.minimum(left, candidates.size - 1)] <= lasts)
    bids = rows["block_id"].to_numpy()[order]
    dvb = rows["doc_ids_vb"].to_numpy()[order]
    tvb = rows["tfs_vb"].to_numpy()[order]
    lvb = rows["dls_vb"].to_numpy()[order]
    pvb = rows["pos_vb"].to_numpy()[order] if positions else None
    entries = []
    for i in np.flatnonzero(keep):
        e = cache.get(bids[i])
        if e is None:
            e = cache[bids[i]] = [
                delta_decode(vb_decode(bytes(dvb[i]))),
                vb_decode(bytes(tvb[i])),
                vb_decode(bytes(lvb[i])),
                None,
            ]
        if positions and e[3] is None:
            # per-posting delta streams concatenated; a groupwise cumsum
            # with a reset at each posting start recovers absolutes
            deltas = vb_decode(bytes(pvb[i])).astype(np.int64)
            counts = e[1].astype(np.int64)
            starts = np.cumsum(counts) - counts
            run = np.cumsum(deltas)
            e[3] = run - np.repeat(run[starts] - deltas[starts], counts)
        entries.append(e)
    if not entries:
        return _Z, _Z, _Z, (_ZPOS if positions else None)
    d, tf, dl = (np.concatenate([e[j] for e in entries]) for j in range(3))
    return d, tf, dl, (np.concatenate([e[3] for e in entries]) if positions else None)


def _topk_from_terms(
    by_term: dict[str, pd.DataFrame],
    filter_ids: np.ndarray | None,
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    n_terms: int,
    or_mode: bool,
    tfn_ref: float,
    caches: dict[str, dict],
) -> pd.DataFrame:
    """One keyword query's top-k within one shard, over the query's
    term → posting-rows map.  ``filter_ids``: sorted doc_ids surviving
    the non-scoring filter context, or None = unfiltered.  ``caches``
    maps each term to its ``_decode_blocks`` pool, shared by every
    keyword and phrase spec of the shard kernel (query/batch.py)."""
    if filter_ids is not None and filter_ids.size == 0:
        return _no_hits()
    if not or_mode and len(by_term) < n_terms:
        return _no_hits()  # a query term absent from this shard ⇒ no AND match here
    if not by_term:
        return _no_hits()

    if or_mode:
        return _shard_topk_or(by_term, filter_ids, idfs, avgdl, k, tfn_ref, caches)

    # AND mode: drive from rarest term (fewest posting entries in shard)
    term_order = sorted(by_term, key=lambda t: int(by_term[t]["n"].sum()))
    cand = _decode_blocks(by_term[term_order[0]], None, caches[term_order[0]])[0]
    if filter_ids is not None:
        cand = cand[np.isin(cand, filter_ids)]
    tf_by_term: dict[str, np.ndarray] = {}
    for t in term_order[1:]:
        if cand.size == 0:
            return _no_hits()
        d, tf, _, _ = _decode_blocks(by_term[t], cand, caches[t])
        mask = np.isin(cand, d)
        cand = cand[mask]
        if cand.size == 0:
            return _no_hits()
        sel = np.searchsorted(d, cand)
        tf_by_term[t] = tf[sel]
        # shrink previously-gathered tf arrays to the surviving candidates
        for t2 in tf_by_term:
            if t2 != t:
                tf_by_term[t2] = tf_by_term[t2][mask]
    # tf + doclen of driver term for surviving candidates (doclen rides
    # in every term's blocks; any one term supplies it)
    d0, tf0, dl0, _ = _decode_blocks(by_term[term_order[0]], cand,
                                     caches[term_order[0]])
    sel0 = np.searchsorted(d0, cand)
    tf_by_term[term_order[0]] = tf0[sel0]

    dl = dl0[sel0].astype(np.float64)
    norm = K1 * (1.0 - B + B * dl / avgdl)
    score = np.zeros(cand.size, dtype=np.float64)
    for t, tf in tf_by_term.items():
        tff = tf.astype(np.float64)
        score += idfs[t] * tff / (tff + norm)

    return _local_topk(cand, score, k)


def _score_docs(cand, by_term, idfs, avgdl, caches):
    """Exact OR score of given docs: fence-decode each term's blocks
    around the candidate set and accumulate present contributions.
    doclen comes from the posting payloads themselves."""
    dl = np.zeros(cand.size, dtype=np.float64)
    have_dl = np.zeros(cand.size, dtype=bool)
    contrib = []
    for t, rows in by_term.items():
        d, tf, dls, _ = _decode_blocks(rows, cand, caches[t])
        if d.size == 0:
            continue
        pos = np.searchsorted(d, cand)
        pos_c = np.minimum(pos, d.size - 1)
        present = d[pos_c] == cand
        dl = np.where(present & ~have_dl, dls[pos_c].astype(np.float64), dl)
        have_dl |= present
        contrib.append((t, present, tf[pos_c].astype(np.float64)))
    norm = K1 * (1.0 - B + B * dl / avgdl)
    score = np.zeros(cand.size, dtype=np.float64)
    for t, present, tff in contrib:
        score += np.where(present, idfs[t] * tff / (tff + norm), 0.0)
    return score


def _block_bounds(
    rows: pd.DataFrame, idf: float, avgdl: float, tfn_ref: float
) -> np.ndarray:
    """Per-block BM25 upper bound: min(corner bound, scaled baked bound).
    ``tfn_ref`` is the reference avgdl the index baked qmax_tfn at
    (from the snapshot manifest — must match the build, not this code)."""
    mtf = rows["max_tf"].to_numpy().astype(np.float64)
    mdl = rows["min_dl"].to_numpy().astype(np.float64)
    corner = mtf / (mtf + K1 * (1.0 - B + B * mdl / avgdl))
    baked = (rows["qmax_tfn"].to_numpy().astype(np.float64) / 255.0) * max(
        1.0, avgdl / tfn_ref
    )
    return idf * np.minimum(corner, baked)


def _shard_topk_or(
    by_term, filter_ids, idfs, avgdl, k, tfn_ref, caches,
) -> pd.DataFrame:
    """OR mode: block-max WAND-style pruning, exact results.

    1. Seed a threshold θ: fully score the union of every term's
       best blocks (highest upper bound).
    2. Block pruning: block b of term t cannot contribute to a top-k doc
       if ub(b) + Σ_{t'≠t} max_ub(t') < θ — skip (never decode) it.
    3. Exact rescore of every candidate doc surviving pruning.
    Classic DAAT WAND pivots per document; this is its vectorized
    batch analog — same skip criterion, same exactness argument.
    """
    ubs: dict[str, np.ndarray] = {}
    max_ub: dict[str, float] = {}
    for t, rows in by_term.items():
        ub = _block_bounds(rows, idfs[t], avgdl, tfn_ref)
        ubs[t] = ub
        max_ub[t] = float(ub.max())
    total_ub = sum(max_ub.values())

    # 1. seed θ from the best blocks of EVERY term (a strong seed makes
    # step 2 prune more; seeding from only the strongest term was
    # measured too weak — VERDICT r2)
    n_seed = max(1, (2 * k + 127) // 128)
    seed_parts = []
    for t, rows in by_term.items():
        order = np.argsort(-ubs[t])
        seed_parts.append(_decode_blocks(rows.iloc[order[:n_seed]], None, caches[t])[0])
    seed_docs = np.unique(np.concatenate(seed_parts))
    if filter_ids is not None:
        seed_docs = seed_docs[np.isin(seed_docs, filter_ids)]
    theta = 0.0
    if seed_docs.size:
        seed_scores = _score_docs(seed_docs, by_term, idfs, avgdl, caches)
        if seed_scores.size >= k:
            theta = float(np.partition(-seed_scores, k - 1)[k - 1] * -1)

    # 2. prune blocks that provably cannot reach θ; gather candidates
    cand_parts = [seed_docs]
    for t, rows in by_term.items():
        rest = total_ub - max_ub[t]
        keep = ubs[t] + rest >= theta
        if not keep.any():
            continue
        kept = rows[pd.Series(keep, index=rows.index)]
        cand_parts.append(_decode_blocks(kept, None, caches[t])[0])
    cand = np.unique(np.concatenate(cand_parts)) if cand_parts else np.zeros(0, np.uint64)
    if filter_ids is not None:
        cand = cand[np.isin(cand, filter_ids)]
    if cand.size == 0:
        return _no_hits()

    # 3. exact rescore of all surviving candidates
    score = _score_docs(cand, by_term, idfs, avgdl, caches)
    return _local_topk(cand, score, k)


def _local_topk(doc_ids: np.ndarray, scores: np.ndarray, k: int) -> pd.DataFrame:
    if doc_ids.size > k:
        # keep every doc whose score ties the k-th — an arbitrary k*2
        # truncation could drop boundary-tied docs with small doc_ids,
        # violating the pinned (score desc, doc_id asc) tie-break
        kth = -np.partition(-scores, k - 1)[k - 1]
        keep = scores >= kth
        doc_ids, scores = doc_ids[keep], scores[keep]
    order = np.lexsort((doc_ids, -scores))[:k]
    return pd.DataFrame(
        {"doc_id": doc_ids[order].astype(np.int64), "score": scores[order]}
    )


def bm25_topk_blockmax(
    spark: SparkSession,
    catalog,
    query: str,
    k: int = 10,
    lang: str | None = None,
    ts_lo=None,
    ts_hi=None,
    or_mode: bool = False,
) -> DataFrame:
    """Top-k (doc_id, score) of one keyword query (AND semantics, or
    OR with ``or_mode``) — a planned batch of one (query/batch.py)."""
    from .batch import _topk_one

    return _topk_one(spark, catalog, {
        "query": query, "lang": lang, "ts_lo": ts_lo, "ts_hi": ts_hi,
        "or_mode": or_mode,
    }, k)


#: The most postings bytes a query may select — the compressed size of
#: the row groups its ``term IN`` filter keeps — and still run its shard
#: kernels in-process on the driver; a larger selection runs as the
#: Spark job.  Measured with ``bench_extra.py breakeven`` (4 vCPU, 15 GB
#: host, local[4], min of 3–5 warm runs) on the worst shape per
#: selected byte, an OR query over four stopword-tier terms (WAND
#: prunes little of their near-equal block bounds), in-process vs job:
#:
#:     2.9 MiB   (5k docs)   0.21 s  vs  1.20 s
#:    10.0 MiB  (20k docs)   0.24 s  vs  1.19 s
#:    23.8 MiB  (50k docs)   0.49 s  vs  1.21 s
#:    47.1 MiB (100k docs)   0.51–0.70 s  vs  1.60–1.72 s
#:    93.7 MiB (200k docs)   0.88–1.03 s  vs  1.44–1.69 s
#:
#: In-process time grows 8–9 ms/MiB, the job's ~4 ms/MiB over a ~1.2 s
#: floor, so the lines cross near 200–250 MiB; a 400k-doc index, which
#: would show it, ran out of memory to build on that host.  The limit
#: is the largest selection measured where in-process still won, since
#: the driver holds the whole selection in memory.
_IN_PROCESS_MAX_BYTES = 94 * 2**20


def _selection(catalog, scan_terms: list[str]):
    """The postings row groups ``term IN scan_terms`` keeps (pruned on
    footer min/max statistics), and their compressed bytes."""
    ds = catalog.snapshot_dataset("postings")
    filt = pads.field("term").isin(scan_terms)
    groups = [g for f in ds.get_fragments(filt) for g in f.split_by_row_group(filt)]
    nbytes = 0
    for g in groups:
        md = g.metadata.row_group(g.row_groups[0].id)
        nbytes += sum(md.column(j).total_compressed_size for j in range(md.num_columns))
    return ds, filt, groups, nbytes


def _shard_kernel_job(
    spark, catalog, scan_terms: list[str], shard_fn, schema: str,
    contexts: list[tuple], cols: list[str] = _POSTING_COLS,
) -> DataFrame | pd.DataFrame:
    """The query family's one execution skeleton: term-IN pruned
    postings scan over ``cols`` → per-shard Arrow groups →
    ``shard_fn(by_term, fids_by_ctx)``.  ``by_term`` maps each scanned
    term to the shard's posting rows of that term; ``fids_by_ctx`` maps
    a filter-context id (its index in ``contexts``, the distinct
    (lang, ts_lo, ts_hi) triples of a plan) to the shard's sorted
    surviving doc ids, and None to None (unfiltered).  Top-k, spans and
    passages all run through here, so scan pruning / filter plumbing
    fixes apply to all of them at once.

    This is the one place that decides where the kernels run.  A
    selection of at most ``_IN_PROCESS_MAX_BYTES`` runs in-process and
    returns the concatenated kernel output as a pandas frame: no Spark
    job, since reading and scoring that much here costs less than a
    job's fixed costs.  A larger one returns the ``applyInPandas`` job
    as a DataFrame; callers merge and hydrate on the branch they get."""
    ds, filt, groups, nbytes = _selection(catalog, scan_terms)
    if nbytes <= _IN_PROCESS_MAX_BYTES:
        return _run_in_process(spark, catalog, ds, filt, groups, shard_fn,
                               schema, contexts, cols)

    postings = (
        catalog.read_snapshot(spark, "postings")
        .where(F.col("term").isin(scan_terms))
        .select(*cols)
    )

    def run(post_pdf: pd.DataFrame, fids_by_ctx: dict) -> pd.DataFrame:
        return shard_fn(dict(tuple(post_pdf.groupby("term", sort=False))),
                        fids_by_ctx)

    if not contexts:
        return postings.groupby("shard").applyInPandas(
            lambda post_pdf: run(post_pdf, {None: None}), schema=schema
        )

    # only filtered queries cogroup with the union of the contexts'
    # doc-id sets, each tagged with its id — with no filter there is no
    # doc_stats side at all (doclens ride in the posting blocks)
    docs = None
    for cid, (lang, ts_lo, ts_hi) in enumerate(contexts):
        d = _filtered_doc_ids(spark, catalog, lang, ts_lo, ts_hi).withColumn(
            "ctx", F.lit(cid)
        )
        docs = d if docs is None else docs.unionByName(d)

    def cogrouped(key, post_pdf: pd.DataFrame, docs_pdf: pd.DataFrame) -> pd.DataFrame:
        # a context with no surviving doc in this shard filters to nothing
        fids_by_ctx = {None: None, **{cid: _Z for cid in range(len(contexts))}}
        for c, g in docs_pdf.groupby("ctx"):
            fids_by_ctx[int(c)] = np.sort(g["doc_id"].to_numpy().astype(np.uint64))
        return run(post_pdf, fids_by_ctx)

    return (
        postings.groupby("shard")
        .cogroup(docs.groupby("shard"))
        .applyInPandas(cogrouped, schema=schema)
    )


def _run_in_process(spark, catalog, ds, filt, groups, shard_fn, schema: str,
                    contexts: list[tuple], cols: list[str]) -> pd.DataFrame:
    """The Spark job's program on the driver: the selected row groups,
    each context's (shard, doc_id) with its predicate pushed to the
    doc_stats read, ``shard_fn`` once per shard, results concatenated."""
    post = pads.FileSystemDataset(groups, ds.schema, ds.format, ds.filesystem)
    post = post.to_table(columns=cols, filter=filt).to_pandas()
    shards = sorted(post["shard"].unique().tolist())
    fids = {s: {None: None, **{cid: _Z for cid in range(len(contexts))}}
            for s in shards}
    if contexts and shards:
        docs = catalog.snapshot_dataset("doc_stats")
        tz = spark.conf.get("spark.sql.session.timeZone")
        for cid, ctx in enumerate(contexts):
            pred = _arrow_filter_context(pads.field("shard").isin(shards), *ctx, tz)
            ids = docs.to_table(columns=["shard", "doc_id"], filter=pred).to_pandas()
            for s, g in ids.groupby("shard"):
                fids[int(s)][cid] = np.sort(g["doc_id"].to_numpy().astype(np.uint64))
    parts = [
        shard_fn(dict(tuple(g.groupby("term", sort=False))), fids[int(s)])
        for s, g in post.groupby("shard", sort=True)
    ]
    names = _struct(schema).names
    return pd.concat(parts, ignore_index=True)[names] if parts else pd.DataFrame(
        {c: [] for c in names})
