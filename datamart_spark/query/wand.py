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
  writes each shard partition as ONE term-sorted file so that row-group
  min/max stats can prune everything but the query terms' blocks; the
  driver-side pyarrow read does not prune them yet — pyarrow 16 tests
  `isin` against hive partitions only, never against row-group
  statistics, see ``_selection`` and ROADMAP Direction 1; kernels see
  rows re-sorted either way)
  → per-(shard, term) column dicts, ``_shard_groups`` [with the tagged
    filter doc-id sets when any query is filtered]
                                — ``_shard_kernel_job``, this module
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

The kernels take column arrays and return arrays: ``_shard_groups``
sorts the selected postings once by (shard, term, block_id) and hands
each (shard, term) group over as a dict of numpy column slices (the
varbyte payloads as their Arrow data buffer and offsets); a top-k
kernel returns (doc_ids, scores), and the in-process branch builds
one result frame per call (``applyInPandas`` needs one per shard) — no
per-row Python at any boundary (north rule §2.10).  Where they run is
decided once per query, in ``_shard_kernel_job``, from the bytes the
``term IN`` filter selects: up to ``_IN_PROCESS_MAX_BYTES`` they run
in-process on the driver over a pyarrow read of the same committed
files (no Spark job; a query on a 5k-doc index selects ~3 MB), beyond
it inside ``applyInPandas`` groups, each turned into the same column
dict by the same helper.  Both branches call the same kernels, once
per shard.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..index.build import B, K1
from ..index.varbyte import vb_decode
from .bm25 import _arrow_filter_context, _filtered_doc_ids, _struct

_POSTING_COLS = [
    "shard", "term", "block_id", "n", "first_doc_id", "last_doc_id",
    "max_tf", "min_dl", "qmax_tfn", "doc_ids_vb", "tfs_vb", "dls_vb",
]


_Z = np.zeros(0, np.uint64)
#: positions decode to int64 (the chain's doc·2^33+pos keys); an empty
#: uint64 here would promote those keys to float64
_ZPOS = np.zeros(0, np.int64)
#: a kernel's empty (doc_ids, scores)
_NO_HITS = (np.zeros(0, np.int64), np.zeros(0, np.float64))


def _ragged_gather(offsets: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Indices selecting, for each j, the slice
    [offsets[j], offsets[j]+counts[j]) — concatenated, no python loop."""
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    shift = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=shift[1:])
    return (
        np.arange(total, dtype=np.int64)
        - np.repeat(shift, counts)
        + np.repeat(offsets, counts)
    )


def _binary_column(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """A binary Arrow array as (data, offsets): its data buffer as
    uint8 and the len+1 int64 byte offsets of its rows into it."""
    _, offs, data = arr.buffers()
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(offs, width)[arr.offset:arr.offset + len(arr) + 1]
    data = np.zeros(0, np.uint8) if data is None else np.frombuffer(data, np.uint8)
    return data, offs.astype(np.int64)


def _shard_groups(table: pa.Table) -> list[tuple[int, dict[str, dict]]]:
    """Postings rows → ``[(shard, by_term)]``, shards ascending, where
    ``by_term`` maps each term to its rows as a column dict ordered by
    block_id: each numeric column a numpy slice, each varbyte payload
    column ``(data, offsets)`` — the column's uint8 data buffer and the
    rows' len+1 byte offsets into it.  The rows are sorted here, once,
    so no kernel depends on the order the files store them in.  Both
    branches of ``_shard_kernel_job`` group through this."""
    if table.num_rows == 0:
        return []
    table = table.sort_by([("shard", "ascending"), ("term", "ascending"),
                           ("block_id", "ascending")])
    terms = table.column("term").combine_chunks().dictionary_encode()
    code = terms.indices.to_numpy()
    names = terms.dictionary.to_pylist()
    shard = table.column("shard").to_numpy()
    cols = {}
    for c in table.column_names:
        if c not in ("shard", "term"):
            arr = table.column(c).combine_chunks()
            cols[c] = (_binary_column(arr) if pa.types.is_binary(arr.type)
                       or pa.types.is_large_binary(arr.type) else arr.to_numpy())
    starts = np.flatnonzero(np.r_[True, (shard[1:] != shard[:-1])
                                  | (code[1:] != code[:-1])])
    out: list[tuple[int, dict[str, dict]]] = []
    for lo, hi in zip(starts.tolist(), [*starts[1:].tolist(), len(shard)]):
        s = int(shard[lo])
        if not out or out[-1][0] != s:
            out.append((s, {}))
        out[-1][1][names[code[lo]]] = {
            c: (v[0], v[1][lo:hi + 1]) if isinstance(v, tuple) else v[lo:hi]
            for c, v in cols.items()
        }
    return out


def _decode_payloads(rows: dict, col: str, idx: np.ndarray) -> np.ndarray:
    """ONE ``vb_decode`` of the ``col`` payloads of rows ``idx``,
    concatenated in row order: values are terminator-delimited, so the
    concatenation decodes to exactly the rows' values, in order."""
    data, offs = rows[col]
    return vb_decode(data[_ragged_gather(offs[idx], offs[idx + 1] - offs[idx])])


def _segmented_cumsum(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Running sums of ``deltas`` restarting at each of the consecutive
    segments of ``counts`` values (each segment's first value is
    absolute).  Integer wraparound of the whole-array sum cancels in
    the subtraction, so the result is exact."""
    run = np.cumsum(deltas)
    starts = np.cumsum(counts) - counts
    return run - np.repeat(run[starts] - deltas[starts], counts)


def _decode_blocks(
    rows: dict,
    candidates: np.ndarray | None,
    cache: dict,
    positions: bool = False,
    blocks: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray | None]:
    """Decode one term's blocks within a shard (``rows``, the term's
    column dict from ``_shard_groups``, ordered by block_id), skipping
    blocks whose [first_doc_id, last_doc_id] fence misses the candidate
    set and, when ``blocks`` (a mask over ``rows``) is given, the blocks
    it leaves out.  Returns (doc_ids, tfs, doclens, positions), doc ids
    ascending.  ``positions`` is None unless asked for; then it holds
    every posting's absolute token offsets, ascending within the
    posting, concatenated in posting order (posting j owns the tfs[j]
    offsets after Σ tfs[:j]).

    ``cache`` is the term's one decode pool in a shard kernel:
    block_id → [doc_ids, tfs, doclens, positions-or-None].  Every
    keyword and positional pass of every query of the kernel reads it,
    so each payload of a block decodes at most once per shard.  The
    blocks a call finds missing decode together: one ``vb_decode`` per
    payload column over their concatenated payloads
    (``_decode_payloads``), a segmented cumsum for the doc-id deltas
    (each block's first is absolute), and a split by each block's
    ``n``.  The position payload, the largest, decodes only when a
    positional pass asks for it, split by each block's Σ tf.  Candidate
    pruning only selects WHICH blocks decode; the per-block payloads
    are candidate-independent, so entries are exact."""
    keep = np.ones(rows["block_id"].size, dtype=bool) if blocks is None else blocks
    if candidates is not None:
        if candidates.size == 0:
            return _Z, _Z, _Z, (_ZPOS if positions else None)
        # block survives iff any candidate falls inside its fence
        left = np.searchsorted(candidates, rows["first_doc_id"], side="left")
        keep = keep & (left < candidates.size) & (
            candidates[np.minimum(left, candidates.size - 1)] <= rows["last_doc_id"])
    idx = np.flatnonzero(keep)
    if idx.size == 0:
        return _Z, _Z, _Z, (_ZPOS if positions else None)
    bids = rows["block_id"][idx].tolist()
    entries = [cache.get(b) for b in bids]
    miss = [j for j, e in enumerate(entries) if e is None]
    if miss:
        n = rows["n"][idx[miss]].astype(np.int64)
        fresh = (
            _segmented_cumsum(_decode_payloads(rows, "doc_ids_vb", idx[miss]), n),
            _decode_payloads(rows, "tfs_vb", idx[miss]),
            _decode_payloads(rows, "dls_vb", idx[miss]),
        )
        ends = np.cumsum(n).tolist()
        for j, lo, hi in zip(miss, [0, *ends[:-1]], ends):
            entries[j] = cache[bids[j]] = [a[lo:hi] for a in fresh] + [None]
    d, tf, dl = (np.concatenate([e[c] for e in entries]) for c in range(3))
    if not positions:
        return d, tf, dl, None
    pmiss = [j for j, e in enumerate(entries) if e[3] is None]
    if pmiss:
        # per-posting delta streams concatenated: the cumsum restarts
        # at each posting; block j's offsets end at its last posting's
        # running Σ tf
        counts = np.concatenate([entries[j][1] for j in pmiss]).astype(np.int64)
        flat = _segmented_cumsum(
            _decode_payloads(rows, "pos_vb", idx[pmiss]).astype(np.int64), counts)
        ends = np.cumsum(counts)[np.cumsum(rows["n"][idx[pmiss]]) - 1].tolist()
        for j, lo, hi in zip(pmiss, [0, *ends[:-1]], ends):
            entries[j][3] = flat[lo:hi]
    return d, tf, dl, np.concatenate([e[3] for e in entries])


def _topk_from_terms(
    by_term: dict[str, dict],
    filter_ids: np.ndarray | None,
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    n_terms: int,
    or_mode: bool,
    tfn_ref: float,
    caches: dict[str, dict],
) -> tuple[np.ndarray, np.ndarray]:
    """One keyword query's top-k (doc_ids, scores) within one shard,
    over the query's term → posting-rows map (``_shard_groups``).
    ``filter_ids``: sorted doc_ids surviving the non-scoring filter
    context, or None = unfiltered.  ``caches`` maps each term to its
    ``_decode_blocks`` pool, shared by every keyword and phrase spec of
    the shard kernel (query/batch.py)."""
    if filter_ids is not None and filter_ids.size == 0:
        return _NO_HITS
    if not or_mode and len(by_term) < n_terms:
        return _NO_HITS  # a query term absent from this shard ⇒ no AND match here
    if not by_term:
        return _NO_HITS

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
            return _NO_HITS
        d, tf, _, _ = _decode_blocks(by_term[t], cand, caches[t])
        mask = np.isin(cand, d)
        cand = cand[mask]
        if cand.size == 0:
            return _NO_HITS
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
    rows: dict, idf: float, avgdl: float, tfn_ref: float
) -> np.ndarray:
    """Per-block BM25 upper bound: min(corner bound, scaled baked bound).
    ``tfn_ref`` is the reference avgdl the index baked qmax_tfn at
    (from the snapshot manifest — must match the build, not this code)."""
    mtf = rows["max_tf"].astype(np.float64)
    mdl = rows["min_dl"].astype(np.float64)
    corner = mtf / (mtf + K1 * (1.0 - B + B * mdl / avgdl))
    baked = (rows["qmax_tfn"].astype(np.float64) / 255.0) * max(
        1.0, avgdl / tfn_ref
    )
    return idf * np.minimum(corner, baked)


def _shard_topk_or(
    by_term, filter_ids, idfs, avgdl, k, tfn_ref, caches,
) -> tuple[np.ndarray, np.ndarray]:
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
        best = np.zeros(ubs[t].size, dtype=bool)
        best[np.argsort(-ubs[t])[:n_seed]] = True
        seed_parts.append(_decode_blocks(rows, None, caches[t], blocks=best)[0])
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
        cand_parts.append(_decode_blocks(rows, None, caches[t], blocks=keep)[0])
    cand = np.unique(np.concatenate(cand_parts)) if cand_parts else np.zeros(0, np.uint64)
    if filter_ids is not None:
        cand = cand[np.isin(cand, filter_ids)]
    if cand.size == 0:
        return _NO_HITS

    # 3. exact rescore of all surviving candidates
    score = _score_docs(cand, by_term, idfs, avgdl, caches)
    return _local_topk(cand, score, k)


def _local_topk(doc_ids: np.ndarray, scores: np.ndarray,
                k: int) -> tuple[np.ndarray, np.ndarray]:
    if doc_ids.size > k:
        # keep every doc whose score ties the k-th — an arbitrary k*2
        # truncation could drop boundary-tied docs with small doc_ids,
        # violating the pinned (score desc, doc_id asc) tie-break
        kth = -np.partition(-scores, k - 1)[k - 1]
        keep = scores >= kth
        doc_ids, scores = doc_ids[keep], scores[keep]
    order = np.lexsort((doc_ids, -scores))[:k]
    return doc_ids[order].astype(np.int64), scores[order]


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
#:     2.9 MiB   (5k docs)   0.08–0.10 s  vs  0.63–0.81 s
#:    10.0 MiB  (20k docs)   0.24 s  vs  1.19 s
#:    23.8 MiB  (50k docs)   0.12–0.16 s  vs  0.72–0.90 s
#:    47.1 MiB (100k docs)   0.51–0.70 s  vs  1.60–1.72 s
#:    93.7 MiB (200k docs)   0.88–1.03 s  vs  1.44–1.69 s
#:
#: The 5k and 50k rows are from the columnar kernels (one sort into
#: column dicts, one ``vb_decode`` per payload column per term); the
#: others, and the slopes below, predate them, when in-process time was
#: about 2× higher at 50k docs (0.26–0.32 s in the same window), so the
#: crossing has only moved out.  In-process time grew 8–9 ms/MiB, the
#: job's ~4 ms/MiB over a ~1.2 s floor, so the lines crossed near
#: 200–250 MiB; a 400k-doc index, which would show it, ran out of
#: memory to build on that host.  The limit is the largest selection
#: measured where in-process still won, since the driver holds the
#: whole selection in memory.
_IN_PROCESS_MAX_BYTES = 94 * 2**20


def _selection(catalog, scan_terms: list[str]):
    """The postings row groups ``term IN scan_terms`` keeps, and their
    compressed bytes.  Nothing prunes here yet: pyarrow 16 tests
    ``isin`` against hive partitions (``shard``, which this term filter
    does not constrain) but never against row-group min/max statistics,
    so every postings row group is selected (ROADMAP Direction 1)."""
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
    postings scan over ``cols`` → per-shard groups (``_shard_groups``)
    → ``shard_fn(by_term, fids_by_ctx)``, which returns the ``schema``
    columns as numpy arrays.  ``by_term`` maps each scanned term to the
    shard's posting rows of that term, as a column dict; ``fids_by_ctx``
    maps a filter-context id (its index in ``contexts``, the distinct
    (lang, ts_lo, ts_hi) triples of a plan) to the shard's sorted
    surviving doc ids, and None to None (unfiltered).  Top-k, spans and
    passages all run through here, so scan pruning / filter plumbing
    fixes apply to all of them at once.

    This is the one place that decides where the kernels run.  A
    selection of at most ``_IN_PROCESS_MAX_BYTES`` runs in-process and
    returns the concatenated kernel output as ONE pandas frame: no
    Spark job, since reading and scoring that much here costs less than
    a job's fixed costs.  A larger one returns the ``applyInPandas`` job
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
        # one shard per group; a cogroup calls this for a shard whose
        # docs pass the filter but that holds no scanned term, with an
        # empty post_pdf — an empty term map
        groups = _shard_groups(pa.Table.from_pandas(post_pdf, preserve_index=False))
        by_term = groups[0][1] if groups else {}
        return pd.DataFrame(shard_fn(by_term, fids_by_ctx))

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
    doc_stats read, ``shard_fn`` once per shard, and its outputs
    concatenated into one frame."""
    post = pads.FileSystemDataset(groups, ds.schema, ds.format, ds.filesystem)
    shards = _shard_groups(post.to_table(columns=cols, filter=filt))
    fids = {s: {None: None, **{cid: _Z for cid in range(len(contexts))}}
            for s, _ in shards}
    if contexts and shards:
        docs = catalog.snapshot_dataset("doc_stats")
        tz = spark.conf.get("spark.sql.session.timeZone")
        for cid, ctx in enumerate(contexts):
            pred = _arrow_filter_context(pads.field("shard").isin(list(fids)), *ctx, tz)
            ids = docs.to_table(columns=["shard", "doc_id"], filter=pred)
            shard = ids.column("shard").to_numpy()
            doc = ids.column("doc_id").to_numpy().astype(np.uint64)
            order = np.lexsort((doc, shard))
            shard, doc = shard[order], doc[order]
            cuts = np.flatnonzero(shard[1:] != shard[:-1]) + 1
            for s, part in zip(shard[np.r_[0, cuts]].tolist() if shard.size else [],
                               np.split(doc, cuts)):
                fids[s][cid] = part
    outs = [shard_fn(by_term, fids[s]) for s, by_term in shards]
    return pd.DataFrame({
        c: np.concatenate([o[c] for o in outs]) if outs else []
        for c in _struct(schema).names
    })
