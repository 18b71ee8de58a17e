"""Inverted-index build: documents → tokens / doc_stats / term_stats / postings.

Reference semantics: the reference ships every dataset's text fields to
Elasticsearch which builds the inverted index internally (reference:
lib_core/datamart_core/common.py:209-225 → ES; analyzer
coordinator/coordinator/elasticsearch.yml:2-20).  Here the build is an
explicit Spark job designed for 10^12 docs:

Shuffle plan (exactly ONE wide exchange over token-scale data):
  1. mapInPandas analysis emits per-doc *aggregated* (term, tf) pairs —
     map-side combine inside the Arrow batch, so the shuffle carries
     distinct-terms-per-doc rows, not raw tokens.  The same pass emits
     one SENTINEL row per document (term NULL) carrying doclen + the
     profiled metadata columns — so doc_stats is a narrow filter of the
     tokens table (NO doc_id shuffle, NO join back to the corpus).
  2. repartition by shard → mapInArrow encodes posting blocks, emitting
     (shard, term-lexicographic) order so the shard-partitioned write
     directly lands ONE term-sorted file per shard (the query layout).
     ``shard = doc_id // width`` is simultaneously
     (a) the *salt* that splits stopword-scale terms across S reducers
     (north rule skew handling: "the" never lands on one task), and
     (b) contiguous doc ranges, so at query time every term's postings
     for a doc range are co-located → document-at-a-time block-max
     WAND per shard with local top-k + tiny global merge (the same
     document-partitioned query layout Elasticsearch itself scales
     with).  A whole shard per encode task is the memory contract
     ``default_n_shards`` sizes.

term_stats is DERIVED from the postings blocks (df = Σ n, cf = Σ
tf_sum over a table of block summaries) — never a second shuffle over
the token set; it always reflects exactly the committed posting state,
including partial/incremental builds.

Posting blocks: 128 entries, three varbyte payloads (docID deltas,
tfs, per-posting doclens — the Lucene-norms analog, so scoring never
touches doc_stats), and two skip bounds per block: the corner bound
inputs (max_tf, min_dl), evaluated at QUERY time so the encoder never
waits for avgdl (no stats barrier; valid under corpus growth), plus a
baked per-doc max_tfn quantized up to uint8 at the fixed reference
avgdl TFN_REF_AVGDL (query scales it by max(1, avgdl/ref); tighter
than the corner whenever the block's max-tf document is long).
The encode exchange is also the compaction (segment-merge analog):
each shard partition lands as ONE file sorted by (term, block_id) —
parquet row-group min/max stats then prune a query's scan to just its
terms' blocks, and per-query footer reads drop from O(encode tasks) to
O(shards touched).

All tables are hash-free doc-range partitioned by ``shard`` (the
Iceberg partition-spec analog): resume, corpus growth, and per-dataset
delete are all per-shard-partition rewrites, and all three commit
through one tail (``_rewrite_shards``) — they differ only in how they
produce their ``tokens`` partitions.  Per-shard lineage is a
parquet TABLE (derived distributed from the postings block summaries);
the snapshot manifest carries only its O(1) summary — count + totals +
a content checksum binding the manifest to the table bytes.

At 100 TB: the only driver-side values are N, avgdl and the O(1)
lineage summary.  The RESUME planner alone materializes shard ids on
the driver (the todo-set diff — O(#shards) ints, which it needs to
plan regardless); builds and queries never do.  Nothing collects
posting or token data.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..analyzer import extract_text_series, resolve_tokenizer
from .catalog import IndexCatalog
from .varbyte import vb_encode_with_sizes

#: BM25 k1/b (ES 7.8.1 defaults).  The one engine definition: the
#: baked qmax_tfn bound below and every query-time bound and score
#: (query/, suite/) import these, so block pruning cannot drift from
#: the build.  bm25_oracle.py keeps its own literals as the
#: independent reference.
K1 = 1.2
B = 0.75
BLOCK_SIZE = 128

#: corpus metadata columns carried on sentinel rows into doc_stats
META_COLS = ("url", "lang", "warc_ts")

_META_TYPES = {
    "url": T.StringType(),
    "lang": T.StringType(),
    "warc_ts": T.TimestampType(),
}

#: fixed reference avgdl the baked per-block max_tfn bound is quantized
#: at (see query/wand.py for the validity argument; query-time scaling
#: by max(1, avgdl/TFN_REF_AVGDL) keeps it an upper bound at any avgdl)
TFN_REF_AVGDL = 256.0

#: bumped when the posting block layout changes; queries check it
POSTINGS_FORMAT = 2

#: small parquet row groups on the (term-sorted) postings table: the
#: vectorized reader decompresses whole column chunks per row group, so
#: row-group size IS the pruning granularity — at the default 128 MB a
#: shard file is one row group and `term IN (...)` prunes nothing
POSTINGS_WRITE_OPTIONS = {"parquet.block.size": str(2 * 1024 * 1024)}

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("first_doc_id", T.LongType(), False),
        T.StructField("last_doc_id", T.LongType(), False),
        T.StructField("max_tf", T.IntegerType(), False),
        T.StructField("min_dl", T.IntegerType(), False),
        T.StructField("qmax_tfn", T.IntegerType(), False),
        T.StructField("tf_sum", T.LongType(), False),
        T.StructField("doc_ids_vb", T.BinaryType(), False),
        T.StructField("tfs_vb", T.BinaryType(), False),
        T.StructField("dls_vb", T.BinaryType(), False),
    ]
)

#: positional layout (build_index(..., positions=True)): one extra
#: payload per block — the per-posting within-doc token positions,
#: delta-encoded per posting (first absolute) and varbyte-packed in
#: posting order; the decoder splits by the block's tfs.  Queries that
#: don't need positions never select the column (parquet column
#: pruning), so a positional index serves plain BM25 at zero extra
#: scan cost — the Lucene analog is the .prx/.pos file next to .doc.
POSTINGS_SCHEMA_POS = T.StructType(
    POSTINGS_SCHEMA.fields + [T.StructField("pos_vb", T.BinaryType(), False)]
)


def extract_text(docs: DataFrame, html_col: str = "html", out_col: str = "text") -> DataFrame:
    """html(binary) → text via the vendored html_strip analog (Arrow batch)."""
    @F.pandas_udf(T.StringType())
    def _extract(h: pd.Series) -> pd.Series:
        return extract_text_series(h)

    return docs.withColumn(out_col, _extract(F.col(html_col)))


def _tokens_schema(meta_cols: list[str], positions: bool = False) -> T.StructType:
    return T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("term", T.StringType(), True),  # NULL ⇒ sentinel row
            T.StructField("tf", T.IntegerType(), False),
            T.StructField("doclen", T.IntegerType(), False),
        ]
        + ([T.StructField("pos_vb", T.BinaryType(), True)] if positions else [])
        + [T.StructField(c, _META_TYPES[c], True) for c in meta_cols]
    )


# per-worker stem cache, shared across tasks/batches (bounded): the
# stem of a surface form is a pure function, and corpus vocabulary is
# tiny next to token count, so hit-rate across partitions ≈ 100%
_STEM_CACHE: dict[str, str] = {}
_STEM_CACHE_MAX = 2_000_000


def term_doc_tf(
    docs: DataFrame,
    text_col: str = "text",
    stemming: bool = True,
    meta_cols: list[str] | None = None,
    tokenizer: str = "simple",
    positions: bool = False,
) -> DataFrame:
    """documents → token rows (doc_id, term, tf, doclen) + one sentinel
    row per doc (term NULL, doclen + metadata columns); tf aggregated
    inside the Arrow batch (map-side combine before any shuffle).

    ``positions``: carry each (doc, term)'s within-doc token positions
    (0-based, post-analyzer order; a stem's positions are the union of
    its surface forms') as a delta+varbyte payload — the phrase-query
    layout.  The shuffle payload grows from distinct-terms-per-doc rows
    to +O(total tokens) compressed bytes, which is why it is opt-in."""
    if meta_cols is None:
        meta_cols = [c for c in META_COLS if c in docs.columns]
    schema = _tokens_schema(meta_cols, positions=positions)

    def analyze_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..analyzer import tokenize_batch_flat
        from ..porter2 import stem

        for b in batches:
            # whole-batch Arrow tokenization (analyzer.tokenize_batch_flat):
            # byte-level numpy split + C++ dictionary encode for
            # provably-\w+-identical rows, python fallback for the rest
            # (guide §4.2); returns the already-factorized stream — rows
            # appear in stream_order (each row contiguous, tokens in
            # document order)
            inv, uniq, lens, stream_order = tokenize_batch_flat(
                b[text_col], tokenizer=tokenizer
            )
            doc_ids = b["doc_id"].to_numpy()
            pos_bytes: list[bytes] = []
            if lens.sum() == 0:
                out_doc_idx = np.zeros(0, dtype=np.int64)
                stems = np.zeros(0, dtype=object)
                out_term_idx = pair_counts = out_doc_idx
            else:
                # stem once per UNIQUE surface token, then refactorize on
                # the STEM so forms that collapse to one stem
                # ("runs","running"→"run") merge into a single tf
                if stemming:
                    if len(_STEM_CACHE) > _STEM_CACHE_MAX:
                        _STEM_CACHE.clear()
                    for u in uniq:
                        if u not in _STEM_CACHE:
                            _STEM_CACHE[u] = stem(u)
                    surf_stems = np.array([_STEM_CACHE[u] for u in uniq], dtype=object)
                else:
                    surf_stems = np.asarray(uniq, dtype=object)
                stem_of_surf, stems = pd.factorize(surf_stems, sort=False)
                stems = np.asarray(stems, dtype=object)
                token_stem = stem_of_surf[inv]
                # integer-factorized (doc, stem) pair counting — all
                # C-level.  The flat stream lists rows in stream_order,
                # so the per-token doc index repeats the ORIGINAL row
                # positions in that order
                doc_idx = np.repeat(stream_order, lens[stream_order])
                n_terms = len(stems)
                pair_codes = doc_idx * n_terms + token_stem
                if positions:
                    # stable sort groups (doc, stem) pairs while keeping
                    # token order — i.e. ascending within-doc positions —
                    # inside each group; one whole-batch varbyte pass,
                    # per-pair slices by byte offset (same pattern as the
                    # posting-block encoder)
                    order_tok = np.argsort(pair_codes, kind="stable")
                    sc = pair_codes[order_tok]
                    change = np.empty(sc.size, dtype=bool)
                    change[0] = True
                    change[1:] = sc[1:] != sc[:-1]
                    gstarts = np.flatnonzero(change)
                    gends = np.append(gstarts[1:], sc.size)
                    pair_uniq = sc[gstarts]
                    pair_counts = gends - gstarts
                    slens = lens[stream_order]  # per-row counts in stream order
                    doc_starts = np.concatenate(
                        [np.zeros(1, np.int64), np.cumsum(slens)[:-1]]
                    )
                    pos_in_doc = (
                        np.arange(sc.size, dtype=np.int64)
                        - np.repeat(doc_starts, slens)
                    )
                    sp = pos_in_doc[order_tok]
                    deltas = np.empty_like(sp)
                    deltas[1:] = sp[1:] - sp[:-1]
                    deltas[gstarts] = sp[gstarts]  # absolute at group start
                    pbuf, psizes = vb_encode_with_sizes(deltas)
                    poff = np.zeros(sp.size + 1, dtype=np.int64)
                    np.cumsum(psizes, out=poff[1:])
                    pos_bytes = [
                        pbuf[poff[a]:poff[z]] for a, z in zip(gstarts, gends)
                    ]
                else:
                    # hash-factorize + bincount: O(n) vs np.unique's
                    # O(n log n) sort over the token-scale code array
                    # (row order of the emitted pairs is first-appearance
                    # instead of sorted — nothing downstream reads the
                    # tokens table ordered; the encoder re-sorts)
                    pair_inv, pair_uniq = pd.factorize(pair_codes, sort=False)
                    pair_counts = np.bincount(pair_inv, minlength=len(pair_uniq))
                out_doc_idx = pair_uniq // n_terms
                out_term_idx = pair_uniq % n_terms

            # one frame: token rows (doclen carried — the posting encoder
            # derives the per-block min_dl corner bound from it; meta
            # columns null) followed by sentinel rows (one per doc, term
            # NULL, real doclen + metadata)
            n_tok = out_doc_idx.size
            pdf = pd.DataFrame(
                {
                    "doc_id": np.concatenate([doc_ids[out_doc_idx], doc_ids]),
                    "term": np.concatenate(
                        [stems[out_term_idx], np.full(len(b), None, dtype=object)]
                    ),
                    "tf": np.concatenate(
                        [pair_counts, np.zeros(len(b), dtype=np.int64)]
                    ).astype(np.int32),
                    "doclen": np.concatenate(
                        [lens[out_doc_idx], lens]
                    ).astype(np.int32),
                }
            )
            if positions:
                pdf["pos_vb"] = pos_bytes + [None] * len(b)
            if meta_cols:
                # dtype-preserving NA-fill take: the [None]*n_tok
                # pd.concat built a token-scale python list + re-cast
                # per meta column (profiled ~1/3 of the batch kernel)
                fill_idx = np.concatenate(
                    [
                        np.full(n_tok, -1, dtype=np.intp),
                        np.arange(len(b), dtype=np.intp),
                    ]
                )
                for c in meta_cols:
                    pdf[c] = pd.Series(
                        b[c].array.take(fill_idx, allow_fill=True)
                    )
            yield pdf

    return docs.select("doc_id", text_col, *meta_cols).mapInPandas(
        analyze_batches, schema=schema
    )


def _shard_col(width: int):
    """Contiguous doc-range shard: monotone in doc_id (block-max WAND
    scans shards independently).  NOT clamped — doc_ids past the last
    committed range map to NEW shards, which is how corpus growth
    appends partitions instead of corrupting committed ones."""
    return (F.col("doc_id") / width).cast("int")


def default_n_shards(n_docs: int, docs_per_shard: int = 250_000,
                     parallelism: int | None = None,
                     min_docs_per_shard: int = 30_000) -> int:
    """Doc-range shard sizing: bounded per-shard state for the query
    kernel (doclen arrays, candidate sets), the salt granularity for
    stopword terms, AND the encode-task memory contract (one whole
    shard per encoder task: 250k docs ⇒ ~30M combined (doc, term) rows
    ≈ 1 GB Arrow — shrink docs_per_shard for smaller executors).
    ~250k docs/shard ⇒ 4M shards at 10^12 docs — each an independent
    task; at test scale a handful of shards, so posting blocks stay
    full (fragmenting every term across O(cores) shards was measured
    5× slower at 20k docs).

    ``parallelism`` (the cluster's task slots) raises the floor for
    MID-SIZE corpora: at 2M docs the bare ceil gives 8 whole-shard
    encode tasks, idling half a 16-slot machine through the longest
    build phase (VERDICT r4: the measured local throughput ceiling).
    The floor never exceeds ``n_docs // min_docs_per_shard`` — splitting
    a small corpus across O(slots) shards fragments every term's posting
    blocks (the 5× regression above), so tiny corpora keep few shards
    and huge corpora are governed by the ceil term anyway."""
    floor = 8
    if parallelism:
        floor = max(floor, min(parallelism, n_docs // min_docs_per_shard))
    base = max(floor, (n_docs + docs_per_shard - 1) // docs_per_shard)
    # even encode waves: 20 shards on 16 slots runs 16 + a 4-task tail
    # wave — round UP to a slot multiple while shards are within a few
    # waves of the machine (beyond 4 waves, or at cluster scale where
    # the ceil term dominates, remainder tails are already amortized)
    if parallelism and parallelism < base <= 4 * parallelism:
        base = -(-base // parallelism) * parallelism
    return base


def _murmur3_int(v: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashInt (Austin Appleby's public-domain
    MurmurHash3), seed 42 — bit-identical to ``F.hash`` on an int
    column (verified against Spark in tests).  Lets the DRIVER predict
    ``repartition(n, expr)`` placement: partition = pmod(hash, n)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = v & 0xFFFFFFFF
    k = (k * c1) & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = (k * c2) & 0xFFFFFFFF
    h = seed ^ k
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # input length in bytes
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h & (1 << 31) else h


#: above this many shards per job, hash collisions average out and the
#: remap map expression would be large — plain hash partitioning
_EXACT_ASSIGN_MAX = 4096


def encode_partitioning(todo: list[int], parallelism: int):
    """(nparts, partition column) for the posting-encode exchange.

    Plain ``repartition(n, "shard")`` places shard s at
    pmod(murmur3(s), n) — with shards ≈ task slots the birthday effect
    co-locates several whole shards in one task while other slots sit
    EMPTY: at 5M docs (20 shards into 40 buckets) one task carried 4
    shards = 120M rows and alone accounted for ~900 s of a 1039 s build
    (NOTES_SCALING round-5).  For jobs up to ``_EXACT_ASSIGN_MAX``
    shards the driver instead picks one SALT per shard such that
    pmod(murmur3(salt), len(todo)) enumerates 0..n-1, and repartitions
    on ``map(shard → salt)`` — an exact 1:1 shard→task assignment (the
    local-mode analog of a custom partitioner, still pure DataFrame
    API).  Beyond that bound (real-cluster scale: millions of shards ≫
    slots) collisions merely average out and plain hashing is correct."""
    n = len(todo)
    if not 0 < n <= _EXACT_ASSIGN_MAX:
        return max(2 * n, 2 * parallelism), F.col("shard")
    needed: dict[int, int | None] = {i: None for i in range(n)}
    remaining, k = n, 0
    while remaining:
        r = _murmur3_int(k) % n  # python % == Spark pmod (non-negative)
        if needed[r] is None:
            needed[r] = k
            remaining -= 1
        k += 1
    mapping = {shard: needed[i] for i, shard in enumerate(sorted(todo))}
    pairs = [F.lit(x) for s, salt in mapping.items() for x in (s, salt)]
    return n, F.element_at(F.create_map(*pairs), F.col("shard"))


class _Clock:
    """A writer run's wall time and its ``phase_seconds``: ``mark(name)``
    books the time since the previous mark (or the start) to ``name``."""

    def __init__(self) -> None:
        self.t0 = self._t = time.time()
        self.phases: dict[str, float] = {}

    def mark(self, name: str) -> None:
        now = time.time()
        self.phases[name] = round(now - self._t, 3)
        self._t = now


def _writer_guard(catalog: IndexCatalog) -> dict | None:
    """The one guard in front of every write (``build_index``, resumed
    or not, and ``delete_docs``); returns the committed snapshot, or
    None.  Rolls back any rewrite that crashed mid-swap before anything
    trusts partition directories (``catalog.recover``), and refuses
    while another writer holds in-flight markers."""
    catalog.recover()
    if catalog._pending_markers():
        raise RuntimeError(
            "another writer holds in-flight rewrite markers on this "
            "catalog (single-writer contract); if that process is "
            "dead despite the pid probe, run catalog.recover(force=True)"
        )
    return catalog.current_snapshot()


def _refuse_other_encoding(snap: dict) -> None:
    """Refuse to keep committed shards this code would encode
    differently.  A resumed or grown build and ``delete_docs`` re-encode
    only the shards they touch, so a different block layout
    (``postings_format``), a different reference avgdl for the baked
    qmax_tfn bound (``tfn_ref_avgdl``: the query-time pruning bound would
    stop being an upper bound on one side, ADVICE r3), an index-time
    field boost (weighted tf) or a manifest without the lineage table
    would mix two encodings in one index.  A rebuild keeps nothing, so
    it is the remedy."""
    encoding = (snap.get("postings_format", 1),
                float(snap.get("tfn_ref_avgdl", TFN_REF_AVGDL)),
                snap.get("title_boost"), "lineage" in snap)
    ours = (POSTINGS_FORMAT, TFN_REF_AVGDL, None, True)
    if encoding != ours:
        raise ValueError(
            "the committed postings are encoded differently from this "
            "code's (postings_format, tfn_ref_avgdl, index-time field "
            f"boost, lineage table) = {ours}: got {encoding}; a partial "
            "re-encode would mix incompatible postings (block layout, "
            "pruning bound or analyzer settings) — rebuild with "
            "build_index(resume=False) or drop() the catalog"
        )


def build_index(
    docs: DataFrame,
    catalog: IndexCatalog,
    n_shards: int | None = None,
    stemming: bool = True,
    resume: bool = True,
    n_docs: int | None = None,
    only_shards: list[int] | None = None,
    positions: bool = False,
) -> dict:
    """Full or incremental build.  Returns the committed snapshot.

    ``resume=False`` rebuilds every table and keeps no committed shard;
    ``resume=True`` keeps the committed shards and builds only the
    missing and grown ones.  Either way every table write is staged and
    the snapshot commit decides it (see ``index/catalog.py``).

    Failure atomicity (ADVICE r4): a build that fails by RAISING — a
    Spark job abort, OOM-killed stage, analysis error — rolls back its
    own staged mutations before propagating
    (``catalog.rollback_on_raise``), so the committed snapshot, if any,
    again reads exactly its own tables; a failure AFTER the commit
    finalizes forward instead of undoing it.
    """
    with catalog.rollback_on_raise():
        return _build_index_impl(
            docs, catalog, n_shards=n_shards, stemming=stemming,
            resume=resume, n_docs=n_docs, only_shards=only_shards,
            positions=positions,
        )


def _build_index_impl(
    docs: DataFrame,
    catalog: IndexCatalog,
    n_shards: int | None = None,
    stemming: bool = True,
    resume: bool = True,
    n_docs: int | None = None,
    only_shards: list[int] | None = None,
    positions: bool = False,
) -> dict:
    """Build body — call through ``build_index`` (the rollback wrapper).

    Resumable (north rule: per-partition lineage + metrics):
    - shards already committed in the current snapshot are skipped;
      only missing shards are built (validated against the actual
      partition directories, not just the manifest);
    - a GROWN corpus (n_docs > snapshot n_docs) re-analyzes only the
      delta docs plus the boundary shard (the one partial doc-range
      shard that new docs extend) and appends new shard partitions —
      the shard width is pinned in the snapshot so committed doc→shard
      assignments never change;
    - analysis is checkpointed as the catalog's ``tokens`` table: a
      resumed build whose snapshot already covers the corpus skips
      re-analysis entirely.  A table (not ``persist()``) because at
      10^12 docs the intermediate exceeds any storage memory, and an
      8g-heap persist() of this set caused GC/eviction chaos
      (NOTES_SCALING.md).

    This body only produces the ``tokens`` partitions; everything
    derived from them is ``_rewrite_shards``, shared with delete_docs.
    """
    spark = docs.sparkSession
    clock = _Clock()

    if "doc_id" not in docs.columns:
        raise ValueError("documents must carry doc_id (assign before build)")
    meta_cols = [c for c in META_COLS if c in docs.columns]

    if n_docs is None:
        n_docs = docs.count()
    clock.mark("count")

    snap = _writer_guard(catalog)
    if not resume:
        snap = None  # a rebuild keeps no committed shard
    # default profile: uax29 under stemming, simple otherwise
    # (analyzer.resolve_tokenizer) — but a RESUMED build inherits the
    # snapshot's committed tokenizer, whatever it is
    tokenizer = (
        snap.get("tokenizer", "simple") if snap else resolve_tokenizer(stemming)
    )
    if snap:
        _refuse_other_encoding(snap)
        if (
            bool(snap.get("stemming", True)) != bool(stemming)
            or bool(snap.get("positions", False)) != bool(positions)
        ):
            raise ValueError(
                "resume with different analyzer settings (stemming/positions) "
                "would mix incompatible postings; drop() the catalog or match the "
                f"snapshot (stemming={snap.get('stemming')}, "
                f"positions={snap.get('positions', False)})"
            )
        # growth/boundary bookkeeping keys off the doc-id HIGH-WATER MARK
        # (next_doc_id), never the index's live-doc count: delete_docs
        # shrinks n_docs while surviving ids stay sparse, and a fresh
        # ingest must not re-use deleted ids (ADVICE r2: id collision
        # silently merges two documents).  Corpus contract: doc_ids are
        # assigned contiguously from 0 (streaming/ingest.assign_doc_ids),
        # and the corpus table never loses rows (delete_docs removes
        # docs from the INDEX only), so corpus count == high-water mark.
        old_n = snap.get("next_doc_id", snap["n_docs"])
        if n_docs < old_n:
            raise ValueError(
                f"corpus shrank below the indexed high-water mark ({old_n} → "
                f"{n_docs}); use delete_docs() for removals — rebuilding over "
                "fewer docs would orphan postings"
            )
        width = snap["shard_width"]
        n_shards = max(snap["n_shards"], -(-n_docs // width) if n_docs else 0)
    else:
        old_n = 0
        if n_shards is None:
            n_shards = default_n_shards(
                n_docs, parallelism=spark.sparkContext.defaultParallelism
            )
        width = max(1, -(-n_docs // n_shards)) if n_docs else 1
    shard = _shard_col(width)
    grown = snap is not None and n_docs > old_n

    # lineage validated against disk: a shard the manifest claims but
    # whose partition directory is gone (crash between table write and
    # snapshot commit cannot cause this, but operator error can) is
    # rebuilt rather than trusted (ADVICE: validate table state on resume)
    done = set()
    if snap is not None:
        done = {
            s
            for s, blocks, _p in catalog.lineage_rows(spark)
            if blocks == 0 or catalog.partition_exists("postings", s)
        }
    todo = set(range(n_shards)) - done

    delta_shards: list[int] = []
    if grown:
        # the boundary shard (containing doc old_n-1) is committed but
        # PARTIAL: new docs extend its range, so re-analyze + rebuild it
        # from the first doc of that shard (re-analyzing ≤1 shard of old
        # docs avoids a read-modify-write race on the tokens table)
        boundary = (old_n - 1) // width
        delta_start = boundary * width if old_n % width else old_n
        delta_shards = list(range(delta_start // width, n_shards))
        todo |= set(delta_shards)

    if only_shards is not None:  # bounded incremental run (checkpointed)
        todo &= set(only_shards)
    todo = sorted(todo)

    # `kind` second-level partition (t = token rows, d = doc sentinels):
    # doc_stats reads only kind=d leaves and the posting encode only
    # kind=t — both scans partition-prune instead of row-filtering the
    # token-scale table
    kind = F.when(F.col("term").isNull(), F.lit("d")).otherwise(F.lit("t"))
    tokens_all = snap is None or not catalog.exists("tokens")
    if tokens_all or grown:
        # a narrow map job (no shuffle) analyzes the whole corpus, or
        # for a grown build only the delta's partitions.  Either write
        # is a staged swap, provisional until the snapshot commits, so
        # a crash anywhere in the build leaves the OLD snapshot reading
        # exactly its old data (see catalog.replace)
        src = docs if tokens_all else docs.where(F.col("doc_id") >= delta_start)
        catalog.replace(
            term_doc_tf(src, stemming=stemming, meta_cols=meta_cols,
                        tokenizer=tokenizer, positions=positions)
            .withColumn("shard", shard).withColumn("kind", kind),
            "tokens", shards=None if tokens_all else delta_shards,
            partition_by=["shard", "kind"],
        )
        clock.mark("analyze_tokens")

    return _rewrite_shards(
        spark, catalog,
        token_shards=None if snap is None else delta_shards, todo=todo,
        n_shards=n_shards, positions=positions, clock=clock,
        # a bounded grown run that excluded delta shards must NOT claim
        # them: their on-disk postings (the boundary shard's OLD
        # partition) predate the delta's tokens/doc_stats rewrite, and a
        # later resume sees n_docs unchanged + partition_exists and would
        # trust them forever (ADVICE r2).  Dropping their lineage makes
        # the next resume rebuild exactly those shards.
        unclaimed=sorted(set(delta_shards) - set(todo)),
        docs_read=n_docs,
        manifest={
            # doc-id high-water mark + 1: monotone across grown builds
            # and deletes; the ONLY safe base for new doc_id allocation
            "next_doc_id": max(n_docs, old_n),
            "n_shards": n_shards,
            "shard_width": width,
            "stemming": stemming,
            "tokenizer": tokenizer,
            "positions": positions,
            "source": "documents",
        },
    )


def _rewrite_shards(
    spark: SparkSession,
    catalog: IndexCatalog,
    token_shards: list[int] | None,
    todo: list[int],
    n_shards: int,
    positions: bool,
    clock: _Clock,
    manifest: dict,
    unclaimed: Sequence[int] = (),
    docs_read: int | None = None,
) -> dict:
    """The one shard-rewrite tail: build, grown build and delete_docs
    differ only in how they produce their ``tokens`` partitions, and all
    of them commit through here.  Returns the committed snapshot.

    Every table write is a staged swap the snapshot commit decides
    (``catalog.replace``).  ``token_shards``: the shards whose tokens
    changed, or None for a rebuild, which rewrites every table whole
    and keeps no committed lineage; ``todo``: the shards to re-encode.
    In order:

    1. doc_stats of ``token_shards`` from the sentinel rows (a narrow
       filter-project of tokens: no shuffle, no join), then avgdl and
       the live-doc count — on a side thread, concurrently with 2;
    2. postings of ``todo`` through the one ``encode_partitioning``
       exchange;
    3. term_stats, derived from the postings block summaries;
    4. lineage: members = ``todo`` ∪ the committed lineage (none for a
       rebuild), minus ``unclaimed``;
    5. the manifest (``manifest`` holds the caller's own keys), then
       ``finalize_pending``.
    """
    from concurrent.futures import ThreadPoolExecutor

    tdf = catalog.read(spark, "tokens")
    meta_cols = [c for c in META_COLS if c in tdf.columns]

    def doc_stats_and_avgdl() -> tuple[int, float]:
        if token_shards is None or token_shards:
            sent = tdf.where(F.col("kind") == "d")  # partition-pruned
            if token_shards is not None:
                sent = sent.where(F.col("shard").isin(token_shards))
            catalog.replace(
                sent.select("doc_id", "doclen", *meta_cols, "shard"),
                "doc_stats", shards=token_shards, partition_by=["shard"],
            )
        # avgdl + live-doc count over ALL docs incl. empty ones — one agg
        # over the small doc_stats table (sentinels), never a scan of
        # token-scale data.  The doc_stats row count (not the corpus
        # count) is the index's true N for idf/avgdl: after delete_docs
        # the corpus table still holds removed rows
        row = (
            catalog.read(spark, "doc_stats")
            .agg(F.sum("doclen").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()[0]
        )
        n_live = int(row["n"])
        return n_live, (float(row["s"] or 0) / n_live if n_live else 0.0)

    # leaving the pool waits for the stats thread, so on a failure here
    # its staged doc_stats rewrite finishes (or fails) before the
    # rollback wrapper runs, instead of racing it
    with ThreadPoolExecutor(1) as pool:
        stats = pool.submit(doc_stats_and_avgdl)
        if todo:
            tok = tdf.where(F.col("kind") == "t")  # partition-pruned
            if len(todo) < n_shards:
                tok = tok.where(F.col("shard").isin(todo))  # partition-pruned

            def encode_partition(batches):
                import pyarrow as pa

                batches = list(batches)  # a hash partition can be empty
                if not batches:
                    return
                tbl = pa.Table.from_batches(batches)
                if tbl.num_rows:
                    yield from _encode_partition_arrow(tbl, positions=positions)

            # ONE exchange, partitioned on shard alone: each doc-range
            # shard lands whole in EXACTLY ONE task (driver-computed salt
            # map ⇒ collision-free 1:1 shard→task assignment,
            # encode_partitioning — plain hash placement left one task
            # carrying 4 whole shards at 5M docs while other slots
            # idled), and the encoder emits its groups in (shard,
            # term-LEXICOGRAPHIC, block_id) order, so the
            # partitionBy(shard) write directly produces one term-sorted
            # file per shard — the query layout (row-group min/max
            # pruning on `term IN`, tests/test_postings_layout.py) with
            # NO second shuffle and no sort.  A whole shard per task is
            # the memory contract default_n_shards sizes (250k docs ⇒
            # ~30M combined (doc,term) rows ≈ 1 GB Arrow per encode
            # task).  mapInArrow (not mapInPandas): the term strings stay
            # in Arrow buffers and are dictionary-encoded in C++ —
            # materializing 36M python string objects was the dominant
            # encode cost.
            nparts, pexpr = encode_partitioning(
                todo, spark.sparkContext.defaultParallelism
            )
            enc_cols = ["term", "shard", "doc_id", "tf", "doclen"]
            if positions:
                # a positional index keeps pos_vb on every rewrite, or
                # phrase queries on the rewritten shards break
                enc_cols.append("pos_vb")
            postings = (
                tok.select(*enc_cols)
                .repartition(nparts, pexpr)
                .mapInArrow(
                    encode_partition,
                    schema=POSTINGS_SCHEMA_POS if positions else POSTINGS_SCHEMA,
                )
            )
            catalog.replace(postings, "postings",
                            shards=None if token_shards is None else todo,
                            partition_by=["shard"], options=POSTINGS_WRITE_OPTIONS)
            clock.mark("postings")
        n_live, avgdl = stats.result()
    clock.mark("doc_stats_avgdl")

    # term_stats + per-shard lineage metrics, both DERIVED from the
    # block-summary columns of the postings table (302k blocks for 36M
    # postings — three orders of magnitude smaller than the token set)
    pst = catalog.read(spark, "postings")
    catalog.replace(
        pst.groupBy("term").agg(
            F.sum("n").cast("long").alias("df"), F.sum("tf_sum").alias("cf")
        ),
        "term_stats",
    )
    clock.mark("term_stats")
    # per-shard lineage: a parquet TABLE derived entirely distributed —
    # stats left-joined from the postings block summaries, zeros for
    # empty shards (else re-built forever).  Nothing shard-sized is
    # collected; the manifest gets only the O(1) summary block.
    shard_stats = pst.groupBy("shard").agg(
        F.count(F.lit(1)).alias("blocks"), F.sum("n").alias("postings")
    )
    if len(todo) == n_shards:
        members = spark.range(n_shards).select(
            F.col("id").cast("int").alias("shard")
        )
    else:
        members = spark.createDataFrame([(int(s),) for s in todo], "shard int")
    if token_shards is not None:
        members = members.union(
            catalog.read(spark, "lineage").select("shard")).distinct()
    if unclaimed:
        members = members.join(
            spark.createDataFrame([(int(s),) for s in unclaimed], "shard int"),
            "shard", "left_anti",
        )
    lineage_summary = catalog.write_lineage(
        spark,
        members.join(shard_stats, "shard", "left")
        .fillna(0, subset=["blocks", "postings"]),
    )
    clock.mark("metrics")

    elapsed = time.time() - clock.t0
    manifest = {
        **manifest,
        "phase_seconds": clock.phases,
        "postings_format": POSTINGS_FORMAT,
        "n_docs": n_live,
        "avgdl": avgdl,
        # reference avgdl the baked uint8 qmax_tfn bound was quantized
        # at — queries MUST scale by the build's value, not their own
        # code's constant (ADVICE r3: a drifted duplicate silently
        # mis-scales block pruning)
        "tfn_ref_avgdl": TFN_REF_AVGDL,
        "lineage": lineage_summary,
        # observability metadata — capped so a full build over millions
        # of shards cannot make the manifest O(#shards) again
        "built_shards_this_run": (
            todo if len(todo) <= 2_000
            else {"n": len(todo), "first": todo[0], "last": todo[-1]}
        ),
        "build_seconds": elapsed,
    }
    if docs_read is not None:
        manifest["docs_per_sec"] = docs_read / elapsed if elapsed > 0 else None
    catalog.commit_snapshot(manifest)
    # the commit above is the atomic point — only now may the staged
    # rewrites' backups go (a crash before this line rolls forward)
    catalog.finalize_pending()
    return catalog.current_snapshot()


def _encode_partition_arrow(tbl, positions: bool = False):
    """Encode ALL (term, shard) groups in one partition, Arrow-native:
    dictionary-encode the term column (C++), lexsort int codes, group
    boundaries via code changes, one whole-partition varbyte pass,
    per-block slices by byte offset.  Output rows are ordered
    (shard, term-LEXICOGRAPHIC, block_id) so a shard-partitioned write
    lands term-sorted files (row-group pruning depends on it).
    ``positions``: pass the per-posting ``pos_vb`` payloads through as
    one concatenated blob per block (posting order) — ``pc.take`` on
    the binary column already materializes rows contiguously in sort
    order, so block payloads are pure byte-offset slices of its data
    buffer, no per-row python.  Yields pyarrow RecordBatches."""
    import pyarrow as pa
    import pyarrow.compute as pc

    dict_arr = pc.dictionary_encode(tbl.column("term")).combine_chunks()
    if isinstance(dict_arr, pa.ChunkedArray):
        dict_arr = dict_arr.chunk(0)
    term_codes = dict_arr.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    term_dict = dict_arr.dictionary  # pa.StringArray of unique terms
    shards = tbl.column("shard").to_numpy(zero_copy_only=False).astype(np.int64)
    doc_ids = tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
    tfs = tbl.column("tf").to_numpy(zero_copy_only=False).astype(np.int64)
    dls = tbl.column("doclen").to_numpy(zero_copy_only=False).astype(np.int32)

    # dictionary codes are first-appearance order; remap to the term's
    # LEXICOGRAPHIC rank (vocab-sized argsort) so the sort below yields
    # alphabetical term runs within each shard
    n_terms = len(term_dict)
    rank_of_code = np.empty(n_terms, dtype=np.int64)
    rank_of_code[np.argsort(np.asarray(term_dict, dtype=object))] = np.arange(n_terms)
    ranks = rank_of_code[term_codes]

    # single combined shard-major group key → 2-key lexsort instead of 3
    gkey = shards * n_terms + ranks
    order = np.lexsort((doc_ids, gkey))
    gkey, shards, doc_ids, tfs, dls = (
        gkey[order], shards[order], doc_ids[order], tfs[order], dls[order]
    )
    term_codes = term_codes[order]

    # group boundaries over the (term, shard) key — int comparisons
    key_change = np.empty(len(gkey), dtype=bool)
    key_change[0] = True
    key_change[1:] = gkey[1:] != gkey[:-1]
    starts = np.flatnonzero(key_change)
    ends = np.append(starts[1:], len(gkey))

    # block boundaries: every BLOCK_SIZE entries within each group
    block_starts_list = [
        np.arange(g0, g1, BLOCK_SIZE, dtype=np.int64) for g0, g1 in zip(starts, ends)
    ]
    bstarts = np.concatenate(block_starts_list)
    group_of_block = np.repeat(np.arange(len(starts)), [len(x) for x in block_starts_list])
    bends = np.minimum(bstarts + BLOCK_SIZE, ends[group_of_block])
    block_ids = (bstarts - starts[group_of_block]) // BLOCK_SIZE

    # delta-encode doc_ids with a reset at every block start, then
    # varbyte-encode the WHOLE partition in one call and slice blocks
    # out by byte offset — one numpy pass instead of 2 calls per block
    deltas = np.empty_like(doc_ids)
    deltas[1:] = doc_ids[1:] - doc_ids[:-1]
    deltas[bstarts] = doc_ids[bstarts]  # absolute at block starts
    d_buf, d_sizes = vb_encode_with_sizes(deltas)
    t_buf, t_sizes = vb_encode_with_sizes(tfs)
    l_buf, l_sizes = vb_encode_with_sizes(dls.astype(np.int64))
    d_off = np.zeros(len(deltas) + 1, dtype=np.int64)
    np.cumsum(d_sizes, out=d_off[1:])
    t_off = np.zeros(len(tfs) + 1, dtype=np.int64)
    np.cumsum(t_sizes, out=t_off[1:])
    l_off = np.zeros(len(dls) + 1, dtype=np.int64)
    np.cumsum(l_sizes, out=l_off[1:])
    if d_off[-1] >= 2**31 or t_off[-1] >= 2**31 or l_off[-1] >= 2**31:
        # Arrow BinaryArray offsets are int32; a >2 GiB varbyte payload in
        # one partition means the repartition width is far too small
        raise ValueError(
            "posting payload of one partition exceeds 2 GiB — raise the "
            "repartition count (spark.sql.shuffle.partitions) for this corpus"
        )

    # corner-bound block-max metadata (query-time ub needs avgdl + these)
    max_tf_blocks = np.maximum.reduceat(tfs, bstarts)
    min_dl_blocks = np.minimum.reduceat(dls, bstarts)
    tf_sum_blocks = np.add.reduceat(tfs, bstarts)
    last_idx = bends - 1
    # baked per-DOC tf-normalization bound at the fixed reference avgdl,
    # quantized UP to uint8 (ceil keeps it an upper bound; query scales
    # it by max(1, avgdl/ref) for growth-safety and min()s with the
    # corner bound — tighter than the corner when the max-tf doc is long)
    tfn_ref = tfs / (tfs + K1 * (1.0 - B + B * dls.astype(np.float64) / TFN_REF_AVGDL))
    qmax_tfn_blocks = np.minimum(
        np.ceil(np.maximum.reduceat(tfn_ref, bstarts) * 255.0), 255
    ).astype(np.int32)

    # binary columns built zero-copy-ish: offsets into the shared buffer
    d_offsets = np.empty(len(bstarts) + 1, dtype=np.int32)
    d_offsets[:-1] = d_off[bstarts]
    d_offsets[-1] = d_off[bends[-1]]
    t_offsets = np.empty(len(bstarts) + 1, dtype=np.int32)
    t_offsets[:-1] = t_off[bstarts]
    t_offsets[-1] = t_off[bends[-1]]
    l_offsets = np.empty(len(bstarts) + 1, dtype=np.int32)
    l_offsets[:-1] = l_off[bstarts]
    l_offsets[-1] = l_off[bends[-1]]
    d_col = pa.BinaryArray.from_buffers(
        pa.binary(), len(bstarts), [None, pa.py_buffer(d_offsets), pa.py_buffer(d_buf)]
    )
    t_col = pa.BinaryArray.from_buffers(
        pa.binary(), len(bstarts), [None, pa.py_buffer(t_offsets), pa.py_buffer(t_buf)]
    )
    l_col = pa.BinaryArray.from_buffers(
        pa.binary(), len(bstarts), [None, pa.py_buffer(l_offsets), pa.py_buffer(l_buf)]
    )
    extra_cols, extra_names = [], []
    if positions:
        # NOTE: pa.binary() offsets are int32, so one shard partition's
        # total positional payload is capped at 2 GiB — ~250k docs of
        # ~8 kB compressed positions each, comfortably above the
        # default_n_shards 250k-doc sizing.  Exceeding it fails LOUDLY
        # in combine_chunks/take below; shrink docs_per_shard (more
        # shards) for corpora with much longer documents.
        parr = tbl.column("pos_vb").combine_chunks()
        if isinstance(parr, pa.ChunkedArray):
            parr = parr.chunk(0)
        taken = pc.take(parr, pa.array(order, type=pa.int64()))
        assert taken.offset == 0
        p_row_off = np.frombuffer(taken.buffers()[1], dtype=np.int32)
        p_offsets = np.empty(len(bstarts) + 1, dtype=np.int32)
        p_offsets[:-1] = p_row_off[bstarts]
        p_offsets[-1] = p_row_off[bends[-1]]
        extra_cols.append(
            pa.BinaryArray.from_buffers(
                pa.binary(), len(bstarts),
                [None, pa.py_buffer(p_offsets), taken.buffers()[2]],
            )
        )
        extra_names.append("pos_vb")
    batch = pa.RecordBatch.from_arrays(
        [
            pc.take(term_dict, pa.array(term_codes[bstarts], type=pa.int64())),
            pa.array(shards[bstarts].astype(np.int32)),
            pa.array(block_ids.astype(np.int32)),
            pa.array((bends - bstarts).astype(np.int32)),
            pa.array(doc_ids[bstarts]),
            pa.array(doc_ids[last_idx]),
            pa.array(max_tf_blocks.astype(np.int32)),
            pa.array(min_dl_blocks.astype(np.int32)),
            pa.array(qmax_tfn_blocks),
            pa.array(tf_sum_blocks.astype(np.int64)),
            d_col,
            t_col,
            l_col,
        ] + extra_cols,
        names=[
            "term", "shard", "block_id", "n", "first_doc_id", "last_doc_id",
            "max_tf", "min_dl", "qmax_tfn", "tf_sum",
            "doc_ids_vb", "tfs_vb", "dls_vb",
        ] + extra_names,
    )
    yield batch
