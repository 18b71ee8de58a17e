"""Top-level search facade — the engine's analog of the reference's
``POST /api/v1/search`` (apiserver/apiserver/search/__init__.py:429-604).

Composes, in reference order: query analysis (same analyzer as index
time) → non-scoring filter context (lang equality, warc_ts range —
search/__init__.py:79-105,185-256) → BM25 scoring with AND semantics
(operator:'and', search/__init__.py:67) → top-k (k=50 default,
search/base.py:1) → metadata hydration (the reference fetches each
hit's full document via es.get, join.py:530).  The first four steps
are the query planner and its one shard-kernel skeleton
(query/batch.py): ``search`` is a planned batch of one and
``search_many`` a planned batch, and both hydrate through ``_hydrate``
on the branch the kernels took — in-process hits with one pyarrow
``doc_id IN hits`` read of the hits' doc_stats shards and no Spark job,
Spark-job hits with one broadcast join against doc_stats.  A query with
no live spec (an absent AND term) hydrates to its empty frame without
reading doc_stats.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..index.catalog import IndexCatalog
from .batch import _topk, _topk_many
from .bm25 import _local_frame

TOP_K_SIZE = 50  # reference search/base.py:1
PAGE_SIZE = 200  # reference union-search page (union.py:131-159)


def paginate(df: DataFrame, order_cols: list[str], page_size: int = PAGE_SIZE,
             after: tuple | None = None) -> DataFrame:
    """W5 pagination scan — the reference loops ES ``from_``/``size``
    pages (union.py:131-159 page=200; common.py:254-267 page=10000).
    Offset pagination re-executes and discards O(pages²) rows at scale;
    this is the KEYSET form: ``after`` is the previous page's last key
    tuple, pushed down as a lexicographic range predicate so every page
    is one pruned scan + TakeOrderedAndProject.  ``order_cols`` must be
    a unique key (pass a tiebreaker column last)."""
    out = df
    if after is not None:
        cond = None
        for i, c in enumerate(order_cols):
            this = F.col(c) > F.lit(after[i])
            for j in range(i):
                this = this & (F.col(order_cols[j]) == F.lit(after[j]))
            cond = this if cond is None else (cond | this)
        out = out.where(cond)
    return out.orderBy(*[F.asc(c) for c in order_cols]).limit(page_size)


#: Spark types of the hydrated columns
_HIT_TYPES = {"query_id": "string", "doc_id": "long", "url": "string",
              "lang": "string", "warc_ts": "timestamp", "score": "double"}


def _hydrate(spark: SparkSession, catalog: IndexCatalog,
             hits: DataFrame | pd.DataFrame, *lead: str) -> DataFrame:
    """Join (``lead``…, doc_id, score) hits with the url/lang/warc_ts
    columns doc_stats has, ordered (``lead``…, score desc, doc_id asc),
    on the branch the hits come from (``wand._shard_kernel_job``)."""
    if isinstance(hits, pd.DataFrame):
        return _hydrate_local(spark, catalog, hits, lead)
    ds = catalog.read_snapshot(spark, "doc_stats")
    meta_cols = [c for c in ("url", "lang", "warc_ts") if c in ds.columns]
    order = [*lead, F.desc("score"), F.asc("doc_id")]
    if not meta_cols:
        return hits.select(*lead, "doc_id", "score").orderBy(*order)
    # broadcast the ≤k·Q-row hits side: doc_stats (10^12 rows at target
    # scale) must never be shuffled to hydrate 50 hits — the broadcast
    # hash join streams doc_stats partitions map-side (plan-asserted in
    # tests/test_plans.py)
    return (
        F.broadcast(hits).join(ds.select("doc_id", *meta_cols), "doc_id")
        .select(*lead, "doc_id", *meta_cols, "score")
        .orderBy(*order)
    )


def _hydrate_local(spark: SparkSession, catalog: IndexCatalog,
                   hits: pd.DataFrame, lead: tuple[str, ...]) -> DataFrame:
    """``_hydrate`` of in-process hits: one pyarrow ``doc_id IN hits``
    read of doc_stats, pruned to the hits' shard partitions, a pandas
    inner join, a frame built from Arrow — no Spark job.  No hits (a
    plan with no live spec) read nothing."""
    ds = catalog.snapshot_dataset("doc_stats")
    meta_cols = [c for c in ("url", "lang", "warc_ts") if c in ds.schema.names]
    cols = [*lead, "doc_id", *meta_cols, "score"]
    if meta_cols and len(hits):
        ids = hits["doc_id"].unique()
        # the build's shard rule (index/build._shard_col): the double
        # doc_id / width, truncated
        width = catalog.current_snapshot()["shard_width"]
        shards = np.unique((ids / width).astype(np.int64)).tolist()
        pred = pads.field("shard").isin(shards) & pads.field("doc_id").isin(ids)
        meta = ds.to_table(columns=["doc_id", *meta_cols], filter=pred).to_pandas()
        hits = hits.merge(meta, on="doc_id")
    out = hits.reindex(columns=cols).sort_values(
        [*lead, "score", "doc_id"], ascending=[*(True for _ in lead), False, True])
    return _local_frame(spark, out, ", ".join(f"{c} {_HIT_TYPES[c]}" for c in cols))


def search(
    spark: SparkSession,
    catalog: IndexCatalog,
    query: str,
    k: int = TOP_K_SIZE,
    lang: str | None = None,
    ts_lo=None,
    ts_hi=None,
    or_mode: bool = False,
    phrase: bool = False,
    slop: int = 0,
) -> DataFrame:
    """Ranked search returning (doc_id, url, lang, warc_ts, score).

    ``phrase=True`` treats ``query`` as an ordered token sequence
    against a positional index (``slop`` extra tokens allowed between
    first and last, Lucene 1/(gap+1) weighting — see
    ``bm25_phrase_topk``); ``or_mode`` is keyword-only."""
    hits = _topk(spark, catalog, [{
        "query": query, "lang": lang, "ts_lo": ts_lo, "ts_hi": ts_hi,
        "or_mode": or_mode, "phrase": phrase, "slop": slop, "query_id": None,
    }], k)
    return _hydrate(spark, catalog, hits)


def search_many(
    spark: SparkSession,
    catalog: IndexCatalog,
    queries: list[dict],
    k: int = TOP_K_SIZE,
) -> DataFrame:
    """Bulk ranked search: the whole query batch (per-query AND/OR mode,
    phrase flags and lang/ts filters — see ``bm25_topk_batch``) in one
    scan and one kernel pass, hydrated on the branch the kernels took
    (``_hydrate``): a small selection runs in-process and hydrates with
    one pyarrow ``doc_id IN hits`` read of doc_stats, no Spark job; a
    larger one is ONE job hydrated with one broadcast join against
    doc_stats.  Returns (query_id, doc_id, url, lang, warc_ts, score),
    each query's hits ordered (score desc, doc_id asc).  The reference
    answers one ``POST /api/v1/search`` per HTTP request; a bulk
    evaluation client looping that endpoint pays N round-trips + N ES
    requests — this is the engine-side batch form of the same semantics
    (apiserver/apiserver/search/__init__.py:429-604 per query)."""
    return _hydrate(spark, catalog, _topk_many(spark, catalog, queries, k),
                    "query_id")
