"""BM25 top-k as a declarative DataFrame program over the stored index.

Reference semantics reproduced (apiserver/apiserver/search/__init__.py:
55-77): multi-term keyword query, operator='and' (every query term must
match), BM25 k1=1.2 b=0.75 (ES 7.8.1 defaults, docker-compose.yml:6),
filters (lang / warc_ts range) are non-scoring filter context
(search/__init__.py:79-105) applied before scoring.  Top-k = 50 default
in the reference (search/base.py:1); tie-break pinned (score desc,
doc_id asc).

Plan shape (Catalyst-visible, scale story):
  postings scan — `term IN (...)` is pushed to parquet row-group
  pruning on the term column; only the query terms' blocks are read —
  → mapInPandas varbyte decode (Arrow-batched)
  → join doc_stats (filter context applied to doc_stats first so the
    join is pre-pruned; broadcast of term_stats-derived idf map)
  → groupBy(doc_id) with count(=n_terms) AND-gate + sum(score)
  → orderBy/limit: Spark's TakeOrderedAndProject = per-partition
    partial top-k, no full sort.

This path is the *verification* engine (pure built-ins after decode).
Every other query runs through the planner (query/batch.py) and the
block-max kernels; both must agree (tests/test_index_and_rank_identity.py).
"""

from __future__ import annotations

import datetime as dt
import functools
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..analyzer import analyze_query
from ..index.build import B, K1
from ..index.catalog import IndexCatalog
from ..index.varbyte import vb_decode, delta_decode

_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
    ]
)


def decode_postings_df(postings: DataFrame) -> DataFrame:
    """Varbyte posting blocks → flat (term, doc_id, tf) rows."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            terms: list[str] = []
            doc_ids: list[np.ndarray] = []
            tfs: list[np.ndarray] = []
            for term, dvb, tvb in zip(b["term"], b["doc_ids_vb"], b["tfs_vb"]):
                d = delta_decode(vb_decode(bytes(dvb)))
                t = vb_decode(bytes(tvb))
                terms.extend([term] * len(d))
                doc_ids.append(d)
                tfs.append(t)
            if not doc_ids:
                yield pd.DataFrame({"term": [], "doc_id": [], "tf": []})
                continue
            yield pd.DataFrame(
                {
                    "term": terms,
                    "doc_id": np.concatenate(doc_ids).astype(np.int64),
                    "tf": np.concatenate(tfs).astype(np.int32),
                }
            )

    return postings.mapInPandas(decode, schema=_DECODED_SCHEMA)


def _committed_snapshot(catalog: IndexCatalog) -> dict:
    snap = catalog.current_snapshot()
    if snap is None:
        raise ValueError("no committed snapshot in this catalog")
    return snap


# Hot-term df cache: bounded, keyed per committed snapshot.  Keyed on
# committed_at (not just the sequence) because catalog.drop() + rebuild
# restarts sequence numbering at 1 — a long-lived driver must never
# serve the old index's df map against the new index.
_DF_CACHE: dict[tuple[str, int, float], dict[str, int]] = {}
_DF_CACHE_MAX_TERMS = 100_000


def idf_map(spark: SparkSession, catalog: IndexCatalog, terms: list[str]) -> dict[str, float]:
    """Per-term idf from term_stats, fetching ONLY the query's terms
    (``term IN (...)`` is pushed into the parquet scan).  Driver memory
    is O(query terms), never O(vocabulary) — on a Common-Crawl-scale
    corpus the surface vocabulary (typos, urls, hashes) is 10^8+ terms
    and collecting it would OOM the driver.  A bounded per-snapshot
    cache keeps hot terms resident across queries (the analog of the
    ES node's in-memory term dictionary for frequent terms)."""
    snap = catalog.current_snapshot()
    n_docs = snap["n_docs"]
    key = (catalog.root, snap["sequence"], snap.get("committed_at", 0.0))
    cache = _DF_CACHE.get(key)
    if cache is None:
        _DF_CACHE.clear()  # one catalog at a time; avoid unbounded growth
        cache = _DF_CACHE[key] = {}
    missing = [t for t in terms if t not in cache]
    if missing:
        found = _lookup_df(catalog, missing)
        if len(cache) + len(missing) > _DF_CACHE_MAX_TERMS:
            cache.clear()
        for t in missing:
            cache[t] = found.get(t, 0)  # df=0 cached too (negative lookups)
    return {
        t: math.log(1.0 + (n_docs - cache[t] + 0.5) / (cache[t] + 0.5))
        for t in terms
        if cache[t] > 0
    }


def _lookup_df(catalog: IndexCatalog, terms: list[str]) -> dict[str, int]:
    """Fetch df for ``terms`` from the committed term_stats table: a
    driver-local Arrow read with a pushed ``term IN`` filter — the
    analog of an Elasticsearch node consulting its in-memory term
    dictionary, without paying a whole Spark job round-trip per query
    (measured: the idf job was half of each query's latency floor).
    Work stays O(query terms + row groups touched); the snapshot
    dataset has ``read_snapshot``'s listing and crashed-rewrite
    resolution."""
    tb = catalog.snapshot_dataset("term_stats").to_table(
        columns=["term", "df"], filter=pads.field("term").isin(terms)
    )
    return dict(zip(tb.column("term").to_pylist(), tb.column("df").to_pylist()))


def _filter_context(ds: DataFrame, lang: str | None, ts_lo, ts_hi) -> DataFrame:
    """``ds`` (doc_stats columns) restricted to the non-scoring filter
    context: ``lang`` equality and the inclusive warc_ts range."""
    if lang is not None:
        ds = ds.where(F.col("lang") == lang)
    if ts_lo is not None:
        ds = ds.where(F.col("warc_ts") >= F.lit(ts_lo))
    if ts_hi is not None:
        ds = ds.where(F.col("warc_ts") <= F.lit(ts_hi))
    return ds


def _arrow_ts(v, session_tz: str) -> pa.Scalar:
    """A warc_ts bound as the type doc_stats stores (timestamp[ns], no
    zone, UTC instants), converted exactly as ``_filter_context``'s
    ``F.lit`` converts it: a datetime through
    ``TimestampType.toInternal`` (an aware one at its instant, a naive
    one in the driver process's local zone); anything else — a string,
    a date — the way Spark casts it, in the session time zone."""
    if isinstance(v, dt.datetime):
        micros = T.TimestampType().toInternal(v)
    else:
        ts = pd.Timestamp(v)
        if ts.tzinfo is None:
            ts = ts.tz_localize(session_tz)
        micros = ts.value // 1000
    return pa.scalar(micros * 1000, pa.timestamp("ns"))


def _arrow_filter_context(pred, lang: str | None, ts_lo, ts_hi, session_tz: str):
    """``pred``, a pyarrow dataset filter over doc_stats, narrowed to
    ``_filter_context`` — its form for the driver-local reads of
    query/wand.py."""
    if lang is not None:
        pred = pred & (pads.field("lang") == lang)
    if ts_lo is not None:
        pred = pred & (pads.field("warc_ts") >= _arrow_ts(ts_lo, session_tz))
    if ts_hi is not None:
        pred = pred & (pads.field("warc_ts") <= _arrow_ts(ts_hi, session_tz))
    return pred


@functools.cache
def _struct(schema: str) -> T.StructType:
    return T._parse_datatype_string(schema)


def _local_frame(spark: SparkSession, pdf: pd.DataFrame, schema: str) -> DataFrame:
    """``pdf``'s ``schema`` columns as a DataFrame built from Arrow: a
    LocalRelation, so collecting it runs no Spark job (a list or
    pandas ``createDataFrame`` runs one, empty or not)."""
    st = _struct(schema)
    arrow = to_arrow_schema(st)
    tb = arrow.empty_table() if pdf.empty else pa.Table.from_pandas(
        pdf[st.names], schema=arrow, preserve_index=False)
    return spark.createDataFrame(tb, st)


def _filtered_doc_stats(
    spark: SparkSession,
    catalog: IndexCatalog,
    lang: str | None,
    ts_lo=None,
    ts_hi=None,
) -> DataFrame:
    return _filter_context(catalog.read(spark, "doc_stats"), lang, ts_lo, ts_hi)


# Serving-side cache of the NARROW filter columns of doc_stats
# (shard, doc_id, lang, warc_ts — no urls, no doclens): a query engine
# holds its filter metadata hot exactly the way Elasticsearch keeps doc
# values / field data in memory.  ~17 bytes/doc ⇒ at 10^12 docs this is
# ~17 TB cluster-wide, i.e. ~17 GB per executor on a 1000-node cluster —
# the same order as ES's doc-value page cache for an index of that
# size.  Keyed per (Spark app, catalog root, snapshot) so a recommitted
# snapshot or a new session never serves stale rows; MEMORY_AND_DISK so
# an undersized cluster degrades to spill, not OOM.
_DS_CACHE: dict[tuple[str, str, int, float], DataFrame] = {}


def _cached_filter_stats(spark: SparkSession, catalog: IndexCatalog) -> DataFrame:
    snap = catalog.current_snapshot()
    key = (
        spark.sparkContext.applicationId,
        catalog.root,
        snap["sequence"],
        snap.get("committed_at", 0.0),
    )
    df = _DS_CACHE.get(key)
    if df is None:
        for old in list(_DS_CACHE):
            stale = _DS_CACHE.pop(old)
            # only unpersist handles owned by the LIVE SparkContext: an
            # entry keyed to a previous (stopped) session died with its
            # context — calling unpersist through its dead JVM handle
            # NPEs (driverEndpoint null) and would fail the first
            # filtered query of every new session in a multi-session
            # process (bench.py, long-lived notebooks)
            if old[0] == key[0]:
                stale.unpersist()
        ds = catalog.read(spark, "doc_stats")
        cols = [c for c in ("shard", "doc_id", "lang", "warc_ts") if c in ds.columns]
        from pyspark import StorageLevel

        # persisted PRE-HASH-PARTITIONED on shard: the cogroup in
        # wand._shard_kernel_job requires ClusteredDistribution(shard),
        # and a cached HashPartitioning(shard) child satisfies it — the
        # doc_stats side is then exchange-FREE at query time (only the
        # tiny term-filtered postings side shuffles); filters on the
        # cached columns preserve the partitioning
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        df = ds.select(*cols).repartition(n_part, "shard").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        _DS_CACHE[key] = df
    return df


def _filtered_doc_ids(
    spark: SparkSession,
    catalog: IndexCatalog,
    lang: str | None,
    ts_lo=None,
    ts_hi=None,
) -> DataFrame:
    """(shard, doc_id) of docs surviving the non-scoring filter context,
    served from the cached narrow doc_stats columns."""
    ds = _filter_context(_cached_filter_stats(spark, catalog), lang, ts_lo, ts_hi)
    return ds.select("shard", "doc_id")


def bm25_topk_dataframe(
    spark: SparkSession,
    catalog: IndexCatalog,
    query: str,
    k: int = 10,
    lang: str | None = None,
    ts_lo=None,
    ts_hi=None,
) -> DataFrame:
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    snap = _committed_snapshot(catalog)
    stemming = snap.get("stemming", True)
    avgdl = snap["avgdl"]
    terms = analyze_query(query, stemming=stemming,
                          tokenizer=snap.get("tokenizer", "simple"))

    empty = _local_frame(spark, pd.DataFrame({"doc_id": [], "score": []}),
                         "doc_id long, score double")
    if not terms:
        return empty
    idfs = idf_map(spark, catalog, terms)
    if len(idfs) < len(terms):  # AND semantics: a term with df=0 kills the query
        return empty

    postings = catalog.read(spark, "postings").where(F.col("term").isin(terms))
    decoded = decode_postings_df(
        postings.select("term", "doc_ids_vb", "tfs_vb")
    )

    idf_df = F.broadcast(
        spark.createDataFrame(
            [(t, float(v)) for t, v in idfs.items()], "term string, idf double"
        )
    )
    ds = _filtered_doc_stats(spark, catalog, lang, ts_lo, ts_hi).select("doc_id", "doclen")

    scored = (
        decoded.join(ds, "doc_id")  # inner join = filter context
        .join(idf_df, "term")
        .withColumn(
            "partial",
            F.col("idf")
            * F.col("tf")
            / (F.col("tf") + K1 * (1.0 - B + B * F.col("doclen") / F.lit(avgdl))),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("partial").alias("score"), F.count(F.lit(1)).alias("nt"))
        .where(F.col("nt") == len(terms))
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
