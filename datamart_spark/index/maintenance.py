"""Index maintenance: row-level deletes (reference S14).

The reference removes one dataset from all its Elasticsearch indices
with delete-by-query (lib_core/datamart_core/common.py:280-317) and
re-inserts on re-profile (delete-then-reinsert, profiler/profiler.py:
286-297).  Reinsertion is the index build itself, and so is the second
half of a delete: ``delete_docs`` filter-rewrites the ``tokens``
partitions of the doc-range shards that hold the deleted documents,
then runs the build's own tail (``build._rewrite_shards``) over exactly
those shards — doc_stats from the sentinels, postings through the one
encode exchange, term_stats/avgdl, lineage, and the snapshot commit.
On Iceberg the first half is ``DELETE FROM tokens WHERE``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from .build import _Clock, _refuse_other_encoding, _rewrite_shards, _writer_guard
from .catalog import IndexCatalog


def delete_docs(
    spark: SparkSession,
    catalog: IndexCatalog,
    doc_ids: list[int] | None = None,
    urls: list[str] | None = None,
) -> dict:
    """Remove documents (by doc_id and/or url) from every index table,
    rebuilding only the shard partitions that contained them.  Returns
    the new committed snapshot.  Same failure atomicity as
    ``build_index``: staged until the snapshot commit, and rolled back
    on a raise (``catalog.rollback_on_raise``).

    Scope: this deletes from the INDEX, not from the corpus table.  If
    the deleted docs remain in the corpus, a later grown-corpus build
    re-analyzes the boundary shard from the corpus and will re-index any
    deleted docs still sitting in that shard's doc range — delete them
    from the corpus table too when removal must be permanent.  Deleted
    doc_ids are never re-allocated (the snapshot's next_doc_id high-water
    mark is monotone)."""
    with catalog.rollback_on_raise():
        return _delete_docs_impl(spark, catalog, doc_ids=doc_ids, urls=urls)


def _delete_docs_impl(
    spark: SparkSession,
    catalog: IndexCatalog,
    doc_ids: list[int] | None = None,
    urls: list[str] | None = None,
) -> dict:
    """Delete body — call through ``delete_docs`` (the rollback wrapper)."""
    snap = _writer_guard(catalog)
    if not snap:
        raise ValueError("nothing committed in this catalog")
    _refuse_other_encoding(snap)
    clock = _Clock()

    ids = set(int(d) for d in (doc_ids or []))
    if urls:
        rows = (
            catalog.read(spark, "doc_stats")
            .where(F.col("url").isin(list(urls)))
            .select("doc_id")
            .collect()
        )
        ids |= {r["doc_id"] for r in rows}
    if not ids:
        return snap
    ids = sorted(ids)
    width = snap["shard_width"]
    shards = sorted({d // width for d in ids})

    surviving = (
        catalog.read(spark, "tokens")
        .where(F.col("shard").isin(shards))
        .where(~F.col("doc_id").isin(ids))
    )
    catalog.replace(surviving, "tokens", shards=shards,
                    partition_by=["shard", "kind"])
    clock.mark("tokens")

    positions = bool(snap.get("positions", False))
    return _rewrite_shards(
        spark, catalog, token_shards=shards, todo=shards,
        n_shards=snap["n_shards"], positions=positions, clock=clock,
        manifest={
            "next_doc_id": snap.get("next_doc_id", snap["n_docs"]),
            "n_shards": snap["n_shards"],
            "shard_width": width,
            "stemming": snap.get("stemming", True),
            "tokenizer": snap.get("tokenizer", "simple"),
            "positions": positions,
            "source": "delete_docs",
            "deleted_doc_ids": len(ids),
        },
    )
