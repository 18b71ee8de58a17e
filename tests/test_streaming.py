"""Structured-Streaming ingest: exactly-once drains, latest-per-url,
and ingest-then-index."""

from datamart_spark.corpus import generate_documents
from datamart_spark.streaming import incremental_ingest
from datamart_spark.streaming.ingest import latest_per_url


def test_incremental_ingest_exactly_once(spark, tmp_path):
    landing = str(tmp_path / "landing")
    dest = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    docs = generate_documents(spark, 50)
    docs.where("doc_id < 30").write.parquet(landing)
    incremental_ingest(spark, landing, dest, ckpt)
    assert spark.read.parquet(dest).count() == 30

    # second batch lands; availableNow drains ONLY the new files
    docs.where("doc_id >= 30").write.mode("append").parquet(landing)
    incremental_ingest(spark, landing, dest, ckpt)
    got = spark.read.parquet(dest)
    assert got.count() == 50
    assert got.select("doc_id").distinct().count() == 50

    # re-run with nothing new: no duplicates (exactly-once)
    incremental_ingest(spark, landing, dest, ckpt)
    assert spark.read.parquet(dest).count() == 50


def test_latest_per_url(spark, tmp_path):
    import pandas as pd

    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["u1", "u1", "u2"],
                "doc_id": [1, 2, 3],
                "ingest_time": pd.to_datetime(
                    ["2024-01-01", "2024-01-02", "2024-01-01"]
                ),
            }
        )
    )
    got = {r["url"]: r["doc_id"] for r in latest_per_url(corpus).collect()}
    assert got == {"u1": 2, "u2": 3}


def test_ingest_and_index_end_to_end(spark, tmp_path):
    """§2.9 full loop: stream-drain new pages → contiguous doc_ids →
    corpus append → grown-corpus resume rebuilds only the delta — and
    the new pages are immediately searchable, rank-identical to a
    fresh build over the same final corpus."""
    from datamart_spark.corpus import _VOCAB
    from datamart_spark.index import IndexCatalog, build_index
    from datamart_spark.query import bm25_topk_blockmax
    from datamart_spark.streaming.ingest import ingest_and_index

    landing = str(tmp_path / "landing")
    corpus_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    cat = IndexCatalog(str(tmp_path / "cat"))

    docs = generate_documents(spark, 600).drop("doc_id")
    d400 = docs.orderBy("url").limit(400)
    d400.write.parquet(landing)
    m1 = ingest_and_index(spark, landing, corpus_dir, ckpt, cat)
    assert m1["n_docs"] == 400

    # batch 2: 200 more pages land; resume indexes only the delta
    rest = docs.join(d400.select("url"), "url", "left_anti")
    rest.write.mode("append").parquet(landing)
    m2 = ingest_and_index(spark, landing, corpus_dir, ckpt, cat)
    assert m2["n_docs"] == 600
    assert m2["built_shards_this_run"]  # delta shards rebuilt
    assert set(m2["built_shards_this_run"]) < set(range(m2["n_shards"] + 1))

    # searchable + rank-identical to a fresh build over the same corpus
    fresh = IndexCatalog(str(tmp_path / "fresh"))
    build_index(spark.read.parquet(corpus_dir), fresh, resume=False)
    q = f"{_VOCAB[40]} {_VOCAB[300]}"
    a = [(r["doc_id"], round(r["score"], 9))
         for r in bm25_topk_blockmax(spark, cat, q, k=15).collect()]
    b = [(r["doc_id"], round(r["score"], 9))
         for r in bm25_topk_blockmax(spark, fresh, q, k=15).collect()]
    assert a == b and len(a) > 0

