"""Per-shard lineage as a parquet table (VERDICT r5 #2): the snapshot
manifest must stay O(1) in shard count — at the 10^12-doc / ~4M-shard
design point an in-manifest lineage map is a multi-hundred-MB JSON
parsed on every snapshot read — with a content checksum binding the
manifest to the table bytes.  A legacy (in-manifest map) snapshot is
not grown or deleted from: its writers refuse, and a rebuild converts
it."""

import json
import os

from datamart_spark.corpus import generate_documents, _VOCAB
from datamart_spark.index import IndexCatalog, build_index
from datamart_spark.query import bm25_topk_blockmax

N = 600


def _snap_path(cat):
    d = os.path.join(cat.root, "_snapshots")
    return os.path.join(d, sorted(os.listdir(d))[-1])


def test_manifest_size_constant_in_shard_count(spark, tmp_path):
    """The whole point of the table: 24x the shards must not grow the
    manifest materially (the legacy map grew ~50 bytes per shard)."""
    docs = generate_documents(spark, N)
    few = IndexCatalog(str(tmp_path / "few"))
    build_index(docs, few, n_shards=2, resume=False)
    many = IndexCatalog(str(tmp_path / "many"))
    build_index(docs, many, n_shards=48, resume=False)

    sz_few = os.path.getsize(_snap_path(few))
    sz_many = os.path.getsize(_snap_path(many))
    # built_shards_this_run (capped observability list) accounts for a
    # few bytes per built shard; the lineage block itself is fixed-size
    assert sz_many - sz_few < 1500, (sz_few, sz_many)

    assert many.current_snapshot()["lineage"]["n_shards"] == 48
    rows = many.lineage_rows(spark)
    assert len(rows) == 48
    assert sum(p for _s, _b, p in rows) \
        == many.current_snapshot()["lineage"]["total_postings"]


def test_checksum_detects_out_of_band_table_edit(spark, tmp_path):
    """The manifest checksum must vouch for the table bytes: a lineage
    table modified outside a snapshot commit (operator error) is
    rejected, mirroring partition_exists validation for data."""
    import pytest

    cat = IndexCatalog(str(tmp_path / "c"))
    build_index(generate_documents(spark, N), cat, n_shards=4, resume=False)
    ok = cat.lineage_rows(spark)
    assert len(ok) == 4

    # tamper: drop one row and rewrite the table in place
    df = spark.read.parquet(cat.table_path("lineage"))
    tampered = df.where("shard <> 2").collect()
    import shutil

    shutil.rmtree(cat.table_path("lineage"))
    spark.createDataFrame(
        tampered, "shard int, blocks long, postings long"
    ).coalesce(1).write.parquet(cat.table_path("lineage"))
    cat._df_cache.clear()
    with pytest.raises(ValueError, match="disagrees with the committed"):
        cat.lineage_rows(spark)


def test_legacy_in_manifest_lineage_refuses_partial_rewrite(spark, tmp_path):
    """Catalogs committed before the lineage table existed carry the
    per-shard map in the manifest.  A grown build or a delete over one
    would keep shards it cannot vouch for, so both refuse and commit
    nothing; the rebuild the refusal names converts the catalog to the
    table format."""
    import pytest

    from datamart_spark.index import delete_docs

    cat = IndexCatalog(str(tmp_path / "legacy"))
    build_index(generate_documents(spark, 450), cat, n_shards=4, resume=False)

    # rewrite the snapshot into the legacy shape
    rows = cat.lineage_rows(spark)
    snap_file = _snap_path(cat)
    with open(snap_file) as f:
        snap = json.load(f)
    snap.pop("lineage")
    snap["shards"] = {
        str(s): {"blocks": b, "postings": p} for s, b, p in rows
    }
    with open(snap_file, "w") as f:
        json.dump(snap, f)
    import shutil

    shutil.rmtree(cat.table_path("lineage"))
    cat._df_cache.clear()

    with pytest.raises(ValueError, match="encoded differently"):
        build_index(generate_documents(spark, 800), cat)
    with pytest.raises(ValueError, match="encoded differently"):
        delete_docs(spark, cat, doc_ids=[3])
    assert cat.current_snapshot() == snap
    assert os.listdir(os.path.dirname(snap_file)) == [os.path.basename(snap_file)]
    assert not cat._pending_markers()

    # the remedy: a rebuild commits the table format
    m = build_index(generate_documents(spark, 800), cat, resume=False)
    assert "shards" not in m and m["lineage"]["n_shards"] == m["n_shards"]
    assert os.path.isdir(cat.table_path("lineage"))
    assert not cat._pending_markers()

    fresh = IndexCatalog(str(tmp_path / "fresh"))
    build_index(generate_documents(spark, 800), fresh, resume=False)
    q = f"{_VOCAB[40]} {_VOCAB[300]}"
    a = [(r["doc_id"], round(r["score"], 9))
         for r in bm25_topk_blockmax(spark, cat, q, k=15).collect()]
    b = [(r["doc_id"], round(r["score"], 9))
         for r in bm25_topk_blockmax(spark, fresh, q, k=15).collect()]
    assert a == b and len(a) > 0
