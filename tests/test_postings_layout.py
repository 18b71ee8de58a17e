"""The postings query layout: every shard partition a writer rewrites
is ONE parquet file whose rows ascend by (term, block_id), so the
row-group term ranges of a file never overlap and `term IN (...)`
row-group pruning (query/wand.py) skips every group outside a query's
terms.  No writer sorts explicitly: the layout follows from the one
encode exchange (one whole shard per task) and the encoder's output
order, so a fresh build, a grown build and a delete are each checked."""

import glob
import os

import pyarrow.parquet as pq

from datamart_spark.corpus import generate_documents
from datamart_spark.index import IndexCatalog, build_index, delete_docs


def _check_rewritten_shards(cat: IndexCatalog, manifest: dict) -> None:
    shards = manifest["built_shards_this_run"]
    assert shards
    for s in shards:
        files = glob.glob(os.path.join(cat.partition_path("postings", s), "*.parquet"))
        assert len(files) == 1, (s, files)
        pf = pq.ParquetFile(files[0])
        tb = pf.read(columns=["term", "block_id"])
        keys = list(zip(tb.column("term").to_pylist(),
                        tb.column("block_id").to_pylist()))
        assert keys and keys == sorted(set(keys)), s  # strictly ascending
        col = pf.schema_arrow.get_field_index("term")
        ranges = [
            (pf.metadata.row_group(g).column(col).statistics.min,
             pf.metadata.row_group(g).column(col).statistics.max)
            for g in range(pf.metadata.num_row_groups)
        ]
        assert all(a[1] <= b[0] for a, b in zip(ranges, ranges[1:])), (s, ranges)


def test_rewritten_postings_partitions_are_one_term_sorted_file(spark, tmp_path):
    cat = IndexCatalog(str(tmp_path / "layout"))
    m = build_index(generate_documents(spark, 450), cat, n_shards=4, resume=False)
    assert m["built_shards_this_run"] == [0, 1, 2, 3]
    _check_rewritten_shards(cat, m)

    m = build_index(generate_documents(spark, 800), cat)  # grown: 3..7
    assert m["built_shards_this_run"] == [3, 4, 5, 6, 7]
    _check_rewritten_shards(cat, m)

    m = delete_docs(spark, cat, doc_ids=[7, 8, 600, 601])  # shards 0 and 5
    assert m["built_shards_this_run"] == [0, 5]
    _check_rewritten_shards(cat, m)
