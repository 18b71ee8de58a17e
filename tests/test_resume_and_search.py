"""Incremental/partial builds (north rule: resumable from checkpoint
with per-partition lineage) and the top-level search facade."""

import os

import pytest

from datamart_spark.corpus import generate_documents, generate_documents_pandas, _VOCAB
from datamart_spark.index import IndexCatalog, build_index
from datamart_spark.query import bm25_topk_blockmax, search
from datamart_spark.query.bm25_oracle import Bm25Oracle

N = 800


def test_partial_build_then_resume_equals_full(spark, tmp_path):
    docs = generate_documents(spark, N)

    # reference build in one shot
    full_cat = IndexCatalog(str(tmp_path / "full"))
    build_index(docs, full_cat, n_shards=6, resume=False)

    # incremental: shards {0,1,2} then resume for the rest
    inc_cat = IndexCatalog(str(tmp_path / "inc"))
    m1 = build_index(docs, inc_cat, n_shards=6, only_shards=[0, 1, 2])
    assert m1["built_shards_this_run"] == [0, 1, 2]
    assert {sh for sh, _b, _p in inc_cat.lineage_rows(spark)} == {0, 1, 2}

    m2 = build_index(docs, inc_cat)  # resume fills 3..5, reuses tokens checkpoint
    assert m2["built_shards_this_run"] == [3, 4, 5]
    assert {sh for sh, _b, _p in inc_cat.lineage_rows(spark)} == set(range(6))
    assert "analyze_tokens" not in m2["phase_seconds"]  # checkpoint reused

    # same index contents: every query term set agrees with the full build
    q = f"{_VOCAB[40]} {_VOCAB[300]}"
    a = [(r["doc_id"], round(r["score"], 9))
         for r in bm25_topk_blockmax(spark, full_cat, q, k=20).collect()]
    b = [(r["doc_id"], round(r["score"], 9))
         for r in bm25_topk_blockmax(spark, inc_cat, q, k=20).collect()]
    assert a == b and len(a) > 0

    # per-shard lineage metrics match the full build's
    build_index(docs, full_cat)
    assert sorted(inc_cat.lineage_rows(spark)) == \
        sorted(full_cat.lineage_rows(spark))


def test_search_facade(spark, tmp_path):
    docs = generate_documents(spark, N)
    cat = IndexCatalog(str(tmp_path / "s"))
    build_index(docs, cat, n_shards=4, resume=False)
    oracle = Bm25Oracle(generate_documents_pandas(N)[["doc_id", "text", "lang", "warc_ts"]])

    q = f"{_VOCAB[45]} {_VOCAB[120]}"
    res = search(spark, cat, q, k=10).collect()
    assert 0 < len(res) <= 10
    assert list(res[0].asDict()) == ["doc_id", "url", "lang", "warc_ts", "score"]
    want = oracle.topk(q, k=10)
    assert [(r["doc_id"], round(r["score"], 9)) for r in res] == [
        (d, round(s, 9)) for d, s in want
    ]
    # hydrated url matches the corpus row
    pdf = generate_documents_pandas(N)
    for r in res:
        assert r["url"] == pdf.iloc[r["doc_id"]]["url"]

    # filtered search
    res_de = search(spark, cat, _VOCAB[45], k=10, lang="de").collect()
    assert all(r["lang"] == "de" for r in res_de)


def test_reader_instance_serves_rebuilt_index_after_drop(spark, tmp_path, spark_job):
    _check_reader_instance_serves_rebuilt_index_after_drop(spark, tmp_path)


def test_reader_instance_serves_rebuilt_index_after_drop_in_process(spark, tmp_path,
                                                                    in_process):
    _check_reader_instance_serves_rebuilt_index_after_drop(spark, tmp_path)


def _check_reader_instance_serves_rebuilt_index_after_drop(spark, tmp_path):
    """drop() + rebuild restarts snapshot sequences at 1.  A second
    catalog instance on the same root that already served a search
    must answer from the rebuilt index, not from the dropped index's
    memoized file listing."""
    root = str(tmp_path / "rebuilt")
    writer, reader = IndexCatalog(root), IndexCatalog(root)

    def build(rows):
        docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        build_index(docs, writer, n_shards=2, stemming=False, resume=False,
                    n_docs=len(rows))

    build([(0, "alpha beta", "en"), (1, "alpha gamma", "en")])
    assert [r["doc_id"] for r in search(spark, reader, "alpha").collect()] == [0, 1]

    writer.drop()
    build([(0, "delta", "en"), (1, "epsilon omega", "en"),
           (2, "omega zeta", "en"), (3, "omega", "de")])
    assert reader.current_snapshot()["sequence"] == 1
    got = search(spark, reader, "omega", lang="en").collect()
    assert sorted(r["doc_id"] for r in got) == [1, 2]
    assert search(spark, reader, "alpha").collect() == []


def test_resume_after_corpus_growth(spark, tmp_path):
    """ADVICE (r1, medium): a resumed build over a GROWN corpus must
    index the delta — including new docs that extend the committed
    boundary shard — and end rank-identical to a fresh build."""
    n1, n2 = 450, 800
    grown_cat = IndexCatalog(str(tmp_path / "grown"))
    m1 = build_index(generate_documents(spark, n1), grown_cat, n_shards=4, resume=False)
    assert m1["n_docs"] == n1 and m1["shard_width"] == 113  # ceil(450/4)

    # corpus grows (generator is deterministic: first 450 docs identical)
    m2 = build_index(generate_documents(spark, n2), grown_cat)  # resume=True
    assert m2["n_docs"] == n2
    assert m2["shard_width"] == 113  # pinned: committed doc→shard never moves
    assert m2["n_shards"] == 8  # ceil(800/113)
    # shard 3 covered [339,452) but held only docs 339..449 — PARTIAL, so
    # the delta rebuild must include it along with the new shards
    assert m2["built_shards_this_run"] == [3, 4, 5, 6, 7]

    fresh_cat = IndexCatalog(str(tmp_path / "fresh"))
    build_index(generate_documents(spark, n2), fresh_cat, resume=False)

    for q in (f"{_VOCAB[40]} {_VOCAB[300]}", _VOCAB[45], "the"):
        a = [(r["doc_id"], round(r["score"], 9))
             for r in bm25_topk_blockmax(spark, grown_cat, q, k=15).collect()]
        b = [(r["doc_id"], round(r["score"], 9))
             for r in bm25_topk_blockmax(spark, fresh_cat, q, k=15).collect()]
        assert a == b and len(a) > 0

    # growing again: boundary shard 7 ([791,904) holds 791..799) + new
    m3 = build_index(generate_documents(spark, 1000), grown_cat)
    assert m3["built_shards_this_run"] == [7, 8]
    assert m3["n_docs"] == 1000


def test_resume_analyzer_mismatch_raises(spark, tmp_path):
    cat = IndexCatalog(str(tmp_path / "mm"))
    build_index(generate_documents(spark, 200), cat, resume=False)
    with pytest.raises(ValueError, match="analyzer settings"):
        build_index(generate_documents(spark, 200), cat, stemming=False)
    with pytest.raises(ValueError, match="shrank"):
        build_index(generate_documents(spark, 100), cat)


def test_resume_refuses_boosted_snapshot(spark, tmp_path):
    """A snapshot whose manifest records an index-time title_boost holds
    weighted tf; a resumed build must refuse it, not grow it with plain
    tf, and must commit nothing."""
    import glob
    import json

    cat = IndexCatalog(str(tmp_path / "boosted"))
    build_index(generate_documents(spark, 200), cat, resume=False)
    path = sorted(glob.glob(str(tmp_path / "boosted" / "_snapshots" / "snap-*.json")))[-1]
    with open(path) as f:
        manifest = json.load(f)
    manifest["title_boost"] = 10
    with open(path, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(ValueError, match="analyzer settings"):
        build_index(generate_documents(spark, 250), cat)
    assert cat.current_snapshot()["sequence"] == manifest["sequence"]
    assert len(glob.glob(str(tmp_path / "boosted" / "_snapshots" / "snap-*"))) == 1


def _edit_manifest(cat, **keys):
    """Overwrite keys of the committed snapshot's manifest in place;
    returns the edited manifest."""
    import json

    path = os.path.join(cat.root, "_snapshots",
                        f"snap-{cat.current_snapshot()['sequence']:06d}.json")
    with open(path) as f:
        manifest = json.load(f)
    manifest.update(keys)
    with open(path, "w") as f:
        json.dump(manifest, f)
    return manifest


def _assert_nothing_committed(cat, manifest):
    assert cat.current_snapshot() == manifest
    assert len(os.listdir(os.path.join(cat.root, "_snapshots"))) == 1
    assert not cat._pending_markers()


def test_grown_build_refuses_other_tfn_ref_avgdl(spark, tmp_path):
    """A grown build re-encodes only the boundary and new shards at this
    code's TFN_REF_AVGDL: over shards baked at another reference avgdl
    the pruning bound would stop being an upper bound, so it refuses
    and commits nothing."""
    cat = IndexCatalog(str(tmp_path / "ref"))
    build_index(generate_documents(spark, 200), cat, n_shards=4, resume=False)
    manifest = _edit_manifest(cat, tfn_ref_avgdl=128.0)
    with pytest.raises(ValueError, match="encoded differently"):
        build_index(generate_documents(spark, 250), cat)
    _assert_nothing_committed(cat, manifest)


def test_delete_refuses_other_postings_format(spark, tmp_path):
    """delete_docs re-encodes the touched shards in this code's block
    layout: over postings of another format it refuses and commits
    nothing."""
    from datamart_spark.index import delete_docs

    cat = IndexCatalog(str(tmp_path / "fmt"))
    build_index(generate_documents(spark, 200), cat, n_shards=4, resume=False)
    manifest = _edit_manifest(cat, postings_format=1)
    with pytest.raises(ValueError, match="encoded differently"):
        delete_docs(spark, cat, doc_ids=[3])
    _assert_nothing_committed(cat, manifest)


def _leftovers(root):
    """Markers, backups and staging dirs anywhere under a catalog root."""
    return sorted(
        os.path.join(d, x)
        for d, dirs, files in os.walk(root) for x in dirs + files
        if x.startswith(("_old_", "_pending_rewrite_")) or x.endswith("__rewrite")
    )


def test_rebuild_over_other_encoding_commits_this_codes(spark, tmp_path):
    """The remedy the encoding refusal names: a resume=False rebuild
    over postings of another format and reference avgdl keeps no
    committed shard, so it runs, commits this code's encoding and ranks
    like a fresh catalog."""
    from datamart_spark.index.build import POSTINGS_FORMAT, TFN_REF_AVGDL

    cat = IndexCatalog(str(tmp_path / "enc"))
    build_index(generate_documents(spark, 300), cat, n_shards=4, resume=False)
    _edit_manifest(cat, postings_format=1, tfn_ref_avgdl=128.0)
    m = build_index(generate_documents(spark, 300), cat, n_shards=4, resume=False)
    assert m["sequence"] == 2
    assert m["postings_format"] == POSTINGS_FORMAT
    assert m["tfn_ref_avgdl"] == TFN_REF_AVGDL
    assert _leftovers(cat.root) == []
    fresh = IndexCatalog(str(tmp_path / "enc_fresh"))
    build_index(generate_documents(spark, 300), fresh, n_shards=4, resume=False)
    q = f"{_VOCAB[40]} {_VOCAB[120]}"
    assert _topk(spark, cat, q) == _topk(spark, fresh, q) != []


def test_rebuild_failure_rolls_back_to_old_snapshot(spark, tmp_path):
    """A resume=False rebuild over a committed snapshot writes every
    table as a staged swap: one that fails before its commit leaves the
    old snapshot reading exactly its own tables — same sequence, its own
    doc_stats rows, the same ranking, nothing staged left behind."""
    root = str(tmp_path / "rb")
    cat = IndexCatalog(root)
    build_index(generate_documents(spark, 300), cat, n_shards=4, resume=False)
    q = f"{_VOCAB[40]} {_VOCAB[120]}"
    before = _topk(spark, cat, q, k=10)

    cat.commit_snapshot = _boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(generate_documents(spark, 500), cat, resume=False)
    del cat.commit_snapshot

    cat2 = IndexCatalog(root)
    snap = cat2.current_snapshot()
    assert snap["sequence"] == 1 and snap["n_docs"] == 300
    assert cat2.read(spark, "doc_stats").count() == 300
    assert _topk(spark, cat2, q, k=10) == before
    assert _leftovers(root) == []

    m = build_index(generate_documents(spark, 500), cat2, resume=False)
    assert m["sequence"] == 2 and m["n_docs"] == 500
    assert cat2.read(spark, "doc_stats").count() == 500
    assert _leftovers(root) == []


def test_delete_docs_rank_identical_to_fresh_subset(spark, tmp_path):
    """S14 delete-by-dataset analog: per-shard rewrite of one deleted
    document equals a fresh index over the surviving doc set."""
    from pyspark.sql import functions as F

    from datamart_spark.index import delete_docs

    n = 600
    docs = generate_documents(spark, n)
    cat = IndexCatalog(str(tmp_path / "del"))
    m1 = build_index(docs, cat, n_shards=4, resume=False)

    drop_ids = [10, 11, 450]
    pdf = generate_documents_pandas(n)
    drop_urls = [pdf.iloc[450]["url"]]  # 450 via url, 10/11 via doc_id
    m2 = delete_docs(spark, cat, doc_ids=[10, 11], urls=drop_urls)
    assert m2["n_docs"] == n - 3
    assert m2["built_shards_this_run"] == [0, 3]  # only touched shards
    # the build's tail times the delete's phases too
    assert {"doc_stats_avgdl", "postings", "term_stats", "metrics"} <= \
        set(m2["phase_seconds"])

    fresh = IndexCatalog(str(tmp_path / "del_fresh"))
    build_index(
        docs.where(~F.col("doc_id").isin(drop_ids)), fresh,
        n_shards=4, resume=False, n_docs=n - 3,
    )
    # n_docs must agree for identical idf; avgdl identical doc set
    assert abs(m2["avgdl"] - fresh.current_snapshot()["avgdl"]) < 1e-12

    q = f"{_VOCAB[40]} {_VOCAB[300]}"
    a = [(r["doc_id"], round(r["score"], 9))
         for r in bm25_topk_blockmax(spark, cat, q, k=20).collect()]
    b = [(r["doc_id"], round(r["score"], 9))
         for r in bm25_topk_blockmax(spark, fresh, q, k=20).collect()]
    assert a == b and len(a) > 0
    got_ids = {r["doc_id"] for r in bm25_topk_blockmax(spark, cat, "the", k=50, or_mode=True).collect()}
    assert not (got_ids & set(drop_ids))


def test_delete_docs_preserves_positions(spark, tmp_path):
    """ADVICE r6 (high): delete_docs on a POSITIONAL index must re-encode
    the touched shards with the pos_vb payload — dropping it broke every
    later phrase query against those shards.  Phrase ranks after the
    delete must equal a fresh positional index over the survivors."""
    from pyspark.sql import functions as F

    from datamart_spark.index import delete_docs
    from datamart_spark.query.phrase import bm25_phrase_topk, phrase_spans

    n = 400
    docs = generate_documents(spark, n)
    cat = IndexCatalog(str(tmp_path / "delpos"))
    build_index(docs, cat, n_shards=4, resume=False, positions=True)

    # pick a phrase with matches, then delete one matching doc
    q = f"{_VOCAB[40]} {_VOCAB[300]}"
    spans0 = phrase_spans(spark, cat, q).collect()
    drop_ids = sorted({r["doc_id"] for r in spans0})[:1] or [0]
    m2 = delete_docs(spark, cat, doc_ids=drop_ids)
    assert m2["positions"] is True

    fresh = IndexCatalog(str(tmp_path / "delpos_fresh"))
    build_index(
        docs.where(~F.col("doc_id").isin(drop_ids)), fresh,
        n_shards=4, resume=False, n_docs=n - len(drop_ids), positions=True,
    )
    for phrase, slop in ((q, 0), (q, 3), (f"{_VOCAB[45]} {_VOCAB[120]}", 2)):
        a = [(r["doc_id"], round(r["score"], 9))
             for r in bm25_phrase_topk(spark, cat, phrase, k=20, slop=slop).collect()]
        b = [(r["doc_id"], round(r["score"], 9))
             for r in bm25_phrase_topk(spark, fresh, phrase, k=20, slop=slop).collect()]
        assert a == b
    sa = [(r["doc_id"], r["pos"]) for r in phrase_spans(spark, cat, q).collect()]
    sb = [(r["doc_id"], r["pos"]) for r in phrase_spans(spark, fresh, q).collect()]
    assert sa == sb
    assert not ({d for d, _ in sa} & set(drop_ids))


def test_grown_only_shards_drops_stranded_lineage(spark, tmp_path):
    """ADVICE (r2, medium): a bounded grown run (only_shards excluding
    part of the delta) must not commit lineage for the excluded delta
    shards — their on-disk postings predate the delta rewrite, and a
    later resume would otherwise trust them forever."""
    cat = IndexCatalog(str(tmp_path / "gos"))
    build_index(generate_documents(spark, 450), cat, n_shards=4, resume=False)

    # grow to 800 (delta shards = {3..7}) but build only {4,5}
    m = build_index(generate_documents(spark, 800), cat, only_shards=[4, 5])
    assert m["built_shards_this_run"] == [4, 5]
    # stranded delta shards 3 (boundary, stale postings on disk), 6, 7
    # must be absent from lineage so the next resume rebuilds them
    assert {sh for sh, _b, _p in cat.lineage_rows(spark)} == {0, 1, 2, 4, 5}

    m2 = build_index(generate_documents(spark, 800), cat)  # plain resume
    assert m2["built_shards_this_run"] == [3, 6, 7]

    fresh = IndexCatalog(str(tmp_path / "gos_fresh"))
    build_index(generate_documents(spark, 800), fresh, resume=False)
    q = f"{_VOCAB[40]} {_VOCAB[300]}"
    a = [(r["doc_id"], round(r["score"], 9))
         for r in bm25_topk_blockmax(spark, cat, q, k=15).collect()]
    b = [(r["doc_id"], round(r["score"], 9))
         for r in bm25_topk_blockmax(spark, fresh, q, k=15).collect()]
    assert a == b and len(a) > 0


def test_recover_rolls_back_half_swapped_partition(spark, tmp_path, spark_job):
    _check_recover_rolls_back_half_swapped_partition(spark, tmp_path)


def test_recover_rolls_back_half_swapped_partition_in_process(spark, tmp_path,
                                                              in_process):
    _check_recover_rolls_back_half_swapped_partition(spark, tmp_path)


def _check_recover_rolls_back_half_swapped_partition(spark, tmp_path):
    """ADVICE (r2, medium): a delete that crashes mid-partition-swap
    leaves a pending marker; recover() must restore the committed
    partition state before anything trusts the directories."""
    import json
    import os
    import shutil

    cat = IndexCatalog(str(tmp_path / "rec"))
    build_index(generate_documents(spark, 300), cat, n_shards=4, resume=False)
    q = f"{_VOCAB[40]} {_VOCAB[120]}"
    before = [(r["doc_id"], round(r["score"], 9))
              for r in bm25_topk_blockmax(spark, cat, q, k=10).collect()]

    # simulate a crash between `rename(dst, backup)` and the new move:
    dst = cat.partition_path("postings", 1)
    os.rename(dst, cat._backup_path("postings", 1))
    with open(cat._pending_path("postings"), "w") as f:
        json.dump({"shards": [1, 2], "had_old": [1, 2]}, f)
    # ...and one where junk new data arrived but the backup still exists
    dst2 = cat.partition_path("postings", 2)
    os.rename(dst2, cat._backup_path("postings", 2))
    os.makedirs(dst2)

    assert cat.recover() == ["postings"]
    assert cat.partition_exists("postings", 1)
    assert not os.path.isdir(cat._backup_path("postings", 1))
    assert not os.path.isdir(cat._backup_path("postings", 2))
    assert not os.path.exists(cat._pending_path("postings"))

    after = [(r["doc_id"], round(r["score"], 9))
             for r in bm25_topk_blockmax(spark, cat, q, k=10).collect()]
    assert after == before and len(after) > 0
    # idempotent when nothing is pending
    assert cat.recover() == []


def _boom(*_a, **_k):
    raise RuntimeError("simulated crash")


def _mark_writers_dead(cat):
    """A real crash kills the writer process; these tests simulate one
    from a live process, so zero out the markers' pid (recover() treats
    a live writer's in-flight markers as not-ours-to-undo)."""
    import json

    for name, path, payload in cat._pending_markers():
        payload["pid"] = 0
        with open(path, "w") as f:
            json.dump(payload, f)


def _topk(spark, cat, q, k=15):
    return [(r["doc_id"], round(r["score"], 9))
            for r in bm25_topk_blockmax(spark, cat, q, k=k).collect()]


def test_grown_build_crash_before_commit_rolls_back(spark, tmp_path):
    """VERDICT r3 #5: a grown build that dies AFTER its staged partition
    swaps but BEFORE the snapshot commit must leave the old snapshot
    reading exactly its old data — the swaps are provisional until the
    commit, and the query path's recover() rolls them back."""
    root = str(tmp_path / "gc")
    cat = IndexCatalog(root)
    build_index(generate_documents(spark, 450), cat, n_shards=4, resume=False)
    q = f"{_VOCAB[40]} {_VOCAB[300]}"
    before = _topk(spark, cat, q)

    # simulate PROCESS DEATH: call the impl directly — the public
    # build_index wrapper would roll back an in-process exception itself
    # (covered by test_build_failure_in_process_rolls_back)
    from datamart_spark.index.build import _build_index_impl

    cat.commit_snapshot = _boom  # crash between table swaps and commit
    with pytest.raises(RuntimeError, match="simulated crash"):
        _build_index_impl(generate_documents(spark, 800), cat)
    _mark_writers_dead(cat)  # the "crashed" writer is this live process

    # a new process: fresh catalog object; the query path auto-recovers
    cat2 = IndexCatalog(root)
    snap = cat2.current_snapshot()
    assert snap["n_docs"] == 450 and snap["sequence"] == 1
    assert _topk(spark, cat2, q) == before
    # no grown-corpus rows leak into any index table under the old snap
    assert cat2.read(spark, "doc_stats").count() == 450
    from pyspark.sql import functions as F
    assert (
        cat2.read(spark, "tokens")
        .agg(F.max("doc_id").alias("m")).collect()[0]["m"] == 449
    )
    assert not cat2.partition_exists("postings", 5)
    assert not cat2._pending_markers()

    # and the grown build converges when re-run without the crash
    m = build_index(generate_documents(spark, 800), cat2)
    assert m["n_docs"] == 800
    fresh = IndexCatalog(str(tmp_path / "gc_fresh"))
    build_index(generate_documents(spark, 800), fresh, resume=False)
    assert _topk(spark, cat2, q) == _topk(spark, fresh, q)


def test_grown_build_crash_after_commit_rolls_forward(spark, tmp_path):
    """The mirror case: the snapshot commit LANDED but the backup
    cleanup was lost — recover() must keep the new data (rolling back
    would desync the committed manifest from the tables)."""
    root = str(tmp_path / "gf")
    cat = IndexCatalog(root)
    build_index(generate_documents(spark, 450), cat, n_shards=4, resume=False)

    from datamart_spark.index.build import _build_index_impl

    cat.finalize_pending = _boom  # crash right after the commit
    with pytest.raises(RuntimeError, match="simulated crash"):
        _build_index_impl(generate_documents(spark, 800), cat)
    _mark_writers_dead(cat)

    cat2 = IndexCatalog(root)
    assert cat2.current_snapshot()["n_docs"] == 800
    assert cat2.recover() != []  # markers resolved forward
    assert not cat2._pending_markers()
    q = f"{_VOCAB[40]} {_VOCAB[300]}"
    fresh = IndexCatalog(str(tmp_path / "gf_fresh"))
    build_index(generate_documents(spark, 800), fresh, resume=False)
    assert _topk(spark, cat2, q) == _topk(spark, fresh, q)
    # backups are gone
    import os
    for t in ("tokens", "doc_stats", "postings"):
        assert not [d for d in os.listdir(cat2.table_path(t))
                    if d.startswith("_old_")], t


def test_delete_crash_before_commit_rolls_back_everywhere(spark, tmp_path):
    """A delete that dies before its snapshot commit must be invisible:
    all four tables (tokens, doc_stats, postings, term_stats) roll back
    together — closing the old 'delete visible early' window."""
    from datamart_spark.index import delete_docs

    root = str(tmp_path / "dc")
    cat = IndexCatalog(root)
    build_index(generate_documents(spark, 300), cat, n_shards=4, resume=False)
    q = f"{_VOCAB[40]} {_VOCAB[120]}"
    before = _topk(spark, cat, q, k=10)
    ts_before = cat.read(spark, "term_stats").count()

    from datamart_spark.index.maintenance import _delete_docs_impl

    cat.commit_snapshot = _boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        _delete_docs_impl(spark, cat, doc_ids=[5, 6, 200])
    _mark_writers_dead(cat)

    cat2 = IndexCatalog(root)
    assert _topk(spark, cat2, q, k=10) == before
    assert cat2.read(spark, "doc_stats").count() == 300  # nothing deleted
    assert cat2.read(spark, "term_stats").count() == ts_before
    assert not cat2._pending_markers()

    # the delete is idempotent — re-running it completes
    m = delete_docs(spark, cat2, doc_ids=[5, 6, 200])
    assert m["n_docs"] == 297


def test_delete_then_ingest_never_reuses_doc_ids(spark, tmp_path):
    """ADVICE (r2, high): new ingests must allocate doc_ids from the
    high-water mark, not the post-delete n_docs — otherwise two distinct
    documents silently merge under one id."""
    from datamart_spark.index import delete_docs
    from datamart_spark.streaming.ingest import ingest_and_index

    landing = str(tmp_path / "landing")
    corpus_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    cat = IndexCatalog(str(tmp_path / "cat"))

    docs = generate_documents(spark, 500).drop("doc_id")
    first = docs.orderBy("url").limit(400)
    first.write.parquet(landing)
    m1 = ingest_and_index(spark, landing, corpus_dir, ckpt, cat)
    assert m1["n_docs"] == 400 and m1["next_doc_id"] == 400

    m2 = delete_docs(spark, cat, doc_ids=[0, 1, 2])
    assert m2["n_docs"] == 397
    assert m2["next_doc_id"] == 400  # high-water mark never decreases

    rest = docs.join(first.select("url"), "url", "left_anti")
    rest.write.mode("append").parquet(landing)
    m3 = ingest_and_index(spark, landing, corpus_dir, ckpt, cat)
    assert m3["next_doc_id"] == 500
    assert m3["n_docs"] == 497  # 400 - 3 deleted + 100 new

    ds = cat.read(spark, "doc_stats")
    n_rows = ds.count()
    n_ids = ds.select("doc_id").distinct().count()
    assert n_rows == n_ids == 497  # no id collisions, deletes stay deleted
    ids = {r["doc_id"] for r in ds.select("doc_id").collect()}
    assert not ({0, 1, 2} & ids)
    assert max(ids) == 499


def test_build_failure_in_process_rolls_back(spark, tmp_path):
    """ADVICE r4 (medium): a grown build that FAILS BY RAISING — the
    process stays alive — must roll back its own staged swaps before
    propagating.  Without this, recover()'s writer-liveness probe skips
    the markers forever and read_snapshot in the same driver silently
    serves half-swapped tables under the old snapshot."""
    root = str(tmp_path / "ip")
    cat = IndexCatalog(root)
    build_index(generate_documents(spark, 450), cat, n_shards=4, resume=False)
    q = f"{_VOCAB[40]} {_VOCAB[300]}"
    before = _topk(spark, cat, q)

    cat.commit_snapshot = _boom  # in-process job failure before commit
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(generate_documents(spark, 800), cat)
    # NO _mark_writers_dead, NO new catalog object: the SAME live
    # process must already be consistent
    del cat.commit_snapshot  # restore the class method
    assert not cat._pending_markers()
    assert cat.current_snapshot()["n_docs"] == 450
    assert _topk(spark, cat, q) == before
    assert cat.read(spark, "doc_stats").count() == 450

    # and the same catalog instance can immediately build again
    m = build_index(generate_documents(spark, 800), cat)
    assert m["n_docs"] == 800


def test_build_failure_after_commit_finalizes_forward(spark, tmp_path):
    """In-process failure AFTER the snapshot commit must finalize
    forward (the commit decided), not undo the committed mutation."""
    root = str(tmp_path / "ipf")
    cat = IndexCatalog(root)
    build_index(generate_documents(spark, 450), cat, n_shards=4, resume=False)

    cat.finalize_pending = _boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(generate_documents(spark, 800), cat)
    del cat.finalize_pending
    assert not cat._pending_markers()
    assert cat.current_snapshot()["n_docs"] == 800
    q = f"{_VOCAB[40]} {_VOCAB[300]}"
    fresh = IndexCatalog(str(tmp_path / "ipf_fresh"))
    build_index(generate_documents(spark, 800), fresh, resume=False)
    assert _topk(spark, cat, q) == _topk(spark, fresh, q)


def test_delete_failure_in_process_rolls_back(spark, tmp_path):
    """Same contract for delete_docs: an in-process failure restores the
    committed state immediately, in the same live driver."""
    from datamart_spark.index import delete_docs

    root = str(tmp_path / "ipd")
    cat = IndexCatalog(root)
    build_index(generate_documents(spark, 300), cat, n_shards=4, resume=False)
    q = f"{_VOCAB[40]} {_VOCAB[120]}"
    before = _topk(spark, cat, q, k=10)

    cat.commit_snapshot = _boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        delete_docs(spark, cat, doc_ids=[5, 6, 200])
    del cat.commit_snapshot
    assert not cat._pending_markers()
    assert _topk(spark, cat, q, k=10) == before
    assert cat.read(spark, "doc_stats").count() == 300

    m = delete_docs(spark, cat, doc_ids=[5, 6, 200])
    assert m["n_docs"] == 297


def test_recover_skips_live_writers(spark, tmp_path):
    """recover() must NOT roll back a deferred mutation whose writer
    process is still alive — a query running concurrently with a grown
    build/delete would otherwise undo its staged swaps mid-run.  A live
    writer's markers also block a second writer (single-writer
    contract)."""
    import json
    import os

    from datamart_spark.index import delete_docs

    root = str(tmp_path / "lw")
    cat = IndexCatalog(root)
    build_index(generate_documents(spark, 300), cat, n_shards=4, resume=False)

    # fabricate an in-flight deferred marker held by THIS (live) process
    marker = cat._pending_path("postings")
    with open(marker, "w") as f:
        json.dump({"shards": [], "had_old": [], "deferred": True,
                   "snap_seq": cat.current_snapshot()["sequence"],
                   "pid": os.getpid()}, f)
    assert cat.recover() == []          # live writer: untouched
    assert os.path.exists(marker)
    q = f"{_VOCAB[40]} {_VOCAB[120]}"
    assert len(_topk(spark, cat, q, k=5)) > 0  # queries still serve

    for resume in (True, False):
        with pytest.raises(RuntimeError, match="another writer"):
            build_index(generate_documents(spark, 300), cat, resume=resume)
    with pytest.raises(RuntimeError, match="another writer"):
        delete_docs(spark, cat, doc_ids=[1])

    # force recovery (operator decision) clears it
    assert cat.recover(force=True) == ["postings"]
    assert not os.path.exists(marker)
