"""Round-7 optimization measurement harness (bench.py is FROZEN for
measurement; this file exists so optimization work can time individual
operators, capture plans, and profile builds without touching it).

Subcommands:
  queries [names...]      time headline suite queries (collect, min-of-N)
  plans [names...]        write .explain("formatted") to plans/r07/
  build CPUS [N_DOCS]     one timed index build, print phase breakdown
  breakeven ROOT [N_DOCS] both branches of the shard-kernel rule on one
                          catalog (built positional from N_DOCS
                          generated docs, default 5000, when ROOT has
                          no snapshot): selected postings bytes and
                          min-of-N seconds per branch, one JSON line
  search ROOT [N_DOCS]    per-query median milliseconds of each layer of
                          search() on the same kind of catalog, timed by
                          wrapping the query modules' functions from
                          outside: plan, selection, postings read,
                          grouping, kernels, merge, hydrate read, frame
                          build, collect; one JSON line

Env: SPARK_GRAFT_SF_DIR (default: bench.py's), SPARK_GRAFT_CPUS,
BE_REPEATS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import SF_DIR  # noqa: E402  (one default for both harnesses)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEATS = int(os.environ.get("BE_REPEATS", "2"))

HEADLINE = [
    "bm25_two_term_and",
    "bm25_indexed_and",
    "bm25_batch_topk",
    "bm25_phrase_indexed",
    "bm25_phrase_slop",
    "bm25_lang_filtered",
    "term_stats_top",
    "dedup_exact",
    "minhash_lsh_pairs",
    "dedup_pipeline",
    "dedup_clusters",
    "corpus_curation",
    "groupby_flag_status",
    "join_left_agg",
    "cosine_topk",
    "window_top3_per_priority",
]


def _session(name: str):
    from datamart_spark.session import get_spark

    return get_spark(name, master=f"local[{CPUS}]", shuffle_partitions=2 * CPUS)


def _bootstrap(spark):
    from datamart_spark.suite.fulltext import _direct_tables, _suite_catalog

    _direct_tables(spark, SF_DIR)
    _suite_catalog(spark, SF_DIR)


def cmd_queries(names: list[str]) -> None:
    from datamart_spark.suite import REGISTRY

    spark = _session("bench_extra_queries")
    _bootstrap(spark)
    # absorb first-job session warmup (codegen, file listing) so the
    # first timed query is comparable to the rest
    from datamart_spark.suite import REGISTRY as _R

    _R["dedup_exact"](spark, SF_DIR).collect()
    out = {}
    for name in names or HEADLINE:
        best, samples = None, []
        for _ in range(REPEATS):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            REGISTRY[name](spark, SF_DIR).collect()
            dt = time.time() - t0
            samples.append(round(dt, 3))
            best = dt if best is None else min(best, dt)
        out[name] = {"min": round(best, 3), "all": samples}
        print(f"{name}: {best:.3f}  {samples}", flush=True)
    print(json.dumps({k: v["min"] for k, v in out.items()}))
    spark.stop()


def cmd_plans(names: list[str], suffix: str) -> None:
    from datamart_spark.suite import REGISTRY

    os.makedirs("plans/r07", exist_ok=True)
    spark = _session("bench_extra_plans")
    _bootstrap(spark)
    for name in names or HEADLINE:
        df = REGISTRY[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = f"plans/r07/{name}_{suffix}.txt"
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


def cmd_build(cpus: int, n_docs: int) -> None:
    import shutil

    from pyspark.sql import functions as F

    from datamart_spark.index import IndexCatalog, build_index
    from datamart_spark.session import get_spark

    corpus = f"/tmp/bench_corpus_{n_docs}"
    if not os.path.exists(f"{corpus}/_SUCCESS"):
        from datamart_spark.corpus import generate_documents

        spark = _session("be_gen")
        generate_documents(spark, n_docs).write.mode(
            "overwrite"
        ).parquet(corpus)
        spark.stop()
    spark = get_spark(
        "be_build", master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )
    docs = spark.read.parquet(corpus)
    # pilot warm (same discipline as bench.py timed_build)
    warm = IndexCatalog("/tmp/be_warm")
    warm.drop()
    pilot = max(1000, n_docs // 10)
    build_index(docs.where(F.col("doc_id") < pilot), warm, resume=False,
                n_docs=pilot)
    warm.drop()
    root = "/tmp/be_build_idx"
    shutil.rmtree(root, ignore_errors=True)
    cat = IndexCatalog(root)
    t0 = time.time()
    m = build_index(docs, cat, resume=False, n_docs=n_docs)
    dt = time.time() - t0
    print(json.dumps({
        "cpus": cpus, "n_docs": n_docs, "build_sec": round(dt, 2),
        "docs_per_sec": round(n_docs / dt, 1),
        "phases": m["phase_seconds"], "n_shards": m["n_shards"],
    }))
    spark.stop()


def cmd_breakeven(root: str, n_docs: int) -> None:
    """Time ``bm25_topk_blockmax(...).collect()`` on each branch of
    ``query/wand._shard_kernel_job`` for two query shapes: an OR query
    over four stopword-tier terms (the most kernel work per selected
    byte measured: every term's blocks hold near-equal bounds, so WAND
    prunes little and the in-process branch decodes them on one core)
    and a plain two-term AND query.  The rule's break-even is the
    selection size where the two branches' times cross."""
    from datamart_spark.analyzer import analyze_query
    from datamart_spark.corpus import _VOCAB, generate_documents
    from datamart_spark.index import IndexCatalog, build_index
    from datamart_spark.query import bm25_topk_blockmax, wand

    spark = _session("be_breakeven")
    cat = IndexCatalog(root)
    if cat.current_snapshot() is None:
        build_index(generate_documents(spark, n_docs), cat, resume=False,
                    n_docs=n_docs, positions=True)
    shapes = {
        "or_stopwords": (" ".join(_VOCAB[:4]), True),
        "and": (f"{_VOCAB[45]} {_VOCAB[200]}", False),
    }
    out = {"root": root, "n_docs": cat.current_snapshot()["n_docs"],
           "cpus": CPUS, "repeats": REPEATS, "shapes": {}}
    for name, (query, or_mode) in shapes.items():
        snap = cat.current_snapshot()
        terms = analyze_query(query, stemming=snap.get("stemming", True),
                              tokenizer=snap.get("tokenizer", "simple"))
        row = {"query": query, "or_mode": or_mode,
               "selected_bytes": wand._selection(cat, terms)[3]}
        for branch, limit in (("in_process_s", 2**62), ("spark_job_s", 0)):
            wand._IN_PROCESS_MAX_BYTES = limit
            times = []
            for _ in range(REPEATS + 1):  # the first call warms the branch
                t0 = time.perf_counter()
                bm25_topk_blockmax(spark, cat, query, k=10, or_mode=or_mode).collect()
                times.append(time.perf_counter() - t0)
            row[branch] = round(min(times[1:]), 4)
        out["shapes"][name] = row
    print(json.dumps(out))
    spark.stop()


#: layers of one in-process ``search()``, in call order
SEARCH_LAYERS = ["plan", "selection", "postings_read", "grouping", "kernels",
                 "merge", "hydrate_read", "frame_build", "collect"]


def _search_layers(spark, cat, q: dict, k: int) -> dict[str, float]:
    """One ``search(...).collect()`` split into ``SEARCH_LAYERS``
    seconds.  Functions the layers run through are wrapped with timers
    for the call and restored after it; a layer with no function of its
    own is its caller's time minus its timed callees':
    postings read = ``_shard_kernel_job`` − selection − grouping −
    kernels (it includes a filtered query's doc-id read and the result
    frame), merge = ``_topk`` − plan − ``_shard_kernel_job``, hydrate
    read = ``_hydrate_local`` − frame build."""
    from importlib import import_module

    from datamart_spark.query import batch, wand

    # the package re-exports the search() function under the module's name
    search_mod = import_module("datamart_spark.query.search")
    spent: dict[str, float] = {}

    def timed(name, fn):
        def run(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                spent[name] = spent.get(name, 0.0) + time.perf_counter() - t0
        return run

    def job(spark_, catalog, scan_terms, shard_fn, *rest, **kw):
        return real_job(spark_, catalog, scan_terms, timed("kernels", shard_fn),
                        *rest, **kw)

    real_job = batch._shard_kernel_job
    patches = {
        (batch, "_plan_queries"): timed("plan", batch._plan_queries),
        (wand, "_selection"): timed("selection", wand._selection),
        (wand, "_shard_groups"): timed("grouping", wand._shard_groups),
        (batch, "_shard_kernel_job"): timed("job", job),
        (search_mod, "_topk"): timed("topk", search_mod._topk),
        (search_mod, "_hydrate_local"): timed("hydrate", search_mod._hydrate_local),
        (search_mod, "_local_frame"): timed("frame_build", search_mod._local_frame),
    }
    saved = {key: getattr(*key) for key in patches}
    try:
        for (mod, attr), fn in patches.items():
            setattr(mod, attr, fn)
        df = search_mod.search(spark, cat, q["query"], k=k, lang=q["lang"],
                               ts_lo=q["ts_lo"], ts_hi=q["ts_hi"],
                               phrase=q["phrase"])
        timed("collect", df.collect)()
    finally:
        for (mod, attr), fn in saved.items():
            setattr(mod, attr, fn)
    g = spent.get
    return {
        "plan": g("plan", 0.0), "selection": g("selection", 0.0),
        "postings_read": g("job", 0.0) - g("selection", 0.0) - g("grouping", 0.0)
        - g("kernels", 0.0),
        "grouping": g("grouping", 0.0), "kernels": g("kernels", 0.0),
        "merge": g("topk", 0.0) - g("plan", 0.0) - g("job", 0.0),
        "hydrate_read": g("hydrate", 0.0) - g("frame_build", 0.0),
        "frame_build": g("frame_build", 0.0), "collect": g("collect", 0.0),
    }


def cmd_search(root: str, n_docs: int) -> None:
    """Per-layer medians of ``search()`` over ``generate_query_set``'s
    200-query mix (single- and multi-term, lang- and warc_ts-filtered,
    absent terms), every fourth two-term query run as an exact phrase.  The
    first pass over the set warms caches and is not reported; the
    layers sum to the per-query wall time up to the wrappers' cost."""
    import statistics

    import pandas as pd

    from datamart_spark.corpus import generate_documents, generate_query_set
    from datamart_spark.index import IndexCatalog, build_index

    spark = _session("be_search")
    cat = IndexCatalog(root)
    if cat.current_snapshot() is None:
        build_index(generate_documents(spark, n_docs), cat, resume=False,
                    n_docs=n_docs, positions=True)
    queries = []
    for i, q in generate_query_set(200).iterrows():
        queries.append({
            "query": q["query"],
            "lang": q["lang_filter"] if isinstance(q["lang_filter"], str) else None,
            "ts_lo": q["ts_lo"] if pd.notna(q["ts_lo"]) else None,
            "ts_hi": q["ts_hi"] if pd.notna(q["ts_hi"]) else None,
            "phrase": len(q["query"].split()) == 2 and i % 4 == 0,
        })
    for q in queries:
        _search_layers(spark, cat, q, k=10)
    rows = [_search_layers(spark, cat, q, k=10) for q in queries]
    ms = {name: round(1e3 * statistics.median(r[name] for r in rows), 3)
          for name in SEARCH_LAYERS}
    total = round(1e3 * statistics.median(sum(r.values()) for r in rows), 3)
    print(json.dumps({"root": root, "n_docs": cat.current_snapshot()["n_docs"],
                      "cpus": CPUS, "queries": len(rows), "total_ms": total,
                      "layers_ms": ms}))
    spark.stop()


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "queries":
        cmd_queries(sys.argv[2:])
    elif cmd == "plans":
        suffix = os.environ.get("BE_PLAN_SUFFIX", "before")
        cmd_plans(sys.argv[2:], suffix)
    elif cmd == "build":
        cmd_build(int(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 200000)
    elif cmd == "breakeven":
        cmd_breakeven(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 5000)
    elif cmd == "search":
        cmd_search(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 5000)
    else:
        raise SystemExit(f"unknown subcommand {cmd}")


if __name__ == "__main__":
    main()
