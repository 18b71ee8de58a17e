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
    else:
        raise SystemExit(f"unknown subcommand {cmd}")


if __name__ == "__main__":
    main()
