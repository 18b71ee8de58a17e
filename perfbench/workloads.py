"""The benchmark's workloads and its traced layer probe.

Every workload is a closed loop with one caller: the next operation is
sent only after the previous one's result is collected.

- ``build``: fresh build of 30k docs, +10% grow and a 100-id delete,
  cycled.
- ``serve``: sequential ``search()`` calls against a positional index of
  5k docs, one query at a time.

End-to-end numbers are measured with tracing off.  A traced run repeats
the workload with spans on and then runs ``probe``, which calls each
layer's public function directly with the workload's inputs.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from datamart_spark.analyzer import analyze_query, tokenize_batch_flat
from datamart_spark.index import IndexCatalog, build_index, delete_docs
from datamart_spark.index.varbyte import vb_decode, vb_encode_with_sizes
from datamart_spark.query import (
    bm25_phrase_topk,
    bm25_topk_batch,
    bm25_topk_blockmax,
    bm25_topk_dataframe,
    search,
    search_many,
)
from datamart_spark.query.bm25 import idf_map
from pyspark.sql import functions as F

from . import footers, inputs
from .trace import Tracer

# docs indexed per workload; the grow step appends another 10%
N_DOCS = {"build": 30_000, "serve": 5_000}
PROBE_DOCS = 5_000  # the positional index the build workload's probe queries
K = 10
DELETE_N = 100
BATCH = 50  # queries per batch-engine call of the probe
BATCH_REPEATS = 3
ANALYZER_SAMPLE = 2_000
VARBYTE_BLOCKS = 4_000


class Run:
    """State of one benchmark run: the session, its inputs, the counters
    of attempted and failed operations, and the metrics measured."""

    def __init__(self, spark, work: str, workload: str, seed: int, seconds: float,
                 tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.n = N_DOCS[workload]  # docs indexed
        self.slice = self.n + self.n // 10  # docs generated: indexed + grow delta
        self.n_query = min(self.n, PROBE_DOCS)  # docs of the index queries run on
        self.corpus = os.path.join(work, "corpus")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.warmup_s = 0.0
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.latencies: list[float] = []
        self.text_bytes = 0
        self.sample_texts = None
        self._docs: dict[int, object] = {}

    # --- inputs ---------------------------------------------------------

    def make_inputs(self) -> None:
        texts = inputs.write_corpus(self.spark, self.seed, self.slice, self.corpus)
        texts = texts.column("text").slice(0, self.n).to_pandas()
        self.text_bytes = sum(len(t.encode("utf-8")) for t in texts)
        self.sample_texts = texts[:ANALYZER_SAMPLE].reset_index(drop=True)

    def docs(self, n: int | None = None):
        """The first ``n`` docs of the slice (default: the indexed ones),
        one DataFrame handle per ``n``."""
        n = self.n if n is None else n
        if n not in self._docs:
            df = self.spark.read.parquet(self.corpus)
            self._docs[n] = df if n >= self.slice else df.where(F.col("doc_id") < n)
        return self._docs[n]

    def query(self, qid: int, stream: int = 0) -> dict:
        return inputs.make_query(self.seed, self.slice, self.n_query, qid, stream)

    def block(self, start: int, n: int, stream: int = 0) -> list[dict]:
        return inputs.query_block(self.seed, self.slice, self.n_query, start, n, stream)

    # --- bookkeeping ----------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def failure(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{what}: {type(exc).__name__}: {str(exc)[:200]}")

    def timed(self, name: str, rid: str, fn):
        """(result, seconds) of ``fn()`` inside a span."""
        with self.tracer.span(name, rid):
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0


# --- shared helpers ---------------------------------------------------------


def _rows(df) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _same_ranking(got: list, want: list) -> bool:
    return len(got) == len(want) and all(
        gd == wd and math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12)
        for (gd, gs), (wd, ws) in zip(got, want)
    )


def _search(spark, cat: IndexCatalog, q: dict):
    return search(spark, cat, q["query"], k=K, lang=q["lang"], ts_lo=q["ts_lo"],
                  ts_hi=q["ts_hi"], phrase=q["phrase"])


def _by_query(rows) -> dict[str, list[tuple[int, float]]]:
    out: dict[str, list[tuple[int, float]]] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((int(r["doc_id"]), float(r["score"])))
    return out


def _catalog_e2e(run: Run, root: str) -> None:
    stats = footers.catalog_stats(root)
    run.layers.update({k: v for k, v in stats.items() if k != "catalog.bytes"})
    run.e2e["index_bytes_per_text_byte"] = stats["catalog.bytes"] / run.text_bytes


def _manifest_layers(run: Run, manifest: dict, prefix: str = "build") -> None:
    ph = manifest["phase_seconds"]
    names = ("analyze_tokens", "postings") if prefix == "grow" else (
        "analyze_tokens", "postings", "term_stats", "metrics")
    for p in names:
        run.layers[f"{prefix}.{p}_s"] = ph.get(p, 0.0)
    if prefix == "build":
        run.layers["index.postings"] = manifest["lineage"]["total_postings"]
        run.layers["index.blocks"] = manifest["lineage"]["total_blocks"]
        run.layers["index.shards"] = manifest["n_shards"]


def _delete_ids(run: Run, manifest: dict) -> list[int]:
    """``DELETE_N`` seeded ids inside one seeded shard."""
    width, n_shards = manifest["shard_width"], manifest["n_shards"]
    shard = run.seed % n_shards
    lo, hi = shard * width, min((shard + 1) * width, manifest["n_docs"])
    rng = np.random.Generator(np.random.PCG64([run.seed, 7]))
    return sorted(int(i) for i in rng.choice(np.arange(lo, hi), DELETE_N, replace=False))


def _term_stats(root: str) -> dict[str, tuple[int, int]]:
    tb = pq.read_table(os.path.join(root, "term_stats"), columns=["term", "df", "cf"])
    return dict(zip(tb.column("term").to_pylist(),
                    zip(tb.column("df").to_pylist(), tb.column("cf").to_pylist())))


def _positional_index(run: Run, name: str, n: int) -> tuple[IndexCatalog, dict]:
    cat = IndexCatalog(os.path.join(run.work, name))
    cat.drop()
    manifest = build_index(run.docs(n), cat, resume=False, n_docs=n, positions=True)
    return cat, manifest


def _title_hits(run: Run, cat: IndexCatalog, doc_id: int) -> set[int]:
    """Doc ids ``search`` returns for the title of doc ``doc_id``."""
    title = inputs.doc_text(run.seed, run.slice, doc_id).split("\n")[0]
    return {d for d, _ in _rows(search(run.spark, cat, title, k=run.slice))}


# --- build ------------------------------------------------------------------


def build(run: Run) -> None:
    n, grow_n = run.n, run.slice
    # warm-up: a fresh build over the whole slice, kept as the reference
    # the grown index must equal
    ref = IndexCatalog(os.path.join(run.work, "reference"))
    t0 = time.perf_counter()
    reference, _ = run.timed("warm.build_index", "warmup", lambda: build_index(
        run.docs(grow_n), ref, resume=False, n_docs=grow_n))
    run.warmup_s = time.perf_counter() - t0

    cat = run.catalog = IndexCatalog(os.path.join(run.work, "index"))
    builds, grows, deletes, cycles = [], [], [], []
    ids = None
    t_loop = time.perf_counter()
    while not cycles or time.perf_counter() - t_loop < run.seconds:
        rid = f"cycle{len(cycles)}"
        cat.drop()
        try:
            with run.tracer.span("loop.cycle", rid):
                fresh, t_b = run.timed("build_index", rid, lambda: build_index(
                    run.docs(), cat, resume=False, n_docs=n))
                if ids is None:  # untimed: the fresh catalog's size
                    _catalog_e2e(run, cat.root)
                grown, t_g = run.timed("build_index.grow", rid, lambda: build_index(
                    run.docs(grow_n), cat, resume=True, n_docs=grow_n))
                if ids is None:  # untimed: state for the checks
                    _check_grown(run, ref, reference, grown)
                    ids = _delete_ids(run, fresh)
                deleted, t_d = run.timed("delete_docs", rid, lambda: delete_docs(
                    run.spark, cat, doc_ids=ids))
        except Exception as e:  # noqa: BLE001 - a failed cycle is counted, not fatal
            run.failure(rid, e)
            if ids is None or len(run.errors) > 3:
                raise
            continue
        run.attempted += 3
        builds.append(t_b)
        grows.append(t_g)
        deletes.append(t_d)
        cycles.append(t_b + t_g + t_d)
        run.check(deleted["n_docs"] == grown["n_docs"] - len(ids),
                  f"{rid}: n_docs after delete")
        if len(cycles) == 1:
            _manifest_layers(run, fresh)
            _manifest_layers(run, grown, "grow")
            run.layers["maint.shards_rewritten"] = len(deleted["built_shards_this_run"])

    run.latencies = cycles
    run.e2e["latency_p50_s"] = statistics.median(cycles)
    run.e2e["throughput_per_s"] = n / statistics.median(builds)
    run.layers["build_s"] = statistics.median(builds)
    run.layers["grow_s"] = statistics.median(grows)
    run.layers["delete_s"] = statistics.median(deletes)

    _check_deleted(run, ref, ids)
    ref.drop()
    if run.tracer.enabled:
        # the loop's index is not positional; the probe needs phrase data
        run.probe_catalog, _ = _positional_index(run, "probe", run.n_query)


def _check_grown(run: Run, ref: IndexCatalog, fresh: dict, grown: dict) -> None:
    """The grown index equals a fresh build over the same docs."""
    run.check(_term_stats(run.catalog.root) == _term_stats(ref.root),
              "grown term_stats == fresh term_stats")
    run.check(math.isclose(fresh["avgdl"], grown["avgdl"], rel_tol=1e-12),
              "grown avgdl == fresh avgdl")
    run.check(fresh["n_docs"] == grown["n_docs"], "grown n_docs == fresh n_docs")


def _check_deleted(run: Run, ref: IndexCatalog, ids: list[int]) -> None:
    """No deleted id is stored, and none is returned for its own title."""
    root = run.catalog.root
    ds = pads.dataset(os.path.join(root, "doc_stats"), format="parquet",
                      partitioning="hive")
    run.check(ds.count_rows(filter=pads.field("doc_id").isin(ids)) == 0,
              "deleted ids absent from doc_stats")
    run.check(not _postings_hold(run, root, ids), "deleted ids absent from postings")
    run.check(ids[0] in _title_hits(run, ref, ids[0])
              and not set(ids) & _title_hits(run, run.catalog, ids[0]),
              "deleted doc not returned for its own title")


def _postings_hold(run: Run, root: str, ids: list[int]) -> bool:
    """Whether any posting block of a deleted doc's own terms still
    lists a deleted id."""
    snap = run.catalog.current_snapshot()
    terms = set()
    for i in ids:
        terms.update(analyze_query(inputs.doc_text(run.seed, run.slice, i),
                                   stemming=snap.get("stemming", True),
                                   tokenizer=snap.get("tokenizer", "simple")))
    ds = pads.dataset(os.path.join(root, "postings"), format="parquet", partitioning="hive")
    tb = ds.to_table(columns=["doc_ids_vb"], filter=pads.field("term").isin(sorted(terms))
                     & (pads.field("first_doc_id") <= max(ids))
                     & (pads.field("last_doc_id") >= min(ids)))
    gone = set(ids)
    return any(gone & set(np.cumsum(vb_decode(buf)).tolist())
               for buf in tb.column("doc_ids_vb").to_pylist())


# --- serve ------------------------------------------------------------------


def _query_index(run: Run) -> None:
    t0 = time.perf_counter()
    run.catalog, manifest = _positional_index(run, "index", run.n)
    run.probe_catalog = run.catalog
    run.warmup_s = run.layers["build_s"] = time.perf_counter() - t0
    _manifest_layers(run, manifest)
    _catalog_e2e(run, run.catalog.root)


def serve(run: Run) -> None:
    _query_index(run)
    t0 = time.perf_counter()
    # one warm-up query of each kind: the first call of each query path
    # pays its one-off costs; at this size later calls warm no further
    block = run.block(0, len(inputs.KINDS), stream=1)
    for kind in dict.fromkeys(inputs.KINDS):
        q = next(q for q in block if q["kind"] == kind)
        run.timed("warm.search", f"{q['query_id']}:{q['kind']}",
                  _search(run.spark, run.catalog, q).collect)
    run.warmup_s += time.perf_counter() - t0

    # whole blocks of the mix, so every run's sample has the same kinds
    served: list[tuple[dict, list]] = []
    t_loop = time.perf_counter()
    qid = 0
    while qid % len(inputs.KINDS) or time.perf_counter() - t_loop < run.seconds:
        q = run.query(qid)
        qid += 1
        try:
            rows, dt = run.timed("loop.search", f"{q['query_id']}:{q['kind']}",
                                 lambda: _rows(_search(run.spark, run.catalog, q)))
        except Exception as e:  # noqa: BLE001
            run.failure(q["query_id"], e)
            continue
        run.attempted += 1
        run.latencies.append(dt)
        served.append((q, rows))
    wall = time.perf_counter() - t_loop
    if not served:
        raise RuntimeError(f"no query succeeded: {run.errors[:3]}")
    run.e2e["latency_p50_s"] = statistics.median(run.latencies)
    run.e2e["throughput_per_s"] = len(run.latencies) / wall

    # keyword answers equal the verification engine on a seeded sample
    keyword = [(q, r) for q, r in served if q["kind"] in inputs.KEYWORD_KINDS][:2]
    for q, rows in keyword:
        want = _rows(bm25_topk_dataframe(run.spark, run.catalog, q["query"], k=K,
                                         lang=q["lang"], ts_lo=q["ts_lo"], ts_hi=q["ts_hi"]))
        run.check(_same_ranking(rows, want), f"{q['query_id']}: search == bm25_topk_dataframe")
    # every served query's hits equal the batch engine's for the same spec
    batch = _by_query(search_many(run.spark, run.catalog,
                                  inputs.batch_specs([q for q, _ in served]), k=K).collect())
    for q, rows in served:
        run.check(_same_ranking(batch.get(q["query_id"], []), rows),
                  f"{q['query_id']}: search == search_many")


WORKLOADS = {"build": build, "serve": serve}


# --- traced layer probe -------------------------------------------------------


def _median_time(fn, repeats: int = 3) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def probe(run: Run) -> dict[str, list[tuple[float, float]]]:
    """Call every layer's public function directly with this run's
    inputs; returns the span windows whose Spark jobs are attributed to
    a layer (``wand``: one window per top-k call)."""
    spark, cat, tr = run.spark, run.probe_catalog, run.tracer
    snap = cat.current_snapshot()
    stem, tok = snap.get("stemming", True), snap.get("tokenizer", "simple")

    # analyzer: the build kernel's tokenizer on a fixed corpus sample
    run.layers["analyzer.docs_per_s"] = len(run.sample_texts) / _median_time(
        lambda: tokenize_batch_flat(run.sample_texts, tokenizer=tok))

    # varbyte: decode committed block payloads, re-encode their values
    ds = pads.dataset(os.path.join(cat.root, "postings"), format="parquet",
                      partitioning="hive")
    payloads = ds.to_table(columns=["doc_ids_vb"]).column("doc_ids_vb").to_pylist()
    payloads = payloads[:VARBYTE_BLOCKS]
    mb = sum(len(p) for p in payloads) / 2**20
    values = np.concatenate([vb_decode(p) for p in payloads])
    run.layers["varbyte.decode_mb_per_s"] = mb / _median_time(
        lambda: [vb_decode(p) for p in payloads])
    enc_mb = len(vb_encode_with_sizes(values)[0]) / 2**20
    run.layers["varbyte.encode_mb_per_s"] = enc_mb / _median_time(
        lambda: vb_encode_with_sizes(values))

    queries = run.block(0, len(inputs.KINDS), stream=2)
    keyword = [q for q in queries if q["kind"] in inputs.KEYWORD_KINDS]
    phrases = [q for q in queries if q["kind"] == "phrase"]
    postings_rg = footers.TermFooters(cat.root, "postings")
    terms_rg = footers.TermFooters(cat.root, "term_stats")

    # idf lookups, each with one never-seen term so the lookup is not cached
    idf_t, idf_rg = [], []
    for i, q in enumerate(queries):
        terms = analyze_query(q["query"], stemming=stem, tokenizer=tok)
        terms = terms + [f"zzzprobe{run.seed}x{i}"]
        _, dt = run.timed("probe.idf_map", f"{q['query_id']}:{q['kind']}",
                          lambda: idf_map(spark, cat, terms))
        idf_t.append(dt)
        idf_rg.append(terms_rg.row_groups(terms))
    run.layers["idf.lookup_s"] = statistics.median(idf_t)
    run.layers["idf.row_groups_per_lookup"] = statistics.mean(idf_rg)

    # top-k alone vs the search facade (hydration = the difference)
    topk_t, hydrate, blocks, rgs = [], [], [], []
    for q in keyword:
        rid = f"{q['query_id']}:{q['kind']}"
        _, t_top = run.timed("probe.topk", rid, lambda: bm25_topk_blockmax(
            spark, cat, q["query"], k=K, lang=q["lang"], ts_lo=q["ts_lo"],
            ts_hi=q["ts_hi"]).collect())
        _, t_all = run.timed("probe.search", rid, lambda: _search(spark, cat, q).collect())
        topk_t.append(t_top)
        hydrate.append(t_all - t_top)
        terms = analyze_query(q["query"], stemming=stem, tokenizer=tok)
        blocks.append(footers.blocks_for(cat.root, terms))
        rgs.append(postings_rg.row_groups(terms))
    phrase_t = []
    for q in phrases:
        rid = f"{q['query_id']}:{q['kind']}"
        _, t_top = run.timed("probe.phrase", rid, lambda: bm25_phrase_topk(
            spark, cat, q["query"], k=K).collect())
        _, t_all = run.timed("probe.search", rid, lambda: _search(spark, cat, q).collect())
        phrase_t.append(t_top)
        hydrate.append(t_all - t_top)
    for q in queries:
        if q["kind"] == "absent":
            run.timed("probe.search", f"{q['query_id']}:absent",
                      lambda: _search(spark, cat, q).collect())
    run.layers["wand.topk_s"] = statistics.median(topk_t)
    run.layers["wand.blocks_per_query"] = statistics.mean(blocks)
    run.layers["wand.row_groups_per_query"] = statistics.mean(rgs)
    run.layers["phrase.topk_s"] = statistics.median(phrase_t)
    run.layers["serve.hydrate_s"] = statistics.median(hydrate)

    # the batch engine on one batch: plan, execute, and the facade.  The
    # first batch call of a session pays one-off costs and fills the idf
    # cache, so one untimed call comes first and every timed call then
    # sees the same cache state; each figure is a median over repeats.
    specs = inputs.batch_specs(run.block(0, BATCH, stream=3))
    search_many(spark, cat, specs, k=K).collect()
    plans, execs, hydrates = [], [], []
    for r in range(BATCH_REPEATS):
        rid = f"batch{r}:probe"
        plan, t_plan = run.timed("probe.batch_plan", rid,
                                 lambda: bm25_topk_batch(spark, cat, specs, k=K))
        _, t_exec = run.timed("probe.batch_exec", rid, plan.collect)
        _, t_many = run.timed("probe.search_many", rid, lambda: search_many(
            spark, cat, specs, k=K).collect())
        plans.append(t_plan)
        execs.append(t_exec)
        hydrates.append(t_many - (t_plan + t_exec))
    run.layers["batch.plan_s"] = statistics.median(plans)
    run.layers["batch.exec_s"] = statistics.median(execs)
    run.layers["bulk.hydrate_s"] = statistics.median(hydrates)
    per_query = [analyze_query(s["query"], stemming=stem, tokenizer=tok) for s in specs]
    union = sorted(set().union(*per_query))
    run.layers["batch.union_blocks"] = footers.blocks_for(cat.root, union)
    run.layers["batch.block_share_ratio"] = (
        sum(footers.blocks_for(cat.root, t) for t in per_query)
        / max(run.layers["batch.union_blocks"], 1)
    )

    # search() latency per query kind, over every search span of the run
    for kind, names in (("plain", ("plain",)), ("filtered", ("lang", "ts")),
                        ("phrase", ("phrase",)), ("absent", ("absent",))):
        d = [x for n in ("loop.search", "probe.search") for k in names
             for x in tr.durations(n, k)]
        run.layers[f"serve.{kind}_p50_s"] = statistics.median(d)

    if "grow_s" not in run.layers:  # maintenance on the query workloads' index
        _maintenance_probe(run, cat)
    return {"wand": [(s[1], s[2]) for s in tr.spans if s[0] == "probe.topk"]}


def _maintenance_probe(run: Run, cat: IndexCatalog) -> None:
    grown, t_g = run.timed("probe.grow", "grow", lambda: build_index(
        run.docs(run.slice), cat, resume=True, n_docs=run.slice, positions=True))
    ids = _delete_ids(run, grown)
    deleted, t_d = run.timed("probe.delete", "delete", lambda: delete_docs(
        run.spark, cat, doc_ids=ids))
    run.layers["grow_s"] = t_g
    run.layers["delete_s"] = t_d
    _manifest_layers(run, grown, "grow")
    run.layers["maint.shards_rewritten"] = len(deleted["built_shards_this_run"])
