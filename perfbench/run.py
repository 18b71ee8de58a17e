"""Benchmark entry point for the BM25 engine.

    python3 perfbench/run.py --workload {build,serve} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root.  One driver process, one client, Spark at
``local[4]`` with ``shuffle_partitions = 2 x slots``.  Every file the run
writes (corpus, indexes, Spark scratch, event log, the package zip the
executors import) lives under ``.perfbench_work/`` in the repository;
the run's own directory is removed at exit, traces are kept.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SLOTS = 4
DEADLINE_S = 170  # the run must end within 180 s

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "analyzer.docs_per_s": "docs/s",
    "build.analyze_tokens_s": "s",
    "build.postings_s": "s",
    "build.term_stats_s": "s",
    "build.metrics_s": "s",
    "build_s": "s",
    "index.postings": "count",
    "index.blocks": "count",
    "index.shards": "count",
    "varbyte.encode_mb_per_s": "MB/s",
    "varbyte.decode_mb_per_s": "MB/s",
    "catalog.tokens_mb": "MB",
    "catalog.postings_mb": "MB",
    "catalog.doc_stats_mb": "MB",
    "catalog.term_stats_mb": "MB",
    "catalog.files": "count",
    "catalog.postings_row_groups": "count",
    "grow_s": "s",
    "delete_s": "s",
    "maint.shards_rewritten": "count",
    "grow.analyze_tokens_s": "s",
    "grow.postings_s": "s",
    "idf.lookup_s": "s",
    "idf.row_groups_per_lookup": "count",
    "wand.topk_s": "s",
    "wand.blocks_per_query": "count",
    "wand.row_groups_per_query": "count",
    "wand.tasks_per_query": "count",
    "phrase.topk_s": "s",
    "batch.plan_s": "s",
    "batch.exec_s": "s",
    "batch.union_blocks": "count",
    "batch.block_share_ratio": "ratio",
    "serve.plain_p50_s": "s",
    "serve.filtered_p50_s": "s",
    "serve.phrase_p50_s": "s",
    "serve.absent_p50_s": "s",
    "serve.hydrate_s": "s",
    "bulk.hydrate_s": "s",
    "loop.samples": "count",
    "loop.max_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.stage_skew": "ratio",
    "mem.peak_rss_mb": "MB",
    "trace.spans": "count",
    "trace.span_overhead_us": "us",
    "traced.setup_s": "s",
    "traced.latency_p50_s": "s",
    "traced.throughput_per_s": "1/s",
}


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("build", "serve"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench: [{time.perf_counter() - _T0:6.1f} s] {msg}", file=sys.stderr)


class Session:
    """The Spark session and the JVM behind it; ``close`` stops both and
    waits for the JVM (and with it every Python worker) to exit."""

    def __init__(self, work: str, eventlog: str | None):
        from datamart_spark import session

        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Duser.timezone=UTC -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
            ),
        }
        if eventlog:
            os.makedirs(eventlog)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = f"file://{eventlog}"
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        # the executors' package zip goes to the run's directory, not /tmp
        session.package_zip = functools.partial(session.package_zip, dest_dir=work)
        self.spark = session.get_spark(
            "perfbench", master=f"local[{SLOTS}]", shuffle_partitions=2 * SLOTS,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway = self.spark.sparkContext._gateway
        self.jvm = getattr(self._gateway, "proc", None)

    def close(self) -> None:
        from pyspark import SparkContext

        try:
            self.spark.stop()
        finally:
            self._gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if self.jvm is not None:
                self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    self.jvm.wait(timeout=60)
                except Exception:  # noqa: BLE001 - never leave the JVM behind
                    self.jvm.kill()
                    self.jvm.wait()


def main() -> int:
    args = _args()
    if not os.path.isfile(os.path.join(ROOT, "datamart_spark", "__init__.py")):
        print(f"perfbench: no datamart_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import trace, workloads  # noqa: E402 - needs ROOT on the path

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    traced = bool(args.trace)
    eventlog = os.path.join(work, "eventlog") if traced else None

    sess = None

    def _abort() -> None:
        print(f"perfbench: deadline of {DEADLINE_S} s passed", file=sys.stderr)
        if sess is not None and sess.jvm is not None:
            sess.jvm.kill()
            sess.jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S, _abort)
    watchdog.daemon = True
    watchdog.start()
    tracer = trace.Tracer(traced)
    sampler = trace.RssSampler() if traced else None
    try:
        if sampler:
            sampler.start()
        t0 = time.perf_counter()
        with tracer.span("session.start", "setup"):
            sess = Session(work, eventlog)
        start_s = time.perf_counter() - t0
        run = workloads.Run(sess.spark, work, args.workload, args.seed, args.seconds,
                            tracer)
        _log(f"session {start_s:.1f} s")
        run.make_inputs()
        _log("inputs")
        workloads.WORKLOADS[args.workload](run)
        _log(f"workload, warm-up {run.warmup_s:.1f} s")
        windows = workloads.probe(run) if traced else {}
        _log("probe")
        sess.close()
        _log("closed")
        if sampler:
            sampler.stop()
        run.e2e["setup_s"] = start_s + run.warmup_s
        if traced:
            jobs, stage_job, tasks = trace.read_eventlog(eventlog)
            run.layers.update(trace.spark_metrics(jobs, stage_job, tasks,
                                                  tracer.roots("loop.")))
            run.layers["wand.tasks_per_query"] = trace.tasks_per_window(
                jobs, stage_job, tasks, windows["wand"])
            run.layers.update({
                "session.start_s": start_s,
                "loop.samples": len(run.latencies),
                "loop.max_s": max(run.latencies),
                "mem.peak_rss_mb": sampler.peak / 2**20,
                "trace.spans": len(tracer.spans),
                "trace.span_overhead_us": tracer.overhead_us(),
            })
            run.layers.update({f"traced.{k}": run.e2e[k] for k in
                               ("setup_s", "latency_p50_s", "throughput_per_s")})
            tracer.write(os.path.join(base, "traces",
                                      f"{args.workload}-seed{args.seed}.json"))
    finally:
        watchdog.cancel()
        if sess is not None and sess.jvm is not None and sess.jvm.poll() is None:
            sess.close()
        shutil.rmtree(work, ignore_errors=True)

    units = LAYER_UNITS if traced else E2E_UNITS
    values = run.layers if traced else run.e2e
    missing = sorted(set(units) - set(values))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 4
    for e in run.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
