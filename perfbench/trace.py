"""Tracing for the benchmark's traced run: spans around the benchmark's
own calls into the engine, a process-tree RSS sampler, and a parser that
turns a Spark event log into per-span stage metrics.

Spans are ``(name, start, end, parent, request_id)`` with wall-clock
(epoch) times, so Spark jobs in the event log — stamped with their
submission time — can be attributed to the span that was open when they
were submitted.  The benchmark is a single client, so at most one
top-level span is open at a time.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, rid: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = [name, time.time(), None, self._stack[-1] if self._stack else None, rid]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec[2] = time.time()
            self._stack.pop()

    def durations(self, name: str, kind: str | None = None) -> list[float]:
        """Durations of closed spans called ``name`` (optionally only
        those whose request id ends with ``:<kind>``)."""
        return [
            s[2] - s[1] for s in self.spans
            if s[0] == name and s[2] is not None
            and (kind is None or s[4].endswith(f":{kind}"))
        ]

    def roots(self, prefix: str) -> list[tuple[float, float]]:
        return [(s[1], s[2]) for s in self.spans
                if s[3] is None and s[0].startswith(prefix) and s[2] is not None]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keys = ("name", "start", "end", "parent", "request_id")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)

    def overhead_us(self, n: int = 20_000) -> float:
        """Cost of one span record, measured on a scratch tracer."""
        probe = Tracer(True)
        t0 = time.perf_counter()
        for i in range(n):
            with probe.span("overhead", "x"):
                pass
        return (time.perf_counter() - t0) / n * 1e6


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in _descendants(os.getpid()))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def read_eventlog(log_dir: str) -> tuple[list[tuple[int, float]], dict[int, int], list[dict]]:
    """(jobs as (job_id, submission epoch s), stage -> job, task records)."""
    jobs, stage_job, tasks = [], {}, []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs.append((jid, ev["Submission Time"] / 1000.0))
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    return jobs, stage_job, tasks


def jobs_within(jobs: list[tuple[int, float]], windows: list[tuple[float, float]]) -> set[int]:
    return {j for j, t in jobs if any(lo <= t <= hi for lo, hi in windows)}


def spark_metrics(jobs, stage_job, tasks, windows) -> dict[str, float]:
    """Stage metrics of the jobs submitted inside ``windows``."""
    keep = jobs_within(jobs, windows)
    mine = [t for t in tasks if stage_job.get(t["stage"]) in keep]
    by_stage: dict[int, list[float]] = {}
    for t in mine:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    skews = [
        max(v) / statistics.median(v)
        for v in by_stage.values() if len(v) >= 2 and statistics.median(v) > 0
    ]
    return {
        "spark.jobs": len(keep),
        "spark.tasks": len(mine),
        "spark.executor_run_s": sum(t["run_ms"] for t in mine) / 1000.0,
        "spark.jvm_gc_s": sum(t["gc_ms"] for t in mine) / 1000.0,
        "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in mine) / 2**20,
        "spark.spill_mb": sum(t["spill"] for t in mine) / 2**20,
        "spark.stage_skew": max(skews, default=1.0),
    }


def tasks_per_window(jobs, stage_job, tasks, windows) -> float:
    """Mean number of tasks of the jobs submitted inside each window."""
    counts = []
    for w in windows:
        keep = jobs_within(jobs, [w])
        counts.append(sum(1 for t in tasks if stage_job.get(t["stage"]) in keep))
    return statistics.mean(counts) if counts else 0.0
