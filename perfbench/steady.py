"""Steadiness check: run the benchmark on several seeds and report, per
end-to-end metric, the median and the quartile spread
(Q3 - Q1) / median, next to the bound ``BENCHMARK.json`` fixes.

    python3 perfbench/steady.py --workload serve --seeds 1-10 [--out FILE]
    python3 perfbench/steady.py --workload serve --seeds 3,3 --trace 1 --out FILE
    python3 perfbench/steady.py --compare SET1.json SET2.json

With ``--trace 1`` and a repeated seed it also reports whether every
deterministic count of the traced run repeats exactly.  ``--compare``
applies the acceptance rule to two saved sets of one workload: each
spread within its bound, and no median of the second set worse than the
first's by more than the bound.  Run from the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# per-layer counts that are a pure function of the seed
COUNTS = (
    "index.postings", "index.blocks", "index.shards",
    "catalog.tokens_mb", "catalog.postings_mb", "catalog.doc_stats_mb",
    "catalog.term_stats_mb", "catalog.files", "catalog.postings_row_groups",
    "maint.shards_rewritten", "idf.row_groups_per_lookup",
    "wand.blocks_per_query", "wand.row_groups_per_query",
    "batch.union_blocks", "batch.block_share_ratio",
)


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = list(bench["command"]) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    steal0, total0 = _cpu_ticks()
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    steal1, total1 = _cpu_ticks()
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    # CPU time the hypervisor gave to other guests: the host's contention
    result["steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
    result["seed"] = seed
    return result


def host_facts() -> dict:
    """The facts a baseline depends on: cores, RAM and the runtime versions."""
    import platform

    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "java": java.stderr.splitlines()[0] if java.stderr else "unknown",
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def compare(bench: dict, first_path: str, second_path: str) -> bool:
    with open(first_path) as f:
        first = json.load(f)
    with open(second_path) as f:
        second = json.load(f)
    ok = True
    for m in bench["end_to_end"]:
        a, b = first["metrics"][m["name"]], second["metrics"][m["name"]]
        worse = (b["median"] - a["median"]) / a["median"]
        if m["better"] == "higher":
            worse = -worse
        good = max(a["spread"], b["spread"]) <= m["bound"] and worse <= m["bound"]
        ok &= good
        print(f"{first['workload']:6s} {m['name']:28s} spreads {a['spread']:.3f} / "
              f"{b['spread']:.3f}  second median worse by {worse:+.3f}  "
              f"bound {m['bound']}  {'ok' if good else 'FAIL'}")
    return ok


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seeds", help="e.g. 1-10 or 3,3")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2, metavar="SET")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.compare:
        return 0 if compare(bench, *args.compare) else 1
    if not (args.workload and args.seeds):
        p.error("--workload and --seeds are required")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs = []
    for seed in _seeds(args.seeds):
        r = run_once(bench, args.workload, seed, args.trace)
        runs.append(r)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
        print(f"seed {seed}: wall {r['wall_s']:.1f} s steal {r['steal_share']:.3f} "
              f"correct={r['correct']} "
              f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)

    summary = {"workload": args.workload, "trace": args.trace, "host": host_facts(),
               "runs": runs, "metrics": {}}
    if args.trace == 0 and len(runs) >= 2:
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            s = spread(vals)
            summary["metrics"][name] = {"median": statistics.median(vals), "spread": s,
                                        "bound": bound}
            print(f"{name:28s} median {statistics.median(vals):10.4g} "
                  f"spread {s:6.3f}  bound {bound}  third {bound / 3:.3f}")
    if args.trace == 1 and len(runs) >= 2:
        first = runs[0]["metrics"]
        diffs = {k: [r["metrics"][k]["value"] for r in runs] for k in COUNTS
                 if any(r["metrics"][k]["value"] != first[k]["value"] for r in runs)}
        summary["counts_repeat_exactly"] = not diffs
        summary["count_diffs"] = diffs
        print(f"counts repeat exactly: {not diffs} {diffs or ''}")
    summary["wall_s_total"] = sum(r["wall_s"] for r in runs)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
