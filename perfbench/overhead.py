"""Tracing overhead: traced minus untraced end-to-end numbers.

    python3 perfbench/overhead.py --workload search --seeds 1 2 3

For each seed it runs the workload once with ``--trace 0`` and once with
``--trace 1`` (each in a fresh process) and prints, per metric, the median
over seeds of (traced - untraced) / untraced. The traced run reports its
own end-to-end numbers as ``trace.latency_p50_ms`` and
``trace.throughput_per_s``, and the share of timed wall spent inside the
span recorder as ``trace.bookkeeping_share``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True, timeout=180)
    return {k: v["value"] for k, v in json.loads(out.stdout.strip().splitlines()[-1])["metrics"].items()}


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    args = ap.parse_args()
    diffs: dict[str, list[float]] = {"latency_p50_ms": [], "throughput_per_s": []}
    book = []
    for seed in args.seeds:
        plain = run(args.workload, seed, seconds, 0)
        traced = run(args.workload, seed, seconds, 1)
        for k in diffs:
            diffs[k].append((traced[f"trace.{k}"] - plain[k]) / plain[k])
        book.append(traced["trace.bookkeeping_share"])
    for k, v in diffs.items():
        print(f"{args.workload} tracing overhead on {k}: {statistics.median(v):+.1%} "
              f"(per seed: {', '.join(f'{x:+.1%}' for x in v)})")
    print(f"{args.workload} span recorder share of timed wall: {statistics.median(book):.2%}")


if __name__ == "__main__":
    main()
