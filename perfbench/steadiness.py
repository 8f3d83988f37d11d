"""Run the benchmark on several seeds and print, per workload, each
metric's median and run-to-run spread next to each run's host steal.

    python3 perfbench/steadiness.py --workloads backfill,monitor --seeds 1-10

The spread is the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, the
figure ``BENCHMARK.json``'s bounds are set against. Runs go one at a
time from the checkout root; output is a markdown section.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, timeout=600)
    meta = [ln for ln in p.stderr.splitlines()
            if ln.startswith('{"workload"')]
    lines = p.stdout.strip().splitlines()
    if p.returncode or not lines or not meta:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n"
                           + p.stderr[-2000:])
    return {"meta": json.loads(meta[-1]), "result": json.loads(lines[-1])}


def spread(values: list[float]) -> float:
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def report(workload: str, runs: list[dict]) -> str:
    names = list(runs[0]["result"]["metrics"])
    out = [f"### {workload} ({len(runs)} runs)", "",
           "| metric | median | spread | " + " | ".join(
               f"s{r['meta']['seed']}" for r in runs) + " |",
           "| --- | ---: | ---: |" + " ---: |" * len(runs)]
    for n in names:
        v = [r["result"]["metrics"][n]["value"] for r in runs]
        out.append(f"| `{n}` | {statistics.median(v):.4g} | "
                   f"{spread(v):.3f} | "
                   + " | ".join(f"{x:.4g}" for x in v) + " |")
    out.append("| steal % | | | " + " | ".join(
        f"{r['meta']['steal_pct']:.1f}" for r in runs) + " |")
    out.append("| failed ops | | | " + " | ".join(
        str(r["result"]["failed"]) for r in runs) + " |")
    return "\n".join(out) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default="backfill,monitor")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    seconds = args.seconds
    if seconds is None:
        with open("BENCHMARK.json") as f:
            seconds = json.load(f)["run_seconds"]
    if not os.path.isfile("perfbench/run.py"):
        print("run from the checkout root", file=sys.stderr)
        return 2
    for w in args.workloads.split(","):
        runs = [run_one(w, s, seconds, args.trace) for s in _seeds(args.seeds)]
        print(report(w, runs), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
