"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload interactive_search --seeds 1-10 --seconds 10
    python3 perfbench/spread.py --workload ingest_refresh --seeds 1-3 --seconds 10 --overhead

For each metric: median, first and third quartile
(statistics.quantiles(n=4)) and the spread (q3 - q1) / median.

--overhead runs every seed untraced once and traced twice. It prints the
traced/untraced ratio of each end-to-end median (the tracing overhead)
and checks that every count metric of the two traced runs is identical.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """(named metric lines, last-line JSON) of one run."""
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True, timeout=900,
    ).stdout.strip().splitlines()
    named = {}
    for line in out:
        parts = line.split()
        if parts[:1] == ["metric"]:
            named[parts[1]] = float(parts[2])
    return named, json.loads(out[-1])


def seeds_of(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def summarize(rows: list[dict]) -> None:
    for name in sorted({k for r in rows for k in r}):
        vals = [r[name] for r in rows if name in r]
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = med
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:40s} median {med:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}  spread {spread:7.3f}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()

    plain, traced, failed = [], [], 0
    for seed in seeds_of(args.seeds):
        named, last = run_once(args.workload, seed, args.seconds, 0)
        failed += last["failed"]
        plain.append({**named, **{k: v["value"] for k, v in last["metrics"].items()}})
        print(f"seed {seed}: {json.dumps(last)}", flush=True)
        if args.overhead:
            (n1, l1), (n2, l2) = (run_once(args.workload, seed, args.seconds, 1) for _ in range(2))
            traced.append(n1)
            diff = [
                k for k, v in l1["metrics"].items()
                if v["unit"] == "count" and v["value"] != l2["metrics"][k]["value"]
            ]
            print(f"seed {seed}: traced count metrics differ between runs: {diff or 'none'}")
            failed += l1["failed"] + l2["failed"] + len(diff)
    summarize(plain)
    if traced:
        print("tracing overhead (traced median / untraced median):")
        for name in sorted(traced[0]):
            base = statistics.median([r[name] for r in plain if name in r] or [0])
            if base:  # a metric of traced-only ops has no untraced base
                print(f"{name:40s} {statistics.median(r[name] for r in traced) / base:7.3f}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
