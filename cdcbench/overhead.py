"""Tracing overhead: end-to-end numbers of traced runs minus untraced runs.

    python3 cdcbench/overhead.py --workload serve_mixed --seeds 1,2,3

Runs the workload once per seed with ``--trace 0`` and once with
``--trace 1`` (alternating which goes first), reads the end-to-end
numbers every run prints on its ``detail`` line, and prints the median of
each mode and their difference.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")


def _end_to_end(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    return json.loads(out[-2])["detail"]["end_to_end"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    runs: dict[int, list[dict]] = {0: [], 1: []}
    for i, seed in enumerate(int(s) for s in args.seeds.split(",")):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(_end_to_end(args.workload, seed, seconds, trace))
    print(f"{'metric':22s} {'untraced':>12s} {'traced':>12s} {'traced-untraced':>16s}")
    for k in runs[0][0]:
        off = statistics.median(r[k] for r in runs[0])
        on = statistics.median(r[k] for r in runs[1])
        print(f"{k:22s} {off:12.3f} {on:12.3f} {on - off:+12.3f} ({(on - off) / off:+.1%})")


if __name__ == "__main__":
    main()
