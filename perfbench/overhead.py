"""Tracing overhead: the traced runs' end-to-end metrics minus the
untraced runs', for one workload.

    python3 perfbench/overhead.py --workload queries --seed 1 --seconds 10

Runs ``run.py`` in three pairs, one untraced and one traced run on the
same seed (seeds ``seed``, ``seed + 1``, ...), alternating which runs
first, and prints one JSON object: per end-to-end metric, the median of
each side, their difference and the difference as a share of the
untraced median. One pair cannot resolve the overhead on a host whose
speed drifts between runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PAIRS = 3


def _detail(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2])["detail"]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args(argv)
    runs: dict[int, list[dict]] = {0: [], 1: []}
    for i in range(PAIRS):
        for trace in (0, 1) if i % 2 == 0 else (1, 0):
            runs[trace].append(_detail(args.workload, args.seed + i, args.seconds, trace)["e2e"])
    report = {}
    for name in runs[0][0]:
        plain = statistics.median(r[name] for r in runs[0])
        traced = statistics.median(r[name] for r in runs[1])
        report[name] = {
            "untraced": plain,
            "traced": traced,
            "overhead": traced - plain,
            "overhead_share": (traced - plain) / plain if plain else None,
        }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "pairs": PAIRS,
                      "tracing_overhead": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
