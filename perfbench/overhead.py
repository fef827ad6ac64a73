"""Tracing overhead: the end-to-end metrics of a traced run minus those of
an untraced run of the same workload and seed.

Usage (from the repository root):

    python3 perfbench/overhead.py --workload live --seed 1 --seconds 8

Runs ``run.py`` twice (``--trace 0``, then ``--trace 1``) and prints one
JSON line ``{"workload", "seed", "untraced", "traced", "overhead"}``,
where ``overhead`` holds traced minus untraced for each end-to-end metric.
During the measured work a traced run records spans and polls the stats
counters; its layer probes run after that work, so they change only
``peak_rss_mb``. Host noise between the two runs is in the difference
too: compare pairs, not a single one.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def e2e(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()
    # the conditions line carries the end-to-end metrics of every run
    return json.loads(out[-2])["e2e_this_run"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    a = ap.parse_args()
    untraced = e2e(a.workload, a.seed, a.seconds, 0)
    traced = e2e(a.workload, a.seed, a.seconds, 1)
    print(json.dumps(dict(
        workload=a.workload, seed=a.seed, untraced=untraced, traced=traced,
        overhead={k: traced[k] - untraced[k] for k in untraced},
    )))


if __name__ == "__main__":
    main()
