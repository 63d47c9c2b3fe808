"""Summarise the records that ``plans/pr12/ab.py`` wrote.

    python3 plans/pr12/summarize.py plans/pr12/ab

For each workload and gated metric: each side's median [q1, q3], the
median change, the number of pairs (same seed) the change reads better
in, and the parent's quartile spread over its median. Also reports the
runs that exited non-zero, reported ``correct: false`` or failed
operations.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

import numpy as np

METRICS = {"setup_s": "lower", "wall_excl_steal_s": "lower",
           "peak_rss_mb": "lower", "quality": "higher"}


def main(out: str) -> int:
    runs = defaultdict(dict)  # (workload, seed) -> side -> last json line
    problems = []
    with open(os.path.join(out, "manifest.jsonl")) as m:
        for line in m:
            row = json.loads(line)
            with open(os.path.join(out, row["file"])) as f:
                lines = [json.loads(x) for x in f if x.strip()]
            if row["exit"] != 0 or not lines:
                problems.append(row)
                continue
            rec = lines[-1]
            if not rec.get("correct") or rec.get("failed"):
                problems.append(row)
            runs[(row["workload"], row["seed"])][row["side"]] = rec["metrics"]
    print("| workload | metric | parent | change | median change | change better | parent (q3−q1)/median |")
    print("| --- | --- | --- | --- | --- | --- | --- |")
    for workload in sorted({w for w, _ in runs}):
        pairs = [v for (w, _), v in sorted(runs.items()) if w == workload and len(v) == 2]
        for metric, better in METRICS.items():
            p = np.array([v["parent"][metric]["value"] for v in pairs])
            c = np.array([v["change"][metric]["value"] for v in pairs])
            sign = 1 if better == "lower" else -1
            wins = int(np.sum(sign * (p - c) > 0))
            ties = int(np.sum(p == c))
            pq, cq = np.percentile(p, [25, 50, 75]), np.percentile(c, [25, 50, 75])
            fmt = (lambda q: f"{q[1]:.4f} [{q[0]:.4f}, {q[2]:.4f}]") if metric == "quality" \
                else (lambda q: f"{q[1]:.2f} [{q[0]:.2f}, {q[2]:.2f}]")
            print(f"| {workload} | `{metric}` | {fmt(pq)} | {fmt(cq)} | "
                  f"{(cq[1] - pq[1]) / pq[1]:+.1%} | {wins}/{len(pairs)}"
                  f"{f' ({ties} equal)' if ties else ''} | {(pq[2] - pq[0]) / pq[1]:.3f} |")
    print(f"runs with a non-zero exit, incorrect output or failed operations: {problems or 'none'}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
