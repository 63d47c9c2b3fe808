"""Alternating parent/change runs of one perfbench workload.

    python3 plans/pr12/ab.py --parent DIR --change DIR --workload W \
        --seeds 2001-2010 --out plans/pr12/ab [--trace 1]

Each side is a separate copy of the tree (e.g. a ``git archive`` of the
parent commit and of the change). Every run is a fresh process,
``python3 perfbench/run.py --workload W --seed N --seconds 10 --trace T``
started in that side's copy; its stdout goes to
``<out>/<W>_seed<N>_<side>.jsonl`` and one line per run is appended to
``<out>/manifest.jsonl`` (side, position in the pair, exit code, elapsed).
The side that runs first alternates from pair to pair.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    first, last = map(int, args.seeds.split("-"))
    os.makedirs(args.out, exist_ok=True)
    trees = {"parent": args.parent, "change": args.change}
    for i, seed in enumerate(range(first, last + 1)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for position, side in enumerate(order):
            name = f"{args.workload}_seed{seed}_{side}.jsonl"
            t0 = time.perf_counter()
            with open(os.path.join(args.out, name), "w") as out:
                code = subprocess.call(
                    [sys.executable, "perfbench/run.py", "--workload", args.workload,
                     "--seed", str(seed), "--seconds", "10", "--trace", str(args.trace)],
                    cwd=trees[side], stdout=out, stderr=subprocess.DEVNULL,
                )
            row = {"workload": args.workload, "seed": seed, "side": side,
                   "position": position, "exit": code,
                   "elapsed_s": round(time.perf_counter() - t0, 1), "file": name}
            with open(os.path.join(args.out, "manifest.jsonl"), "a") as m:
                m.write(json.dumps(row) + "\n")
            print(json.dumps(row), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
