"""Time a subset of driver queries with bench.py's methodology
(fresh session, same warmup, per-query cold wall to the noop sink),
repeated over N fresh processes; prints per-query medians.

Usage: python scripts/time_queries.py [passes] q101_substring_dedup ...

This is the optimization round's inner loop — the full bench.py stays
the contract artifact; this harness exists so a one-query change can
be re-measured in ~1 min instead of ~10. It times walls only: for
per-layer numbers (jobs, Python-worker time, shuffle bytes) run
``python3 perfbench/run.py --trace 1``, whose tracer attributes them.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_CHILD = "SPARK_GRAFT_TIMEQ_CHILD"


def _child(names: list[str]) -> None:
    import time

    import bench

    spark, sf_dir = bench._start_session()
    from pyspark_mrdf_spark.queries import load_all

    specs = load_all()
    out: dict[str, float] = {}
    for name in names:
        spec = specs[name]
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        df = spec.builder(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 3)
        spark.sparkContext.setJobDescription(None)
    print("TIMEQ " + json.dumps(out))


def main() -> None:
    args = sys.argv[1:]
    if os.environ.get(_CHILD):
        _child(args)
        return
    passes = int(args[0]) if args and args[0].isdigit() else 3
    names = args[1:] if args and args[0].isdigit() else args
    recs: list[dict[str, float]] = []
    for i in range(passes):
        env = dict(os.environ)
        env[_CHILD] = "1"
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), *names],
            env=env, capture_output=True, text=True, timeout=1800,
        )
        line = [ln for ln in proc.stdout.splitlines() if ln.startswith("TIMEQ ")]
        if not line:
            print(f"pass {i}: FAILED rc={proc.returncode}\n{proc.stderr[-500:]}")
            continue
        rec = json.loads(line[-1][6:])
        recs.append(rec)
        print(f"pass {i}: {rec}")
    if recs:
        med = {
            n: round(statistics.median([r[n] for r in recs if n in r]), 3)
            for n in names
        }
        print("MEDIAN " + json.dumps(med))


if __name__ == "__main__":
    main()
