"""Per-batch Spark job count of the streamed near-dup ingest.

Runs the ``driver_queries`` ingest phase of ``perfbench`` (dedup-index
build over a seeded base corpus, then one ``near_ingest_dedup_stream``
batch) ``--runs`` times in one session, and lists the Spark jobs each
stream batch launched, read from the driver's REST status store.

    python3 plans/pr9/stream_jobs.py --runs 3 --seed 7 > out.jsonl

Run from the root of a checkout. Prints one JSON line per batch
(``run``, ``batch``, ``jobs``, ``trigger_s``, ``add_batch_s`` and
``job_list``, one ``[job id, stages, tasks]`` per job) and a last
summary line. The first run pays the session's cold start, so compare
the later runs.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
PERFBENCH = os.path.join(ROOT, "perfbench")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, PERFBENCH]
    import run as perfbench
    import spans
    import workloads

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"stream_jobs-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    perfbench.configure_env(work, cores, trace=True)
    spark = None
    try:
        phase = workloads.IngestPhase(work, args.seed, cores)
        spark = perfbench.start_session(cores)
        spark.sparkContext.setLogLevel("ERROR")
        acct = spans.SparkAccounting(spark)

        from pyspark_mrdf_spark.streaming import ingest

        # (first job id, query) per stream start; the window ends when
        # the availableNow stream terminates inside ``phase.run``
        windows: list[tuple] = []
        start_stream = ingest.near_ingest_dedup_stream

        def recorded(*a, **kw):
            first = acct.next_job_id()
            q = start_stream(*a, **kw)
            windows.append((first, q))
            return q

        counts = []
        for k in range(args.runs):
            u = workloads.Unit(outputs={})
            ingest.near_ingest_dedup_stream = recorded
            try:
                phase.run(spark, k, workloads.nospan, u)
            finally:
                ingest.near_ingest_dedup_stream = start_stream
            lo, q = windows[-1]
            hi = acct.next_job_id()
            jobs = [j for j in acct.settle(hi) if lo <= j["jobId"] < hi]
            by_batch: dict[int, list[dict]] = {}
            for j in jobs:
                m = re.search(r"batch = (\d+)", j.get("description") or "")
                by_batch.setdefault(int(m.group(1)) if m else -1, []).append(j)
            progress = [p for p in q.recentProgress if "addBatch" in p["durationMs"]]
            for p in progress:
                b = p["batchId"]
                mine = sorted(by_batch.get(b, []), key=lambda j: j["jobId"])
                counts.append(len(mine))
                print(json.dumps({
                    "run": k,
                    "batch": b,
                    "jobs": len(mine),
                    "trigger_s": p["durationMs"]["triggerExecution"] / 1e3,
                    "add_batch_s": p["durationMs"]["addBatch"] / 1e3,
                    "job_list": [
                        [j["jobId"], len(j["stageIds"]), j["numTasks"]]
                        for j in mine
                    ],
                }))
            if by_batch.get(-1):
                print(json.dumps({"run": k, "jobs_outside_batches": len(by_batch[-1])}))
            if u.errors or not progress:
                print(json.dumps({"run": k, "batches": len(progress), "errors": u.errors}))
        print(json.dumps({"metric": "stream_batch_jobs", "per_batch": counts}))
    finally:
        if spark is not None:
            perfbench.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
