"""knn_graph bit-identity between two trees, flag off.

    python3 plans/pr7/identity.py run TREE OUT.pkl SF0001_DIR SF001_DIR
    python3 plans/pr7/identity.py compare PARENT.pkl CHANGE.pkl

``run`` imports the engine from TREE, builds every dial below in one
local[4] session (spark.sql.shuffle.partitions=4) and pickles, per
dial: sorted (src, dst, dist_sq) rows, metrics_out minus ``seconds``,
and the UserWarning messages. ``compare`` prints one line per dial.
"""

from __future__ import annotations

import os
import pickle
import sys
import tempfile
import warnings

import numpy as np


def dials(spark, sf0001, sf001, work):
    from pyspark_mrdf_spark.io import load_table
    from pyspark_mrdf_spark.sources import fvecs

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".."))
    from perfbench import gen

    def bench(seed):
        d = os.path.join(work, f"fvecs{seed}")
        gen.fvecs_mixture(d, seed, 3000, 64, 4, 32, 0.8)
        return fvecs.read_fvecs(spark, d).localCheckpoint(eager=True)

    x = np.random.default_rng(13).random((2000, 32))
    uniform = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)], "vec_id long, embedding array<double>"
    ).localCheckpoint(eager=True)
    bench_dial = dict(rho=16, alpha=2048, tau=0.01, seed=42, max_iter=3, auto_escalate=False)
    for s in (5, 6, 8):
        yield f"bench_s{s}", bench(s), 10, bench_dial
    emb001 = load_table(spark, sf001, "embeddings").select("vec_id", "embedding")
    yield "q155", emb001, 10, dict(
        rho=3, alpha=64, tau=-1, seed=7, max_iter=2, refine_rounds=0,
        unconverged_warn_ratio=2.0, auto_escalate=False,
    )
    emb0001 = load_table(spark, sf0001, "embeddings").select("vec_id", "embedding")
    yield "join", emb0001, 5, dict(
        rho=4, alpha=250, tau=0, seed=42, max_iter=3, centroid_broadcast_max_paths=0
    )
    yield "deep", emb0001, 5, dict(rho=3, alpha=120, tau=0.01, seed=42, max_iter=3, refine_rounds=2)
    yield "escalate", uniform, 10, dict(rho=4, alpha=512, max_iter=3)
    yield "pinned_warn", uniform, 10, dict(rho=4, alpha=512, max_iter=3, auto_escalate=False)


def run(tree, out, sf0001, sf001):
    sys.path.insert(0, tree)
    from pyspark_mrdf_spark.algorithms.mrdf import knn_graph
    from pyspark_mrdf_spark.session import get_spark

    spark = get_spark(app_name="identity", shuffle_partitions=4)
    res = {}
    with tempfile.TemporaryDirectory() as work:
        for name, df, k, dial in dials(spark, sf0001, sf001, work):
            metrics: list = []
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                rows = knn_graph(df, k, metrics_out=metrics, **dial).collect()
            res[name] = {
                "rows": sorted((r.src, r.dst, r.dist_sq) for r in rows),
                "metrics": [{a: b for a, b in m.items() if a != "seconds"} for m in metrics],
                "warnings": [str(w.message) for w in caught if issubclass(w.category, UserWarning)],
            }
            print(name, len(rows), flush=True)
    with open(out, "wb") as f:
        pickle.dump(res, f)
    spark.stop()


def compare(a_path, b_path):
    a, b = (pickle.load(open(p, "rb")) for p in (a_path, b_path))
    assert a.keys() == b.keys()
    for name in a:
        x, y = a[name], b[name]
        print(
            f"  {name:<12} rows={x['rows'] == y['rows']} ({len(x['rows'])}) "
            f"metrics={x['metrics'] == y['metrics']} "
            f"warnings={x['warnings'] == y['warnings']} ({len(x['warnings'])})"
        )
    for name in a:
        m = [
            (r["iteration"], r["divisions"], r["changed_ratio"], r.get("escalated"), r.get("unconverged"))
            for r in a[name]["metrics"]
        ]
        print(f"  {name}: {m}")


if __name__ == "__main__":
    if sys.argv[1] == "run":
        run(*sys.argv[2:6])
    else:
        compare(*sys.argv[2:4])
